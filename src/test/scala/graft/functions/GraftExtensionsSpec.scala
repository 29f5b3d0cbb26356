package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._

class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("runtime-registered SQL functions evaluate the native kernels") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_poly_hash('abc') AS h,
        |  graft_simhash64(array('hello')) AS sh,
        |  graft_vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
        |  graft_vec_norm(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS n,
        |  size(graft_minhash_sig(array('abc', 'def'))) AS siglen
        |""".stripMargin)
      .as[(Long, Long, Double, Double, Int)].head()
    val expectH = "abc".getBytes.foldLeft(0L)((h, b) => (h * 131 + b) % Poly.Mod)
    assert(r._1 === expectH)
    assert(r._3 === 11.0)
    assert(r._4 === 5.0)
    assert(r._5 === 64)
  }

  test("round-3 kernels are SQL-registered too: vec_dot_d, shingle_hashes, capped_min_ids") {
    GraftFunctions.register(spark)
    val d = spark.sql(
      """SELECT graft_vec_dot_d(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                       array(CAST(3.0 AS DOUBLE), CAST(4.0 AS DOUBLE))) AS d,
        |  size(graft_shingle_hashes('a b c d', 2)) AS nsh""".stripMargin)
      .as[(Double, Int)].head()
    assert(d._1 === 11.0)
    assert(d._2 === 3)
    spark.range(100).createOrReplaceTempView("cmi_in")
    val r2 = spark.sql(
      "SELECT graft_capped_min_ids(id, 5) AS b FROM cmi_in")
      .selectExpr("b.total", "b.ids").as[(Long, Seq[Long])].head()
    assert(r2._1 === 100L)
    assert(r2._2 === (0L until 5L))
  }

  test("round-8 kernels are SQL-registered too: char_entropy, pair_array") {
    GraftFunctions.register(spark)
    val e = spark.sql(
      "SELECT graft_char_entropy('abcd') AS e").as[Seq[Long]].head()
    // 4 distinct chars, each 0.25·ln4 -> 4 × 346573 micro-nats
    assert(e === Seq(4L, 4 * 346573L))
    val p = spark.sql(
      "SELECT graft_pair_array(array(3L, 1L, 2L)) AS p")
      .selectExpr("p.id_a", "p.id_b").as[(Seq[Long], Seq[Long])].head()
    // canonical order: ids sorted, then all a < b pairs
    assert(p._1.zip(p._2) === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    // an INT array (the natural SQL literal) must implicit-cast to
    // array<long>, not read 8-byte strides over 4-byte elements
    val pi = spark.sql(
      "SELECT graft_pair_array(array(3, 1, 2)) AS p")
      .selectExpr("p.id_a", "p.id_b").as[(Seq[Long], Seq[Long])].head()
    assert(pi === p)
    // and the uncapped SQL path refuses oversized buckets loudly
    val big = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.tabulate(9000)(_.toLong))
    val overflow = intercept[IllegalArgumentException](PairKernel.pairs(big))
    assert(overflow.getMessage.contains("8192"))
  }

  test("SQL-exposed kernels reject a wrong-typed argument at analysis") {
    GraftFunctions.register(spark)
    // analysis only: spark.sql analyzes eagerly and nothing executes,
    // so a kernel that would misread its input cannot run here
    for (call <- Seq(
        "graft_poly_hash(array('a'))",
        "graft_minhash_sig(array(1L, 2L))",
        "graft_simhash64(array(1L, 2L))",
        "graft_vec_dot(array(1L), array(CAST(1.0 AS FLOAT)))",
        "graft_vec_dot_d(array(CAST(1.0 AS FLOAT)), array('a'))",
        "graft_vec_norm(array('a'))",
        "graft_shingle_hashes(array('a b'), 2)"))
      intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"SELECT $call AS x"))
  }

  test("extension class injects all builders without error") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext) // would throw on malformed injection
  }

  test("native expressions are foldable: literal calls constant-fold at plan time") {
    val plan = spark.range(1)
      .select(F.polyHash(lit("abc")).as("h"))
      .queryExecution.optimizedPlan
    val folded = plan.expressions.flatMap(_.collect { case l: Literal => l })
    assert(folded.exists(_.value == "abc".getBytes.foldLeft(0L)((h, b) => (h * 131 + b) % Poly.Mod)),
      s"expected folded literal in $plan")
  }

  test("rank<=k windows plan as WindowGroupLimit (no full per-partition sort spill)") {
    val phys = graft.SparkEntry.queries("q_topn_per_group")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(phys.contains("WindowGroupLimit"), s"plan lacks WindowGroupLimit:\n$phys")
  }
}
