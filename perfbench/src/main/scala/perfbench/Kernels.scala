package perfbench

import graft.functions.F
import graft.geo.GeoFunctions
import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}

import scala.util.Random

/** Hot kernels in isolation, on in-memory frames generated from the
  * workload seed. Each result is rows per second over the median of a
  * few repetitions, after one untimed repetition. */
object Kernels {
  private val Reps = 3

  private def rate(rows: Int)(body: => Unit): Double = {
    body
    val ts = (1 to Reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }.sorted
    rows / ts(Reps / 2)
  }

  private def sparkRate(frame: DataFrame, rows: Int)(out: DataFrame => DataFrame): Double = {
    val cached = frame.cache()
    cached.count()
    try rate(rows)(out(cached).collect()) finally cached.unpersist(blocking = true)
  }

  def run(spark: SparkSession, seed: Long): Seq[(String, Double)] = {
    import spark.implicits._
    val rnd = new Random(seed)
    val words = Array.tabulate(400)(i => s"w${Integer.toString(i * 7919 % 4001, 36)}")
    val nText = 20000
    val texts = Seq.fill(nText)(Seq.fill(40)(words(rnd.nextInt(words.length))).mkString(" "))
    val textDf = texts.toDF("text")

    val shingle = sparkRate(textDf, nText)(
      _.agg(sum(size(F.shingleHashes(col("text"), 3)))))

    val shDf = graft.text.TextFunctions.shingleTable(
      textDf.withColumn("id", monotonically_increasing_id()), "id", "text", 3)
    val minhash = sparkRate(shDf, nText)(d =>
      graft.text.Dedup.minhashSignature(d, "id", "sh").agg(bit_xor(element_at(col("sig"), 1))))

    val tokDf = textDf.select(split(col("text"), " ").as("tok"))
    val simhash = sparkRate(tokDf, nText)(_.agg(bit_xor(F.simhash64(col("tok")))))

    val nVec = 50000
    val dim = 64
    val vecs = Seq.fill(nVec)((Array.fill(dim)(rnd.nextFloat()), Array.fill(dim)(rnd.nextFloat())))
    val vecDf = vecs.toDF("a", "b")
    val vecdot = sparkRate(vecDf, nVec)(_.agg(sum(F.vecDot(col("a"), col("b")))))

    val m = 16
    val kk = 64
    val lut = Array.fill(m * kk)(rnd.nextDouble())
    val codesDf = Seq.fill(nVec)(Array.fill(m)(rnd.nextInt(kk).toLong)).toDF("codes")
    val pqAdc = sparkRate(codesDf, nVec)(
      _.agg(sum(F.vecPqAdc(col("codes"), typedLit(lut), kk))))

    val gf = new GeometryFactory()
    val nPoly = 400
    val polys = Seq.fill(nPoly) {
      val x = rnd.nextDouble() * 100
      val y = rnd.nextDouble() * 100
      val s = 0.5 + rnd.nextDouble() * 2
      GeoFunctions.writeWkb(gf.createPolygon(Array(new Coordinate(x, y),
        new Coordinate(x + s, y), new Coordinate(x + s, y + s),
        new Coordinate(x, y + s), new Coordinate(x, y))))
    }
    val union = rate(nPoly) {
      val agg = new GeoFunctions.UnionAgg
      agg.finish(polys.foldLeft(agg.zero)(agg.reduce))
    }

    val nImg = 200
    val imgs = Seq.tabulate(nImg) { i =>
      val id = seed * 100003L + i
      (id, Multimodal.encodePng(id, 64 + i % 32, 48 + i % 16))
    }
    val resample = rate(nImg) {
      imgs.foreach { case (id, png) => Multimodal.resamplePng(id, png, 32, 24) }
    }

    Seq("functions.shingle_rows_s" -> shingle, "functions.minhash_rows_s" -> minhash,
      "functions.simhash_rows_s" -> simhash, "functions.vecdot_rows_s" -> vecdot,
      "functions.pq_adc_rows_s" -> pqAdc, "geo.union_rows_s" -> union,
      "multimodal.resample_rows_s" -> resample)
  }
}
