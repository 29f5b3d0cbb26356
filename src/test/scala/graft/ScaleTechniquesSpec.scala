package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Plan-level proofs of the cluster-scale techniques the engine relies
  * on beyond broadcast joins: bucketed co-located joins (shuffle-free
  * fact⋈fact) and partition-pruned scans. These are spec-level because
  * they need a writable warehouse — the read-only driver tables can't
  * be re-bucketed in place. */
class ScaleTechniquesSpec extends SparkSpec {

  private lazy val warehouse = Files.createTempDirectory("graft-wh").toString

  test("bucketed tables join without any shuffle exchange") {
    val s = spark
    import s.implicits._
    val left = (1L to 1000L).map(i => (i, i % 7)).toDF("k", "a")
    val right = (1L to 1000L).map(i => (i, i % 5)).toDF("k", "b")
    left.write.mode("overwrite")
      .option("path", s"$warehouse/t_left")
      .bucketBy(8, "k").sortBy("k").saveAsTable("t_left")
    right.write.mode("overwrite")
      .option("path", s"$warehouse/t_right")
      .bucketBy(8, "k").sortBy("k").saveAsTable("t_right")
    // disable broadcast so the planner exercises the fact⋈fact path —
    // at real scale neither side fits in a broadcast anyway
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = s.table("t_left").join(s.table("t_right"), "k")
        .filter(col("a") =!= col("b"))
      // both sides pre-partitioned on k into matching buckets: the
      // sort-merge join needs no shuffle exchange at all (what
      // bucketing buys at 100 TB for repeated joins on one key)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("ShuffleExchange") &&
        !plan.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_join_bucketed: the registered query's join consumes bucketing — no exchange on the join key") {
    val df = SparkEntry.queries("q_join_bucketed")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    // the only exchanges allowed are the post-join aggregation's
    // (nation) and the presentation sort — never the join key
    assert(!plan.contains("hashpartitioning(custkey"),
      s"bucketed join still shuffled on the join key:\n$plan")
    assert(df.count() > 0)
  }

  test("q_join_bucketed: DDL re-attach over the stored fixture keeps the shuffle-free SMJ") {
    // force the content-keyed fixture, then simulate a fresh session:
    // drop the catalog entries (external tables — files stay) and
    // re-run; ensureBucketed must re-attach by DDL without rewriting
    SparkEntry.queries("q_join_bucketed")(spark, sf0001).count()
    val root = graft.ops.FixtureStore.root("bucketed", sf0001)
    val before = new java.io.File(s"$root/cust").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    val k = sf0001.replaceAll("[^A-Za-z0-9]+", "_")
    spark.sql(s"DROP TABLE IF EXISTS graft_bkt_cust_$k")
    spark.sql(s"DROP TABLE IF EXISTS graft_bkt_ord_$k")
    val df = SparkEntry.queries("q_join_bucketed")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("hashpartitioning(custkey"),
      s"re-attached bucketed join shuffled on the join key:\n$plan")
    assert(df.count() > 0)
    // and not a byte moved: same files, same mtimes
    val after = new java.io.File(s"$root/cust").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    assert(after === before, "re-attach rewrote the stored bucket files")
  }

  test("spatial join plans as an equi hash join on grid cells, never a nested loop") {
    val df = SparkEntry.queries("q_spatial_join")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"spatial join fell back to a nested loop:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"), plan)
    assert(df.count() > 0)
  }

  test("chunking is shuffle-free up to its final presentation sort") {
    val df = SparkEntry.queries("q_chunking")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    // exactly one exchange: the rangepartitioning for the output ORDER
    // BY — the chunk generation itself never shuffles
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"chunking should not shuffle to chunk:\n$plan")
    assert(plan.contains("Generate"), plan)
  }

  test("identical aggregate subplans reuse one exchange (scan+shuffle+agg run once)") {
    // a day-over-day self-join of the same daily aggregate: without
    // exchange reuse the events scan + (id,date) shuffle + aggregate
    // execute twice; the ReuseExchange rule collapses the second side
    // onto the first's shuffle files. At 100 TB this is the difference
    // between one fact pass and two for every self-referencing plan.
    // (AQE performs the same reuse at runtime via ReuseAdaptiveSubquery
    // /stage reuse; disabled here to pin the static rule.)
    // the filter sits ABOVE the aggregate on one side only — anything
    // that changes the subtree BELOW the exchange (e.g. a shifted join
    // key, whose isnotnull pushes down differently) makes the two
    // exchanges non-identical and legally un-reusable
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val daily = graft.queries.EventSeries.daily(spark, sf0001)
        .select("id", "date", "dval")
      val heavy = daily.filter(col("dval") > 5000)
        .select(col("id"), col("date"), col("dval").as("heavy_dval"))
      val j = daily.join(heavy, Seq("id", "date"))
        .select(col("id"), col("date"), (col("dval") - col("heavy_dval")).as("delta"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"), s"no exchange reuse:\n$plan")
      assert(j.count() > 0)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("runtime bloom filter prunes the fact scan for a selective dim join") {
    val s = spark
    import s.implicits._
    val factPath = s"$warehouse/bloom_fact"
    val dimPath = s"$warehouse/bloom_dim"
    (1L to 200000L).map(i => (i % 5000, i)).toDF("k", "v")
      .write.mode("overwrite").parquet(factPath)
    (1L to 5000L).map(i => (i, i % 97)).toDF("k", "tag")
      .write.mode("overwrite").parquet(dimPath)
    val set = (conf: (String, String)) => s.conf.set(conf._1, conf._2)
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
      .map { case (k, v) =>
        val old = s.conf.getOption(k); set(k -> v); k -> old
      }
    try {
      // selective dim filter -> the optimizer builds a bloom filter on
      // dim keys and injects might_contain into the fact SCAN side, so
      // at 100 TB the fact rows die before the shuffle, not after it
      val dim = s.read.parquet(dimPath).filter(col("tag") === 3)
      val joined = s.read.parquet(factPath).join(dim, "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("might_contain"),
        s"no runtime bloom filter injected:\n$plan")
      assert(joined.count() > 0)
    } finally saved.foreach { case (k, old) =>
      old.fold(s.conf.unset(k))(v => s.conf.set(k, v))
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    // the adaptive counterpart of q_join_salted's explicit salting:
    // one hot key dominates the shuffle; AQE's skew-join rule must
    // split that partition into parallel sub-reads instead of leaving
    // one straggler task (what saves an unsalted 100 TB join when the
    // skew is only known at runtime)
    val s = spark
    import s.implicits._
    val factPath = s"$warehouse/skew_fact"
    // ~200k rows on the hot key, a sprinkle elsewhere; the payload
    // survives column pruning into the shuffle so the hot partition
    // is actually heavy (~40 MB), not just many tiny longs
    (1L to 200000L).map(i => (if (i % 20 == 0) i % 50 else 1L, i, "x" * 200))
      .toDF("k", "v", "pad").write.mode("overwrite").parquet(factPath)
    val dim = (0L to 50L).map(i => (i, s"tag$i")).toDF("k", "tag")
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "100KB")
      .map { case (k, v) =>
        val old = s.conf.getOption(k); s.conf.set(k, v); k -> old
      }
    try {
      val joined = s.read.parquet(factPath)
        .join(dim.hint("shuffle_hash"), "k")
        .groupBy("tag").agg(count(lit(1)).as("n"), sum(length(col("pad"))).as("bytes"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"AQE did not mark the join skewed:\n$plan")
      assert(plan.contains("skewed"), s"AQE did not split the skewed read:\n$plan")
    } finally saved.foreach { case (k, old) =>
      old.fold(s.conf.unset(k))(v => s.conf.set(k, v))
    }
  }

  test("hostile skew: salting flattens a 50%-hot key and preserves the join result") {
    // the q_join_salted technique under a HOSTILE fixture (round-11
    // verdict #8): one key holds ~50% of the probe rows — the exact
    // distribution q_skew_profile diagnoses (top-key share ~500‰).
    // Measured claim: the salted shuffle's max partition is a large
    // factor flatter than the unsalted one, whose hot partition holds
    // >= half the rows; and the replicated join is row-identical to
    // the plain join.
    val s = spark
    import s.implicits._
    val n = 20000
    val salts = 8
    val probe = s.range(n).select(
        when(col("id") % 2 === 0, lit(7L))
          .otherwise(pmod(col("id"), lit(100L)) + 100L).as("k"),
        col("id").as("v"))
      .cache()
    probe.count()
    // the planted skew is what q_skew_profile would report: ~500‰
    val hotShare = probe.filter(col("k") === 7L).count() * 1000L / n
    assert(hotShare >= 450 && hotShare <= 550, s"hot share ${hotShare}‰")
    val parts = 32
    def maxPartitionRows(df: org.apache.spark.sql.DataFrame,
                         keys: org.apache.spark.sql.Column*): Long =
      df.repartition(parts, keys: _*)
        .rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().max
    // unsalted: the hot key's hash partition carries >= 50% of rows
    val maxUnsalted = maxPartitionRows(probe, col("k"))
    assert(maxUnsalted >= n / 2, s"unsalted max $maxUnsalted")
    // salted: the same spray q_join_salted uses — hot key spreads
    // over `salts` tasks; demand at least a 4x flatter worst task
    val salted = probe.withColumn("salt",
      pmod(xxhash64(col("k"), col("v")), lit(salts)))
    val maxSalted = maxPartitionRows(salted, col("k"), col("salt"))
    assert(maxSalted * 4 <= maxUnsalted,
      s"salting did not flatten: $maxUnsalted -> $maxSalted")
    // correctness under replication: salted join == plain join
    val dim = s.range(300).select(col("id").as("k"),
      concat(lit("t"), col("id")).as("tag"))
    val plain = probe.join(dim, "k").groupBy("tag")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sv"))
      .as[(String, Long, Long)].collect().sorted
    val dimSalted = dim.crossJoin(s.range(salts).select(col("id").as("salt")))
    val viaSalt = salted.join(dimSalted, Seq("k", "salt")).groupBy("tag")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sv"))
      .as[(String, Long, Long)].collect().sorted
    assert(viaSalt === plain)
    probe.unpersist()
  }

  test("dynamic partition overwrite replaces only the rewritten day") {
    // the daily-rerun contract (the reference reruns its whole batch
    // daily, il_analysis_git.py:219-222): with dynamic overwrite, a
    // rerun of day N rewrites ONLY day N's directory — static mode
    // would truncate the whole table first
    val s = spark
    import s.implicits._
    val path = s"$warehouse/daily_facts"
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "dynamic")
    try {
      Seq((1, 10L), (2, 20L), (3, 30L)).toDF("day", "v")
        .write.mode("overwrite").partitionBy("day").parquet(path)
      // rerun day 2 only, with corrected data
      Seq((2, 99L)).toDF("day", "v")
        .write.mode("overwrite").partitionBy("day").parquet(path)
      val out = s.read.parquet(path).select("day", "v")
        .as[(Int, Long)].collect().sorted
      assert(out.toSeq == Seq((1, 10L), (2, 99L), (3, 30L)), out.toSeq)
    } finally prev.fold(s.conf.unset(key))(v => s.conf.set(key, v))
  }

  test("range-sorted parquet write: min/max stats skip non-matching files at read") {
    // the lakehouse data-layout technique partitionBy can't give you
    // for a high-cardinality sort key: repartitionByRange + sort means
    // each output FILE covers a narrow disjoint key range, so a
    // selective range predicate — pushed into the parquet reader —
    // kills every row group of the non-matching files on footer
    // min/max stats alone. The same scan over a random layout decodes
    // everything: the differential in the scan's own output-rows
    // metric is the proof the skipping happened in the reader, not in
    // the post-scan Filter.
    val s = spark
    import s.implicits._
    val n = 200000L
    val df = (1L to n).map(i => ((i * 2654435761L) % n, i)).toDF("v", "payload")
    val clusteredPath = s"$warehouse/range_sorted"
    val scatteredPath = s"$warehouse/range_unsorted"
    df.repartitionByRange(8, col("v")).sortWithinPartitions("v")
      .write.mode("overwrite").parquet(clusteredPath)
    df.repartition(8).write.mode("overwrite").parquet(scatteredPath)
    def scanAndMetric(path: String): (Long, Long) = {
      val q = s.read.parquet(path)
        .filter(col("v") >= 1000L && col("v") < 21000L)
      val matched = q.collect().length.toLong
      val scan = q.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail(s"no FileSourceScanExec in plan"))
      // the range predicate must reach the reader to prune anything
      assert(scan.metadata("PushedFilters").contains("GreaterThanOrEqual(v,1000)"),
        scan.metadata("PushedFilters"))
      (matched, scan.metrics("numOutputRows").value)
    }
    val (matchedC, decodedC) = scanAndMetric(clusteredPath)
    val (matchedS, decodedS) = scanAndMetric(scatteredPath)
    // identical answers...
    assert(matchedC === matchedS)
    assert(matchedC > 0)
    // ...but the random layout decodes (essentially) the whole table,
    // while the range-sorted layout decodes only the file(s) whose
    // min/max overlap the slice — at least 4x fewer rows here, and at
    // 100 TB the difference between a full scan and one file
    assert(decodedS >= (n * 9) / 10, s"scattered layout decoded $decodedS of $n")
    assert(decodedC <= n / 4,
      s"sorted layout decoded $decodedC rows — min/max skipping did not engage")
  }

  test("z-order layout prunes files on BOTH filter columns; linear sort on one") {
    // the multi-dimensional extension of the range-sorted demo above:
    // interleaving the bits of (x, y) into a z-value and range-sorting
    // by it bounds BOTH coordinates within each output file, so
    // single-column min/max stats prune selective predicates on either
    // column. A linear sort by x gives perfect x-pruning but every
    // file spans the full y range — the layout choice Delta/Iceberg
    // OPTIMIZE ZORDER makes, reproduced with plain Spark primitives.
    val s = spark
    import s.implicits._
    val n = 200000L
    // pseudo-random (x, y) in [0, 65536)^2, deterministic
    val df = (1L to n).map { i =>
      val x = (i * 2654435761L) % 65536
      val y = (i * 40503L + 17) % 65536
      (x, y, i)
    }.toDF("x", "y", "payload")
    // 32-bit Morton code: x in even bits, y in odd bits (built as a
    // column expression — at scale this is a scan-speed projection)
    val zcol = (0 until 16).map { b =>
      (shiftleft(shiftrightunsigned(col("x"), b).bitwiseAND(1), 2 * b))
        .bitwiseOR(shiftleft(shiftrightunsigned(col("y"), b).bitwiseAND(1), 2 * b + 1))
    }.reduce(_ bitwiseOR _)
    val zPath = s"$warehouse/zorder"
    val linPath = s"$warehouse/linear_x"
    // bucket by the top 6 z-bits (64 buckets): every output file then
    // covers EXACTLY one aligned 3-bit prefix of each axis — x and y
    // both span 1/8 of their range per file (repartitionByRange on z
    // works too, but its sampled boundaries straddle prefix borders
    // and blur the per-file min/max boxes)
    df.withColumn("zbucket", shiftrightunsigned(zcol, 26))
      .repartition(col("zbucket"))
      .write.mode("overwrite").partitionBy("zbucket").parquet(zPath)
    df.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(linPath)
    def decoded(path: String, c: String): (Long, Long) = {
      // a ~6% slice on one coordinate
      val q = s.read.parquet(path).filter(col(c) >= 30000L && col(c) < 34000L)
      val matched = q.collect().length.toLong
      val scan = q.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no FileSourceScanExec in plan"))
      (matched, scan.metrics("numOutputRows").value)
    }
    val (mzx, dzx) = decoded(zPath, "x")
    val (mzy, dzy) = decoded(zPath, "y")
    val (mlx, dlx) = decoded(linPath, "x")
    val (mly, dly) = decoded(linPath, "y")
    // identical answers across layouts
    assert(mzx === mlx && mzy === mly && mzx > 0 && mzy > 0)
    // linear-x: near-perfect x pruning, but y predicates decode ~all
    assert(dlx <= n / 4, s"linear x-sort failed to prune x: $dlx")
    assert(dly >= (n * 9) / 10, s"linear x-sort unexpectedly pruned y: $dly")
    // z-order: BOTH coordinates prune — the 4000-wide slice overlaps
    // exactly 2 of 8 axis-octants ⇒ 16 of 64 files ⇒ ~25% decoded
    assert(dzx <= (n * 2) / 5, s"z-order failed to prune on x: $dzx")
    assert(dzy <= (n * 2) / 5, s"z-order failed to prune on y: $dzy")
  }

  test("parquet column bloom filters skip row groups for point lookups") {
    // the layout tool for POINT predicates on a scattered
    // high-cardinality column, where min/max stats are useless (every
    // row group spans nearly the full domain) and sorting by the
    // column is not an option because the layout is already owned by
    // another key. A written bloom filter gives definite row-group
    // skips for values not present.
    val s = spark
    import s.implicits._
    val n = 400000L
    // v is a permutation-ish scatter: every row group's (min, max)
    // covers ~the whole domain
    val df = (1L to n).map(i => ((i * 2654435761L) % 1000000007L, i)).toDF("v", "payload")
    val bloomPath = s"$warehouse/bloom_cols"
    val plainPath = s"$warehouse/plain_cols"
    // small row groups so one file holds many skippable units
    df.coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", (256 * 1024).toString)
      .option("parquet.bloom.filter.enabled#v", "true")
      .option("parquet.bloom.filter.expected.ndv#v", n.toString)
      .parquet(bloomPath)
    df.coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", (256 * 1024).toString)
      .parquet(plainPath)
    val target = (123456L * 2654435761L) % 1000000007L // a present value
    def decoded(path: String): (Long, Long) = {
      val q = s.read.parquet(path).filter(col("v") === target)
      val matched = q.collect().length.toLong
      val scan = q.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no FileSourceScanExec in plan"))
      assert(scan.metadata("PushedFilters").contains("EqualTo(v,"),
        scan.metadata("PushedFilters"))
      (matched, scan.metrics("numOutputRows").value)
    }
    val (mB, dB) = decoded(bloomPath)
    val (mP, dP) = decoded(plainPath)
    assert(mB === mP && mB >= 1)
    // without blooms every row group survives stats filtering (scattered
    // domain) and the whole table decodes; with blooms only the group(s)
    // actually containing the value are read
    assert(dP >= (n * 9) / 10, s"plain layout unexpectedly pruned: $dP")
    assert(dB <= n / 4, s"bloom filter did not skip row groups: $dB of $n decoded")
  }

  test("partitioned parquet scans prune to the filtered partitions") {
    val s = spark
    import s.implicits._
    val path = s"$warehouse/events_by_day"
    (0 until 10).flatMap(d => (1 to 50).map(i => (d, i.toLong, i * 1.5)))
      .toDF("day", "eid", "v")
      .write.mode("overwrite").partitionBy("day").parquet(path)
    val pruned = s.read.parquet(path).filter(col("day") === 3)
    val scan = pruned.queryExecution.executedPlan.toString
    // partition filter visible in the scan; only 1 of 10 directories read
    assert(scan.contains("PartitionFilters") && scan.contains("day"), scan)
    val filesRead = pruned.select(input_file_name()).distinct().collect()
    assert(filesRead.forall(_.getString(0).contains("day=3")))
    assert(pruned.count() == 50)
  }
}
