package graft.pipeline

import graft.geo.GeoFunctions
import graft.io.GeoJsonIO
import graft.ops.{CleanOps, Num, ReconcileOps, TimeSeriesOps => TS}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end restatement of the reference pipeline
  * (il_analysis_git.py `parse()`, :33-216) on MOH-shaped inputs
  * (FIXTURES.md §A1/§A2): clean/decode → city/area reconciliation
  * (fact + shape dissolve) → censored-count imputation → dim join →
  * derived metrics → four monotone time windows → GeoJSON polygon +
  * boundary-line exports and the dates/colors/sums CSV.
  *
  * Execution shape: ONE cached base frame (clean+impute+join), then
  * four independent lazy window plans — replacing the reference's
  * destructive shrink-in-place loop (:156, a correctness hazard) with
  * pure filters. Every per-group loop in the reference is a window
  * expression here; the only custom kernels are the JTS dissolve/hull
  * UDFs. At 100 TB the base frame shuffles once on `id` for the
  * imputation windows; each window plan reuses that partitioning for
  * its own window work, and the shape side stays broadcast.
  */
object ClearMapPipeline {

  /** Cleaning contract (il_analysis_git.py:52-74): censor/bool decode,
    * casts, null defaults, null-city purge, surrogate id. Input is the
    * 8-column post-rename raw frame with string-typed quirk columns. */
  def clean(raw: DataFrame): DataFrame = {
    val typed = raw.select(
      col("city").cast(IntegerType).as("city"),
      col("area").cast(IntegerType).as("area"),
      to_date(col("date"), "yyyy-MM-dd").as("date"),
      CleanOps.censorDecode(col("cases")).cast(IntegerType).as("cases"),
      CleanOps.boolDecode(col("new_case")).as("new_case"),
      CleanOps.censorDecode(col("tests")).cast(DoubleType).as("tests"),
      CleanOps.censorDecode(col("vaccine")).cast(DoubleType).as("vaccine"),
      CleanOps.boolDecode(col("new_vaccine")).as("new_vaccine"))
    // fill AFTER the casts: na.fill targets numeric columns
    CleanOps.purgeNullCity(CleanOps.nullDefaults(typed, Seq("city", "area")))
      .withColumn("id", CleanOps.surrogateId(col("city"), col("area")))
  }

  /** rebase_15 on *cumulative* metrics (il_analysis_git.py:22-30,
    * :119-124): while the cumulative count is still zero (all-censored
    * prefix), substitute the running count of daily "new" flags.
    * `max(cases) == 0` over the running frame detects the zero prefix
    * in O(n) — the reference re-sums the prefix per row (O(n²), its
    * self-noted hot spot at :23). Implements the per-metric intent;
    * the reference's `cases += m_vaccine` line (:124) is an upstream
    * bug documented in SURVEY §2.5. */
  def rebase15Cumulative(df: DataFrame): DataFrame = {
    val w = TS.cumW("id", "date")
    def imputed(cum: String, flag: String): Column =
      col(cum) + when(max(col(cum)).over(w) === 0,
        sum(col(flag)).over(w)).otherwise(lit(0))
    df.withColumn("cases", imputed("cases", "new_case"))
      .withColumn("vaccine", imputed("vaccine", "new_vaccine"))
  }

  /** Shape-side reconciliation (il_analysis_git.py:84-115): for cities
    * whose MOH rows are all area-0 but whose shape has several areas
    * (case 3), dissolve the city's polygons to one row — geometry
    * union (MultiPolygon → convex hull), pop summed, rank median —
    * remapped to area 1; drop shape rows never matched by data
    * (:117). `fact` must already be cleaned. */
  def reconcileShape(shape: DataFrame, fact: DataFrame): DataFrame = {
    GeoFunctions.register(shape.sparkSession)
    val factCities = fact.groupBy(col("city").as("f_city")).agg(
      max(when(col("area") =!= 0, 1).otherwise(0)).as("has_real_areas"))
    val marked = shape.join(
      broadcast(factCities), col("city") === col("f_city"), "inner")
    val keep = marked.filter(col("has_real_areas") === 1)
      .select(shape.columns.map(col): _*)
    val dissolved = marked.filter(col("has_real_areas") === 0)
      .groupBy(col("city"))
      .agg(
        GeoFunctions.cols.stUnionAgg(col("geometry")).as("geometry"),
        sum(col("pop")).as("pop"),
        percentile(col("rank"), lit(0.5)).as("rank"),
        first(col("name")).as("name"),
        first(col("name")).as("areas_name"))
      .withColumn("geometry",
        when(GeoFunctions.cols.stGeometryType(col("geometry")) === "MultiPolygon",
          GeoFunctions.cols.stConvexHull(col("geometry")))
          .otherwise(col("geometry")))
      .withColumn("area", lit(1))
      .withColumn("id", CleanOps.surrogateId(col("city"), col("area")))
      .select(shape.columns.map(col): _*)
    keep.unionByName(dissolved)
  }

  /** The cached base frame: clean → fact reconcile → impute → derived
    * percent/p_vaccine (il_analysis_git.py:119-137). */
  def baseFrame(raw: DataFrame, shape: DataFrame): (DataFrame, DataFrame) = {
    val cleaned = clean(raw)
    val fact0 = ReconcileOps.reconcileFact(cleaned)
      .withColumn("id", CleanOps.surrogateId(col("city"), col("area")))
    val fact = rebase15Cumulative(fact0)
    // shape reconciliation reads the PRE-remap fact: case 3/4 detection
    // needs the original all-area-0 signature (reconcileFact already
    // remaps those rows to area 1)
    val shp = reconcileShape(shape, cleaned)
    val joined = fact.join(
      broadcast(shp.drop("city", "area")), Seq("id"), "inner")
    val p1 = TS.latestPercent(joined, "id", "date", "cases", "pop", "percent")
    val base = TS.latestPercent(p1, "id", "date", "vaccine", "pop", "p_vaccine",
      clampTo = Some(100L))
    (base.cache(), shp)
  }

  /** One export window (il_analysis_git.py:150-172): 'all' → weekly
    * stride sample; finite windows → cutoff filter; then rebase-to-
    * start, daily delta, per-100k normalization, 11-column contract
    * (:172, geometry carried as WKB). */
  def windowFrame(base: DataFrame, daysBack: Option[Int]): DataFrame = {
    val windowed = daysBack match {
      case None => TS.strideSample(base, "id", "date", 7)
      case Some(d) =>
        base.filter(col("date") >= base.agg(date_sub(max(col("date")), d)).scalar())
    }
    val rebased = TS.rebaseToStart(windowed, "id", "date", Seq("cases", "tests"))
    val withDelta = TS.dailyDelta(rebased, "id", "date", "cases", "delta")
    withDelta
      .withColumn("normalized",
        Num.roundEps(col("cases").cast(DoubleType) / col("pop") * 100000))
      .select(col("date"), col("cases").as("num_cases"), col("tests"),
        col("id"), col("rank").as("socio_economic_rank"),
        col("areas_name").as("area_name"), col("geometry"),
        col("percent"), col("p_vaccine"), col("delta"), col("normalized"))
  }

  /** Per-window side outputs (il_analysis_git.py:167-169): distinct
    * dates desc, 19 color-break quantiles, per-day national sums. */
  def sideLists(frame: DataFrame): (Seq[String], Seq[Long], Seq[Long]) = {
    val dates = frame.select(col("date")).distinct()
      .orderBy(col("date").desc).collect().map(_.get(0).toString).toSeq
    val quants = frame
      .agg(percentile(col("normalized"), typedlit((1 to 19).map(_ / 20.0))))
      .collect()(0).getSeq[Double](0).map(q => Num.floorEpsLong(q)).toSeq
    val sums = frame.groupBy("date").agg(sum("num_cases").as("t"))
      .orderBy(col("date").desc).collect().map(_.getAs[Number]("t").longValue).toSeq
    (dates, quants, sums)
  }

  /** Full run: four windows ('all', wave ~180 d, two weeks, one week —
    * generalizing :78-82's hard-coded cutoffs), writing per window a
    * polygon FeatureCollection + a boundary-line layer, plus one
    * transposed dates/colors/sums CSV (:202-213). Returns the window
    * frames keyed by name. */
  def run(raw: DataFrame, shape: DataFrame, outDir: String): Map[String, DataFrame] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val (base, _) = baseFrame(raw, shape)
    val windows = Seq(
      "all" -> None, "wave" -> Some(180), "weeks_2" -> Some(14),
      "weeks_1" -> Some(7))
    val frames = windows.map { case (name, days) =>
      val f = windowFrame(base, days)
      GeoJsonIO.writeFeatureCollection(
        f, s"$outDir/map_$name.geojson")
      GeoJsonIO.writeFeatureCollection(
        f.select(col("date"), col("num_cases"),
          GeoFunctions.cols.stBoundary(col("geometry")).as("geometry")),
        s"$outDir/lines_$name.geojson")
      name -> f
    }.toMap
    writeSideCsv(frames, windows.map(_._1), s"$outDir/dates_colors_sums.csv")
    base.unpersist()
    frames
  }

  /** Driver-table adapter: renders the engine's event series as the
    * MOH-SHAPED RAW STRINGS the reference ingests (`'<15'` censor
    * tokens, TRUE/FALSE flags, string-typed numerics) plus a synthetic
    * shape layer, so [[run]] can execute END TO END — clean/decode
    * through the four windows and both GeoJSON layers — on the driver
    * datasets rather than only on the golden fixture.
    *
    * Key mapping: events fold onto a 50-city × 4-area grid
    * (`city = id%50+1`, `area = id%4` — area 0 rows exercise the
    * reconcile paths), daily increments aggregate per (city, area,
    * date), and cumulative counts are re-rendered as the REFERENCE's
    * raw encoding: below-threshold cumulative values print as the
    * censor token, flags as TRUE/FALSE. The shape layer synthesizes a
    * unit square per (city, area) on a sparse grid (the GeoQueries
    * squares convention) with deterministic pop/rank. Sized for the
    * spec gate at sf0.001 (cumulative cents stay far below Int.Max);
    * at scale the adapter's plan is two shuffles (daily agg + the
    * cumulative window) — same anatomy as EventSeries.series. */
  def driverInputs(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import graft.queries.EventSeries
    GeoFunctions.register(spark)
    val keyed = EventSeries.daily(spark, dir)
      .select(((col("id") % 50) + 1).cast(IntegerType).as("city"),
        (col("id") % 4).cast(IntegerType).as("area"),
        col("date"), col("dval"), col("n_events"),
        col("new_case"), col("new_vaccine"))
      .groupBy("city", "area", "date")
      .agg(sum("dval").as("dval"), sum("n_events").as("nev"),
        sum("new_case").as("nc"), sum("new_vaccine").as("nv"))
    val w = Window.partitionBy("city", "area").orderBy("date")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val raw = keyed
      .withColumn("cum_cases", sum(col("dval")).over(w))
      .withColumn("cum_tests", sum(col("nev")).over(w) * 100)
      .withColumn("cum_vacc", sum(when(col("dval") > 0, col("dval") / 2)
        .otherwise(lit(0L))).over(w).cast(LongType))
      .select(
        col("city").cast(StringType).as("city"),
        col("area").cast(StringType).as("area"),
        date_format(col("date"), "yyyy-MM-dd").as("date"),
        when(col("cum_cases") < 1500, lit("<15"))
          .otherwise(col("cum_cases").cast(StringType)).as("cases"),
        when(col("nc") > 0, lit("TRUE")).otherwise(lit("FALSE")).as("new_case"),
        col("cum_tests").cast(StringType).as("tests"),
        when(col("cum_vacc") < 1500, lit("<15"))
          .otherwise(col("cum_vacc").cast(StringType)).as("vaccine"),
        when(col("nv") > 0, lit("TRUE")).otherwise(lit("FALSE")).as("new_vaccine"))
    import spark.implicits._
    val x = (col("city") * 2) % 40
    val y = col("area") * 2 + floor(col("city") / 20) * 10
    val wkt = concat(
      lit("POLYGON(("), x, lit(" "), y, lit(", "),
      x + 1, lit(" "), y, lit(", "),
      x + 1, lit(" "), y + 1, lit(", "),
      x, lit(" "), y + 1, lit(", "),
      x, lit(" "), y, lit("))"))
    val shape = (1 to 50).flatMap(c => (1 to 3).map(a => (c, a)))
      .toDF("city", "area")
      .withColumn("id", CleanOps.surrogateId(col("city"), col("area")))
      .withColumn("name", concat(lit("city_"), col("city")))
      .withColumn("areas_name",
        concat(lit("area_"), col("city"), lit("_"), col("area")))
      .withColumn("pop", (col("city") * 1000 + col("area") * 37 + 100).cast(DoubleType))
      .withColumn("rank", (col("city") % 7).cast(DoubleType))
      .withColumn("geometry", GeoFunctions.cols.stGeomFromText(wkt))
      .select("id", "city", "area", "name", "areas_name", "pop", "rank", "geometry")
    (raw, shape)
  }

  /** The reference's zip_longest transpose (:202-213): 3 ragged lists
    * per window → 12 fixed columns, date lists ascending. */
  def writeSideCsv(frames: Map[String, DataFrame], order: Seq[String],
                   path: String): Unit = {
    val cols: Seq[(String, Seq[String])] = order.flatMap { name =>
      val (dates, quants, sums) = sideLists(frames(name))
      Seq(s"dates_$name" -> dates.reverse,
        s"colors_$name" -> quants.map(_.toString),
        s"sums_$name" -> sums.map(_.toString))
    }
    val height = cols.map(_._2.length).max
    val header = cols.map(_._1).mkString(",")
    val rows = (0 until height).map(i =>
      cols.map { case (_, v) => if (i < v.length) v(i) else "" }.mkString(","))
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (header +: rows).mkString("\n").getBytes("UTF-8"))
  }
}
