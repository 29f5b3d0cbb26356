package graft.io

import graft.ops.CommitLog
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsDelete, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsDynamicOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{EqualTo, Filter, In, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** THE LAKEHOUSE TIER AS A SQL CATALOG — `spark.sql("SELECT … FROM
  * lake.t VERSION AS OF 3")`, `TIMESTAMP AS OF`, and `INSERT INTO
  * lake.t …` over [[graft.ops.CommitLog]] tables, with the
  * manifest-driven [[GraftLakeFileIndex]] scan stack underneath.
  *
  * Architecture is Delta's catalog shape distilled (DeltaCatalog →
  * DeltaTableV2 → conversion rule → the V1 HadoopFsRelation):
  *
  *   - [[GraftLakeCatalog]] is a plain DSv2 [[TableCatalog]]
  *     registered as `spark.sql.catalog.<name> = graft.io.
  *     GraftLakeCatalog` with `spark.sql.catalog.<name>.root` naming a
  *     directory whose subdirectories are tables (each one a commit
  *     log root). `loadTable(ident, version|timestamp)` serves SQL
  *     time travel by returning a VERSION-PINNED table — the same
  *     `versionAsOf` resolution as the DataFrame options path.
  *   - [[GraftLakeTable]] is a DSv2 [[Table]] whose READ is converted
  *     by [[GraftLakeV2Conversion]] (an injected resolution rule —
  *     Delta's DeltaAnalysis pattern) into the EXISTING
  *     `HadoopFsRelation` from [[GraftLakeDataSource]], so SQL reads
  *     plan IDENTICALLY to `spark.read.format("graftlake")`: same
  *     FileIndex, same commit-entry statistics, same partition
  *     pruning before listing, same parquet pushdown + vectorized
  *     scan + whole-stage codegen. Nothing is re-implemented.
  *   - WRITES use the public V1-fallback seam ([[V1Write]] →
  *     [[InsertableRelation]]): `INSERT INTO` appends and `INSERT
  *     OVERWRITE` (dynamic partition semantics — the connector's
  *     native overwrite) both route through the connector's
  *     single-scan, stats-carrying, optimistic-commit write path.
  *
  * Table metadata (`partitionColumn`, `keyColumn`, …) lives in a
  * `_lake_table.tsv` sidecar in the table directory, written by
  * `CREATE TABLE lake.t (…) USING graftlake PARTITIONED BY (c)` (or
  * by hand); `loadTable` folds it into the read/write options.
  *
  * Scale shape: catalog calls are metadata-only (one properties file
  * read + the commit log's resolution fold); no data path differs
  * from the connector's. */
class GraftLakeCatalog extends TableCatalog {

  private var catalogName: String = _
  private var initRoot: Option[String] = None

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initRoot = Option(options.get("root"))
  }

  override def name(): String = catalogName

  /** The catalog root, re-read from the LIVE session conf on every
    * call: the catalog instance is cached per name by Spark's
    * CatalogManager, but tests and multi-dataset drivers re-point
    * `spark.sql.catalog.<name>.root` between queries — a snapshot
    * taken at initialize would silently serve the old root. */
  private def root: String =
    SparkSession.active.conf
      .getOption(s"spark.sql.catalog.$catalogName.root")
      .orElse(initRoot)
      .getOrElse(throw new IllegalArgumentException(
        s"catalog '$catalogName' needs spark.sql.catalog.$catalogName" +
          ".root = <directory of lake tables>"))

  private def tableDir(ident: Identifier): java.io.File = {
    require(ident.namespace.isEmpty ||
      ident.namespace.sameElements(Array("default")),
      s"graftlake catalog is single-namespace; got " +
        ident.namespace.mkString("."))
    new java.io.File(root, ident.name)
  }

  private[io] def propsFile(dir: java.io.File) =
    new java.io.File(dir, "_lake_table.tsv")

  private def readProps(dir: java.io.File): Map[String, String] = {
    val f = propsFile(dir)
    if (!f.exists()) Map.empty
    else java.nio.file.Files.readString(f.toPath)
      .split("\n").toSeq.filter(_.contains("\t"))
      .map { l => val p = l.split("\t", 2); p(0) -> p(1) }.toMap
  }

  private def isTable(dir: java.io.File): Boolean =
    new java.io.File(dir, "commitlog").isDirectory || propsFile(dir).exists()

  override def listTables(namespace: Array[String]): Array[Identifier] =
    graft.ops.VersionChain.children(new java.io.File(root))
      .filter(d => d.isDirectory && isTable(d))
      .map(d => Identifier.of(namespace, d.getName)).sortBy(_.name)
      .toArray

  override def tableExists(ident: Identifier): Boolean =
    isTable(tableDir(ident))

  override def loadTable(ident: Identifier): Table =
    load(ident, None)

  /** SQL `VERSION AS OF <v>` — the analyzer hands the literal here. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(scala.util.Try(version.toLong).getOrElse(
      throw new IllegalArgumentException(
        s"graftlake VERSION AS OF takes a numeric commit version, " +
          s"got '$version'"))))

  /** SQL `TIMESTAMP AS OF <ts>` — micros since epoch, floored to the
    * newest commit at or before it (the connector's timestampAsOf). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val v = CommitLog.asOfTimestamp(dir.getPath, timestamp / 1000000L)
      .getOrElse(throw new IllegalArgumentException(
        s"TIMESTAMP AS OF predates the first commit of ${ident.name}"))
    load(ident, Some(v))
  }

  private def load(ident: Identifier, version: Option[Long]): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    new GraftLakeTable(ident.name, dir.getPath, readProps(dir), version)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    val dir = tableDir(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    // the partition column comes from PARTITIONED BY (identity only —
    // the connector's hive layout); everything else from TBLPROPERTIES
    val partCol = partitions.toSeq match {
      case Nil => None
      case Seq(t) => Some(t.references.head.fieldNames.mkString("."))
      case many => throw new IllegalArgumentException(
        s"graftlake tables take at most one partition column, got " +
          many.mkString(", "))
    }
    dir.mkdirs()
    // the DECLARED schema is persisted so the table is resolvable
    // BEFORE its first commit (the CREATE→INSERT→SELECT flow); once
    // data lands, the live relation's schema is authoritative
    val props = scala.jdk.CollectionConverters.MapHasAsScala(properties)
      .asScala.toMap ++
      partCol.map("partitionColumn" -> _) +
      ("schemaJson" -> schema.json)
    java.nio.file.Files.writeString(propsFile(dir).toPath,
      props.toSeq.sorted.map { case (k, v) => s"$k\t$v" }
        .mkString("", "\n", "\n"))
    new GraftLakeTable(ident.name, dir.getPath, props, None)
  }

  /** `ALTER TABLE … RENAME COLUMN` through the SCHEMA-COMMIT protocol
    * ([[CommitLog.commitSchema]] — round 19): the resolved
    * logical→physical mapping is staged as an immutable parquet
    * artifact and flipped live by one metadata commit that conflicts
    * with EVERY concurrent rival (the metadata-clash rule), retried
    * from a fresh stable base on conflict. Bytes are never touched —
    * renames are O(columns) metadata at any table size — and schema
    * TIME TRAVEL falls out: `VERSION AS OF` before the rename serves
    * the old names over the same files. Other ALTERs (type changes,
    * drops through SQL) stay refused: they are the schema-commit
    * API's job with explicit mappings, not silent catalog mutation. */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val root = dir.getPath
    val spark = SparkSession.active
    changes.foreach {
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          "graftlake: nested-field renames are not supported")
        val from = r.fieldNames.head
        val to = r.newName
        var tries = 0
        var done = false
        while (!done) {
          val base = CommitLog.stableVersion(root)
          val t = new GraftLakeTable(ident.name, root, readProps(dir),
            Some(base))
          // current mapping, or the identity mapping synthesized from
          // the physical schema on a table never altered before
          val current = t.columnMapping.getOrElse {
            val pCol = t.partitionColName
            t.v1Relation.schema.filterNot(_.name == pCol)
              .map(f => (f.name, f.name, f.dataType.sql)).toSeq
          }
          require(current.exists(_._1 == from),
            s"RENAME COLUMN: no column '$from' in ${ident.name} " +
              s"(have ${current.map(_._1).mkString(", ")})")
          require(!current.exists(_._1 == to),
            s"RENAME COLUMN: column '$to' already exists")
          val next = current.map { case (lg, ph, dt) =>
            (if (lg == from) to else lg, ph, dt) }
          val mp = s"schema/v${base + 1}_" +
            java.util.UUID.randomUUID().toString.take(8)
          val sq = spark
          import sq.implicits._
          next.toDF("logical", "physical", "dtype")
            .coalesce(1).write.parquet(s"$root/$mp")
          try {
            CommitLog.commitSchema(root, s"sql_${ident.name}",
              s"rename:$from->$to", mp, base)
            done = true
          } catch {
            case e: CommitLog.CommitConflict =>
              tries += 1
              if (tries > 8) throw e
              Thread.sleep(1L << math.min(tries, 7))
          }
        }
      case other => throw new UnsupportedOperationException(
        s"graftlake ALTER TABLE supports RENAME COLUMN only " +
          s"(got ${other.getClass.getSimpleName}) — other schema " +
          "changes flow through CommitLog.commitSchema with an " +
          "explicit mapping")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!isTable(dir)) false
    else { graft.ops.VersionChain.rmTree(dir); true }
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    val from = tableDir(oldIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    val to = tableDir(newIdent)
    if (isTable(to)) throw new TableAlreadyExistsException(newIdent)
    require(from.renameTo(to),
      s"rename ${oldIdent.name} -> ${newIdent.name} failed")
  }
}

/** A commit-log table as a DSv2 [[Table]]. Reads are converted to the
  * connector's V1 `HadoopFsRelation` by [[GraftLakeV2Conversion]]
  * (same plan as `spark.read.format("graftlake")` — the conversion is
  * where "SQL surface" and "existing scan stack" meet); writes
  * V1-fall-back through [[V1Write]] into the connector's
  * stage-manifest-commit path. `versionAsOf` pins time travel; a
  * pinned table REFUSES writes (you cannot insert into the past). */
class GraftLakeTable(tableName: String, val tableRoot: String,
                     val props: Map[String, String],
                     val versionAsOf: Option[Long])
    extends Table with SupportsWrite with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRead {

  /** Minimal scan surface for the DELETE planning path ONLY: Spark
    * translates a DELETE condition against the target's scan output,
    * which requires SupportsRead — but the scan itself never executes
    * (a metadata delete runs `deleteWhere`, no rows flow). Actual
    * READS never reach this either: [[GraftLakeV2Conversion]] replaces
    * the relation with the V1 `HadoopFsRelation` during ANALYSIS,
    * before the optimizer's scan planning. */
  override def newScanBuilder(
      options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    val self = this
    new org.apache.spark.sql.connector.read.ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.Scan {
          override def readSchema(): StructType = self.schema
          override def description(): String =
            s"graftlake filter-translation scan of ${self.name()} " +
              "(never executed — reads convert to the V1 relation)"
        }
    }
  }

  override def name(): String = s"graftlake.`$tableName`"

  /** The exact read options the DataFrame path would use. */
  def readOptions: Map[String, String] =
    props ++ Map("path" -> tableRoot) ++
      versionAsOf.map(v => "versionAsOf" -> v.toString)

  /** The V1 relation — THE scan plan: built by the same
    * createRelation as the options path, so schema, FileIndex,
    * pruning, and statistics cannot drift between SQL and DataFrame
    * reads. */
  def v1Relation: org.apache.spark.sql.sources.BaseRelation =
    new GraftLakeDataSource().createRelation(
      SparkSession.active.sqlContext, readOptions)

  /** True while the table has no committed DATA — resolvable (via the
    * declared schema) but not yet readable as a relation. Schema
    * commits alone don't make a table non-empty. */
  def isEmptyTable: Boolean =
    (CommitLog.resolveForRead(tableRoot) - CommitLog.SchemaPartition)
      .isEmpty

  /** The ACTIVE column mapping at this table's pinned version
    * ([[CommitLog.schemaHistory]]): (logical, physical, dtype) rows,
    * sorted by logical name — None while the table has no schema
    * commits (logical ≡ physical). SQL reads project through it
    * ([[GraftLakeV2Conversion]]), SQL writes map logical → physical
    * before staging, and `ALTER TABLE … RENAME COLUMN` appends to it
    * through the schema-commit protocol. */
  lazy val columnMapping: Option[Seq[(String, String, String)]] =
    CommitLog.schemaHistory(tableRoot,
      versionAsOf.getOrElse(Long.MaxValue)).lastOption.map {
      case (_, _, mp) =>
        val loc = if (new java.io.File(mp).isAbsolute) mp
          else s"$tableRoot/$mp"
        SparkSession.active.read.parquet(loc)
          .select("logical", "physical", "dtype").collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2)))
          .sortBy(_._1).toSeq
    }

  private[io] def partitionColName: String =
    props.getOrElse("partitionColumn", GraftLakeSource.VirtualPartitionCol)

  override lazy val schema: StructType =
    if (!isEmptyTable) columnMapping match {
      case None => v1Relation.schema
      case Some(m) =>
        // LOGICAL schema: mapped data columns + the partition column
        StructType(m.map { case (lg, _, dt) =>
          org.apache.spark.sql.types.StructField(lg,
            org.apache.spark.sql.types.DataType.fromDDL(dt))
        } :+ org.apache.spark.sql.types.StructField(partitionColName,
          org.apache.spark.sql.types.StringType, nullable = false))
    }
    else props.get("schemaJson")
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[StructType])
      .getOrElse(throw new IllegalArgumentException(
        s"graftlake table ${name()} has no committed data and no " +
          "declared schema — CREATE TABLE with columns, or commit " +
          "a first version"))

  override def partitioning(): Array[Transform] =
    props.get("partitionColumn")
      .map(c => Array[Transform](Expressions.identity(c)))
      .getOrElse(Array.empty)

  override def properties(): java.util.Map[String, String] =
    scala.jdk.CollectionConverters.MapHasAsJava(
      props ++ versionAsOf.map(v => "versionAsOf" -> v.toString)).asJava

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_DYNAMIC)

  /** SQL `DELETE FROM lake.t WHERE <partition predicate>` —
    * PARTITION-GRANULAR, METADATA-ONLY: the commit stages an EMPTY
    * owner (a dir whose manifest lists zero files) for exactly the
    * named partitions, so the delete is one log entry regardless of
    * table size, old versions stay time-travelable, and concurrent
    * writers conflict through the normal optimistic validation.
    * Predicates finer than the partition column are REFUSED
    * (`canDeleteWhere = false` → Spark reports the delete
    * unsupported): row-level deletes are the DV merge tier's job
    * (`q_lake_read_dv`) — silently rewriting partitions here would
    * hide a table-size-proportional cost behind DELETE syntax. */
  private def deletePartitions(filters: Array[Filter]): Option[Seq[String]] = {
    val pName = partitionColName
    val legs = filters.toSeq.map {
      case EqualTo(c, v) if c == pName => Some(Seq(String.valueOf(v)))
      case In(c, vs) if c == pName => Some(vs.toSeq.map(String.valueOf))
      case _ => None
    }
    if (legs.isEmpty || legs.exists(_.isEmpty)) None
    // conjunction of partition filters = intersection of value sets
    else Some(legs.flatten.map(_.toSet).reduce(_ intersect _).toSeq.sorted)
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    versionAsOf.isEmpty && deletePartitions(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val parts = deletePartitions(filters).getOrElse(
      throw new IllegalArgumentException(
        s"graftlake DELETE is partition-granular: predicates must be " +
          s"$partitionColName = <v> / IN (...) — row-level deletes go " +
          "through DV merge commits"))
    val live = graft.ops.CommitLog.resolveForRead(tableRoot).keySet
    val touched = parts.filter(live)
    if (touched.isEmpty) return // nothing owned — a no-op delete
    graft.ops.CommitLog.commitWithRebase(tableRoot, { base =>
      val staged = s"data/sql_delete_" +
        java.util.UUID.randomUUID().toString.take(8)
      val d = new java.io.File(tableRoot, staged)
      d.mkdirs()
      GraftLakeSource.writeManifest(s"$tableRoot/$staged", _ => None)
      graft.ops.CommitLog.Entry(s"sql_$tableName", "delete", staged,
        touched, base, partBytes = touched.map(_ -> 0L).toMap)
    })
    ()
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(versionAsOf.isEmpty,
      s"cannot write to ${name()} pinned at versionAsOf=" +
        s"${versionAsOf.get} — time-travel reads are immutable")
    new WriteBuilder with SupportsTruncate with SupportsDynamicOverwrite {
      private var mode: SaveMode = SaveMode.Append
      // INSERT OVERWRITE — the connector's native dynamic partition
      // overwrite (staged partitions change owner, the rest ride
      // along by reference)
      override def truncate(): WriteBuilder = { mode = SaveMode.Overwrite; this }
      override def overwriteDynamicPartitions(): WriteBuilder =
        { mode = SaveMode.Overwrite; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
            val m = if (overwrite) SaveMode.Overwrite else mode
            // a mapped table receives LOGICAL columns from SQL; the
            // physical files store immutable physical ids — project
            // before staging (the reverse of the read-side mapping)
            val physData = columnMapping match {
              case None => data
              case Some(mp) =>
                val pCol = partitionColName
                data.select(mp.map { case (lg, ph, _) =>
                  org.apache.spark.sql.functions.col(lg).as(ph)
                } ++ (if (data.columns.contains(pCol))
                  Seq(org.apache.spark.sql.functions.col(pCol))
                else Nil): _*)
            }
            new GraftLakeDataSource().createRelation(
              data.sparkSession.sqlContext, m,
              props ++ Map("path" -> tableRoot,
                "writer" -> s"sql_${tableName}"), physData)
            ()
          }
      }
    }
  }
}
