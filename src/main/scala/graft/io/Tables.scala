package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.LongType

/** Parquet readers for the driver testdata star schema (TESTDATA.md).
  *
  * Mirrors the reference's zone readers (clean/curated Delta reads,
  * reference `elt/prescriptive/prescriptive_logic.py:39-50`) as plain
  * columnar scans: Catalyst pushes predicates and prunes columns into
  * the parquet scan, which is the scale path for 100 TB — never
  * materialize then filter like the reference's `.to_pandas()`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `df`, a projection of `dir/name.parquet`, round-robin widened to
    * n = [[graft.plans.ExchangeSizing.width]](file bytes, advisory, 1,
    * cores) partitions when n exceeds the file's
    * [[effectiveScanSplits]] — the byte rule every other exchange is
    * sized by, applied to the scan a compute-heavy projection runs in.
    *
    * Why a widen at all (round-13 finding, measured): parquet assigns
    * each ROW GROUP to the byte-split containing its start offset, so
    * a file's non-empty scan tasks are min(planned splits, row groups)
    * — a single-writer file of one row group runs its scan-stage
    * projection 1-wide however many cores the box has. Consumers whose
    * per-row compute dominates (the documents seams of
    * [[documentsWide]]) pay one exchange of the raw rows to run that
    * compute n-wide. `Ann.corpus` widens its embeddings scan to all
    * cores instead: its measured crossover is not this one.
    *
    * Why sized by bytes: the exchange's one map task still decodes and
    * serializes the whole table single-threaded, so on a small file
    * the widen costs more than it buys. Measured on 4 cores
    * (SCALING.md §"The corpus widen, sized from its bytes"): a 0.12 MB
    * or 0.59 MB documents file (n = 1) is faster narrow, a 5.7 MB or
    * 57 MB one (n = 4) 1.6–3.2× faster widened, and 1.8 MB gives
    * n = 2. The crossover, one partition per advisory /
    * [[graft.plans.ExchangeSizing.Growth]] bytes (1 MB at the default
    * advisory size), comes from that constant, which bounds planner
    * exchanges' write growth: retuning it moves this widen as well.
    * At cluster scale a corpus is thousands of row groups and
    * the branch is dead. Only order-independent consumers may widen
    * (digest/count/min/bit math, or per-row outputs under a
    * total-order final sort): the exchange reorders rows, which would
    * move the bits of a float sum. */
  def widened(s: SparkSession, dir: String, name: String, df: DataFrame): DataFrame = {
    val bytes = SessionMemo.leaves(s, s"$dir/$name.parquet")
      .filter(_.getPath.getName.endsWith(".parquet")).map(f => BigInt(f.getLen)).sum
    val n = graft.plans.ExchangeSizing.width(bytes,
      s.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES),
      1, s.sparkContext.defaultParallelism)
    if (n > 1 && n > effectiveScanSplits(s, dir, name)) df.repartition(n) else df
  }

  /** Sum of `probe` over the footers of every `.parquet` leaf under
    * `path` — the driver's single FILE named `<name>.parquet` or a
    * Spark-written DIRECTORY of part files, nested `key=val/` partition
    * dirs included (listed through the Hadoop FileSystem API, so
    * hdfs:// and s3a:// paths probe like local ones). None when there is
    * no such leaf or a footer is unreadable. */
  private def footerSum(s: SparkSession, path: String)(
      probe: org.apache.parquet.hadoop.ParquetFileReader => Long): Option[Long] = {
    val conf = s.sessionState.newHadoopConf()
    scala.util.Try {
      SessionMemo.leaves(s, path).map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
        .map { p =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
          try probe(r) finally r.close()
        }
    }.toOption.filter(_.nonEmpty).map(_.sum)
  }

  /** Exact row count of `dir/name.parquet` from footer METADATA only —
    * no data pass (parquet footers carry per-row-group counts; this is
    * the same catalog-statistics class ANALYZE persists, read at plan
    * construction the way CBO reads rowCount). None when the probe
    * fails (missing table, unreadable footer) — callers must then take
    * the plan that assumes nothing about the table's size. */
  def tableRowCount(s: SparkSession, dir: String, name: String): Option[Long] = {
    val path = s"$dir/$name.parquet"
    SessionMemo(s, "rowCount", Seq(path))(footerSum(s, path)(_.getRecordCount))
  }

  /** min(planned FilePartitions, footer row groups); both memoized —
    * `.rdd.getNumPartitions` costs a planning pass and the footer read
    * an open+parse. The planned count also depends on the split-
    * planning confs and the core count, so its entry is keyed on them.
    * If the footer probe fails or finds NO parquet leaves, the row-group
    * bound falls back to "unknown = not limiting" (MaxValue) — the
    * conservative direction: no widen, plan exactly as before the
    * probe existed. (A literal 0 would be the opposite failure: the
    * widen exchange taxed onto every consumer of that dir forever.) */
  def effectiveScanSplits(s: SparkSession, dir: String, name: String): Int = {
    val path = s"$dir/$name.parquet"
    val sql = s.sessionState.conf
    val planned = SessionMemo(s, "plannedSplits", Seq(path),
        (sql.filesMaxPartitionBytes, sql.filesOpenCostInBytes,
          s.sparkContext.defaultParallelism)) {
      table(s, dir, name).rdd.getNumPartitions
    }
    val groups = SessionMemo(s, "rowGroups", Seq(path)) {
      footerSum(s, path)(_.getRowGroups.size.toLong)
        .fold(Int.MaxValue)(n => math.min(n, Int.MaxValue.toLong).toInt)
    }
    math.min(planned, groups)
  }

  /** The driver's events.parquet has shipped `ts` under two encodings:
    * INT64 TIMESTAMP(NANOS) (rounds 1–5; vanilla Spark refuses it —
    * [PARQUET_TYPE_ILLEGAL] — so we read nanos as long and convert) and
    * plain TIMESTAMP(MICROS) without tz (round 6+; Spark infers
    * TIMESTAMP_NTZ, which watermarks and unix_micros reject). Both are
    * normalized HERE, the single batch seam, to TimestampType — the
    * same tz-normalization step the reference performs on every read
    * (`prescriptive_logic.py:43-46`). The session tz is UTC, so the
    * NTZ→TZ cast is value-preserving. Conversion is a pure projection:
    * pushdown/pruning on other columns is unaffected.
    *
    * `spark.read.parquet` lists files and reads a footer to infer the
    * schema on EVERY call — a constant metadata tax paid by all ~200
    * gate entries (round-7 advice) — so the plan is memoized per
    * session and file fingerprint: a rewritten table is a new entry;
    * execution still re-scans file CONTENT each run, exactly like a
    * catalog table's cached metadata in production. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    SessionMemo(spark, "table", Seq(s"$dir/$name.parquet")) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      df.schema.fields.find(_.name == "ts").map(_.dataType) match {
        case Some(LongType) =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case Some(org.apache.spark.sql.types.TimestampNTZType) =>
          df.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => df
      }
    }

  /** The documents table, narrowed to `cols` first (so the exchange
    * ships only what the consumer reads) and [[widened]] by its file
    * bytes. ONLY for consumers whose downstream math is
    * order-independent (digest/count/min/bit aggregation, or per-row
    * outputs under a total-order final sort); consumers with
    * order-sensitive float accumulation stay on [[documents]]. */
  def documentsWide(s: SparkSession, dir: String,
      cols: Seq[String] = Nil): DataFrame = {
    val base = documents(s, dir)
    widened(s, dir, "documents",
      if (cols.isEmpty) base else base.select(cols.map(col): _*))
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Register every table as a temp view so spark.sql queries (scalar
    * subqueries, view layering) can reference them by name — the same
    * names the DuckDB oracle uses. The views always point at the
    * requested dir's CURRENT files: they are re-registered whenever the
    * table plans differ from the ones last registered in this session
    * (another dir, or a rewritten file). The plans are recorded only
    * AFTER all views registered, under the session's lock — a partial
    * failure or a concurrent caller with a different dir can never
    * leave the record claiming views it didn't finish creating (round-2
    * advice). */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    val frames = names.map(table(spark, dir, _))
    val v = views(spark)
    v.synchronized {
      if (!v.frames.corresponds(frames)(_ eq _)) {
        names.zip(frames).foreach { case (n, df) => df.createOrReplaceTempView(n) }
        v.frames = frames
      }
    }
  }

  /** The table plans the session's temp views were last made from. */
  private final class Views { var frames: Seq[DataFrame] = Nil }
  private def views(s: SparkSession): Views = SessionMemo(s, "views", Nil)(new Views)

  /** Drop the temp views created by [[registerViews]] and forget the
    * record. Temp views SHADOW catalog names in resolution, so this is
    * the seam that makes the same SQL text resolve to the
    * [[registerCatalogTables]] stats-bearing relations instead —
    * SqlTwinCboSpec flips it per entry to prove CBO planning changes
    * no result. */
  def unregisterViews(spark: SparkSession): Unit = {
    val v = views(spark)
    v.synchronized {
      names.foreach(n => spark.catalog.dropTempView(n))
      v.frames = Nil
    }
  }

  /** Catalog-table registration path (round-9 verdict task 4): temp
    * views cannot carry ANALYZE statistics, so entries planned over
    * [[registerViews]] can never be CBO-planned — the stats story
    * ended one step short of the engine's own tables. This registers
    * every zone table as an EXTERNAL catalog table over the same
    * parquet, under the same names the SQL surface uses, then runs
    * `ANALYZE … COMPUTE STATISTICS FOR ALL COLUMNS`: a SQL-twin text
    * now resolves to stats-bearing relations and stats-driven
    * broadcast / CostBasedJoinReorder apply to REAL entries
    * (StorageSpec plan-asserts q7 and o25 through this path). At
    * 100 TB this is the production registration — ANALYZE runs at
    * ingest time and every ad-hoc query planner call consumes the
    * catalog's rowCount/ndv for free.
    *
    * The events table's ts-encoding normalization (the [[table]]
    * seam) is preserved: `events_raw` is the external table, `events`
    * a catalog view applying the same normalization expression. Temp
    * views of the same names are dropped first (temp views shadow
    * catalog names in resolution) and the registerViews memo cleared,
    * so a later registerViews(dir) round-trips cleanly. */
  def registerCatalogTables(s: SparkSession, dir: String,
      analyze: Boolean = true): Unit = {
    val v = views(s)
    v.synchronized { v.frames = Nil }
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    names.foreach { n =>
      s.catalog.dropTempView(n)
      val tbl = if (n == "events") "events_raw" else n
      // an old run may have left either object kind under either name
      scala.util.Try(s.sql(s"DROP VIEW IF EXISTS $n"))
      scala.util.Try(s.sql(s"DROP TABLE IF EXISTS $tbl"))
      s.sql(s"CREATE EXTERNAL TABLE $tbl USING parquet LOCATION '$dir/$n.parquet'")
      if (n == "events") {
        val raw = s.table("events_raw").schema
        val cols = raw.fields.map { f =>
          if (f.name == "ts") f.dataType match {
            case LongType => "timestamp_micros(ts div 1000) AS ts"
            case org.apache.spark.sql.types.TimestampNTZType =>
              "CAST(ts AS TIMESTAMP) AS ts"
            case _ => "ts"
          } else f.name
        }.mkString(", ")
        s.sql(s"CREATE VIEW events AS SELECT $cols FROM events_raw")
      }
      if (analyze) {
        // table-level stats (rowCount + size) always; column stats
        // only for types ANALYZE supports — embeddings' ARRAY<FLOAT>
        // (and any future nested/binary column) has no ndv/min/max
        // representation in the catalog and would abort the command
        s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS")
        val statable = s.table(tbl).schema.fields.filterNot(f =>
          f.dataType match {
            case _: org.apache.spark.sql.types.ArrayType |
                 _: org.apache.spark.sql.types.MapType |
                 _: org.apache.spark.sql.types.StructType |
                 org.apache.spark.sql.types.BinaryType => true
            case _ => false
          }).map(f => s"`${f.name}`")
        if (statable.nonEmpty)
          s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR COLUMNS " +
            statable.mkString(", "))
      }
    }
  }

  /** Tear-down twin of [[registerCatalogTables]] (test hygiene — the
    * metastore outlives a suite run). */
  def dropCatalogTables(s: SparkSession): Unit = {
    scala.util.Try(s.sql("DROP VIEW IF EXISTS events"))
    scala.util.Try(s.sql("DROP TABLE IF EXISTS events_raw"))
    names.filterNot(_ == "events")
      .foreach(n => scala.util.Try(s.sql(s"DROP TABLE IF EXISTS $n")))
  }

  /** Streaming reader schema for the events table — the single home of
    * the ts-encoding policy on the streaming path. The driver's testdata
    * has shipped `ts` as both INT64 TIMESTAMP(NANOS) (rounds 1–5) and
    * plain TIMESTAMP(MICROS) (round 6+), so the stream schema's ts type
    * is taken from the actual file footer (one cheap batch footer read)
    * rather than hardcoded: a streaming source needs its schema declared
    * up front, but nothing says it must be declared blind. */
  def eventsStreamSchema(tsType: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", LongType),
      org.apache.spark.sql.types.StructField("ts", tsType),
      org.apache.spark.sql.types.StructField("user_id", LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("props",
        org.apache.spark.sql.types.StringType)))

  val documentsStreamSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars", LongType)))

  /** Documents as a file-source stream (the ingest feed a curation
    * pipeline consumes) — same drained-replay protocol as
    * [[eventsStream]]. */
  def documentsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(documentsStreamSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)

  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Footer read decides the ts encoding; mirrors the batch reader's
    // LongType match so batch and stream always agree on semantics.
    // Memoized: a streaming source needs its schema declared up front,
    // but the footer only needs reading once per file version.
    val rawTsType = SessionMemo(spark, "eventsTs", Seq(s"$dir/events.parquet")) {
      spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    }
    val raw = spark.readStream.schema(eventsStreamSchema(rawTsType))
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    rawTsType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // Watermarks demand TIMESTAMP (with tz); session tz is UTC so
        // the NTZ→TZ cast is value-preserving.
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType => raw
      case other =>
        // A new encoding (INT96, tz-annotated nanos, …) must fail loudly
        // at this seam, not propagate unnormalized into watermark logic.
        sys.error(
          s"events.parquet ts has unsupported encoding $other; " +
          "extend Tables.eventsStream/table to normalize it")
    }
  }
}
