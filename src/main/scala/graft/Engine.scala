package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table catalog for the graft engine.
  *
  * Design notes (SURVEY.md §7): AQE on (runtime shuffle coalescing +
  * skew-join handling matter at 100 TB), UTC session (oracle parity),
  * shuffle partitions sized for the local harness via env — on a real
  * cluster this is `spark.sql.shuffle.partitions` ~ 2-3x total cores and
  * AQE coalesces down per-stage.
  */
object Engine {

  def builder(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .withExtensions(graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores ts as TIMESTAMP(NANOS) which Spark rejects;
      // read the raw int64 nanos and convert in Tables (truncate to micros,
      // matching DuckDB's nanos->TIMESTAMP truncation).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.compression.codec", "snappy")
      // INT64 micros, not the INT96 legacy default: INT96 footers carry
      // NO usable min/max (deprecated, undefined ordering), so every
      // timestamp column harvested into a stats manifest recorded the
      // opaque null row and raw-timestamp range predicates NEVER pruned
      // a file (r15 partition-evolution debugging exposed it: days-
      // partitioned dirs pruned only via their synthesized day column).
      // Micros stats make ts min/max prune like any other column —
      // Delta/Iceberg write micros for exactly this reason.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Long-suite driver-heap hygiene (round-10 verdict: per-query cost
      // grew with suite size while isolated runs stayed clean). The
      // status stores retain execution/job/stage graphs — including the
      // FULL plan strings of multi-dir versioned scans — even with the
      // UI off (defaults: 1000 executions, 1000 jobs); a 200-query
      // suite at ~30 materializations each holds thousands. Bound them.
      .config("spark.sql.ui.retainedExecutions", "16")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      // ContextCleaner frees dead broadcasts/shuffles/RDD blocks only
      // after driver GC notices them; its own backstop GC defaults to
      // 30 MIN — longer than an entire bench suite. One minute keeps
      // shuffle-file and broadcast residue bounded mid-suite.
      .config("spark.cleaner.periodicGC.interval", "60s")

  def session(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Loader for the driver-generated parquet tables (TESTDATA.md). Path =
  * table identity, mirroring the reference's container+folder namespace
  * (SURVEY.md §1.1, `adffunction/__init__.py:64-67`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(tableSchema(spark, path)).parquet(path)
    if (name == "events") normalizeTs(df) else df
  }

  /** The inferred schema of one parquet table file, cached in
    * [[MetaCache]] by file identity.
    *
    * Inference is DRIVER-SIDE (one footer read, zero Spark jobs):
    * `spark.read.parquet(path).schema` launches a footer-reading job
    * (~80 ms of scheduler+inference latency, measured r17) on every
    * cache miss, and protocol entries miss once per freshly staged file
    * per run. The footer read reproduces Spark's own single-file
    * inference exactly — prefer the Spark-written schema JSON in the
    * footer's key-value metadata, fall back to the session-conf-driven
    * parquet→Catalyst converter (same code `ParquetFileFormat`'s
    * inference runs per footer). Directory paths (length/mtime don't
    * track content — ADVICE r17) bypass both the cache and the footer
    * path and pay the ordinary distributed inference.
    */
  def tableSchema(spark: SparkSession,
      path: String): org.apache.spark.sql.types.StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p)
    if (st.isDirectory) return spark.read.parquet(path).schema
    MetaCache(("schema", path, st.getLen, st.getModificationTime))(
      footerSchema(spark, st))
  }

  /** Single-footer schema inference, driver-side. Matches
    * `ParquetFileFormat.readSchemaFromFooter`: a Spark-written file
    * carries its exact StructType as JSON under the standard key-value
    * metadata key; files from other writers convert footer types under
    * the session's SQLConf (nanosAsLong, NTZ inference, …).
    */
  private def footerSchema(spark: SparkSession,
      st: org.apache.hadoop.fs.FileStatus): org.apache.spark.sql.types.StructType = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
      st, spark.sparkContext.hadoopConfiguration)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val meta = try reader.getFooter.getFileMetaData finally reader.close()
    val sch = Option(
        meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
      .flatMap { json =>
        scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(json)
          .asInstanceOf[org.apache.spark.sql.types.StructType]).toOption
      }
      .getOrElse {
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(spark.sessionState.conf)
          .convert(meta.getSchema)
      }
    // spark.read.parquet marks every read relation nullable (file data
    // can always be missing a value); the footer's stored StructType
    // keeps write-side nullability — normalize to match inference
    // (Catalyst's `asNullable` is private[sql]; same recursion).
    toNullable(sch).asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  /** Schema of a FLAT parquet dir (single-write state dirs: MV state,
    * incremental-operator state, staged-swap targets): inferred driver-
    * side from the first data file's footer via [[tableSchema]]'s cache —
    * zero Spark jobs on repeat reads. Falls back to ordinary `spark.read`
    * inference when the dir is missing/empty or holds no visible data
    * file, so error semantics (UNABLE_TO_INFER on an empty dir) are
    * unchanged. NOT for hive-partitioned dirs — partition columns live
    * in paths, not footers; callers with `key=value` layouts keep
    * distributed inference.
    */
  def dirSchema(spark: SparkSession,
      dir: String): org.apache.spark.sql.types.StructType = {
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p).filter { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
      if (files.isEmpty) spark.read.parquet(dir).schema
      else tableSchema(spark, files.map(_.getPath.toString).min)
    } catch {
      case _: java.io.FileNotFoundException => spark.read.parquet(dir).schema
    }
  }

  /** `spark.read.parquet(dir)` for a flat single-write dir, with the
    * schema supplied from [[dirSchema]]'s cached footer read instead
    * of a per-call inference job.
    */
  def readDir(spark: SparkSession,
      dir: String): DataFrame =
    spark.read.schema(dirSchema(spark, dir)).parquet(dir)

  private def toNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case StructType(fields) => StructType(fields.map(f =>
        f.copy(dataType = toNullable(f.dataType), nullable = true)))
      case ArrayType(et, _) => ArrayType(toNullable(et), containsNull = true)
      case MapType(kt, vt, _) =>
        MapType(toNullable(kt), toNullable(vt), valueContainsNull = true)
      case other => other
    }
  }

  /** Normalize an events-shaped frame's `ts` column to session-zoned
    * `TimestampType` regardless of the on-disk parquet encoding. A real
    * lake mixes all three, and the engine must not care:
    *
    *  - int64 (TIMESTAMP(NANOS) surfaced as raw long via
    *    `spark.sql.legacy.parquet.nanosAsLong`, Engine.builder): truncate
    *    to micros with INTEGER division — a double division would lose
    *    precision (2024 epoch-nanos ~1.7e18 > 2^53) and DuckDB truncates,
    *    not rounds, when reading nanos into its micros TIMESTAMP.
    *  - `TimestampNTZType` (TIMESTAMP(MICROS, isAdjustedToUTC=false)):
    *    cast to `TimestampType`; the session is pinned to UTC
    *    (Engine.builder) so the cast re-tags the same micros value —
    *    exactly DuckDB's reading of the same file.
    *  - `TimestampType` (isAdjustedToUTC=true): already canonical.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  /** Register every table as a temp view (the engine's replacement for the
    * reference's `information_schema`-backed catalog, SURVEY.md §1.1).
    */
  def registerViews(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
