package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros, to_timestamp, unix_micros}
import org.apache.spark.sql.types.{LongType, StringType, StructType, TimestampNTZType, TimestampType}

/** Test-data catalog: registers the driver-generated parquet tables
  * (TESTDATA.md) as temp views so queries can be written against bare
  * table names.
  *
  * At cluster scale these would be external catalog tables (partitioned /
  * bucketed parquet); the registration path is identical — only the
  * location string changes. Reads go through the vectorized parquet
  * reader; filters and column pruning are pushed into the scan by
  * Catalyst (verify with `.explain("formatted")` → `PushedFilters`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Memoized per (session, dir, table): DataFrame plans are immutable, and
  // re-calling spark.read.parquet rebuilds the file index + re-reads the
  // footer schema on every query — measurable fixed overhead when dozens
  // of queries each touch several tables. Keyed by session identity
  // (SparkSession doesn't override equals), so a colliding successor is
  // never served a stopped session's plans. Weak keys alone can NOT
  // reclaim entries here — the cached DataFrames strongly reference their
  // session, so the value pins the key (the WeakHashMap value→key leak);
  // instead, entries for stopped sessions are pruned eagerly on every
  // access (O(#sessions), trivially small).
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]]())

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = cache.synchronized {
      val it = cache.keySet().iterator()
      while (it.hasNext) if (it.next().sparkContext.isStopped) it.remove()
      var m = cache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
        cache.put(spark, m)
      }
      m
    }
    perSession.computeIfAbsent((dir, name), { _ =>
      // events.ts is parquet TIMESTAMP(NANOS) which Spark's vectorized
      // reader rejects; read it as raw nanos and truncate to microseconds —
      // the same truncation DuckDB applies casting TIMESTAMP_NS → TIMESTAMP.
      // (The conf is also set in GraftSession.builder; set here as well for
      // sessions not built through it.)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val fmt = Formats.find { f =>
        val p = new org.apache.hadoop.fs.Path(s"$dir/$name.$f")
        p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
      }.getOrElse("parquet") // default: let the parquet reader raise the error
      normalizeTs(read(spark, s"$dir/$name.$fmt", fmt))
    })
  }

  /** Formats the catalog auto-detects, in probe order (columnar first —
    * they carry their own schema and types; csv/json are the text
    * fallbacks a real corpus drop often arrives as). */
  val Formats: Seq[String] = Seq("parquet", "orc", "csv", "json")

  /** One table from an explicit path + format, through the same boundary
    * normalization as [[load]]. `schema` is the production path for text
    * formats — csv/json WITHOUT one fall back to inference, which reads
    * the data an extra time and must never be the plan at 100 TB; the
    * columnar formats ignore it (their footers are authoritative). */
  def loadAs(spark: SparkSession, path: String, format: String,
             schema: Option[StructType] = None): DataFrame =
    normalizeTs(read(spark, path, format, schema))

  private def read(spark: SparkSession, path: String, format: String,
                   schema: Option[StructType] = None): DataFrame =
    format match {
      case "parquet" => spark.read.parquet(path)
      case "orc"     => spark.read.orc(path)
      case "csv" =>
        val r = spark.read.option("header", "true")
        schema.fold(r.option("inferSchema", "true"))(r.schema).csv(path)
      case "json" =>
        schema.fold(spark.read)(spark.read.schema).json(path)
      case other => throw new IllegalArgumentException(
        s"unsupported table format '$other' (one of ${Formats.mkString("/")})")
    }

  /** Boundary normalization of the fact tables' `ts` to session-local
    * TIMESTAMP — every wire flavor an engine meets lands here:
    *  - int64: legacy TIMESTAMP(NANOS) parquet read under `nanosAsLong`
    *    (truncate to micros, as DuckDB casting TIMESTAMP_NS → TIMESTAMP);
    *  - TIMESTAMP_NTZ: plain `timestamp[us]` parquet / inferred csv —
    *    cast interprets it in the session timezone (pinned UTC by
    *    GraftSession), so the instant is unchanged, oracle hashes stay
    *    stable, and downstream epoch math (`unix_micros`) stays legal;
    *  - string: json (no timestamp type on the wire) — ISO-8601 parse.
    * One place, every format, every downstream query agrees. */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case Some(StringType) =>
        df.withColumn("ts", to_timestamp(col("ts")))
      case _ => df
    }

  /** Exact integer epoch microseconds from a timestamp of EITHER flavor
    * (TIMESTAMP or TIMESTAMP_NTZ — `unix_micros` alone rejects NTZ; the
    * cast interprets NTZ in the session timezone, pinned UTC, and is a
    * no-op on LTZ).
    *
    * SCOPE: only the two timestamp types. A LongType ts (the legacy
    * nanos wire flavor) would cast as epoch SECONDS — off by 1e9,
    * silently — and an unparseable string degrades to NULLs; both
    * belong to [[load]]/[[loadAs]]'s boundary normalization, not here.
    * Operators that accept a raw DataFrame use [[epochMicrosIn]], which
    * resolves the expression's actual type and REJECTS non-timestamp
    * inputs loudly instead. */
  def epochMicros(c: Column): Column = unix_micros(c.cast(TimestampType))

  /** [[epochMicros]] with the input's resolved type checked against the
    * DataFrame it will run over — the operator-facing form. Callers
    * bypassing [[load]] with a legacy nanos-int64 or string ts get an
    * IllegalArgumentException naming the fix (route the input through
    * the catalog boundary), not silently corrupted epochs. */
  def epochMicrosIn(df: DataFrame, c: Column): Column = {
    val dt = df.select(c).schema.head.dataType
    dt match {
      case TimestampType | TimestampNTZType => epochMicros(c)
      case other => throw new IllegalArgumentException(
        s"epochMicrosIn: ts expression resolves to $other, not a timestamp " +
          "— normalize the input through Tables.load/loadAs (legacy nanos " +
          "int64 and string ts are converted there), or cast explicitly")
    }
  }

  /** Idempotent: register all tables under `dir` as temp views. */
  def register(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}

/** Session factory with the scale-oriented defaults used everywhere:
  * UTC (hash-stable timestamps vs the oracle), AQE on (runtime shuffle
  * coalescing + skew-join handling), 32 shuffle partitions for the
  * local[32] harness (on a real cluster this would be set to ~2-3x the
  * executor core count, or left to AQE's coalescing with a high initial
  * value).
  */
object GraftSession {
  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events.ts TIMESTAMP(NANOS)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")

  /** [[builder]] on `local[SPARK_GRAFT_CPUS]` (default 4) with one shuffle
    * partition per core: the session of the Bench and Verify mains, so a
    * timing and a correctness run see the same planner settings. */
  def local(appName: String): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    builder(appName).master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
  }
}
