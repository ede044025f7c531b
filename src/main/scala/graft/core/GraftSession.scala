package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory mirroring the reference's runtime configuration —
  * AQE + coalescePartitions + Kryo (reference `spark-defaults.conf:16-18`,
  * `comprehensive_analytics_pipeline.py:100-102`) — standardized on UTC
  * (SURVEY §7 hard part 5).
  *
  * Scale posture: shuffle partitions default to the local core count, not
  * 200; on a real cluster this would be sized to ~2-3× total cores with AQE
  * coalescing the tail. All other knobs (broadcast threshold, skew-join) are
  * left to AQE, which re-plans from runtime statistics.
  */
object GraftSession {
  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("GRAFT_WAREHOUSE", "/tmp/graft-warehouse"))

  /** Session for tests: small core count, derby metastore in a temp dir. */
  def local(cores: Int = 4): SparkSession =
    builder(s"local[$cores]", shufflePartitions = cores).getOrCreate()

  /** Local core count of the command-line mains (Verify, Bench, PlanDump,
    * ScaleDataGen): `SPARK_GRAFT_CPUS` when set, else every processor of
    * the host. */
  def hostCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Session of the command-line mains (Verify, Bench, PlanDump) over the
    * fixture in `sfDir`: [[hostCores]] local cores, UTC, and shuffle
    * partitions that follow the input size — the core count at local
    * fixture sizes, growing with the data at cluster scale. */
  def fixtureSession(sfDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$hostCores]")
      .config("spark.sql.shuffle.partitions",
        shufflePartitionsFor(inputBytes(sfDir), hostCores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Input-size-aware shuffle-partition count: one shuffle partition per
    * `targetBytes` of input (the parquet-scan split convention,
    * `spark.sql.files.maxPartitionBytes`' 128 MB default), clamped to
    * [cores, 4×cores] so tiny fixtures keep every core busy and huge ones
    * don't drown the scheduler — AQE coalesces the post-shuffle tail
    * downward at runtime, so the cost of the upper clamp is metadata, not
    * extra passes. This makes the knob follow the DATA: the same binary
    * sized for sf0.01 local runs computes 4×cores on a 100 TB input
    * instead of silently funneling it through `cores` reducers (SCALE.md's
    * open 100 TB note). */
  def shufflePartitionsFor(inputBytes: Long, cores: Int,
                           targetBytes: Long = 128L * 1024 * 1024): Int = {
    require(cores > 0, s"cores must be positive, got $cores")
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val byBytes = (inputBytes + targetBytes - 1) / targetBytes
    math.min(math.max(byBytes, cores.toLong), 4L * cores).toInt
  }

  /** Total file bytes under `dir`, recursive — the input-scale probe for
    * [[shufflePartitionsFor]]. Local-filesystem metadata walk only (the
    * fixture dirs); on a cluster the same number comes from the
    * catalog/FileIndex statistics. */
  def inputBytes(dir: String): Long = {
    def sz(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(sz).sum).getOrElse(0L)
      else f.length
    sz(new java.io.File(dir))
  }
}

object Tables {
  /** Calendar year the events fixture spans (TESTDATA.md: `ts` covers
    * 2024). Freshness-style rules and their DuckDB mirrors derive their
    * window from this single constant, so a fixture regen with a new date
    * span is a one-line change here — not a silent audit/test break. */
  val EventsFixtureYear = 2024
}

/** Parquet-backed star-schema tables (TESTDATA.md). Plain `spark.read
  * .parquet` relations so Catalyst's DataSource V1/V2 pushdown sees them
  * directly: filters and column pruning reach the parquet scan
  * (`PushedFilters` / `ReadSchema` in `.explain("formatted")`).
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")
  def lineitem: DataFrame   = t("lineitem")
  def eventsRaw: DataFrame  = {
    // events.ts has shipped as parquet TIMESTAMP(NANOS) in some environments;
    // Spark's vectorized reader rejects that ([PARQUET_TYPE_ILLEGAL]) unless
    // the physical int64 nanos are read as long. NOTE: the legacy flag is
    // session-wide and deliberately left set — any later nanos-typed scan in
    // this session reads as long, which is this engine's contract for nanos.
    // Files whose ts is already µs-precision are unaffected by the flag.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    t("events")
  }
  def orders: DataFrame     = t("orders")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def nation: DataFrame     = t("nation")
  def region: DataFrame     = t("region")

  /** Canonical events relation: `ts` is always a session-TZ `TimestampType`
    * at µs precision, regardless of how the parquet file encodes it.
    *
    * Schema-adaptive on `ts`'s physical type — the explicit-schema discipline
    * of the reference (`weather_to_iceberg.py:81-85`, SURVEY §1.3) applied to
    * a source whose upstream producer has changed encodings across drops:
    *   - int64 (TIMESTAMP(NANOS) read via nanosAsLong) → floor-divide to µs,
    *     the same truncation DuckDB applies when formatting ns at µs precision;
    *   - TIMESTAMP_NTZ (µs, isAdjustedToUTC=false)     → reinterpret the wall
    *     clock as UTC (session TZ is UTC, so this is a pure type relabel);
    *   - TIMESTAMP (µs, isAdjustedToUTC=true)          → pass through.
    * Anything else fails fast with the observed type, not 41 queries deep.
    */
  def events: DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = eventsRaw
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts: unsupported physical type $other (expected int64 nanos, timestamp, or timestamp_ntz)")
    }
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}
