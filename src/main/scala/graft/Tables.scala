package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated test tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.ts is parquet TIMESTAMP(NANOS): Spark 4 only reads it as a
    // nanos-since-epoch LongType behind this legacy flag (runtime-settable).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    val floored = withScanFloor(spark, sfDir, name, df)
    if (name == "events") normalizeEventTs(floored) else floored
  }

  /** Load-scope opt-out from the scan floor, for query shapes whose
    * ENTIRE pre-exchange work is trivial projection feeding an
    * immediate data exchange (verified per call site against the
    * committed plan files): there the floor parallelizes nothing —
    * the first real exchange already redistributes — and its extra
    * stage is pure latency (join_asof measured 0.67-0.78 s unfloored
    * vs 1.08-1.29 s floored across three alternating A/B pairs, r15).
    * No effect at real scale, where the gate is off anyway. */
  def noScanFloor[T](spark: SparkSession)(body: => T): T = {
    val prev = spark.conf.getOption("spark.graft.scanFloor")
    spark.conf.set("spark.graft.scanFloor", "0")
    try body finally prev match {
      case Some(v) => spark.conf.set("spark.graft.scanFloor", v)
      case None => spark.conf.unset("spark.graft.scanFloor")
    }
  }

  /** (sessionUUID, path) -> (planned scan splits, on-disk bytes). Keyed
    * by the session's UUID string, not the session object, so stopped
    * sessions are not strongly retained (r15 ADVICE); bounded by the
    * handful of (sf, table) paths a process ever loads. */
  private val scanMetaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (Int, Long)]()
  /** Width of the floor exchange: unconditional defaultParallelism put 32
    * near-empty partitions under every consumer at bench SF — the driver's
    * r15 8-core cell beat its 32-core cell on 40+ queries on identical
    * code, i.e. the added per-stage scheduling overhead exceeded the
    * parallelism gain once inputs are tiny (r15 VERDICT item 1). Size the
    * width by input volume instead: one partition per
    * [[scanFloorBytesPerPart]] of on-disk parquet, capped at the floor. At any
    * real scale the planned-splits gate disables the whole mechanism, so
    * the budget only shapes the degenerate-tiny-input regime; 96 KiB was
    * chosen by same-session alternating A/B over the r15 driver-regressed
    * basket at 32 AND 8 cores (OPTIMIZATION_r16.md Change 1). */
  private val scanFloorBytesPerPart: Long = 96L * 1024

  /** Scale-adaptive scan-parallelism floor (optimization guide §2.5
    * "input skew: one huge unsplittable file → repartition immediately
    * after the read"): a table whose planned scan yields fewer splits
    * than the session's cores — the single-small-file, one-row-group
    * shape every local SF directory has — serializes every pre-shuffle
    * operator of every consumer onto one task while the other cores
    * idle. Hash-repartition such scans on the table's first column
    * (the generated tables' unique key — deterministic under task
    * retry, unlike a rand-derived key), at most floor-wide.
    *
    * Scale behavior: the gate reads the PLANNED scan partition count,
    * so any input big enough to split into >= cores tasks (anything
    * past a few hundred MB, let alone 100 TB) takes no extra exchange
    * at all — this is a floor for degenerate inputs, not a tuned
    * constant. The exchange it does add on tiny inputs moves only
    * those tiny bytes. The floor is defaultParallelism; the
    * `spark.graft.scanFloor` session conf overrides it and <= 1
    * disables (that is how [[noScanFloor]] works). PlanSpec's at-scale
    * shape pins (corpus-never-exchanges etc.) run under [[noScanFloor]]:
    * they assert the plan a >= cores-splits input yields, which is
    * exactly what the gate produces there; the floor exchange itself
    * has its own gate test.
    *
    * The partition expression is xxhash64(first column), NOT the bare
    * column: HashPartitioning(pk) would SATISFY downstream
    * aggregate/join requirements keyed on pk, deleting the exchange
    * that self-joining consumers reuse — measured on dedup_keep_best,
    * losing that reuse re-ran the whole simhash subtree once per join
    * side (1.9 s → 3.4 s). A derived expression matches no
    * requirement, so every original exchange (and its ReusedExchange)
    * stays put. */
  private def withScanFloor(spark: SparkSession, sfDir: String,
      name: String, df: DataFrame): DataFrame = {
    val floor = spark.conf.getOption("spark.graft.scanFloor").map(_.toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
    if (floor <= 1) df
    else {
      val sessionKey =
        spark.sparkContext.applicationId + "@" + System.identityHashCode(spark)
      val (scanParts, bytes) = scanMetaCache.computeIfAbsent(
        (sessionKey, s"$sfDir/$name"), { case (_, p) =>
          val path = new org.apache.hadoop.fs.Path(s"$p.parquet")
          val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
          (df.rdd.getNumPartitions, fs.getContentSummary(path).getLength)
        })
      val width = math.min(floor.toLong, math.max(1L,
        (bytes + scanFloorBytesPerPart - 1) / scanFloorBytesPerPart)).toInt
      if (scanParts >= width || width <= 1) df
      else df.repartition(width, xxhash64(col(df.columns.head)))
    }
  }

  /** The generated events.ts column has shipped as both TIMESTAMP(NANOS)
    * (read as a nanos long under nanosAsLong) and plain µs TIMESTAMP_NTZ.
    * Normalize to the nanos-since-epoch long every consumer expects; the
    * NTZ naive datetime is the same wall-clock DuckDB's epoch_ns sees, so
    * interpret it as UTC regardless of session zone. */
  private def normalizeEventTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType => df
    case org.apache.spark.sql.types.TimestampNTZType =>
      df.withColumn("ts",
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)") * 1000L)
    case _ =>
      df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
  }

  /** events.ts arrives as nanos-since-epoch long; `tsMicros` gives a real
    * TimestampType column (truncation matches DuckDB ns->us floor for
    * positive epochs). Long `/` long in Spark is DOUBLE division, which
    * corrupts ns-scale epochs (> 2^53); SQL integer `div` keeps the
    * exact quotient with the same truncate-toward-zero semantics the
    * old decimal(38,0) path had, without per-row decimal arithmetic. */
  def tsMicros(nanos: Column): Column =
    timestamp_micros(longDiv(nanos, 1000L))
  /** Epoch seconds from the nanos long — the oracle-safe egress form. */
  def tsSeconds(nanos: Column): Column = longDiv(nanos, 1000000000L)

  private def longDiv(c: Column, d: Long): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c.cast("long")),
        org.apache.spark.sql.catalyst.expressions.Literal(d)))

  def lineitem(spark: SparkSession, d: String): DataFrame = load(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame = load(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = load(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame = load(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame = load(spark, d, "region")
  def events(spark: SparkSession, d: String): DataFrame = load(spark, d, "events")
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")
}
