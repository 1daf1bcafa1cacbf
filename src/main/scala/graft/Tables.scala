package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Each table is a single parquet file under the scale-factor dir. At
  * 100 TB these would be partitioned lakes; the loaders deliberately take
  * a directory so the same code reads a partitioned layout unchanged.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") normalizeTs(df) else df
  }

  /** events.ts has shipped under more than one physical parquet schema —
    * TIMESTAMP(NANOS) (which Spark 4 surfaces as LongType under
    * `spark.sql.legacy.parquet.nanosAsLong`, set in every session builder)
    * and TIMESTAMP(MICROS) (TimestampType when
    * `spark.sql.parquet.inferTimestampNTZ.enabled=false`, TIMESTAMP_NTZ
    * otherwise). A production lake sees exactly this physical-type drift
    * as writers upgrade, so the loader adapts to whatever the scan
    * produced and normalises every rendition to the session-UTC
    * TimestampType the rest of the engine is written against.
    *
    * Prefer the `inferTimestampNTZ.enabled=false` session conf for micros
    * files: the scan then emits TimestampType directly and time-range
    * predicates push down to the parquet reader (PlanSpec pins this); the
    * NTZ branch below is a correctness fallback that costs a per-row cast.
    */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case TimestampType    => df
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case other => throw new IllegalArgumentException(
        s"events.ts: unexpected physical type $other — extend Tables.normalizeTs")
    }

  /** Spread a SMALL scan to cluster width — conditionally (r19 opt
    * round; guide §2.5 "input skew: one huge unsplittable file …
    * repartition immediately after the read"). The driver tables are
    * each ONE parquet file with one row group, so a scan is ONE task
    * and every per-row kernel stacked on it (shingling, fingerprints,
    * vector math, tokenization) ran single-threaded up to the query's
    * first exchange. Scale-adaptive by construction: the repartition
    * fires only when the scan yielded fewer partitions than
    * defaultParallelism — a production many-split lake scan is
    * untouched, so this can never become a payload shuffle at scale.
    * Row-to-partition assignment stays deterministic under retries
    * (Spark's sort-before-repartition, SPARK-23207); the whole oracle
    * registry is partition-layout-invariant (the part7/split256k audit
    * legs force exactly this class of change). */
  def spread(df: DataFrame): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    // toRdd, not .rdd (r19 ADVICE): .rdd additionally plans the
    // row-deserializer stage just to read the partition count; toRdd
    // reuses the Dataset's cached QueryExecution physical plan.
    if (df.queryExecution.toRdd.getNumPartitions < n) df.repartition(n) else df
  }

  /** Materialize a frame that MULTIPLE passes consume (r19 verdict #5 /
    * guide §5 caching): the multi-pass operators (IVF quantizer train +
    * assign + probe, Lloyd iterations, bigram model + scoring join)
    * each re-executed their corpus scan per pass, and on a few-split
    * scan every one of those passes ran the per-row kernel on one core.
    * Materialize ONCE so every pass reads blocks instead: the scan +
    * kernel are paid a single time.
    *
    * The [[spread]] to cluster width is SIZE-GATED, not
    * partition-count-gated: a tiny frame (the sub-MB bench corpora)
    * spread to defaultParallelism makes every downstream pass pay
    * cluster-width task scheduling for sub-millisecond work — measured
    * ×1.3-1.5 SLOWER at sf0.1 (r20 first cut) — while a big frame left
    * on few splits serializes every pass. The gate is the optimizer's
    * own size estimate against AQE's advisory partition size (the
    * standard "what is a partition worth" knob, 64 MB default): below
    * one advisory partition the frame stays as scanned; above, it is
    * spread before materialization. At 100 TB the estimate is far over
    * the threshold and the spread always fires.
    *
    * The materialization is [[Scoped.Materialize]]'s policy (a local
    * checkpoint on a local master, an eager persist elsewhere), and it
    * pins into the query scope ([[Scoped.current]]): callers return
    * lazy plans over the frame, so the runner's [[Scoped.query]]
    * releases it once the query has run. */
  def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val advisory = spark.conf
      .get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
    val advisoryBytes =
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(advisory)
    val big = df.queryExecution.optimizedPlan.stats.sizeInBytes >
      BigInt(advisoryBytes)
    Scoped.current(if (big) spread(df) else df)
  }

  def region(spark: SparkSession, d: String): DataFrame = load(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame = load(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = load(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame = load(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame = load(spark, d, "lineitem")
  def events(spark: SparkSession, d: String): DataFrame = load(spark, d, "events")
  // NOT spread here (measured, r19): a blanket spread on the corpus
  // tables consistently SLOWED the multi-pass consumers (ivfKnn's
  // quantizer/assignment passes, lm1's count passes re-execute the
  // scan, so each pass paid the added exchange: e4 ×1.58, e5 ×1.70,
  // lm1 ×1.60) while helping single-pass kernels. spread() is applied
  // surgically inside the single-pass fingerprinting operators instead
  // (Dedup.duplicateSpanRemoval / minHashCandidates / simHashCandidates
  // — d7 ×0.50, d3 ×0.66 measured).
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")
}
