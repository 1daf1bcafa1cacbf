package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is configured. Every entry point (Bench,
  * Verify, Run, the kept tools, the test harness) starts from this
  * builder, adds its own confs with `.config`, and calls `getOrCreate()`.
  */
object Session {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet may carry TIMESTAMP(NANOS); Tables.normalizeTs
      // adapts the nanos-long rendition (SchemaDriftSpec)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the scan emits TimestampType, so events time-range predicates
      // push down (PlanSpec)
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // The generated-class cache defaults to 100 entries and the
      // registry is past 200 queries: with the default every sweep
      // LRU-evicts every plan and re-pays Janino compilation (0.1-4 s per
      // query). Static conf: it must be set before the first session in
      // the JVM.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
}
