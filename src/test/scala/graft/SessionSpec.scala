package graft

/** Every entry point builds its session through [[Session.builder]]; the
  * test harness does too, so its session must carry the shared confs. */
class SessionSpec extends SparkSpec {

  test("the shared session builder sets the five confs every entry point relies on") {
    val conf = spark.sparkContext.getConf
    Seq(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.ui.enabled" -> "false"
    ).foreach { case (k, v) =>
      assert(conf.get(k) == v, k)
      assert(spark.conf.get(k) == v, k)
    }
  }
}
