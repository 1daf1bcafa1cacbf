package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val builder = Session.builder(s"local[$cpus]", cpus)
    // SPARK_GRAFT_CONF="k=v;k=v" — extra session confs, for the
    // partition-invariance audit (vary shuffle partitions / scan-split
    // sizes and re-hash EVERY oracle: a result that moves with the
    // partitioning would break on a differently-sized cluster)
    val spark = sys.env.get("SPARK_GRAFT_CONF")
      .map(_.split(";").filter(_.contains("=")))
      .getOrElse(Array.empty[String])
      .foldLeft(builder) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2)
        b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try Scoped.query(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name"))
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // the query scope released what the entry pinned: any cached
        // partition still held here outlived its query
        val leaked = Scoped.cachedPartitions(spark)
        if (leaked > 0) System.err.println(s"[verify] $name leaked $leaked blocks")
        // safety net, so one leak does not carry into the next census
        spark.sharedState.cacheManager.clearCache()
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
