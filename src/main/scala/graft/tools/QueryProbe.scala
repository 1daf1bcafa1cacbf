package graft.tools

/** Run one registered SparkEntry query over a testdata dir and print
  * either its full result or its formatted physical plan:
  *
  * `runMain graft.tools.QueryProbe show|plan <queryName> <sfDir>`
  *
  *   - `show` prints every result row. It is the re-pin procedure for the
  *     constant-pinned gate queries (d5, e5, e6, e7, e7b, e13, p9): after a
  *     fixture regeneration, re-derive the VALUES constants in the query's
  *     oracle from this output.
  *   - `plan` prints `explain("formatted")`, the explain-and-iterate loop
  *     without a scratch main per query. The st* entries drain their
  *     stream eagerly and return the materialized memory-sink table, so
  *     their printed plan is the sink scan, not the streaming plan.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val known = graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")
    if (args.length != 3 || !Set("show", "plan").contains(args(0))) {
      System.err.println(
        s"usage: QueryProbe show|plan <queryName> <sfDir>\nknown: $known")
      sys.exit(2)
    }
    val Array(mode, name, sfDir) = args
    val fn = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name; known: $known"))
    val spark = graft.Session.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try graft.Scoped.query {
      val df = fn(spark, sfDir)
      if (mode == "show") df.show(1000, truncate = false)
      else df.explain("formatted")
    } finally spark.stop()
  }
}
