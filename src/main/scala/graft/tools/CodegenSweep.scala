package graft.tools

/** Full-registry codegen audit — the 64 KB tripwire's wide-angle
  * sibling: EXECUTE every registered query (an RDD-level count, so AQE
  * materializes each query stage — a plan-only audit sees zero stages
  * for any exchange-bearing query), recompile every whole-stage body,
  * and report the largest generated methods, so a query OUTSIDE
  * CodegenTripwireSpec's at-risk list that creeps toward the Janino
  * cliff shows up before it falls off. The spec stays the always-on
  * gate over the known expression-stackers; this sweep is the
  * full-registry census that feeds its list.
  *
  * `runMain graft.tools.CodegenSweep [sfDir] [reportFloorBytes] [maxBytes]`
  *
  * GATE MODE (audit_all.sh leg 6): exits nonzero if ANY stage fails to
  * compile (a compile failure at runtime = that stage silently
  * INTERPRETED — the pipe3 bug class) or the worst generated method
  * exceeds `maxBytes` (default 49152 = 48 KB, 25% headroom under the
  * 64 KB Janino cliff). */
object CodegenSweep {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val floor = args.lift(1).map(_.toInt).getOrElse(8000)
    val maxBytes = args.lift(2).map(_.toInt).getOrElse(49152)
    val spark = graft.Session.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val results = graft.Queries.all.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          // execute = true: under AQE, whole-stage codegen nodes are
          // only inserted per query stage AT materialization — a
          // plan-only audit sees zero stages for any exchange-bearing
          // query (the first sweep audited 51/202 for exactly this)
          val reports = graft.Scoped.query(org.apache.spark.sql.graft
            .CodegenAudit.audit(fn(spark, sf), execute = true))
          reports.map(r => (name, r.stage, r.maxMethodCodeSize, r.error))
        } catch {
          case e: Throwable =>
            System.err.println(
              s"[skip] $name: ${Option(e.getMessage).getOrElse(e.toString).take(100)}")
            Nil
        }
    }
    results.filter(r => r._4.nonEmpty || r._3 > floor)
      .sortBy(-_._3)
      .foreach { case (n, s, sz, err) =>
        println(f"$n%-28s $s%-24s $sz%7d ${err.getOrElse("")}")
      }
    val worst = results.maxBy(_._3)
    val nFail = results.count(_._4.nonEmpty)
    println(s"WORST: ${worst._1} / ${worst._2} = ${worst._3} bytes " +
      f"(headroom ${100.0 * (65536 - worst._3) / 65536}%.1f%% under the 64 KB cliff)")
    println(s"audited ${results.map(_._1).distinct.size} queries, " +
      s"${results.size} codegen stages, $nFail compile failures")
    spark.stop()
    // gate: a compile failure means that stage runs INTERPRETED in
    // production (WARN-only symptom, ~5-15× fleet tax — the pipe3
    // class); a worst method past maxBytes is one expression away
    // from the same cliff
    if (nFail > 0) { println(s"GATE FAIL: $nFail interpreted stages"); sys.exit(1) }
    if (worst._3 > maxBytes) {
      println(s"GATE FAIL: worst method ${worst._3} B > $maxBytes B headroom bound")
      sys.exit(2)
    }
    println(s"GATE OK: 0 interpreted stages, worst ${worst._3} B <= $maxBytes B")
  }
}
