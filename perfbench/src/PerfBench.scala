package org.apache.spark.sql.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Run, SparkEntry}
import graft.queries.OsdbFixture

/** The JVM half of the benchmark (`perfbench/run.py` is the front end).
  *
  * One process runs one workload in a closed loop, one operation at a
  * time, through the engine's public entry points only:
  *   - pipeline workloads call `graft.Run.run` for select, flatten,
  *     runseq --train, testrunner and summarise over a nested-parquet lake;
  *   - `registry_ops` executes `SparkEntry.queries(name)`'s own physical
  *     plan (`queryExecution.toRdd.count()`), as `graft.Bench` does.
  *
  * Arguments are `--key value` pairs: workload, seed, seconds, trace,
  * events (lake size), work (scratch dir), tables (registry tables),
  * conf (dir holding nnConfig.json and testConfig.json), out (result
  * file). The result is one JSON object of raw per-operation records;
  * run.py turns it into the metrics and checks the registry row counts.
  */
object PerfBench {

  /** Registry slice: one query per module the `Run` tools never call,
    * keyed by that module. Streaming runs last: it leaves session residue
    * that slows whatever follows (see graft.Bench). */
  val Slice: Seq[(String, String)] = Seq(
    "dedup" -> "d2_ngram_jaccard",
    "similarity" -> "e4_ivf_knn",
    "graph" -> "g1_pagerank",
    "text" -> "bpe1_train_merges",
    "lake" -> "lake5_delete",
    "report" -> "rpt3_index_shards",
    "stream" -> "st1_session_stream")

  final case class Op(name: String, iter: Int, traced: Boolean, seconds: Double,
                      rows: Long, error: String)

  /** What a workload hands back, in seconds: its set-up, the measured
    * passes, and the untraced, traced, untraced trio of the overhead
    * estimate (empty when untraced). */
  final case class Outcome(setup: Double, passes: Seq[Double], overhead: Seq[Double])

  private def now(): Double = System.nanoTime() / 1e9

  private def timed(body: => Unit): Double = {
    val t0 = now()
    body
    now() - t0
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench $workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("chk").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val sessionS = System.currentTimeMillis() / 1e3 - jvmStart

    val rec = new Recorder(spark)
    val ops = mutable.ArrayBuffer.empty[Op]
    val record = mutable.LinkedHashMap.empty[String, Any]

    try {
      val o = workload match {
        case "pipeline_small" =>
          runPipelines(spark, a, seed, work, trace, rec, ops, record)
        case "registry_ops" =>
          runRegistry(spark, a("tables"), seconds, trace, rec, ops, record)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      record("session_s") = sessionS
      record("setup_s") = sessionS + o.setup
      record("pass_s") = o.passes
      record("overhead_s") = o.overhead
      if (trace) {
        val (cgS, cgN) = Recorder.codegen()
        record("layers") = rec.spanMetrics() ++ rec.taskTotals() ++ rec.streamTotals() ++ Map(
          "codegen_s" -> cgS, "codegen_classes" -> cgN.toDouble,
          "gc_s" -> Recorder.gcSeconds(),
          "residual_blocks" -> Recorder.residualBlocks(spark).toDouble)
      }
    } finally {
      record("ops") = ops.toSeq
      record("peak_rss_mb") = peakRssMb()
      record("cpus") = cpus
      record("heap_mb") = Runtime.getRuntime.maxMemory / (1024 * 1024)
      record("spark_version") = spark.version
      Files.writeString(Paths.get(a("out")), toJson(record))
      spark.stop()
    }
  }

  // ------------------------------------------------------------- pipelines

  /** One cold chain per process, as a CLI user pays for it. With tracing,
    * the listeners record that cold chain, and the overhead estimate
    * follows: after one warm-up, warm `testrunner` runs untraced, traced
    * and untraced. Its job rate is close to that of `runseq`, at a third
    * of the time. */
  private def runPipelines(spark: SparkSession, a: Map[String, String], seed: Long,
      work: Path, trace: Boolean, rec: Recorder, ops: mutable.ArrayBuffer[Op],
      record: mutable.Map[String, Any]): Outcome = {
    val nEvents = a("events").toInt
    val conf = Paths.get(a("conf")).toAbsolutePath
    val nnCfg = conf.resolve("nnConfig.json").toString
    val testCfg = conf.resolve("testConfig.json").toString
    val sumCfg = work.resolve("osdbCfg.json")
    Files.writeString(sumCfg, "{}")

    val t0 = now()
    val lake = buildLake(spark, work.resolve("lake"), nEvents, seed)
    val buildS = now() - t0
    val lakeDps = (0 until nEvents).map(k => 4L + k % 5).sum
    record("lake") = Map("events" -> nEvents, "datapoints" -> lakeDps,
      "bytes" -> treeBytes(Paths.get(lake)))
    record("setup_parts_s") = Seq(buildS)

    // times the tool alone; its output check runs after the clock stops
    def tool(i: Int, traced: Boolean, name: String, args: Run.Args)(
        check: Long => Option[String]): Unit = {
      val t0 = now()
      val result = Try(rec.span(s"run.$name")(Run.run(spark, args)))
      val dt = now() - t0
      val (rows, err) = result match {
        case Success(n) => (n, Try(check(n).getOrElse("")).fold(failure, identity))
        case Failure(e) => (-1L, failure(e))
      }
      ops += Op(name, i, traced, dt, rows, err)
    }
    def testrunner(i: Int, traced: Boolean, out: Path): Unit = {
      val dir = out.resolve("testrunner").toString
      tool(i, traced, "testrunner", Run.Args("testrunner", testCfg, lake, dir,
          only = Seq("osdAlg.OsdAlg"))) { _ =>
        val n = spark.read.parquet(s"$dir/detection_stats").count()
        if (n == 2L * nEvents) None else Some(s"detection_stats has $n rows")
      }
    }
    def chain(i: Int, traced: Boolean): Unit = {
      val out = work.resolve(s"out$i")
      def dir(t: String) = out.resolve(t).toString
      tool(i, traced, "select", Run.Args("select", nnCfg, lake, dir("select"))) { n =>
        if (n > 0 && n <= nEvents) None else Some(s"selected $n of $nEvents events")
      }
      tool(i, traced, "flatten", Run.Args("flatten", nnCfg, lake, dir("flatten"))) { n =>
        if (n == lakeDps) None else Some(s"flattened $n rows, lake has $lakeDps datapoints")
      }
      tool(i, traced, "runseq", Run.Args("runseq", nnCfg, lake, dir("runseq"), kfold = 3,
          train = true)) { _ => foldMetricsProblem(spark, dir("runseq")) }
      testrunner(i, traced, out)
      tool(i, traced, "summarise", Run.Args("summarise", sumCfg.toString, lake,
          dir("summarise"))) { _ =>
        val root = Paths.get(dir("summarise"))
        val pages = Option(root.toFile.listFiles()).getOrElse(Array.empty[File])
          .count(f => f.getName.startsWith("Event_") && new File(f, "index.html").isFile)
        if (Files.isRegularFile(root.resolve("index.html")) && pages == nEvents) None
        else Some(s"summarise wrote $pages event pages")
      }
      deleteTree(out)
      spark.sharedState.cacheManager.clearCache()
    }

    val cold = traceIf(trace, rec)(timed(chain(0, trace)))
    val overhead = if (!trace) Nil else {
      // a recorder of its own, so the cold chain's spans stay alone in `rec`;
      // the first warm run still speeds up, so it is left out
      val probe = new Recorder(spark)
      Seq(false, false, true, false).zipWithIndex.map { case (traced, j) =>
        val out = work.resolve(s"probe$j")
        val t = traceIf(traced, probe)(timed(testrunner(1 + j, traced, out)))
        deleteTree(out)
        t
      }.tail
    }
    Outcome(buildS, Seq(cold), overhead)
  }

  /** Runs `body` with `rec`'s listeners attached when `on`. */
  private def traceIf(on: Boolean, rec: Recorder)(body: => Double): Double =
    if (!on) body
    else {
      rec.attach()
      try body finally rec.detach()
    }

  /** The nested-parquet lake: the OSDB fixture derived from a seeded
    * star-schema `events` table, with every datapoint stamped with its
    * fixture time (plus a seed offset) as ISO-8601 text, and event ids
    * relabelled from the seed so the fold hashes move with it (see
    * [[stratifiedIds]]). */
  def buildLake(spark: SparkSession, dir: Path, nEvents: Int, seed: Long): String = {
    val src = dir.resolve("src").toString
    spark.range(nEvents).select(
        (col("id") * 20).as("event_id"),
        timestamp_seconds(lit(OsdbFixture.TsBase) + col("id")).as("ts"),
        pmod(xxhash64(col("id"), lit(seed)), lit(math.max(15L, nEvents / 10L))).as("user_id"))
      .coalesce(1).write.mode("overwrite").parquet(s"$src/events.parquet")
    val base = OsdbFixture.TsBase + (seed % 1000) * 86400L
    def stamp(k: org.apache.spark.sql.Column, d: org.apache.spark.sql.Column) =
      date_format(timestamp_seconds(lit(base) + k * 3600 + d * 5), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    val nested = OsdbFixture.nested(spark, src)
      .join(broadcast(stratifiedIds(spark, nEvents, seed)), "k")
      .withColumn("datapoints", transform(col("datapoints"), (p, i) =>
        p.withField("dataTime", stamp(col("k"), i)).withField("eventId", col("nid"))))
      .withColumn("dataTime", stamp(col("k"), lit(0)))
      .withColumn("id", col("nid")).drop("nid")
    val lake = dir.resolve("lake").toString
    nested.write.mode("overwrite").parquet(s"$lake/events.parquet")
    deleteTree(Paths.get(src))
    lake
  }

  /** A seeded id per fixture event `k`, chosen so that `graft.Run`'s real-
    * lake fold hash, pmod(xxhash64(id), 3), deals the events round-robin
    * over the three folds in (k % 12, k % 5) order. The fixture's type and
    * data source are functions of k % 12 and its datapoint count of k % 5,
    * so every fold holds seizures and non-seizures long enough to yield
    * feature rows, and each fold's held-out AUROC is defined. With random
    * ids a lake this small now and then leaves a fold without one class.
    * The seed rotates which fold each event lands in. This couples the
    * benchmark's data to the hash at Run.scala:337: a change to that hash
    * undoes the dealing, and the runseq check then fails for some seeds. */
  def stratifiedIds(spark: SparkSession, nEvents: Int, seed: Long): DataFrame = {
    import spark.implicits._
    val target = (0L until nEvents).sortBy(k => (k % 12, k % 5)).zipWithIndex
      .map { case (k, i) => (k, math.floorMod(i + seed, 3L)) }.toDF("k", "fold")
    spark.range(64).withColumnRenamed("id", "j").crossJoin(target)
      .withColumn("nid", concat(lit(s"s$seed-"), col("k"), lit("-"), col("j")))
      .filter(pmod(xxhash64(col("nid")), lit(3L)) === col("fold"))
      .groupBy("k").agg(min_by(col("nid"), col("j")).as("nid"))
  }

  private def foldMetricsProblem(spark: SparkSession, out: String): Option[String] = {
    val rows = spark.read.parquet(s"$out/fold_metrics")
      .select("n_train", "n_test", "auroc").collect()
    val bad = rows.filterNot(r => r.getAs[Long]("n_train") > 0 &&
      r.getAs[Long]("n_test") > 0 && java.lang.Double.isFinite(r.getAs[Double]("auroc")))
    if (rows.length == 3 && bad.isEmpty) None
    else Some(s"fold_metrics: ${rows.length} rows, ${bad.length} degenerate. The lake's " +
      "ids are dealt for Run's fold hash, pmod(xxhash64(id), 3) at Run.scala:337; if " +
      "that hash changed, this is a benchmark data issue: update stratifiedIds")
  }

  // -------------------------------------------------------------- registry

  /** Set-up is a cold pass, which compiles every plan. Then one warm pass
    * runs per 10 s of --seconds, at least two; run.py reports their mean.
    * The JIT compilers still run beside the first warm passes, so each is
    * faster than the one before, and a single pass reads wherever on that
    * slope it lands: a mean over the same passes every run does not. With
    * tracing, each query runs once more, then three times, untraced,
    * traced and untraced: the listeners record the middle runs, and the
    * ratio of their total to the mean of the untraced totals is the
    * overhead. */
  private def runRegistry(spark: SparkSession, tables: String, seconds: Double,
      trace: Boolean, rec: Recorder, ops: mutable.ArrayBuffer[Op],
      record: mutable.Map[String, Any]): Outcome = {
    val dir = Paths.get(tables).toAbsolutePath.toString
    record("oracles") = Slice.map { case (_, n) => n -> SparkEntry.oracleSql(n) }.toMap

    def query(i: Int, traced: Boolean)(group: String, name: String): Op = {
      val q0 = now()
      val result = Try(rec.span(s"ops.$group") {
        val qe = SparkEntry.queries(name)(spark, dir).queryExecution
        (qe.toRdd.count(), qe)
      })
      val dt = now() - q0
      result match {
        case Success((n, qe)) =>
          rec.addPlanSeconds(Recorder.planSeconds(qe))
          Op(name, i, traced, dt, n, "")
        case Failure(e) => Op(name, i, traced, dt, -1L, failure(e))
      }
    }
    def pass(i: Int, traced: Boolean): Double = {
      spark.sharedState.cacheManager.clearCache()
      timed(for ((group, name) <- Slice) ops += query(i, traced)(group, name))
    }

    // The cold pass runs the batch queries at once, then streaming alone.
    // On a quiet 4-core host that takes 21-24 s, against 32-40 s one query
    // at a time, a saving that keeps a run inside the benchmark's time budget.
    val cold = timed {
      val (streaming, batch) = Slice.partition(_._1 == "stream")
      val pool = Executors.newFixedThreadPool(batch.size)
      try {
        val running = batch.map { case (g, n) =>
          pool.submit(() => query(-1, traced = false)(g, n)) }
        ops ++= running.map(_.get())
      } finally pool.shutdown()
      for ((g, n) <- streaming) ops += query(-1, traced = false)(g, n)
    }
    record("setup_parts_s") = Seq(cold)
    if (!trace) {
      // a count fixed by --seconds, not a time limit, so that a faster
      // engine does not get more passes, later on the warm-up slope
      val n = math.max(2, math.round(seconds / 10).toInt)
      Outcome(cold, (0 until n).map(pass(_, traced = false)), Nil)
    } else {
      // untraced, traced, untraced, query by query, so that a slowdown of
      // the host lasting tens of seconds hits all three runs alike. A
      // query's first run in a row is 10-20% slower than its repeats, so
      // one run before the three is left out.
      spark.sharedState.cacheManager.clearCache()
      val trio = Slice.map { case (group, name) =>
        def run(i: Int, traced: Boolean): Double = {
          val o = query(i, traced)(group, name)
          ops += o
          o.seconds
        }
        run(1, traced = false)
        Seq(run(2, traced = false), traceIf(on = true, rec)(run(3, traced = true)),
          run(4, traced = false))
      }.transpose.map(_.sum)
      Outcome(cold, Seq(trio(0), trio(2)), trio)
    }
  }

  // ----------------------------------------------------------------- utils

  /** The exception class, then the first line of its message. */
  private def failure(e: Throwable): String =
    e.getClass.getName + Option(e.getMessage).map(m => ": " + m.linesIterator.next().take(300)).getOrElse("")

  /** VmHWM: the resident-set high-water mark of this JVM. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)

  private def treeBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }

  private def toJson(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case o: Op => toJson(Map("name" -> o.name, "iter" -> o.iter, "traced" -> o.traced,
      "seconds" -> o.seconds, "rows" -> o.rows, "error" -> o.error))
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => toJson(k.toString) + ":" + toJson(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(toJson).mkString("[", ",", "]")
    case other => toJson(other.toString)
  }
}
