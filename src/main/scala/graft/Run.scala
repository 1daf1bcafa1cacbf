package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{ConfigBridge, ConfigTools}
import graft.config.ConfigBridge.Doc
import graft.functions.TimeParse
import graft.operators.{EventFilters, Flatten, Tidy}
import graft.operators.Flatten.FlatDp
import graft.queries.{DomainQueries, Exact, MlQueries, OsdbFixture}
import graft.report.{ResultsAnalysis, Summarise}
import graft.sources.{FlatCsv, OsdbJson}
import graft.streaming.ReplayDp

/** The driver CLI — the engine driven the way the reference is driven:
  *
  * {{{
  * graft.Run <tool> <configFile> <lakeDir> <outDir> [options]
  * }}}
  *
  * | tool       | reference twin                                      |
  * |------------|-----------------------------------------------------|
  * | select     | selectData.py:119 main (filters → selected events)  |
  * | flatten    | flattenData.py:449 main (nested → wide CSV)         |
  * | runseq     | runSequence.py:799 main (k-fold pipeline skeleton)  |
  * | testrunner | testRunner.py:156 main (detector farm replay)       |
  * | summarise  | summariseData.py:322 main (HTML report + index)     |
  * | sweep      | runOptimisation.py:97 main (param sweep + collect)  |
  * | updatetest | updateTestData.py:427 main (leak-free new test set) |
  * | devicehr   | testDeviceHrAlg.py:52 main (synthetic HR traces)    |
  *
  * Config handling is [[ConfigBridge]] end to end: `loadMerged` honors
  * the `osdbCfg` second-file splice (shallow union, override wins —
  * runSequence.py:820-826), `randomSeed` is parsed and logged
  * (the engine's splits are content-hash-deterministic — fold
  * assignment never consumes an RNG, so the seed only matters to the
  * sampling augmenters, which the composed pipelines seed from it),
  * and every unknown key fails loudly per the bridge's contract.
  *
  * Options:
  *   --kfold N      runseq fold count (runSequence.py:801 takes this
  *                  from the CLI, not the config; default 3)
  *   --train        runseq: additionally run the per-fold fit/score
  *                  loop with the config's dispatched modelClass and
  *                  write fold_metrics
  *   --modelDir D   testrunner: directory modelFname entries resolve
  *                  against (default: the lake dir)
  *   --only S,S     testrunner: keep only algorithm entries whose name
  *                  or class contains one of the substrings (the
  *                  engine twin of --testData narrowing; model-bearing
  *                  entries need graft artifacts — see ModelIo)
  *   --pageSize N   summarise: index shard size (default 1000)
  *   --master M     Spark master (default local[*])
  *
  * Lake layouts (auto-detected):
  *   - OSDB JSON category files (`*.json` arrays / `*.ndjson`),
  *     the reference's own database format → [[OsdbJson.readEvents]]
  *     (+ the full [[Tidy]] expansion). Scale note: an ARRAY file
  *     reads as ONE task (multiLine JSON is unsplittable) — right for
  *     the reference's four category files, wrong for bulk; big lakes
  *     belong in NDJSON or the parquet layout below;
  *   - nested-event parquet (`events.parquet` with a `datapoints`
  *     column), the engine's lake format (S6) → [[Tidy]];
  *   - the driver testdata star schema (`events.parquet` with
  *     `event_id`) → the deterministic [[OsdbFixture]] derivation,
  *     the demo corpus the entire oracle registry runs on. In this
  *     mode the tools consume EXACTLY the frames the cfg1/cfg2 gate
  *     queries consume (RunSpec pins CLI output ≡ gate frame).
  *
  * Scale shape: the CLI adds nothing to the data plane — each tool is
  * plan construction over the already-audited lineages (skeleton,
  * replay, report), so the 100 TB arguments are the pipelines' own.
  */
object Run {

  private val Usage =
    """usage: graft.Run <tool> <configFile> <lakeDir> <outDir> [options]
      |  tools: select | flatten | runseq | testrunner | summarise |
      |         sweep | updatetest | devicehr
      |  options: --kfold N | --nestedKfold N | --train | --modelDir D
      |           --only S[,S] | --pageSize N | --master M
      |           --params k=v1:v2[,k=v...] | --trainIds P | --testIds P
      |  devicehr replays the config's synthetic eventHrData traces; no
      |  lake is read — lakeDir only seeds --modelDir's default (pass
      |  '-' to resolve model files against the cwd)""".stripMargin

  // ----------------------------------------------------------- arg parsing

  final case class Args(
      tool: String, configFile: String, lakeDir: String, outDir: String,
      kfold: Int = 3, train: Boolean = false, nestedKfold: Int = 0,
      modelDir: Option[String] = None, only: Seq[String] = Nil,
      pageSize: Int = 1000, master: String = "local[*]",
      params: Seq[(String, Seq[Long])] = Nil,
      trainIds: Option[String] = None, testIds: Option[String] = None)

  private[graft] def parseArgs(argv: Array[String]): Args = {
    require(argv.length >= 4, Usage)
    val tools = Set("select", "flatten", "runseq", "testrunner",
      "summarise", "sweep", "updatetest", "devicehr")
    require(tools(argv(0)), s"unknown tool '${argv(0)}'\n$Usage")
    var a = Args(argv(0), argv(1), argv(2), argv(3))
    var i = 4
    while (i < argv.length) {
      argv(i) match {
        case "--kfold" => a = a.copy(kfold = argv(i + 1).toInt); i += 2
        case "--nestedKfold" =>
          a = a.copy(nestedKfold = argv(i + 1).toInt); i += 2
        case "--train" => a = a.copy(train = true); i += 1
        case "--modelDir" => a = a.copy(modelDir = Some(argv(i + 1))); i += 2
        case "--only" =>
          a = a.copy(only = argv(i + 1).split(",").toSeq.filter(_.nonEmpty))
          i += 2
        case "--pageSize" => a = a.copy(pageSize = argv(i + 1).toInt); i += 2
        case "--master" => a = a.copy(master = argv(i + 1)); i += 2
        case "--trainIds" => a = a.copy(trainIds = Some(argv(i + 1))); i += 2
        case "--testIds" => a = a.copy(testIds = Some(argv(i + 1))); i += 2
        case "--params" =>
          a = a.copy(params = argv(i + 1).split(",").toSeq.filter(_.nonEmpty)
            .map { kv =>
              val Array(k, vs) = kv.split("=", 2)
              require(vs.nonEmpty, s"--params: '$kv' has no values")
              k -> vs.split(":").toSeq.map(_.toLong)
            })
          i += 2
        case other => throw new IllegalArgumentException(
          s"unknown option '$other'\n$Usage")
      }
    }
    require(a.kfold >= 1, s"--kfold must be >= 1: ${a.kfold}")
    if (a.tool == "sweep") require(a.params.nonEmpty,
      s"sweep needs --params\n$Usage")
    if (a.tool == "updatetest") require(a.trainIds.nonEmpty,
      s"updatetest needs --trainIds (the prior run's training ids)\n$Usage")
    a
  }

  /** An id set from a prior run's artifact: a parquet dir (first
    * column named id/eventId/event_id wins), a header-less
    * one-id-per-line text/CSV file, or NDJSON events with an `id`
    * field — the engine renditions of the reference's
    * trainData.json/csv id loaders (updateTestData.py:36-142). */
  private def loadIdSet(spark: SparkSession, path: String): DataFrame = {
    val idCols = Seq("id", "eventId", "event_id")
    if (Files.isDirectory(Paths.get(path)) || path.endsWith(".parquet")) {
      val df = spark.read.parquet(path)
      val c = idCols.find(df.columns.contains).getOrElse(
        throw new IllegalArgumentException(
          s"$path: no id/eventId/event_id column among " +
            df.columns.mkString(", ")))
      df.select(col(c).cast("string").as("__tid")).distinct()
    } else if (path.endsWith(".json") || path.endsWith(".ndjson")) {
      val df = spark.read.json(path)
      val c = idCols.find(df.columns.contains).getOrElse(
        throw new IllegalArgumentException(s"$path: events carry no id field"))
      df.select(col(c).cast("string").as("__tid")).distinct()
    } else {
      spark.read.text(path)
        .select(trim(col("value")).as("__tid"))
        .filter(col("__tid") =!= "").distinct()
    }
  }

  // ------------------------------------------------------- lake resolution

  /** The three supported lake layouts (see the object scaladoc). */
  private[graft] sealed trait Lake
  private[graft] final case class JsonLake(paths: Seq[String]) extends Lake
  private[graft] final case class ParquetLake(path: String) extends Lake
  private[graft] final case class TestdataLake(dir: String) extends Lake

  private[graft] def resolveLake(spark: SparkSession, dir: String,
                                 dataFiles: Seq[String]): Lake = {
    val p = Paths.get(dir)
    require(Files.isDirectory(p), s"lake dir not found: $dir")
    // config-listed dataFiles win when they exist in the lake (the
    // reference reads exactly the configured category files)
    val listed = dataFiles.map(p.resolve).filter(Files.exists(_))
    if (listed.nonEmpty) return JsonLake(listed.map(_.toString))
    val entries = Files.list(p).iterator().asScala.map(_.toString).toSeq.sorted
    val jsons = entries.filter(f => f.endsWith(".json") || f.endsWith(".ndjson"))
    if (jsons.nonEmpty) return JsonLake(jsons)
    val evp = p.resolve("events.parquet")
    require(Files.exists(evp),
      s"$dir: no OSDB json files and no events.parquet — not a lake")
    val fields = spark.read.parquet(evp.toString).schema.fieldNames.toSet
    if (fields.contains("datapoints")) ParquetLake(evp.toString)
    else if (fields.contains("event_id")) TestdataLake(dir)
    else throw new IllegalArgumentException(
      s"$evp: neither nested OSDB events (datapoints column) nor the " +
        "driver testdata star schema (event_id column)")
  }

  /** Nested-event frame (tidied, `n_dp` attached) for the
    * index/report/select surfaces. */
  private def nestedEvents(spark: SparkSession, lake: Lake): DataFrame = {
    val df = lake match {
      case JsonLake(paths) =>
        // one scan per encoding: .json carries the reference's
        // one-array-per-category files (S1), .ndjson the streaming
        // variant (S2)
        val (nd, arr) = paths.partition(_.endsWith(".ndjson"))
        val reads =
          (if (arr.nonEmpty) Seq(OsdbJson.readEvents(spark, arr, multiLine = true)) else Nil) ++
          (if (nd.nonEmpty) Seq(OsdbJson.readEvents(spark, nd, multiLine = false)) else Nil)
        reads.reduce(_.unionByName(_))
      case ParquetLake(path) => Tidy(spark.read.parquet(path))
      case TestdataLake(dir) => OsdbFixture.nested(spark, dir)
    }
    if (df.columns.contains("n_dp")) df
    else df.withColumn("n_dp",
      coalesce(size(col("datapoints")).cast("long"), lit(0L)))
  }

  /** C4 type→id as a Column (flattenData.py:13-27). */
  private def typeIdCol(t: Column): Column = {
    val lt = lower(coalesce(t, lit("")))
    when(lt.contains("seizure"), 1)
      .when(lt.contains("false alarm") || lt.contains("nda"), 0)
      .otherwise(2)
  }

  /** Nested events → the flat per-datapoint stream (J2 explode with
    * parent propagation + the C1 time parse); the real-lake twin of
    * the fixture's closed-form [[OsdbFixture.flatDps]]. */
  private def nestedToFlatDps(nested: DataFrame): Dataset[FlatDp] = {
    val spark = nested.sparkSession
    import spark.implicits._
    nested.select(col("id"), col("userId"), col("type"),
        posexplode(col("datapoints")).as(Seq("dpIdx", "dp")))
      .select(
        col("id").cast("string").as("eventId"),
        col("userId").cast("string").as("userId"),
        col("type").as("typeStr"),
        typeIdCol(col("type")).as("type"),
        coalesce(TimeParse.dateStr2secs(col("dp.dataTime")), lit(0L)).as("tsSec"),
        coalesce(col("dp.alarmState"), lit(0L)).as("osdAlarmState"),
        coalesce(col("dp.specPower"), lit(0.0)).as("osdSpecPower"),
        coalesce(col("dp.roiPower"), lit(0.0)).as("osdRoiPower"),
        coalesce(col("dp.hr"), lit(-1.0)).as("hr"),
        coalesce(col("dp.o2Sat"), lit(-1.0)).as("o2sat"),
        coalesce(col("dp.rawData"), array().cast("array<double>")).as("rawData"),
        coalesce(col("dp.rawData3D"), array().cast("array<double>")).as("rawData3D"),
        lit(false).as("synthetic"),
        col("dpIdx").cast("long").as("seq"))
      .as[FlatDp]
  }

  /** The runseq / select inputs: an event-level frame carrying the
    * filterable columns ([[EventFilters.compile]]'s contract) and the
    * flat datapoint stream. Testdata mode hands back the cfg1 gate's
    * own frames. */
  private def selectInputs(spark: SparkSession, lake: Lake)
      : (DataFrame, Dataset[FlatDp]) = lake match {
    case TestdataLake(dir) => MlQueries.cfg1Inputs(spark, dir)
    case other =>
      val nested = nestedEvents(spark, other)
      val events = nested.select(
        col("id"), col("userId"), col("type"), col("subType"),
        col("dataSourceName"), col("desc"),
        col("has3dData"), col("hasHrData"), col("hasO2SatData"))
      (events, nestedToFlatDps(nested))
  }

  /** The replay stream for the testrunner tool. Testdata mode replays
    * the cfg2 gate's planted integer-bin tone corpus (the star schema
    * carries no accelerometer arrays); real lakes replay their actual
    * datapoints. */
  private def replayDps(spark: SparkSession, lake: Lake): Dataset[ReplayDp] =
    lake match {
      case TestdataLake(dir) => DomainQueries.cfg2ToneDps(spark, dir)
      case other =>
        import spark.implicits._
        nestedToFlatDps(nestedEvents(spark, other)).map(d => ReplayDp(
          d.eventId, d.tsSec, d.hr, d.osdAlarmState,
          d.rawData, d.rawData3D, d.seq))
    }

  // ------------------------------------------------------------ the tools

  /** selectData.py: filters → selected events, written as the lake's
    * nested shape (parquet) + NDJSON (S8). The selection is pinned once
    * in the query scope; both sinks write from it concurrently, and the
    * row count comes from the pinned frame. */
  private def runSelect(spark: SparkSession, doc: Doc, lake: Lake,
                        outDir: String): Long = {
    val efc = ConfigBridge.eventFilters(doc)
    val (events, _) = selectInputs(spark, lake)
    val keep = events.filter(EventFilters.compile(efc))
      .select(col("id").cast("string").as("__keep"))
    val nested = nestedEvents(spark, lake)
    val selected = nested
      .join(keep, nested("id").cast("string") === col("__keep"), "left_semi")
    val withCat = Scoped.current(
      if (selected.columns.contains("category")) selected
      else selected.withColumn("category", lit("selected")))
    Scoped.overlap(Seq(
      () => withCat.write.mode("overwrite").parquet(s"$outDir/selected_events"),
      () => OsdbJson.writeEventsJson(withCat, s"$outDir/selected_events_json")))
    withCat.count()
  }

  /** flattenData.py: nested → [[Flatten.flattenedWide]] CSV (S10),
    * honoring dataProcessing.validateDatapoints (P14). */
  private def runFlatten(spark: SparkSession, doc: Doc, lake: Lake,
                         outDir: String): Long = {
    val dp = ConfigBridge.dataProcessing(doc)
    // the WHOLE corpus flattens (flattenData takes no filters) — in
    // testdata mode that is the unfiltered fixture stream, not cfg1's
    // selection-pushed slice
    val dps = lake match {
      case TestdataLake(dir) => OsdbFixture.flatDps(spark, dir)
      case other => nestedToFlatDps(nestedEvents(spark, other))
    }
    val validated = if (dp.validateDatapoints) Flatten.validateAndFill(dps) else dps
    FlatCsv.write(validated.toDF(), s"$outDir/flattened_csv")
    spark.read.option("header", "true").csv(s"$outDir/flattened_csv").count()
  }

  /** The flat k-fold assignment of `runseq` and `sweep`, decided in one
    * place (the benchmark's lake builder relies on it): testdata mode
    * uses the cfg1 gate's exact hash (numeric ids by fixture
    * construction — the CLI ≡ gate equality pin); real lakes hash the
    * id STRING through xxhash64, which is both string-id-safe and
    * parity-free (the multiplicative hash preserves id parity in its
    * low bits, so an all-even-id corpus under an even k would put
    * every event in fold 0). */
  private def flatFoldOf(lake: Lake, k: Int): Column = lake match {
    case TestdataLake(_) => Exact.knuthHash32(col("id")) % k
    case _ => pmod(xxhash64(col("id").cast("string")), lit(k.toLong))
  }

  /** runSequence.py run_sequence: the k-fold skeleton + modelClass
    * receipt ([[ConfigTools.runseqFrame]] — cfg1's frame); with
    * `--train`, additionally the per-fold fit/score loop on the
    * dispatched candidate's basis. The skeleton is written concurrently
    * with training: neither reads the other's frames, and each runs its
    * own extraction (sharing one would move the training basis's
    * partition layout, and with it the forest's bagging). An empty fold
    * fails loud in the fold loop's bookkeeping round, before any fit. */
  private def runRunseq(spark: SparkSession, doc: Doc, lake: Lake,
                        a: Args): Long = {
    val (events, dps) = selectInputs(spark, lake)
    val foldOf = flatFoldOf(lake, a.kfold)
    def skeleton(): Long = {
      val frame = ConfigTools.runseqFrame(doc, events, dps, foldOf, a.kfold)
      frame.coalesce(1).write.mode("overwrite")
        .parquet(s"${a.outDir}/runseq_skeleton")
      frame.count()
    }
    if (a.nestedKfold > 0) return runNestedSeq(spark, doc, lake, a,
      events, dps, skeleton())
    if (!a.train) return skeleton()
    def train(): Unit = {
      val cand = graft.ml.RunSequence.NestedCandidate.forModelClass(
        ConfigBridge.modelClass(doc), ConfigBridge.subtypeWeights(doc))
      val cfg = ConfigBridge.runSequenceConfig(
        ConfigBridge.dataProcessing(doc), a.kfold)
      val select = EventFilters.compile(ConfigBridge.eventFilters(doc))
      val folds = cand.basis match {
        case "features" => graft.ml.RunSequence.runWith(
          events, dps, select, foldOf, cfg)(cand.fit, cand.score)
        case "window" => graft.ml.RunSequence.runWithWindows(
          events, dps, select, foldOf, cfg)(cand.fit, cand.score)
        case other => throw new IllegalArgumentException(
          s"--train: basis '$other' needs the nested runner " +
            "(RunSequence.runNestedBases); the CLI single-k path " +
            "covers features/window")
      }
      import spark.implicits._
      folds.map(f => (f.fold, f.nTrainEvents, f.nTrainAugEvents,
          f.nTestEvents, f.heldOutAuroc, f.eventTp, f.eventFp,
          f.eventTn, f.eventFn))
        .toDF("fold", "n_train", "n_train_aug", "n_test", "auroc",
          "tp", "fp", "tn", "fn")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${a.outDir}/fold_metrics")
    }
    Scoped.overlap(Seq(() => skeleton(), () => { train(); 0L })).head
  }

  /** The `--nestedKfold N` protocol (runSequence.py:1702 + the
    * NESTED_KFOLD_README evaluation contract): outer-N × inner-k
    * nested validation. Writes the deterministic `nested_skeleton`
    * slice-count frame (ml6's class) always, and — with `--train` —
    * `nested_metrics`: per outer fold, the inner-CV mean AUROC of the
    * dispatched candidate and its single evaluation on the untouched
    * outer test slice. Fold hashes follow ml6's dual-multiplier
    * convention on the testdata lake and seed-separated xxhash64 on
    * real lakes. A null, out-of-range or empty outer fold fails loud in
    * [[graft.ml.RunSequence.runNestedBases]]' fold validation, before
    * any extraction or fit (testdata ids are multiples of 20, so the
    * multiplicative outer hash leaves a fold empty under an even outer
    * k). */
  private def runNestedSeq(spark: SparkSession, doc: Doc, lake: Lake,
      a: Args, events: DataFrame, dps: Dataset[FlatDp],
      skeletonRows: Long): Long = {
    val select = EventFilters.compile(ConfigBridge.eventFilters(doc))
    val (outerFoldOf, innerFoldOf) = lake match {
      case TestdataLake(_) => (
        ((col("id") * lit(2654435761L)) % lit(4294967296L)) % a.nestedKfold,
        ((col("id") * lit(2246822519L)) % lit(4294967296L)) % a.kfold)
      case _ => (
        pmod(xxhash64(col("id").cast("string")), lit(a.nestedKfold.toLong)),
        pmod(xxhash64(col("id").cast("string"), lit("inner")),
          lit(a.kfold.toLong)))
    }
    val skel = graft.ml.RunSequence.nestedSkeleton(events, select,
      outerFoldOf, innerFoldOf, a.nestedKfold, a.kfold)
    skel.coalesce(1).write.mode("overwrite")
      .parquet(s"${a.outDir}/nested_skeleton")
    if (a.train) {
      val cand = graft.ml.RunSequence.NestedCandidate.forModelClass(
        ConfigBridge.modelClass(doc), ConfigBridge.subtypeWeights(doc))
      val cfg = ConfigBridge.runSequenceConfig(
        ConfigBridge.dataProcessing(doc), a.kfold)
      val nested = graft.ml.RunSequence.runNestedBases(events, dps,
        select, outerFoldOf, innerFoldOf, a.nestedKfold, cfg)(Seq(cand))
      import spark.implicits._
      nested.map(r => (r.outerFold, r.chosen,
          r.innerMeanAuroc.getOrElse(r.chosen, Double.NaN),
          r.outer.heldOutAuroc, r.outer.nTestEvents,
          r.outer.eventTp, r.outer.eventFp, r.outer.eventTn,
          r.outer.eventFn))
        .toDF("outer_fold", "chosen", "inner_mean_auroc", "outer_auroc",
          "n_test", "tp", "fp", "tn", "fn")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${a.outDir}/nested_metrics")
    }
    skeletonRows + skel.count()
  }

  /** runOptimisation.py (run_and_collect:8-80): baseline + one re-run
    * per (param, value) with that single knob changed, collected into
    * one comparison frame. Data-processing knobs ride the MEMOIZED
    * sweep harness ([[graft.ml.RunSequence.paramSweep]] — one heavy
    * extraction per distinct window/step, one history frame per
    * (extract, historyN), the reference's copy-baseline-files skip
    * list held structurally); model knobs (n_estimators / max_depth —
    * the reference's rfModel surface) change only the fit, so they
    * need `--train` and produce per-fold metrics per value. A param
    * matching neither surface fails loudly with both knob universes —
    * the runOptimisation silent-baseline-rerun failure mode stays
    * loud here, same contract as [[ConfigBridge.withParam]]. */
  private def runSweep(spark: SparkSession, doc: Doc, lake: Lake,
                       a: Args): Long = {
    import org.json4s.JInt
    val (events, dps) = selectInputs(spark, lake)
    val foldOf = flatFoldOf(lake, a.kfold)
    val select = EventFilters.compile(ConfigBridge.eventFilters(doc))
    val base = ConfigBridge.runSequenceConfig(
      ConfigBridge.dataProcessing(doc), a.kfold)
    val dataKnob = Map(
      "window" -> "window", "step" -> "step",
      "addFeatureHistoryLength" -> "historyN", "nHistory" -> "historyN")
    val modelKnobs = Set("n_estimators", "max_depth")
    val (dataSweeps, modelSweeps) = a.params.partition {
      case (k, _) => dataKnob.contains(k)
    }
    modelSweeps.foreach { case (k, _) =>
      if (k == "highPassOrder") throw new IllegalArgumentException(
        "sweep param 'highPassOrder': the engine implements the " +
          "reference's order-2 Butterworth filtfilt only " +
          "(ConfigBridge.featureExtractConfig)")
      require(modelKnobs(k),
        s"sweep param '$k' is neither a data-processing knob " +
          s"(${dataKnob.keys.toSeq.sorted.mkString(", ")}) nor a model " +
          s"knob (${modelKnobs.toSeq.sorted.mkString(", ")}) — the " +
          "reference would silently re-run the baseline here " +
          "(runOptimisation.py:49-54)")
      // placement validation against the FILE (withParam's contract)
      ConfigBridge.withParam(doc, k, JInt(0))
    }
    var n = 0L
    if (dataSweeps.nonEmpty) {
      dataSweeps.foreach { case (k, _) =>
        ConfigBridge.withParam(doc, k, JInt(0)) // file-placement check
      }
      val frame = graft.ml.RunSequence.paramSweep(events, dps, select,
        foldOf, base, dataSweeps.map { case (k, vs) => dataKnob(k) -> vs })
      frame.coalesce(1).write.mode("overwrite")
        .parquet(s"${a.outDir}/sweep_results")
      n += frame.count()
    }
    if (modelSweeps.nonEmpty) {
      require(a.train,
        "model-knob sweeps change only the fit — pass --train " +
          "(the skeleton frame is identical across model knobs)")
      val mc = ConfigBridge.modelClass(doc)
      require(mc.endsWith("rfModel.RfModel") || mc == "rfModel.RfModel",
        s"model-knob sweep implements the reference's rfModel surface " +
          s"(n_estimators/max_depth — rfModel.py); config selects '$mc'")
      val mCfg = ConfigBridge.modelConfig(doc)
      def mcInt(k: String, d: Int): Int = mCfg.get(k) match {
        case Some(org.json4s.JInt(v)) => v.toInt
        case _ => d
      }
      val baseRf = graft.ml.Forest.Config(
        numTrees = mcInt("n_estimators", 100),
        maxDepth = mcInt("max_depth", 8))
      import spark.implicits._
      def foldRows(param: String, value: Long, rf: graft.ml.Forest.Config) = {
        val (fit, score) = graft.ml.RunSequence.rfFamily(rf,
          ConfigBridge.subtypeWeights(doc))
        graft.ml.RunSequence.runWith(events, dps, select, foldOf, base)(
          fit, score).map(f => (param, value, f.fold, f.heldOutAuroc,
            f.eventTp, f.eventFp, f.eventTn, f.eventFn))
      }
      val rows = foldRows("baseline", -1L, baseRf) ++
        modelSweeps.flatMap { case (k, vs) =>
          vs.flatMap { v =>
            val rf = k match {
              case "n_estimators" => baseRf.copy(numTrees = v.toInt)
              case "max_depth" => baseRf.copy(maxDepth = v.toInt)
            }
            foldRows(k, v, rf)
          }
        }
      val m = rows.toDF("param", "value", "fold", "auroc",
        "tp", "fp", "tn", "fn")
      m.coalesce(1).write.mode("overwrite")
        .parquet(s"${a.outDir}/sweep_metrics")
      n += m.count()
    }
    n
  }

  /** `--only` narrowing shared by the farm tools (testrunner /
    * devicehr): keep entries whose name or class contains one of the
    * substrings; fail loud when no enabled entry survives. */
  private def onlyEnabled(src: String,
                          entries: Seq[ConfigBridge.TestRunnerAlg],
                          only: Seq[String]): Seq[ConfigBridge.TestRunnerAlg] = {
    val kept =
      if (only.isEmpty) entries
      else entries.filter(alg =>
        only.exists(s => alg.name.contains(s) || alg.algClass.contains(s)))
    require(kept.exists(_.enabled),
      s"$src: no enabled algorithms" +
        (if (only.nonEmpty) s" matching --only ${only.mkString(",")}" else ""))
    kept
  }

  /** The analyzeEventResults input of [[runTestrunner]]: one row per
    * (event, algorithm) with the event label from the type string and
    * the prediction from the replay verdict. */
  private[graft] def testrunnerResults(stats: DataFrame, events: DataFrame): DataFrame = {
    val meta = events.select(col("id").cast("string").as("event_id"),
      col("userId"), col("subType"),
      when(typeIdCol(col("type")) === 1, 1).otherwise(0).as("label"))
    stats.join(meta, "event_id").select(
      col("event_id").as("eventId"), col("userId"), col("label"),
      col("detected").cast("int").as("prediction"), col("subType"), col("alg"))
  }

  /** testRunner.py runTest: config-built detector farm → replay →
    * detection stats ([[ConfigTools.testrunnerFrame]] — cfg2's frame)
    * + the analyzeEventResults rollup per algorithm. The results frame
    * (stats ⋈ event metadata) is pinned once; one
    * [[ResultsAnalysis.analyzeEach]] pass rolls every enabled algorithm
    * up, and it writes concurrently with the stats. */
  private def runTestrunner(spark: SparkSession, doc: Doc, lake: Lake,
                            a: Args): Long = {
    val cfg0 = ConfigBridge.testRunnerConfig(doc)
    val cfg = cfg0.copy(algorithms =
      onlyEnabled(doc.source, cfg0.algorithms, a.only))
    val modelDir = a.modelDir.getOrElse(a.lakeDir)
    val stats = Scoped.current.persist(
      ConfigTools.testrunnerFrame(cfg, replayDps(spark, lake), modelDir))
    // pinning the joined results fills `stats` too
    val results = Scoped.current(
      testrunnerResults(stats, selectInputs(spark, lake)._1))
    val algNames = cfg.algorithms.filter(_.enabled).map(_.name)
    Scoped.overlap(Seq(
      () => stats.write.mode("overwrite").parquet(s"${a.outDir}/detection_stats"),
      () => ResultsAnalysis.analyzeEach(results, "alg", algNames)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${a.outDir}/results_analysis")))
    stats.count()
  }

  /** updateTestData.py (update_test_data:250-420): a NEW test set of
    * every event that passes the config's filters AND was not in the
    * original training run — the F5 selection, a J4 anti join against
    * the prior ids, a fail-loud train/test-overlap guard (data
    * leakage aborts the reference with an ERROR; here it raises), and
    * the added/removed-vs-original-test comparison split
    * seizure/non-seizure. */
  private def runUpdateTest(spark: SparkSession, doc: Doc, lake: Lake,
                            a: Args): Long = {
    val efc = ConfigBridge.eventFilters(doc)
    val (events, _) = selectInputs(spark, lake)
    val trainIds = Scoped.current.persist(loadIdSet(spark, a.trainIds.get))
    val selected = Scoped.current.persist(events.filter(EventFilters.compile(efc))
      .withColumn("__sid", col("id").cast("string")))
    val testNew = Scoped.current.persist(selected
      .join(trainIds, selected("__sid") === trainIds("__tid"), "left_anti"))
    // the reference's leakage abort: by anti-join construction the
    // overlap is zero; verify it anyway so a broken id rendition
    // (type mismatch, padding) cannot silently pass everything
    val overlap = testNew
      .join(trainIds, testNew("__sid") === trainIds("__tid")).count()
    require(overlap == 0, s"train/test overlap $overlap — data leakage")

    val nested = nestedEvents(spark, lake)
    val outEvents = nested.join(
      testNew.select(col("__sid").as("__keep")),
      nested("id").cast("string") === col("__keep"), "left_semi")
    val withCat =
      if (outEvents.columns.contains("category")) outEvents
      else outEvents.withColumn("category", lit("testDataNew"))
    withCat.write.mode("overwrite").parquet(s"${a.outDir}/test_data_new")
    OsdbJson.writeEventsJson(withCat, s"${a.outDir}/test_data_new_json")

    // added/removed vs the ORIGINAL test set (when supplied), split
    // by the C4 seizure class — the reference's comparison block.
    // removed = original_test_ids − new_test_ids over RAW id sets
    // (updateTestData.py:360), NOT restricted to currently-selected
    // events; the type lookup is the FILTERED event map (:355-356),
    // so an original test event deleted from the lake or no longer
    // passing the filters lands in the 'unknown' bucket (the
    // reference's _count_ids_by_type, :227-247). added ids are a
    // subset of the selection by construction, but the LAKE does not
    // guarantee a type value — the reference buckets a None type as
    // 'unknown' (:234-236), so __sz is three-valued: true/false by
    // the C4 class, null when the event has no type at all.
    val isSz = when(col("type").isNull, lit(null).cast("boolean"))
      .otherwise(typeIdCol(col("type")) === 1).as("__sz")
    val newIds = testNew.select(col("__sid"), isSz)
    val (added, removed) = a.testIds match {
      case None => (newIds, newIds.limit(0))
      case Some(p) =>
        val orig = loadIdSet(spark, p)
        (newIds.join(orig, newIds("__sid") === orig("__tid"), "left_anti"),
          orig.join(newIds.select(col("__sid").as("__nid")),
              orig("__tid") === col("__nid"), "left_anti")
            .join(selected.select(col("__sid"), isSz),
              orig("__tid") === col("__sid"), "left")
            .select(orig("__tid").as("__sid"), col("__sz")))
    }
    // szOnly: Some(b) = that class; None = the 'unknown' bucket —
    // __sz null because the id has no filtered-lake row OR its event
    // carries no type value
    def cnt(df: DataFrame, szOnly: Option[Boolean]): Long = szOnly match {
      case None => df.filter(col("__sz").isNull).count()
      case Some(b) => df.filter(col("__sz") === b).count()
    }
    import spark.implicits._
    val summary = Seq(
      ("total_in_db", selected.count()),
      ("in_training", trainIds.count()),
      ("in_test_new", testNew.count()),
      ("added_seizure", cnt(added, Some(true))),
      ("added_non_seizure", cnt(added, Some(false))),
      ("added_unknown", cnt(added, None)),
      ("removed_seizure", cnt(removed, Some(true))),
      ("removed_non_seizure", cnt(removed, Some(false))),
      ("removed_unknown", cnt(removed, None)),
      ("train_test_overlap", overlap))
      .toDF("metric", "n")
    summary.coalesce(1).write.mode("overwrite")
      .parquet(s"${a.outDir}/update_summary")
    summary.collect().foreach(r =>
      println(s"graft.Run updatetest: ${r.getString(0)} = ${r.getLong(1)}"))
    testNew.count()
  }

  /** Fields [[runSummarise]] CANNOT honor in `skipElements`: the
    * reference's report reads them unguarded right after tidy
    * (`summariseData.py:152-158` eventObj['id'/'dataTime'/'userId'/
    * 'type'/'subType'/'desc'/'osdAlarmState'], :264-267; 'datapoints'
    * feeds every series) — a config skipping one of these crashes the
    * Python main with a KeyError mid-report; here it raises up front. */
  private val SummariseLoadBearing = Set("id", "dataTime", "userId",
    "type", "subType", "desc", "osdAlarmState", "datapoints")

  /** summariseData.py: the sharded HTML report
    * ([[Summarise.writeReport]] — S15), honoring the config's
    * invalidEvents AND skipElements lists. skipElements semantics are
    * tidy's (libosd/tidy_db.py:66,83,105,150: drop the listed fields
    * from every expanded event/datapoint before the report sees them):
    *   - load-bearing fields ([[SummariseLoadBearing]]) fail loudly;
    *   - `rawData` / `hr` elide their rendered sections (and the
    *     per-datapoint DFTs that feed the rawData-derived ones);
    *   - every other name (accMean, accSd, updated, created,
    *     dataTimeStr, maxVal, maxFreq, statusStr, categoryId, ... —
    *     the shipped template's `_skipElements` census) is dropped by
    *     construction: the engine's interchange record (FlatDp + the
    *     index projection) never carries those fields to the report. */
  private def runSummarise(spark: SparkSession, doc: Doc, lake: Lake,
                           a: Args): Long = {
    val cfg = ConfigBridge.summariserConfig(doc)
    val bearing = cfg.skipElements.filter(SummariseLoadBearing)
    require(bearing.isEmpty,
      s"${doc.source}: skipElements ${bearing.mkString("[", ", ", "]")} " +
        "are load-bearing for the summary report — the reference reads " +
        "them unguarded after tidy (summariseData.py:152-158,264-267) " +
        "and would crash with a KeyError; remove them from skipElements")
    val nested = nestedEvents(spark, lake)
    val kept =
      if (cfg.invalidIds.isEmpty) nested
      else nested.filter(!col("id").cast("string").isin(cfg.invalidIds: _*))
    val dps = lake match {
      case TestdataLake(dir) => OsdbFixture.flatDps(spark, dir)
      case _ => nestedToFlatDps(kept)
    }
    Summarise.writeReport(kept, dps, a.outDir, a.pageSize,
      skip = cfg.skipElements.toSet).count()
  }

  /** testDeviceHrAlg.py (runTest:28-58, testDeviceHrAlg.py:52 main):
    * build the config's enabled algorithm farm, push each synthetic
    * `eventHrData` trace through it ([[ConfigTools.deviceHrFrame]]),
    * and report per-trace verdicts plus the saveResults2 per-alg
    * rollup. Every synthetic trace is a seizure event
    * (makeEventObj:147 `type='seizure'`), so expectAlarm is always
    * true and correct == detected (saveResults2:223-247); all traces
    * fall in the reference's allSeizures output class. */
  private def runDeviceHr(spark: SparkSession, doc: Doc, a: Args): Long = {
    val (entries0, traces) = ConfigBridge.deviceHrConfig(doc)
    val entries = onlyEnabled(doc.source, entries0, a.only)
    require(traces.nonEmpty, s"${doc.source}: no eventHrData traces")
    val modelDir = a.modelDir.getOrElse(
      if (a.lakeDir == "-") "." else a.lakeDir)
    // the frame already carries event_id + name per trace LIST ENTRY
    // (duplicate ids stay separate, like the reference's iteration)
    val stats = Scoped.current.persist(
      ConfigTools.deviceHrFrame(spark, entries, traces, modelDir))
    val verdicts = stats
      .withColumn("expect_alarm", lit(true))
      .withColumn("correct", col("detected") === 1)
    verdicts.write.mode("overwrite").parquet(s"${a.outDir}/hr_results")
    val rollup = verdicts.groupBy("alg").agg(
      sum(col("correct").cast("long")).as("n_correct"),
      count(lit(1)).as("n_traces"))
    rollup.coalesce(1).write.mode("overwrite")
      .parquet(s"${a.outDir}/hr_rollup")
    stats.count()
  }

  // ---------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val spark = Session.builder(a.master,
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .appName(s"graft.Run ${a.tool}")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val n = run(spark, a)
      println(s"graft.Run ${a.tool}: OK, $n rows -> ${a.outDir}")
    } finally spark.stop()
  }

  /** The dispatch, separated from session lifecycle so specs can run
    * tools against their own session. Returns the row count of the
    * tool's primary output. The tool runs as one [[Scoped.query]]:
    * every frame it pins is released when it returns, on failure too. */
  def run(spark: SparkSession, a: Args): Long = Scoped.query(dispatch(spark, a))

  private def dispatch(spark: SparkSession, a: Args): Long = {
    // testConfig / osdbCfg formats own their key sets; the nnConfig
    // family validates the shared top level here (fail-loud)
    val doc0 = ConfigBridge.loadMerged(a.configFile)
    val doc = a.tool match {
      case "testrunner" | "summarise" | "devicehr" => doc0
      case _ => ConfigBridge.validateTop(doc0)
    }
    ConfigBridge.randomSeed(doc).foreach(s =>
      println(s"graft.Run: randomSeed $s (content-hash splits are " +
        "seed-free; samplers consume it)"))
    new java.io.File(a.outDir).mkdirs()
    // devicehr takes no lake: the config's synthetic traces ARE the
    // data (testDeviceHrAlg.py's main takes only the config file)
    if (a.tool == "devicehr") return runDeviceHr(spark, doc, a)
    val lake = resolveLake(spark, a.lakeDir,
      a.tool match {
        case "testrunner" =>
          ConfigBridge.testRunnerConfig(doc).dataFiles
        case "summarise" =>
          ConfigBridge.summariserConfig(doc).dataFiles
        case _ => Nil
      })
    lake match {
      case TestdataLake(_) =>
        println("graft.Run: testdata star-schema lake -> deterministic " +
          "fixture derivation (the oracle registry's corpus)")
      case JsonLake(paths) =>
        println(s"graft.Run: OSDB json lake (${paths.length} files)")
      case ParquetLake(p) =>
        println(s"graft.Run: nested-event parquet lake at $p")
    }
    a.tool match {
      case "select" => runSelect(spark, doc, lake, a.outDir)
      case "flatten" => runFlatten(spark, doc, lake, a.outDir)
      case "runseq" => runRunseq(spark, doc, lake, a)
      case "testrunner" => runTestrunner(spark, doc, lake, a)
      case "summarise" => runSummarise(spark, doc, lake, a)
      case "sweep" => runSweep(spark, doc, lake, a)
      case "updatetest" => runUpdateTest(spark, doc, lake, a)
    }
  }
}
