package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.queries.{DomainQueries, MlQueries}

/** The driver CLI ([[Run]]): `graft.Run <tool> <config> <lake> <out>`
  * — the engine driven the way the reference is driven
  * (runSequence.py:799 / testRunner.py:156 / summariseData.py:322).
  *
  * The load-bearing pins: invoked against the CHECKED-IN SHIPPED
  * configs over the testdata lake, the CLI's runseq and testrunner
  * outputs must equal the cfg1/cfg2 gate queries' frames row for row —
  * the command line and the oracle gate run the same composition
  * ([[graft.config.ConfigTools]]), so they cannot drift. */
class RunSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Copy a checked-in shipped config resource to a real file (the CLI
    * takes file paths, as the reference does). */
  private def resourceToFile(resource: String, tmp: java.nio.file.Path): String = {
    val in = getClass.getResourceAsStream(resource)
    require(in != null, s"missing resource $resource")
    val out = tmp.resolve(Paths.get(resource).getFileName.toString)
    try Files.write(out, in.readAllBytes()) finally in.close()
    out.toString
  }

  private def rows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.head, cols.tail: _*).collect()
      .map(_.toSeq.mkString("|")).sorted.toSeq
  }

  test("parseArgs: tools, flags, and fail-loud unknowns") {
    val a = Run.parseArgs(Array("runseq", "c.json", "/lake", "/out",
      "--kfold", "5", "--train", "--only", "osd,hr", "--pageSize", "7"))
    assert(a.kfold == 5 && a.train && a.only == Seq("osd", "hr") &&
      a.pageSize == 7)
    intercept[IllegalArgumentException] {
      Run.parseArgs(Array("nosuch", "c", "l", "o"))
    }
    intercept[IllegalArgumentException] {
      Run.parseArgs(Array("runseq", "c", "l", "o", "--bogus"))
    }
    intercept[IllegalArgumentException] { Run.parseArgs(Array("runseq")) }
  }

  test("runseq CLI from the shipped nnConfig.json equals the cfg1 gate frame") {
    val tmp = Files.createTempDirectory("graft_run_")
    val cfg = resourceToFile("/osdb/nnConfig.json", tmp)
    val out = tmp.resolve("out").toString
    val n = Run.run(spark, Run.Args("runseq", cfg, sf, out, kfold = 3))
    assert(n > 0)
    val cli = spark.read.parquet(s"$out/runseq_skeleton")
    val gate = MlQueries.cfg1ConfigBridge(spark, sf)
    assert(cli.columns.sorted.sameElements(gate.columns.sorted))
    assert(rows(cli) == rows(gate),
      "CLI runseq output must equal the cfg1_config_bridge frame")
    // the modelClass dispatch receipt made it through the CLI path
    assert(rows(cli).exists(_.contains("model_class:rfModel.RfModel:features")))
  }

  test("testrunner CLI from the shipped testConfig.json equals the cfg2 gate frame") {
    val tmp = Files.createTempDirectory("graft_run_")
    val cfg = resourceToFile("/osdb/testConfig.json", tmp)
    val out = tmp.resolve("out").toString
    // the shipped file's model-bearing entries (SpecCnn/amber) need
    // graft artifacts; the spectrum-analytic farm is the --only slice,
    // exactly the subset the cfg2 gate replays
    val n = Run.run(spark, Run.Args("testrunner", cfg, sf, out,
      only = Seq("osdAlg.OsdAlg")))
    assert(n > 0)
    val cli = spark.read.parquet(s"$out/detection_stats")
    val gate = DomainQueries.cfg2Testrunner(spark, sf)
    assert(rows(cli) == rows(gate),
      "CLI testrunner output must equal the cfg2_testrunner frame")
    // both config-built detectors ran under their injected names
    val algs = cli.select("alg").distinct().collect().map(_.getString(0)).toSet
    assert(algs == Set("OSD_flap", "OSD_no_flap"))
    // the analyzeEventResults rollup is written per algorithm
    val ana = spark.read.parquet(s"$out/results_analysis")
    assert(ana.select("alg").distinct().count() == 2)
    assert(ana.filter(org.apache.spark.sql.functions.col("side")
      .isin("user_tpr", "user_far")).count() > 0)
  }

  test("testrunner: results_analysis over two algorithms equals the per-algorithm definition") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_run_")
    val cfg = resourceToFile("/osdb/testConfig.json", tmp)
    val algs = Seq("OSD_flap", "OSD_no_flap")
    val out = tmp.resolve("out").toString
    Run.run(spark, Run.Args("testrunner", cfg, sf, out, only = Seq("osdAlg.OsdAlg")))
    val stats = spark.read.parquet(s"$out/detection_stats")
    val results = Run.testrunnerResults(stats, MlQueries.cfg1Inputs(spark, sf)._1)
    assert(results.select("alg").distinct().collect().map(_.getString(0)).toSet == algs.toSet)
    val ana = spark.read.parquet(s"$out/results_analysis")
    assert(ResultsAnalysisOracle.rows(ana) ==
      ResultsAnalysisOracle.rows(ResultsAnalysisOracle.analyzeEach(results, "alg", algs)))
    assert(ana.filter(col("side") === "tc_combined").groupBy("alg").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap == algs.map(_ -> 1L).toMap)

    // a nested lake whose events carry no datapoints replays nothing:
    // each enabled algorithm still gets its zero tc_combined row
    val lakeDir = tmp.resolve("lake")
    queries.OsdbFixture.nested(spark, sf)
      .withColumn("datapoints", expr("filter(datapoints, d -> false)"))
      .write.parquet(lakeDir.resolve("events.parquet").toString)
    val outEmpty = tmp.resolve("outEmpty").toString
    assert(Run.run(spark, Run.Args("testrunner", cfg, lakeDir.toString, outEmpty,
      only = Seq("osdAlg.OsdAlg"))) == 0)
    assert(ResultsAnalysisOracle.rows(spark.read.parquet(s"$outEmpty/results_analysis")) ==
      algs.map(a => s"tc_combined|tc_combined|0|0|0|0.0|$a").sorted)
  }

  test("select + flatten + summarise run from the shipped configs over the testdata lake") {
    val tmp = Files.createTempDirectory("graft_run_")
    val nnCfg = resourceToFile("/osdb/nnConfig.json", tmp)

    val selOut = tmp.resolve("sel").toString
    val nSel = Run.run(spark, Run.Args("select", nnCfg, sf, selOut))
    assert(nSel > 0)
    val selected = spark.read.parquet(s"$selOut/selected_events")
    // the shipped filters: require3dData + the Phone dataSource and
    // Unknown subType exclusions — the fixture encodes these as k-mod
    // classes, so spot-check the exclusions actually bit
    import org.apache.spark.sql.functions._
    assert(selected.filter(col("dataSourceName").contains("Phone")).count() == 0)
    assert(nSel < spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_id") % 20 === 0).count())
    // the NDJSON sink round-trips as one row per selected event
    val js = spark.read.json(s"$selOut/selected_events_json")
    assert(js.count() == nSel)

    val flatOut = tmp.resolve("flat").toString
    val nFlat = Run.run(spark, Run.Args("flatten", nnCfg, sf, flatOut))
    assert(nFlat > 0)
    // the wide CSV carries the M000..M124 sample columns (S10 shape)
    val csv = spark.read.option("header", "true").csv(s"$flatOut/flattened_csv")
    assert(csv.columns.count(_.matches("M\\d{3}")) == 125)

    val sumCfgPath = tmp.resolve("osdbCfg.json")
    Files.writeString(sumCfgPath,
      """{"dataFiles": [], "invalidEvents": [], "skipElements": []}""")
    val sumOut = tmp.resolve("sum").toString
    val nSum = Run.run(spark,
      Run.Args("summarise", sumCfgPath.toString, sf, sumOut, pageSize = 7))
    assert(nSum > 0)
    assert(Files.exists(Paths.get(sumOut, "index.html")),
      "summarise must publish the report TOC")

    // skipElements is WIRED (tidy's field-drop, libosd/tidy_db.py:66-150):
    // a skipped 'hr' disappears from every rendered event page (the
    // baseline pages above carry it); inert template names (accMean,
    // dataTimeStr) pass through — the interchange never carries them
    def somePage(dir: String): String = {
      val d = Files.list(Paths.get(dir)).filter(p =>
        p.getFileName.toString.startsWith("Event_")).findFirst().get()
      Files.readString(d.resolve("index.html"))
    }
    assert(somePage(sumOut).contains("<h2>Heart rate"))
    val skipCfg = tmp.resolve("osdbCfgSkip.json")
    Files.writeString(skipCfg,
      """{"dataFiles": [], "invalidEvents": [],
        | "skipElements": ["hr", "accMean", "dataTimeStr"]}""".stripMargin)
    val skipOut = tmp.resolve("sumSkip").toString
    assert(Run.run(spark, Run.Args("summarise", skipCfg.toString, sf,
      skipOut, pageSize = 7)) == nSum)
    val page = somePage(skipOut)
    assert(!page.contains("Heart rate"), "skipped hr must not render")
    assert(page.contains("<h2>Acceleration"), "unskipped sections stay")
    // a load-bearing field raises up front (the reference's report
    // reads it unguarded post-tidy, summariseData.py:152-158)
    val badCfg = tmp.resolve("osdbCfgBad.json")
    Files.writeString(badCfg,
      """{"dataFiles": [], "invalidEvents": [], "skipElements": ["userId"]}""")
    val e = intercept[IllegalArgumentException] {
      Run.run(spark, Run.Args("summarise", badCfg.toString, sf,
        tmp.resolve("sumBad").toString, pageSize = 7))
    }
    assert(e.getMessage.contains("load-bearing"))
  }

  test("OSDB json lake mode: array+ndjson categories select like the other layouts; dataFiles win") {
    val tmp = Files.createTempDirectory("graft_run_")
    val nnCfg = resourceToFile("/osdb/nnConfig.json", tmp)
    import org.apache.spark.sql.functions._
    // materialize the fixture's nested events as the reference's
    // NATIVE database format: a .json ARRAY file per category (S1)
    // plus an .ndjson category file (S2) — the two encodings
    // resolveLake reads separately and unions
    val lakeDir = tmp.resolve("jsonlake")
    Files.createDirectories(lakeDir)
    val nested = queries.OsdbFixture.nested(spark, sf)
    val isSeiz = lower(col("type")).contains("seizure")
    Files.writeString(lakeDir.resolve("osdb_3min_allSeizures.json"),
      nested.filter(isSeiz).toJSON.collect().mkString("[\n", ",\n", "\n]"))
    Files.writeString(lakeDir.resolve("osdb_3min_otherEvents.ndjson"),
      nested.filter(!isSeiz).toJSON.collect().mkString("", "\n", "\n"))

    // select over the json lake lands on the same id set as testdata
    // mode (the nested-parquet pin's pattern, third layout)
    val outJ = tmp.resolve("outJ").toString
    val outT = tmp.resolve("outT").toString
    val nJ = Run.run(spark, Run.Args("select", nnCfg, lakeDir.toString, outJ))
    val nT = Run.run(spark, Run.Args("select", nnCfg, sf, outT))
    assert(nJ == nT, s"json-lake selection ($nJ) must match testdata ($nT)")
    def ids(out: String): Set[String] =
      spark.read.parquet(s"$out/selected_events")
        .select("id").collect().map(_.getString(0)).toSet
    assert(ids(outJ) == ids(outT))
    // category comes from the FILE NAME for array files (S1's
    // contract, OsdbJson.readEvents)
    val cats = spark.read.parquet(s"$outJ/selected_events")
      .select("category").distinct().collect().map(_.getString(0)).toSet
    assert(cats.contains("osdb_3min_allSeizures"))

    // runseq drives the REAL-lake path (nestedToFlatDps posexplode +
    // xxhash64 folds) end to end over the json lake
    val outR = tmp.resolve("outR").toString
    Run.run(spark, Run.Args("runseq", nnCfg, lakeDir.toString, outR,
      kfold = 3))
    val skel = spark.read.parquet(s"$outR/runseq_skeleton")
    assert(skel.filter(col("stage") === "train").count() == 3)

    // config-listed dataFiles WIN over the directory listing
    // (Run.resolveLake's priority branch): a decoy json in the lake
    // dir is excluded when the osdbCfg lists only the category files
    Files.writeString(lakeDir.resolve("zz_decoy.json"),
      """[{"id": "9999001", "userId": "u9", "type": "Seizure",
        |  "subType": "other", "dataSourceName": "Garmin",
        |  "datapoints": [{"eventId": "9999001", "hr": 70.0}]}]""".stripMargin)
    val listedCfg = tmp.resolve("osdbCfgListed.json")
    Files.writeString(listedCfg,
      """{"dataFiles": ["osdb_3min_allSeizures.json",
        |               "osdb_3min_otherEvents.ndjson"],
        | "invalidEvents": [], "skipElements": []}""".stripMargin)
    val openCfg = tmp.resolve("osdbCfgOpen.json")
    Files.writeString(openCfg,
      """{"dataFiles": [], "invalidEvents": [], "skipElements": []}""")
    val outA = tmp.resolve("sumListed").toString
    val outB = tmp.resolve("sumOpen").toString
    val nA = Run.run(spark,
      Run.Args("summarise", listedCfg.toString, lakeDir.toString, outA))
    val nB = Run.run(spark,
      Run.Args("summarise", openCfg.toString, lakeDir.toString, outB))
    assert(nB == nA + 1, "the unlisted decoy joins only the open run")
    assert(!Files.exists(Paths.get(outA, "Event_9999001_summary")))
    assert(Files.exists(Paths.get(outB, "Event_9999001_summary")))
  }

  test("devicehr replays the shipped testDeviceHrAlg traces through the config-built farm") {
    val tmp = Files.createTempDirectory("graft_run_")
    val cfg = resourceToFile("/osdb/testDeviceHrAlg.json", tmp)
    import org.apache.spark.sql.functions._
    val out = tmp.resolve("out").toString
    // no lake: the config's synthetic traces are the data. --only HR
    // narrows past the shipped file's enabled 'Phone'
    // deviceAlg.DeviceAlg entry — the reference would push traces to a
    // CONNECTED phone at its ipAddr; without a device that connection
    // (correctly) errors, same as the Python tool
    val n = Run.run(spark, Run.Args("devicehr", cfg, "-", out,
      only = Seq("HR")))
    val res = spark.read.parquet(s"$out/hr_results")
    // 4 shipped traces × 3 enabled HR algorithms
    assert(n == 12 && res.count() == 12)
    assert(res.select("name").distinct().count() == 4)
    assert(res.filter(col("n_dp") =!= 30).count() == 0,
      "every trace carries its 30 hrVals datapoints")
    // the file's HR_Simple thresholds (150/40) never fire on the Spike
    // trace (peaks 105); the adaptive detector (offsets 20/20) catches
    // the Smaller Spike's 60->120 jump against its moving average —
    // the ConfigBridgeSpec farm verdicts (>= WARNING), now through the
    // CLI end to end
    def fired(alg: String, trace: String): Long = {
      val r = res.filter(col("alg") === alg && col("name") === trace)
        .select("n_alarm", "n_warn").head()
      r.getLong(0) + r.getLong(1)
    }
    assert(fired("HR_Simple", "Spike") == 0)
    assert(fired("HR_Adaptive", "Smaller Spike") >= 1)
    val roll = spark.read.parquet(s"$out/hr_rollup")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(roll.keySet == Set("HR_Simple", "HR_Adaptive", "HR_Average"))
    assert(roll.values.forall(_._2 == 4))
    // --only narrows the farm as in testrunner
    val out2 = tmp.resolve("out2").toString
    val n2 = Run.run(spark, Run.Args("devicehr", cfg, "-", out2,
      only = Seq("HR_Simple")))
    assert(n2 == 4)
  }

  test("nested-parquet lake mode selects the same events as testdata mode") {
    val tmp = Files.createTempDirectory("graft_run_")
    val nnCfg = resourceToFile("/osdb/nnConfig.json", tmp)
    // materialize the fixture's NESTED shape as a real events.parquet
    // lake — the CLI must auto-detect it (datapoints column) and run
    // the Tidy-derived path, landing on the same selection the
    // fixture-mode flags produce
    val lakeDir = tmp.resolve("lake")
    Files.createDirectories(lakeDir)
    queries.OsdbFixture.nested(spark, sf)
      .write.mode("overwrite").parquet(lakeDir.resolve("events.parquet").toString)
    val outA = tmp.resolve("outA").toString
    val outB = tmp.resolve("outB").toString
    val nA = Run.run(spark, Run.Args("select", nnCfg, lakeDir.toString, outA))
    val nB = Run.run(spark, Run.Args("select", nnCfg, sf, outB))
    assert(nA == nB, s"nested-lake selection ($nA) must match testdata ($nB)")
    val idsA = spark.read.parquet(s"$outA/selected_events")
      .select("id").collect().map(_.getString(0)).toSet
    val idsB = spark.read.parquet(s"$outB/selected_events")
      .select("id").collect().map(_.getString(0)).toSet
    assert(idsA == idsB)
  }

  test("updatetest builds a leak-free new test set (anti-join vs prior training ids)") {
    val tmp = Files.createTempDirectory("graft_run_")
    val nnCfg = resourceToFile("/osdb/nnConfig.json", tmp)
    import org.apache.spark.sql.functions._
    // the 'prior run': select under the same config, take every other
    // selected id as the training set, write it one-per-line (the
    // reference's CSV id-list rendition)
    val selOut = tmp.resolve("sel").toString
    val nSel = Run.run(spark, Run.Args("select", nnCfg, sf, selOut))
    val selIds = spark.read.parquet(s"$selOut/selected_events")
      .select("id").collect().map(_.getString(0)).sorted
    val trainIds = selIds.zipWithIndex.collect { case (id, i) if i % 2 == 0 => id }
    val idsFile = tmp.resolve("trainIds.txt")
    Files.writeString(idsFile, trainIds.mkString("", "\n", "\n"))

    val out = tmp.resolve("out").toString
    val n = Run.run(spark, Run.Args("updatetest", nnCfg, sf, out,
      trainIds = Some(idsFile.toString)))
    assert(n == nSel - trainIds.length,
      "testDataNew must be exactly the selected events minus training")
    val newIds = spark.read.parquet(s"$out/test_data_new")
      .select("id").collect().map(_.getString(0)).toSet
    assert(newIds.intersect(trainIds.toSet).isEmpty, "leak-free by anti-join")
    val summary = spark.read.parquet(s"$out/update_summary")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(summary("total_in_db") == nSel)
    assert(summary("in_training") == trainIds.length)
    assert(summary("in_test_new") == n)
    assert(summary("train_test_overlap") == 0)
    // with --testIds = the new set itself, added/removed are both zero
    val out2 = tmp.resolve("out2").toString
    Run.run(spark, Run.Args("updatetest", nnCfg, sf, out2,
      trainIds = Some(idsFile.toString),
      testIds = Some(s"$out/test_data_new")))
    val s2 = spark.read.parquet(s"$out2/update_summary")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s2("added_seizure") + s2("added_non_seizure") == 0)
    assert(s2("removed_seizure") + s2("removed_non_seizure") == 0)
    assert(s2("removed_unknown") == 0)
    // removed diffs RAW id sets (updateTestData.py:360), not just the
    // current selection: an original test id with no FILTERED-lake
    // event lands in 'unknown' (the reference's type map is built from
    // the post-filter events, :355-356; _count_ids_by_type :227-247)
    // whether the id is absent from the lake entirely OR present but
    // failing the filters; a training id (selected, excluded from the
    // new set) is removed with its real class
    val unselectedId = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id").cast("string"))
      .filter(!col("event_id").isin(selIds.map(_.toLong): _*))
      .head().getString(0)
    val origFile = tmp.resolve("origTest.txt")
    Files.writeString(origFile,
      (newIds.toSeq.sorted ++
        Seq(trainIds.head, "graft-no-such-id", unselectedId))
        .mkString("", "\n", "\n"))
    val out2b = tmp.resolve("out2b").toString
    Run.run(spark, Run.Args("updatetest", nnCfg, sf, out2b,
      trainIds = Some(idsFile.toString),
      testIds = Some(origFile.toString)))
    val s2b = spark.read.parquet(s"$out2b/update_summary")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s2b("added_seizure") + s2b("added_non_seizure") == 0)
    assert(s2b("added_unknown") == 0, "fixture events always carry a type")
    assert(s2b("removed_seizure") + s2b("removed_non_seizure") == 1)
    assert(s2b("removed_unknown") == 2)
    // parquet id-set rendition: pointing --trainIds at the selected
    // parquet leaves NOTHING new
    val out3 = tmp.resolve("out3").toString
    val n3 = Run.run(spark, Run.Args("updatetest", nnCfg, sf, out3,
      trainIds = Some(s"$selOut/selected_events")))
    assert(n3 == 0)
  }

  test("updatetest releases every frame it persisted") {
    val tmp = Files.createTempDirectory("graft_run_")
    val nnCfg = resourceToFile("/osdb/nnConfig.json", tmp)
    val selOut = tmp.resolve("sel").toString
    Run.run(spark, Run.Args("select", nnCfg, sf, selOut))
    val idsFile = tmp.resolve("trainIds.txt")
    Files.writeString(idsFile, spark.read.parquet(s"$selOut/selected_events")
      .select("id").collect().map(_.getString(0)).sorted
      .zipWithIndex.collect { case (id, i) if i % 2 == 0 => id }
      .mkString("", "\n", "\n"))
    val before = Scoped.cachedPartitions(spark)
    Run.run(spark, Run.Args("updatetest", nnCfg, sf, tmp.resolve("out").toString,
      trainIds = Some(idsFile.toString)))
    val after = Scoped.cachedPartitions(spark)
    assert(after <= before, s"updatetest left cached partitions: $before -> $after")
  }

  test("runseq --nestedKfold writes the nested skeleton and (with --train) outer-fold metrics") {
    val tmp = Files.createTempDirectory("graft_run_")
    val cfg = resourceToFile("/osdb/nnConfig.json", tmp)
    import org.apache.spark.sql.functions._
    val out = tmp.resolve("out").toString
    // outer k must be ODD on the testdata lake: ids are multiples of
    // 20 and the gate-convention multiplicative hash preserves parity,
    // so an even outer k leaves a fold empty (fail-loud, checked below)
    Run.run(spark, Run.Args("runseq", cfg, "/root/testdata/sf0.01", out,
      kfold = 3, nestedKfold = 3, train = true))
    val skel = spark.read.parquet(s"$out/nested_skeleton")
    // outer 3 x inner 3 inner stages + outer stages + guard rows, all
    // (of, inf) pairs explicit (the ml6 zero-row discipline)
    assert(skel.filter(col("stage") === "inner_train").count() == 9)
    assert(skel.filter(col("stage") === "outer_test").count() == 3)
    val m = spark.read.parquet(s"$out/nested_metrics")
    assert(m.count() == 3)
    // the parity-degenerate even outer k fails loudly BEFORE training
    val e = intercept[IllegalArgumentException] {
      Run.run(spark, Run.Args("runseq", cfg, "/root/testdata/sf0.01",
        tmp.resolve("outEven").toString, kfold = 3, nestedKfold = 2,
        train = true))
    }
    assert(e.getMessage.contains("outer fold"))
    assert(m.select("chosen").distinct().head().getString(0)
      .contains("rfModel.RfModel"))
    assert(m.filter(col("outer_auroc").isNaN ||
      col("inner_mean_auroc").isNaN).count() == 0)
  }

  test("sweep runs the runOptimisation twin: data knobs memoized, model knobs trained") {
    val tmp = Files.createTempDirectory("graft_run_")
    val cfg = resourceToFile("/osdb/nnConfig.json", tmp)
    import org.apache.spark.sql.functions._

    // data-processing knobs ride the memoized paramSweep harness and
    // emit (param, value, fold, stage) rows incl. the baseline block
    val out = tmp.resolve("out").toString
    val n = Run.run(spark, Run.Args("sweep", cfg, sf, out, kfold = 3,
      params = Seq("window" -> Seq(100L, 125L),
        "addFeatureHistoryLength" -> Seq(3L))))
    assert(n > 0)
    val res = spark.read.parquet(s"$out/sweep_results")
    val params = res.select("param").distinct()
      .collect().map(_.getString(0)).toSet
    assert(params == Set("baseline", "window", "historyN"))
    // the baseline block restates the runseq skeleton's stage rows
    assert(res.filter(col("param") === "baseline" &&
      col("stage") === "train").count() == 3)

    // model knobs need --train (the skeleton is knob-invariant there)
    val e1 = intercept[IllegalArgumentException] {
      Run.run(spark, Run.Args("sweep", cfg, sf, tmp.resolve("o2").toString,
        params = Seq("n_estimators" -> Seq(5L))))
    }
    assert(e1.getMessage.contains("--train"))

    // an unknown param fails loudly with both knob universes — never
    // the reference's silent baseline re-run (runOptimisation.py:49-54)
    val e2 = intercept[IllegalArgumentException] {
      Run.run(spark, Run.Args("sweep", cfg, sf, tmp.resolve("o3").toString,
        params = Seq("n_esimators" -> Seq(5L)))) // typo'd on purpose
    }
    assert(e2.getMessage.contains("neither a data-processing knob"))

    // the engine's order-2 filtfilt pin stays loud under sweep too
    val e3 = intercept[IllegalArgumentException] {
      Run.run(spark, Run.Args("sweep", cfg, sf, tmp.resolve("o4").toString,
        params = Seq("highPassOrder" -> Seq(4L))))
    }
    assert(e3.getMessage.contains("order-2"))

    // model-knob sweep with --train: per-fold metrics per value, at
    // sf0.01 (see the --train test's scarcity note)
    val out5 = tmp.resolve("o5").toString
    Run.run(spark, Run.Args("sweep", cfg, "/root/testdata/sf0.01", out5,
      kfold = 3, train = true, params = Seq("n_estimators" -> Seq(5L))))
    val m = spark.read.parquet(s"$out5/sweep_metrics")
    assert(m.select("param").distinct().collect().map(_.getString(0)).toSet ==
      Set("baseline", "n_estimators"))
    assert(m.count() == 6) // 2 runs x 3 folds
    assert(m.filter(col("auroc").isNaN).count() == 0)
  }

  test("runseq --train runs the dispatched modelClass per fold") {
    val tmp = Files.createTempDirectory("graft_run_")
    val cfg = resourceToFile("/osdb/nnConfig.json", tmp)
    val out = tmp.resolve("out").toString
    // k=3: the fixture's ids are all multiples of 20, so the gate's
    // multiplicative hash is parity-degenerate under an even k — the
    // CLI detects that and fails loudly (asserted below)
    Run.run(spark, Run.Args("runseq", cfg, "/root/testdata/sf0.01", out,
      kfold = 3, train = true))
    val m = spark.read.parquet(s"$out/fold_metrics")
    assert(m.count() == 3)
    assert(m.columns.contains("auroc") && m.columns.contains("tp"))
    import org.apache.spark.sql.functions._
    // every fold trained on a non-empty slice and scored held-out events
    assert(m.filter(col("n_train") === 0 || col("n_test") === 0).count() == 0)
    // the degenerate-fold case fails loudly BEFORE training: every
    // fixture id is a multiple of 20, so knuthHash32 % 2 is constant
    val e = intercept[IllegalArgumentException] {
      Run.run(spark, Run.Args("runseq", cfg, "/root/testdata/sf0.01",
        tmp.resolve("out2").toString, kfold = 2, train = true))
    }
    assert(e.getMessage.contains("have no events"))
  }
}
