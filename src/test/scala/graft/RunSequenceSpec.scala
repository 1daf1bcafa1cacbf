package graft

import org.apache.spark.sql.functions._

import graft.ml.RunSequence
import graft.operators.{FeatureExtract, Flatten}
import graft.operators.Flatten.FlatDp
import graft.sources.SimulatedEvents
import graft.sources.SimulatedEvents.{Component, EventSpec}

/** The composed §3.1 training pipeline (graft.ml.RunSequence): the
  * invariants its docblocks claim, pinned —
  *
  *   - fused validate+extract ([[FeatureExtract.extract]]
  *     `validate = true`) equals the sequential
  *     `extract(validateAndFill(dps))` on a corpus with gaps,
  *     overlaps, and accel-less datapoints;
  *   - the augmentation plan is fold-invariant: slicing the full-table
  *     plan by fold equals building the plan per fold;
  *   - [[RunSequence.skeleton]] emits every (fold, stage) pair —
  *     including explicit zero rows for folds with no events — and its
  *     guard stage is 0 on a clean corpus, > 0 when an event id sits
  *     in two folds;
  *   - [[RunSequence.run]] fails loudly on fold contamination (F14)
  *     and, on a planted-separable corpus, learns every fold
  *     (held-out AUROC) with slice counts that match the skeleton's.
  */
class RunSequenceSpec extends SparkSpec {

  // ------------------------------------------------------ fused P14+extract

  private def dp(id: String, ts: Long, seq: Long, acc: Boolean): FlatDp = {
    val a3 =
      if (acc) Array.tabulate(375)(j => ((j % 7) + (ts % 13)).toDouble)
      else Array.emptyDoubleArray
    FlatDp(id, "u1", "Seizure", 1, ts, 0L, 0.0, 0.0,
      60.0 + ts % 5, 95.0, Array.emptyDoubleArray, a3,
      synthetic = false, seq = seq)
  }

  test("fused validate+extract == extract(validateAndFill(...)) with gaps/overlaps/skips") {
    import spark.implicits._
    val rows = Seq(
      // A: interior accel-less dp -> skipped, 5 s hole -> one gap fill
      dp("A", 1000, 0, acc = true), dp("A", 1005, 1, acc = false),
      dp("A", 1010, 2, acc = true), dp("A", 1015, 3, acc = true),
      // B: big gap -> two synthetic fills
      dp("B", 2000, 0, acc = true), dp("B", 2015, 1, acc = true),
      // C: overlapping dp -> dropped
      dp("C", 3000, 0, acc = true), dp("C", 3005, 1, acc = true),
      dp("C", 3007, 2, acc = true), dp("C", 3012, 3, acc = true),
      // D: leading + trailing accel-less dps -> record shortens, no fill
      dp("D", 4000, 0, acc = false), dp("D", 4005, 1, acc = true),
      dp("D", 4010, 2, acc = true), dp("D", 4015, 3, acc = false))
    val ds = spark.createDataset(rows)
    val cfg = FeatureExtract.Config() // default 0.5 Hz high-pass on
    def key(r: FeatureExtract.EpochRow) = (r.eventId, r.startSample)
    val fused = FeatureExtract.extract(ds, cfg, validate = true)
      .collect().sortBy(key)
    val sequential = FeatureExtract.extract(Flatten.validateAndFill(ds), cfg)
      .collect().sortBy(key)
    assert(fused.length == sequential.length)
    fused.zip(sequential).foreach { case (f, q) =>
      assert(key(f) == key(q))
      assert(f.tsSec == q.tsSec && f.`type` == q.`type` &&
        f.hr == q.hr && f.o2sat == q.o2sat)
      assert(f.features == q.features,
        s"feature mismatch at ${key(f)}")
    }
    // and the validation actually did something on this corpus:
    // A 3 kept + 1 fill, B 2 kept + 2 fills, C 3 kept (1 dropped), D 2 kept
    val perEvent = fused.groupBy(_.eventId).view.mapValues(_.length).toMap
    assert(perEvent == Map("A" -> 4, "B" -> 4, "C" -> 3, "D" -> 2))
  }

  test("fused validate+extract plans ONE per-event shuffle; sequential plans two") {
    import spark.implicits._
    val ds = spark.createDataset(Seq(
      dp("A", 1000, 0, acc = true), dp("A", 1005, 1, acc = true)))
    val cfg = FeatureExtract.Config()
    def exchanges(df: org.apache.spark.sql.Dataset[_]) =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size
    val fused = exchanges(FeatureExtract.extract(ds, cfg, validate = true))
    val seq = exchanges(FeatureExtract.extract(Flatten.validateAndFill(ds), cfg))
    assert(fused == 1, s"fused path: expected exactly 1 Exchange, found $fused")
    assert(seq == 2, s"sequential path: expected 2 Exchanges, found $seq")
  }

  test("fused extract+history == addHistory(flatEpochs(...)) row-for-row, bit-exact") {
    import spark.implicits._
    // the same tricky corpus (gap fill, overlap drop, accel-less skips)
    // plus a short event that must vanish entirely under the history drop
    val rows = Seq(
      dp("A", 1000, 0, acc = true), dp("A", 1005, 1, acc = false),
      dp("A", 1010, 2, acc = true), dp("A", 1015, 3, acc = true),
      dp("B", 2000, 0, acc = true), dp("B", 2015, 1, acc = true),
      dp("C", 3000, 0, acc = true), dp("C", 3005, 1, acc = true),
      dp("C", 3007, 2, acc = true), dp("C", 3012, 3, acc = true),
      dp("D", 4000, 0, acc = false), dp("D", 4005, 1, acc = true),
      dp("D", 4010, 2, acc = true), dp("D", 4015, 3, acc = false),
      dp("E", 5000, 0, acc = true)) // 1 epoch < historyN: all dropped
    val ds = spark.createDataset(rows)
    val ev = spark.createDataset(rows.map(_.eventId).distinct).toDF("srcId")
    for (n <- Seq(2, 3)) {
      val cfg = RunSequence.Config(historyN = n)
      val fused = RunSequence.historyEpochs(ev, ds, cfg)
      val unfused = graft.operators.FeatureHistory.addHistory(
        RunSequence.flatEpochs(ev, ds, cfg.extract),
        graft.functions.EpochFeatures.FeatureNames, cfg.historyN)
      assert(fused.columns.toSeq == unfused.columns.toSeq,
        s"historyN=$n: column drift")
      def rowsOf(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).sortBy(r =>
          (r.head.asInstanceOf[String], r(3).asInstanceOf[Int]))
      val (fr, ur) = (rowsOf(fused), rowsOf(unfused))
      assert(fr.length == ur.length, s"historyN=$n: row-count drift")
      fr.zip(ur).foreach { case (f, u) =>
        assert(f == u, s"historyN=$n: row mismatch\nfused   $f\nunfused $u")
      }
      // the short event is fully dropped on both sides
      assert(!fr.exists(_.head == "E"))
    }
  }

  // ----------------------------------------------------------- plan algebra

  private def evFrame(rows: Seq[(String, String, String, Int)]) = {
    import spark.implicits._
    rows.toDF("id", "type", "subType", "fold0")
  }

  test("augment plan is fold-invariant: slice(full plan) == plan(slice)") {
    val events = evFrame(Seq(
      ("E0", "Seizure", "Tonic-Clonic", 0),
      ("E1", "Seizure", "other", 1),
      ("E2", "False Alarm", "Tonic-Clonic", 2),
      ("E3", "Seizure", "tonic clonic", 0),
      ("E4", "False Alarm", "other", 1)))
    val cfg = RunSequence.Config()
    val ev = RunSequence.selectedEvents(events, lit(true), col("fold0"))
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .sorted.toSeq
    (0 until cfg.k).foreach { f =>
      val sliced = rowsOf(
        RunSequence.augmentPlan(ev, cfg).filter(col("fold") =!= f))
      val rebuilt = rowsOf(
        RunSequence.augmentPlan(ev.filter(col("fold") =!= f), cfg))
      assert(sliced == rebuilt, s"fold $f plan mismatch")
    }
    // documented multiplier semantics: seizure x2, x2 again if TC
    val full = RunSequence.augmentPlan(ev, cfg)
      .groupBy("srcId").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(full == Map("E0" -> 4L, "E1" -> 2L, "E2" -> 1L,
      "E3" -> 4L, "E4" -> 1L))
  }

  // ------------------------------------------------------- skeleton + guard

  /** Tiny 3D corpus: `nDp` contiguous datapoints per event, enough for
    * epochs to survive the historyN=2 drop. */
  private def miniDps(ids: Seq[String], nDp: Int = 4) = {
    import spark.implicits._
    spark.createDataset(for {
      (id, i) <- ids.zipWithIndex
      d <- 0 until nDp
    } yield dp(id, 1000L + i * 10000L + d * 5L, d.toLong, acc = true))
  }

  test("skeleton: closed-form counts, explicit zero rows for an empty fold, guard 0") {
    val events = evFrame(Seq(
      ("E0", "Seizure", "Tonic-Clonic", 0),
      ("E1", "False Alarm", "other", 1),
      ("E2", "Seizure", "other", 0),
      ("E3", "Unknown", "other", 1))) // excluded by select
    val cfg = RunSequence.Config(historyN = 2,
      extract = FeatureExtract.Config(highPassHz = 0.0))
    val sk = RunSequence.skeleton(
      events, miniDps(Seq("E0", "E1", "E2", "E3")),
      select = col("type") =!= "Unknown", foldOf = col("fold0"), cfg = cfg)
    val rows = sk.collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // every (fold, stage) pair present — 3 folds x 4 stages
    assert(rows.size == 12)
    // nEp per event = nDp - (historyN-1) = 3; plan mult: E0 TC seizure
    // x4, E2 seizure x2, E1 x1
    assert(rows((0L, "train")) == ((1L, 3L)))       // E1 only
    assert(rows((1L, "train")) == ((2L, 6L)))       // E0, E2
    assert(rows((2L, "train")) == ((3L, 9L)))       // all
    assert(rows((0L, "test")) == ((2L, 6L)))
    assert(rows((1L, "test")) == ((1L, 3L)))
    assert(rows((2L, "test")) == ((0L, 0L)))        // empty fold: explicit 0s
    assert(rows((0L, "train_aug")) == ((1L, 3L)))   // E1 x1
    assert(rows((1L, "train_aug")) == ((6L, 18L)))  // E0 x4 + E2 x2
    assert(rows((2L, "train_aug")) == ((7L, 21L)))
    (0L until 3L).foreach(f => assert(rows((f, "guard")) == ((0L, 0L))))
  }

  private def skeletonOf(events: org.apache.spark.sql.DataFrame,
                         dps: org.apache.spark.sql.Dataset[FlatDp],
                         cfg: RunSequence.Config) =
    RunSequence.skeleton(events, dps, col("type") =!= "Unknown",
      col("fold0"), cfg)

  test("F14: an event id in two folds trips the skeleton guard and run() fails loudly") {
    val contaminated = evFrame(Seq(
      ("E0", "Seizure", "other", 0),
      ("E0", "Seizure", "other", 1), // same id, different fold
      ("E1", "False Alarm", "other", 2)))
    val cfg = RunSequence.Config(historyN = 2,
      extract = FeatureExtract.Config(highPassHz = 0.0))
    val dps = miniDps(Seq("E0", "E1"))
    val guard = skeletonOf(contaminated, dps, cfg)
      .filter(col("stage") === "guard")
      .agg(sum("n_events")).head().getLong(0)
    assert(guard > 0, "guard stage failed to flag the cross-fold id")
    val e = intercept[IllegalArgumentException] {
      RunSequence.run(contaminated, dps, col("type") =!= "Unknown",
        col("fold0"), cfg)
    }
    assert(e.getMessage.contains("leak"))
  }

  test("skeleton: an out-of-range fold fails loud with the guard's own exception") {
    val events = evFrame(Seq(
      ("E0", "Seizure", "other", 0),
      ("E1", "False Alarm", "other", 1)))
    val cfg = RunSequence.Config(k = 3, historyN = 2,
      extract = FeatureExtract.Config(highPassHz = 0.0))
    val e = intercept[IllegalArgumentException] {
      RunSequence.skeleton(events, miniDps(Seq("E0", "E1")),
        col("type") =!= "Unknown", lit(7), cfg)
    }
    assert(e.getMessage.contains("out of range"), e.getMessage)
  }

  test("skeleton releases its evW materialization: no cached partitions outlive it") {
    val cfg = RunSequence.Config(historyN = 2,
      extract = FeatureExtract.Config(highPassHz = 0.0))
    val before = Scoped.cachedPartitions(spark)
    val rows = RunSequence.skeleton(sweepEvents,
      miniDps(Seq("E0", "E1", "E2", "E3")),
      col("type") =!= "Unknown", col("fold0"), cfg).collect()
    assert(rows.length == 12)
    val after = Scoped.cachedPartitions(spark)
    assert(after <= before, s"cached partitions grew: $before -> $after")
  }

  // --------------------------------------------------------------- full run

  test("runWith(mlpFamily): the architecture seam swaps in a neural net per fold") {
    val n = 6
    val specs = (0 until n).flatMap { i =>
      Seq(
        EventSpec(s"SZ$i", "seizure sim", typeStr = "seizure",
          durationSecs = 30.0,
          components = Seq(
            Component("gravity", 0, 0.0, 1000.0, 0.0, 0.0, 1e9),
            Component("tremor", 0, 3.0 + (i % 4) * 0.8, 200.0 + 10.0 * i,
              22.5 * i, 2.0, 28.0))),
        EventSpec(s"OK$i", "normal sim", typeStr = "falseAlarm",
          durationSecs = 30.0,
          components = Seq(
            Component("gravity", 0, 0.0, 1000.0, 0.0, 0.0, 1e9),
            Component("sway", 0, 0.4 + 0.02 * i, 40.0 + 5.0 * i,
              10.0 * i, 0.0, 1e9))))
    }
    val corpus = SimulatedEvents(spark, specs)
    val events = evFrame((0 until n).flatMap { i =>
      Seq((s"SZ$i", "Seizure", "other", i % 3),
        (s"OK$i", "False Alarm", "other", i % 3))
    })
    val cfg = RunSequence.Config(historyN = 2,
      extract = FeatureExtract.Config(highPassHz = 0.0))
    val (fit, score) = RunSequence.mlpFamily(hidden = Seq(16), maxIter = 60)
    val results = RunSequence.runWith(
      events, corpus, lit(true), col("fold0"), cfg)(fit, score)
    assert(results.size == cfg.k)
    results.foreach { fr =>
      assert(fr.heldOutAuroc > 0.9,
        s"fold ${fr.fold}: MLP held-out AUROC only ${fr.heldOutAuroc}")
      assert(fr.model.model.getLayers.head ==
        graft.functions.EpochFeatures.FeatureNames.size * (cfg.historyN + 1))
    }
  }

  test("runWithWindows(cnnFamily): the CNN modelClass path learns raw windows per fold") {
    val n = 6
    val specs = (0 until n).flatMap { i =>
      Seq(
        EventSpec(s"SZ$i", "seizure sim", typeStr = "seizure",
          durationSecs = 30.0,
          components = Seq(
            Component("gravity", 0, 0.0, 1000.0, 0.0, 0.0, 1e9),
            Component("tremor", 0, 3.0 + (i % 4) * 0.8, 200.0 + 10.0 * i,
              22.5 * i, 2.0, 28.0))),
        EventSpec(s"OK$i", "normal sim", typeStr = "falseAlarm",
          durationSecs = 30.0,
          components = Seq(
            Component("gravity", 0, 0.0, 1000.0, 0.0, 0.0, 1e9),
            Component("sway", 0, 0.4 + 0.02 * i, 40.0 + 5.0 * i,
              10.0 * i, 0.0, 1e9))))
    }
    val corpus = SimulatedEvents(spark, specs)
    val events = evFrame((0 until n).flatMap { i =>
      Seq((s"SZ$i", "Seizure", "other", i % 3),
        (s"OK$i", "False Alarm", "other", i % 3))
    })
    val (fit, score) = RunSequence.cnnFamily(
      graft.ml.Cnn.Config(nFilters = 3, width = 9, maxIter = 60))
    val results = RunSequence.runWithWindows(
      events, corpus, lit(true), col("fold0"),
      RunSequence.Config(), bufferSamples = 125)(fit, score)
    assert(results.size == 3)
    results.foreach { fr =>
      assert(fr.heldOutAuroc > 0.9,
        s"fold ${fr.fold}: CNN held-out AUROC only ${fr.heldOutAuroc}")
      assert(fr.model.window == 125) // trained input length == the buffer
      assert(fr.nTestEvents > 0)
    }
  }

  test("runWithWindows(lstmFamily): the recurrent modelClass path learns raw windows per fold") {
    val n = 6
    val specs = (0 until n).flatMap { i =>
      Seq(
        EventSpec(s"SZ$i", "seizure sim", typeStr = "seizure",
          durationSecs = 30.0,
          components = Seq(
            Component("gravity", 0, 0.0, 1000.0, 0.0, 0.0, 1e9),
            Component("tremor", 0, 3.0 + (i % 4) * 0.8, 200.0 + 10.0 * i,
              22.5 * i, 2.0, 28.0))),
        EventSpec(s"OK$i", "normal sim", typeStr = "falseAlarm",
          durationSecs = 30.0,
          components = Seq(
            Component("gravity", 0, 0.0, 1000.0, 0.0, 0.0, 1e9),
            Component("sway", 0, 0.4 + 0.02 * i, 40.0 + 5.0 * i,
              10.0 * i, 0.0, 1e9))))
    }
    val corpus = SimulatedEvents(spark, specs)
    val events = evFrame((0 until n).flatMap { i =>
      Seq((s"SZ$i", "Seizure", "other", i % 3),
        (s"OK$i", "False Alarm", "other", i % 3))
    })
    val (fit, score) = RunSequence.lstmFamily(
      graft.ml.Lstm.Config(nUnits = 4, maxIter = 60))
    val results = RunSequence.runWithWindows(
      events, corpus, lit(true), col("fold0"),
      RunSequence.Config(), bufferSamples = 125)(fit, score)
    assert(results.size == 3)
    results.foreach { fr =>
      assert(fr.heldOutAuroc > 0.85,
        s"fold ${fr.fold}: LSTM held-out AUROC only ${fr.heldOutAuroc}")
      assert(fr.model.window == 125)
      assert(fr.nTestEvents > 0)
    }
  }

  test("runWithWindows(lstm2Family, bidir + mha): the FULL amber shape rides the composed fold loop") {
    val n = 6
    val specs = (0 until n).flatMap { i =>
      Seq(
        EventSpec(s"SZ$i", "seizure sim", typeStr = "seizure",
          durationSecs = 30.0,
          components = Seq(
            Component("gravity", 0, 0.0, 1000.0, 0.0, 0.0, 1e9),
            Component("tremor", 0, 3.0 + (i % 4) * 0.8, 200.0 + 10.0 * i,
              22.5 * i, 2.0, 28.0))),
        EventSpec(s"OK$i", "normal sim", typeStr = "falseAlarm",
          durationSecs = 30.0,
          components = Seq(
            Component("gravity", 0, 0.0, 1000.0, 0.0, 0.0, 1e9),
            Component("sway", 0, 0.4 + 0.02 * i, 40.0 + 5.0 * i,
              10.0 * i, 0.0, 1e9))))
    }
    val corpus = SimulatedEvents(spark, specs)
    val events = evFrame((0 until n).flatMap { i =>
      Seq((s"SZ$i", "Seizure", "other", i % 2),
        (s"OK$i", "False Alarm", "other", i % 2))
    })
    val (fit, score) = graft.ml.LstmStack.lstm2Family(
      graft.ml.LstmStack.Config(h1 = 2, h2 = 2, maxIter = 60,
        head = "mha", bidir = true, nHeads = 2))
    val results = RunSequence.runWithWindows(
      events, corpus, lit(true), col("fold0"),
      RunSequence.Config(k = 2), bufferSamples = 125)(fit, score)
    assert(results.size == 2)
    results.foreach { fr =>
      val m = fr.model.asInstanceOf[graft.ml.LstmStack.Lstm2Model]
      assert(m.bidir && m.head == "mha" && m.nHeads == 2 &&
        m.window == 125)
      assert(fr.heldOutAuroc > 0.85,
        s"fold ${fr.fold}: full-amber held-out AUROC only ${fr.heldOutAuroc}")
      assert(fr.nTestEvents > 0)
    }
  }

  test("nestedSkeleton: slice counts, explicit zeros, guard trips on a duplicated id") {
    import spark.implicits._
    // 7 events, outer = id % 2, inner = id % 3, select = id < 6
    val events = (0 until 7).map(i => (s"$i", i.toLong)).toDF("id", "n")
    val out = RunSequence.nestedSkeleton(events, col("n") < 6,
        col("n") % 2, col("n") % 3, outerK = 2, innerK = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)) -> r.getLong(3))
      .toMap
    // events 0..5: ofold = [0,1,0,1,0,1], ifold = [0,1,2,0,1,2]
    assert(out((0L, -1L, "outer_train")) == 3) // 1,3,5
    assert(out((0L, -1L, "outer_test")) == 3)
    assert(out((1L, 0L, "inner_train")) == 2) // ofold=0 ∧ ifold≠0: 2,4
    assert(out((1L, 0L, "inner_val")) == 1) // event 0
    assert(out.keys.count(_._3 == "inner_train") == 6) // every (o,i) pair
    out.filter(_._1._3 == "guard").values.foreach(v => assert(v == 0))

    // a duplicated event id landing in BOTH slices of an outer fold
    // (two rows, different fold hash) must surface in the guard
    val dup = events.union(Seq(("0", 1L)).toDF("id", "n"))
    val g = RunSequence.nestedSkeleton(dup, col("n") < 6,
        col("n") % 2, col("n") % 3, outerK = 2, innerK = 3)
      .filter(col("stage") === "guard" && col("n_events") > 0).count()
    assert(g == 2, "duplicated id must trip the guard for both outer folds")
  }

  test("auditFrame: per-stage class counts, augment multiplicities, explicit zeros") {
    val events = evFrame(Seq(
      ("E0", "Seizure", "Tonic-Clonic", 0), // sz, TC: aug mult 4
      ("E1", "Seizure", "other", 1), //        sz:     aug mult 2
      ("E2", "False Alarm", "Tonic-Clonic", 2), //     aug mult 1 (not sz)
      ("E3", "False Alarm", "other", 0)))
    val out = graft.ml.RunSequence.auditFrame(
        events, lit(true), col("fold0"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(out((-1L, "selected")) == (2L, 2L))
    assert(out((0L, "train")) == (1L, 1L)) // E1 sz + E2 fa
    assert(out((0L, "test")) == (1L, 1L)) // E0 + E3
    assert(out((0L, "train_aug")) == (2L, 1L)) // E1 x2, E2 x1
    assert(out((1L, "train_aug")) == (4L, 2L)) // E0 x4, E2+E3 x1
    assert(out((2L, "test")) == (0L, 1L)) // only E2; explicit sz zero
    assert(out.size == 10) // 1 selected + 3 folds x 3 stages
  }

  test("runNested: inner CV picks the real model; outer test never steers selection") {
    val n = 12
    // tremor stays in a NARROW band (4.0-4.2 Hz) so the seizure
    // signature transfers across any fold split — this test exercises
    // nested-selection mechanics, not out-of-distribution transfer
    // (an i%2 fold split against the usual 3.0+(i%4)*0.8 sweep aligns
    // fold parity with frequency parity and the outer slice becomes a
    // genuinely unseen band: measured held-out AUROC 0.5)
    val specs = (0 until n).flatMap { i =>
      Seq(
        EventSpec(s"SZ$i", "seizure sim", typeStr = "seizure",
          durationSecs = 30.0,
          components = Seq(
            Component("gravity", 0, 0.0, 1000.0, 0.0, 0.0, 1e9),
            Component("tremor", 0, 4.0 + (i % 3) * 0.1, 200.0 + 10.0 * i,
              22.5 * i, 2.0, 28.0))),
        EventSpec(s"OK$i", "normal sim", typeStr = "falseAlarm",
          durationSecs = 30.0,
          components = Seq(
            Component("gravity", 0, 0.0, 1000.0, 0.0, 0.0, 1e9),
            Component("sway", 0, 0.4 + 0.02 * i, 40.0 + 5.0 * i,
              10.0 * i, 0.0, 1e9))))
    }
    val corpus = SimulatedEvents(spark, specs)
    import spark.implicits._
    // ofold and ifold are INDEPENDENT slices of the event index, and
    // SZ/OK pairs share both — every slice keeps both classes
    val events = (0 until n).flatMap { i =>
      Seq((s"SZ$i", "Seizure", "other", i % 2, (i / 2) % 2),
        (s"OK$i", "False Alarm", "other", i % 2, (i / 2) % 2))
    }.toDF("id", "type", "subType", "ofold", "ifold")
    // candidate A: the real logistic family; candidate B: a coin-flip
    // scorer (deterministic p from the event id hash — AUROC ≈ 0.5).
    // Both share one model type (Option[LR]) so they fit one seam.
    val candidates = Seq(
      "logistic" -> (
        (train: org.apache.spark.sql.DataFrame) =>
          Option(graft.ml.Trainer.trainLogistic(train, 40, 0.01)),
        (m: Option[org.apache.spark.ml.classification.LogisticRegressionModel],
         test: org.apache.spark.sql.DataFrame) =>
          m.get.transform(test).select(col("eventId"), col("label"),
            org.apache.spark.sql.functions.element_at(
              org.apache.spark.ml.functions.vector_to_array(col("probability")), 2)
              .as("p_seizure"))),
      "coin_flip" -> (
        (_: org.apache.spark.sql.DataFrame) =>
          Option.empty[org.apache.spark.ml.classification.LogisticRegressionModel],
        (_: Option[org.apache.spark.ml.classification.LogisticRegressionModel],
         test: org.apache.spark.sql.DataFrame) =>
          test.select(col("eventId"), col("label"),
            (abs(hash(col("eventId"))) % 1000).cast("double")
              .divide(1000.0).as("p_seizure"))))
    val results = RunSequence.runNested(
      events, corpus, lit(true), col("ofold"), col("ifold"),
      outerK = 2, RunSequence.Config(k = 2))(candidates)
    assert(results.size == 2)
    results.foreach(r => info(s"nested outer ${r.outerFold}: " +
      s"chosen=${r.chosen} inner=${r.innerMeanAuroc} " +
      s"outerAuroc=${r.outer.heldOutAuroc}"))
    results.foreach { r =>
      assert(r.chosen == "logistic",
        s"outer ${r.outerFold}: inner CV chose ${r.chosen} " +
          s"(${r.innerMeanAuroc})")
      assert(r.innerMeanAuroc("logistic") > r.innerMeanAuroc("coin_flip"))
      assert(r.outer.heldOutAuroc > 0.9,
        s"outer ${r.outerFold}: held-out AUROC ${r.outer.heldOutAuroc} " +
          s"(train=${r.outer.nTrainEvents} aug=${r.outer.nTrainAugEvents} " +
          s"test=${r.outer.nTestEvents} tp=${r.outer.eventTp} " +
          s"fp=${r.outer.eventFp} tn=${r.outer.eventTn} fn=${r.outer.eventFn})")
      assert(r.outer.nTestEvents > 0)
    }
  }

  test("config-driven e2e: the SHIPPED nnConfig.json trains its own model class") {
    // the full user path: parse the reference's shipped config file,
    // compile its eventFilters, derive the RunSequence knobs, resolve
    // its modelClass through the dispatch registry, and TRAIN on a
    // planted corpus — every knob from the FILE, none hand-picked.
    // (cfg1 oracles the skeleton counts; this is the trainable leg.)
    import graft.config.ConfigBridge
    val doc = ConfigBridge.validateTop(
      ConfigBridge.loadResource("/osdb/nnConfig.json"))
    val efc = ConfigBridge.eventFilters(doc)
    val dp = ConfigBridge.dataProcessing(doc)
    val cfg = ConfigBridge.runSequenceConfig(dp, k = 3)
    assert(cfg.historyN == 5 && cfg.oversampleFactor == 1 &&
      cfg.extract.highPassHz == 0.5) // the file's values, not defaults
    val cand = RunSequence.NestedCandidate.forModelClass(
      ConfigBridge.modelClass(doc), ConfigBridge.subtypeWeights(doc))
    assert(cand.basis == "features") // rfModel.RfModel

    val n = 9
    val specs = (0 until n).flatMap { i =>
      Seq(
        EventSpec(s"SZ$i", "seizure sim", typeStr = "seizure",
          durationSecs = 40.0,
          components = Seq(
            Component("gravity", 0, 0.0, 1000.0, 0.0, 0.0, 1e9),
            Component("tremor", 0, 4.0 + (i % 3) * 0.2, 200.0 + 10.0 * i,
              22.5 * i, 2.0, 38.0))),
        EventSpec(s"OK$i", "normal sim", typeStr = "falseAlarm",
          durationSecs = 40.0,
          components = Seq(
            Component("gravity", 0, 0.0, 1000.0, 0.0, 0.0, 1e9),
            Component("sway", 0, 0.4 + 0.02 * i, 40.0 + 5.0 * i,
              10.0 * i, 0.0, 1e9))))
    }
    val corpus = SimulatedEvents(spark, specs)
    import spark.implicits._
    // the FILTER-facing event frame (the reference's event fields):
    // one PhoneApp event per class planted so the file's
    // excludeDataSources clause has real work to do
    val events = (0 until n).flatMap { i =>
      Seq(
        (s"SZ$i", "Seizure", "other",
          if (i == n - 1) "PhoneApp" else "GarminSDA", i % 3),
        (s"OK$i", "False Alarm", "other",
          if (i == n - 1) "PhoneApp" else "BangleJS", i % 3))
    }.toDF("id", "type", "subType", "dataSourceName", "fold0")
      .withColumn("desc", lit(null).cast("string"))
      .withColumn("has3dData", lit(true))
      .withColumn("hasHrData", lit(true))
      .withColumn("hasO2SatData", lit(true))
    val select = graft.operators.EventFilters.compile(efc)
    // the compiled file predicate drops exactly the planted PhoneApp pair
    assert(events.filter(select).count() == 2L * n - 2)
    val results = RunSequence.runWith(
      events, corpus, select, col("fold0"), cfg)(cand.fit, cand.score)
    assert(results.size == cfg.k)
    results.foreach { fr =>
      assert(fr.heldOutAuroc > 0.9,
        s"fold ${fr.fold}: config-driven RF held-out AUROC only ${fr.heldOutAuroc}")
      assert(fr.nTrainAugEvents == fr.nTrainEvents,
        "oversample=none in the file must mean NO copy augmentation")
    }
  }

  test("run(): planted-separable corpus learns every fold; counts match the skeleton") {
    val n = 12
    val specs = (0 until n).flatMap { i =>
      Seq(
        EventSpec(s"SZ$i", "seizure sim", typeStr = "seizure",
          durationSecs = 30.0,
          components = Seq(
            Component("gravity", 0, 0.0, 1000.0, 0.0, 0.0, 1e9),
            Component("tremor", 0, 3.0 + (i % 4) * 0.8, 200.0 + 10.0 * i,
              22.5 * i, 2.0, 28.0))),
        EventSpec(s"OK$i", "normal sim", typeStr = "falseAlarm",
          durationSecs = 30.0,
          components = Seq(
            Component("gravity", 0, 0.0, 1000.0, 0.0, 0.0, 1e9),
            Component("sway", 0, 0.4 + 0.02 * i, 40.0 + 5.0 * i,
              10.0 * i, 0.0, 1e9))))
    }
    val corpus = SimulatedEvents(spark, specs)
    val events = evFrame((0 until n).flatMap { i =>
      Seq(
        (s"SZ$i", "Seizure",
          if (i % 4 == 0) "Tonic-Clonic" else "other", i % 3),
        (s"OK$i", "False Alarm", "other", i % 3))
    })
    val cfg = RunSequence.Config(historyN = 2, maxIter = 30,
      extract = FeatureExtract.Config(highPassHz = 0.0))
    val results = RunSequence.run(events, corpus, lit(true), col("fold0"), cfg)
    assert(results.size == cfg.k)
    val sk = skeletonOf(events, corpus, cfg).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    results.foreach { fr =>
      assert(fr.heldOutAuroc > 0.9,
        s"fold ${fr.fold}: held-out AUROC only ${fr.heldOutAuroc}")
      assert(fr.nTrainEvents == sk((fr.fold.toLong, "train"))._1)
      assert(fr.nTrainAugEvents == sk((fr.fold.toLong, "train_aug"))._1)
      assert(fr.nTestEvents == sk((fr.fold.toLong, "test"))._1)
      assert(fr.eventTp + fr.eventFp + fr.eventTn + fr.eventFn ==
        fr.nTestEvents)
      assert(sk((fr.fold.toLong, "guard")) == ((0L, 0L)))
    }
  }

  test("runNestedBases: inner CV arbitrates ACROSS bases — a window-basis CNN beats a features-basis dud") {
    val n = 12
    // same narrow-band planted corpus as the runNested test (see that
    // test's note on fold/frequency aliasing)
    val specs = (0 until n).flatMap { i =>
      Seq(
        EventSpec(s"SZ$i", "seizure sim", typeStr = "seizure",
          durationSecs = 30.0,
          components = Seq(
            Component("gravity", 0, 0.0, 1000.0, 0.0, 0.0, 1e9),
            Component("tremor", 0, 4.0 + (i % 3) * 0.1, 200.0 + 10.0 * i,
              22.5 * i, 2.0, 28.0))),
        EventSpec(s"OK$i", "normal sim", typeStr = "falseAlarm",
          durationSecs = 30.0,
          components = Seq(
            Component("gravity", 0, 0.0, 1000.0, 0.0, 0.0, 1e9),
            Component("sway", 0, 0.4 + 0.02 * i, 40.0 + 5.0 * i,
              10.0 * i, 0.0, 1e9))))
    }
    val corpus = SimulatedEvents(spark, specs)
    import spark.implicits._
    val events = (0 until n).flatMap { i =>
      Seq((s"SZ$i", "Seizure", "other", i % 2, (i / 2) % 2),
        (s"OK$i", "False Alarm", "other", i % 2, (i / 2) % 2))
    }.toDF("id", "type", "subType", "ofold", "ifold")
    // features-basis candidate: a deterministic hash scorer (AUROC ~0.5)
    // — the point is the ARBITRATION, so the features side must lose;
    // window-basis candidate: the real CNN family
    val dud = RunSequence.NestedCandidate.features[Unit]("dud_features")((
      (_: org.apache.spark.sql.DataFrame) => (),
      (_: Unit, test: org.apache.spark.sql.DataFrame) =>
        test.select(col("eventId"), col("label"),
          (abs(hash(col("eventId"))) % 1000).cast("double")
            .divide(1000.0).as("p_seizure"))))
    val cnn = RunSequence.NestedCandidate.windows("cnn_window")(
      RunSequence.cnnFamily(
        graft.ml.Cnn.Config(nFilters = 3, width = 9, maxIter = 60)))
    val results = RunSequence.runNestedBases(
      events, corpus, lit(true), col("ofold"), col("ifold"),
      outerK = 2, RunSequence.Config(k = 2), bufferSamples = 125)(
      Seq(dud, cnn))
    assert(results.size == 2)
    results.foreach { r =>
      assert(r.chosen == "cnn_window",
        s"outer ${r.outerFold}: inner CV chose ${r.chosen} (${r.innerMeanAuroc})")
      assert(r.innerMeanAuroc("cnn_window") > r.innerMeanAuroc("dud_features"))
      // the winner retrain ran on the WINDOW basis: the model is a CNN
      // with the trained input length pinned to the buffer
      assert(r.outer.model.asInstanceOf[graft.ml.Cnn.CnnModel].window == 125)
      assert(r.outer.heldOutAuroc > 0.9,
        s"outer ${r.outerFold}: held-out AUROC ${r.outer.heldOutAuroc}")
    }
  }

  test("runNestedBases: the SPECTROGRAM basis joins the candidate grid — spec-CNN beats a features-basis dud") {
    val n = 12
    val specs = (0 until n).flatMap { i =>
      Seq(
        EventSpec(s"SZ$i", "seizure sim", typeStr = "seizure",
          durationSecs = 30.0,
          components = Seq(
            Component("gravity", 0, 0.0, 1000.0, 0.0, 0.0, 1e9),
            Component("tremor", 0, 4.0 + (i % 3) * 0.1, 200.0 + 10.0 * i,
              22.5 * i, 2.0, 28.0))),
        EventSpec(s"OK$i", "normal sim", typeStr = "falseAlarm",
          durationSecs = 30.0,
          components = Seq(
            Component("gravity", 0, 0.0, 1000.0, 0.0, 0.0, 1e9),
            Component("sway", 0, 0.4 + 0.02 * i, 40.0 + 5.0 * i,
              10.0 * i, 0.0, 1e9))))
    }
    val corpus = SimulatedEvents(spark, specs)
    import spark.implicits._
    val events = (0 until n).flatMap { i =>
      Seq((s"SZ$i", "Seizure", "other", i % 2, (i / 2) % 2),
        (s"OK$i", "False Alarm", "other", i % 2, (i / 2) % 2))
    }.toDF("id", "type", "subType", "ofold", "ifold")
    val dud = RunSequence.NestedCandidate.features[Unit]("dud_features")((
      (_: org.apache.spark.sql.DataFrame) => (),
      (_: Unit, test: org.apache.spark.sql.DataFrame) =>
        test.select(col("eventId"), col("label"),
          (abs(hash(col("eventId"))) % 1000).cast("double")
            .divide(1000.0).as("p_seizure"))))
    val specCfg = graft.ml.SpecCnn.Config(channels = Seq(2, 2), maxIter = 50)
    val spec = RunSequence.NestedCandidate.spectrogram("spec_cnn")(
      RunSequence.specFamily(specCfg, windowSamples = 125))
    val results = RunSequence.runNestedBases(
      events, corpus, lit(true), col("ofold"), col("ifold"),
      outerK = 2, RunSequence.Config(k = 2), bufferSamples = 125,
      specCfg = specCfg)(Seq(dud, spec))
    assert(results.size == 2)
    results.foreach { r =>
      assert(r.chosen == "spec_cnn",
        s"outer ${r.outerFold}: inner CV chose ${r.chosen} (${r.innerMeanAuroc})")
      assert(r.innerMeanAuroc("spec_cnn") > r.innerMeanAuroc("dud_features"))
      // winner retrain ran on the SPECTROGRAM basis: geometry pinned to
      // the 125-sample buffer's image (25 bins × 4 slices)
      val m = r.outer.model.asInstanceOf[graft.ml.SpecCnn.SpecCnnModel]
      assert(m.nFreq == 25 && m.nSpec == 4)
      assert(r.outer.heldOutAuroc > 0.9,
        s"outer ${r.outerFold}: held-out AUROC ${r.outer.heldOutAuroc}")
    }
  }

  test("forModelClass: the reference's modelClass strings resolve to family + basis; unknown loud") {
    import RunSequence.NestedCandidate
    val expected = Seq(
      "rfModel.RfModel" -> "features",
      "nnModel.NnModel" -> "features",
      "cnnModel.CnnModel" -> "window",
      "amberModel.AmberModel" -> "window",
      "deepEpiCnnModel.DeepEpiCnnModel" -> "window",
      "deepEpiCnnModel_torch.DeepEpiCnnModelPyTorch" -> "window", // the auto-convert quirk
      "specCnnModel.SpecCnnModel" -> "spectrogram")
    expected.foreach { case (name, basis) =>
      val c = NestedCandidate.forModelClass(name)
      assert(c.name == name && c.basis == basis,
        s"$name resolved to basis ${c.basis}, expected $basis")
    }
    val e = intercept[IllegalArgumentException](
      NestedCandidate.forModelClass("noSuch.Model"))
    assert(e.getMessage.contains("unknown modelClass"))
  }

  test("runNestedBases: out-of-range fold columns fail loudly") {
    import spark.implicits._
    val events = (0 until 8).map(i =>
      (s"E$i", "Seizure", "other", i % 2, i % 3))
      .toDF("id", "type", "subType", "ofold", "ifold")
    val fits = new java.util.concurrent.atomic.AtomicInteger
    val dud = RunSequence.NestedCandidate.features[Unit]("d")((
      (_: org.apache.spark.sql.DataFrame) => { fits.incrementAndGet(); () },
      (_: Unit, t: org.apache.spark.sql.DataFrame) =>
        t.select(col("eventId"), col("label"), lit(0.5).as("p_seizure"))))
    def nested(outer: org.apache.spark.sql.Column,
               inner: org.apache.spark.sql.Column) =
      RunSequence.runNestedBases(events, miniDps(Seq("E0")), lit(true),
        outer, inner, outerK = 2, RunSequence.Config(k = 2))(Seq(dud))
    val nullOnE3 = (c: String) =>
      when(col("id") === "E3", lit(null)).otherwise(col(c))
    // ifold reaches 2 but cfg.k = 2 — those events would sit in every
    // inner training slice and no validation slice; a null inner fold
    // would do the same. A null outer fold would put E3 in every outer
    // training slice, never tested and never in an inner CV; an empty
    // outer fold would test on nothing.
    Seq(
      "outer null" -> (() => nested(nullOnE3("ofold"), col("ifold") % 2)) ->
        "outerFoldOf evaluated to NULL on 1 rows",
      "inner null" -> (() => nested(col("ofold"), nullOnE3("ifold") % 2)) ->
        "innerFoldOf evaluated to NULL on 1 rows",
      "outer out of range" -> (() => nested(col("ofold") + 1, col("ifold") % 2)) ->
        "outerFoldOf out of range 0..1: saw [1, 2]",
      "inner out of range" -> (() => nested(col("ofold"), col("ifold"))) ->
        "innerFoldOf out of range 0..1: saw [0, 2]",
      "outer empty" -> (() => nested(lit(0), col("ifold") % 2)) ->
        "outer fold(s) 1 have no events"
    ).foreach { case ((what, run), msg) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains(msg), s"$what: ${e.getMessage}")
    }
    assert(fits.get == 0, s"fit ran ${fits.get} times before the guard")
    val e2 = intercept[IllegalArgumentException](
      RunSequence.runNestedBases(events, miniDps(Seq("E0")), lit(true),
        col("ofold"), col("ifold") % 2, outerK = 2,
        RunSequence.Config(k = 2))(Seq(dud.copy(basis = "nope"))))
    assert(e2.getMessage.contains("unknown candidate basis"))
  }

  test("M13 through the composed run: the fold loop hands subType to fit; the weight column resolves") {
    // every fold's test slice holds BOTH classes (AUROC needs them)
    val events = evFrame(Seq(
      ("E0", "Seizure", "Tonic-Clonic", 0),
      ("E1", "False Alarm", "other", 0),
      ("E2", "Seizure", "other", 1),
      ("E3", "False Alarm", "Tonic-Clonic", 1),
      ("E4", "Seizure", "other", 2),
      ("E5", "False Alarm", "other", 2)))
    val cfg = RunSequence.Config(historyN = 2,
      extract = FeatureExtract.Config(highPassHz = 0.0))
    // the folds train concurrently: record every fold's view
    val seenCols = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]
    val tcWeighted = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val fit = (train: org.apache.spark.sql.DataFrame) => {
      seenCols.add(train.columns.toSeq)
      // the reference's nnConfig subtypeWeights knob must be derivable
      // HERE, inside the composed loop — subType values flow with rows
      tcWeighted.add(train.withColumn("w",
          graft.ml.Trainer.subtypeWeightCol(Map("Tonic-Clonic" -> 10.0)))
        .filter(col("w") === 10.0).count())
      ()
    }
    val score = (_: Unit, test: org.apache.spark.sql.DataFrame) =>
      test.select(col("eventId"), col("label"), lit(0.5).as("p_seizure"))
    // the epoch label rides the DPS' type column, so the dp fixture
    // must carry each event's true class (miniDps hardcodes Seizure)
    val dps = {
      import spark.implicits._
      spark.createDataset(for {
        (id, i) <- Seq("E0", "E1", "E2", "E3", "E4", "E5").zipWithIndex
        d <- 0 until 4
      } yield {
        val base = dp(id, 1000L + i * 10000L + d * 5L, d.toLong, acc = true)
        if (i % 2 == 0) base
        else base.copy(typeStr = "False Alarm", `type` = 0)
      })
    }
    val rs = RunSequence.runWith(events, dps,
      lit(true), col("fold0"), cfg)(fit, score)
    assert(rs.size == cfg.k)
    import scala.jdk.CollectionConverters._
    assert(seenCols.asScala.forall(_.contains("subType")),
      s"fold training frame lost subType: $seenCols")
    // TC-weighted epoch rows (3 epochs per event) per training slice:
    // fold 0 trains on folds 1+2, TC = E3 (x1) -> 3; fold 1 on folds
    // 0+2, TC = E0's 4 copies -> 12; fold 2 on folds 0+1 = E0 (seizure
    // TC, x4), E1 (x1), E2 (seizure, x2), E3 (TC, x1) -> 5 events, 15
    assert(tcWeighted.asScala.toSeq.sorted == Seq(3L, 12L, 15L),
      s"TC-weighted epoch rows: $tcWeighted")
  }

  /** Six events, two per fold, both classes in every fold. */
  private def foldEvents = evFrame(Seq(
    ("F0a", "Seizure", "Tonic-Clonic", 0),
    ("F1a", "Seizure", "other", 1),
    ("F2a", "Seizure", "other", 2),
    ("F0b", "False Alarm", "other", 0),
    ("F1b", "False Alarm", "Tonic-Clonic", 1),
    ("F2b", "False Alarm", "other", 2)))

  /** [[foldEvents]]' datapoints; the epoch label rides the datapoint
    * type, so the "b" (false alarm) events carry class 0. */
  private def foldDps = {
    import spark.implicits._
    spark.createDataset(for {
      (id, i) <- Seq("F0a", "F1a", "F2a", "F0b", "F1b", "F2b").zipWithIndex
      d <- 0 until 4
    } yield {
      val base = dp(id, 1000L + i * 10000L + d * 5L, d.toLong, acc = true)
      if (id.endsWith("a")) base else base.copy(typeStr = "False Alarm", `type` = 0)
    })
  }

  /** A model-free family: `fit` returns Unit, `score` a constant. */
  private val constScore = (_: Unit, test: org.apache.spark.sql.DataFrame) =>
    test.select(col("eventId"), col("label"), lit(0.5).as("p_seizure"))

  test("runWith: an empty fold fails loud before any fit") {
    // k = 2 with every event in fold 0: fold 0's training slice is empty
    val events = evFrame(Seq(
      ("E0", "Seizure", "other", 0),
      ("E1", "False Alarm", "other", 0)))
    val cfg = RunSequence.Config(k = 2, historyN = 2,
      extract = FeatureExtract.Config(highPassHz = 0.0))
    val fits = new java.util.concurrent.atomic.AtomicInteger
    val e = intercept[IllegalArgumentException] {
      RunSequence.runWith(events, miniDps(Seq("E0", "E1")), lit(true),
        col("fold0"), cfg)(
        train => { fits.incrementAndGet()
          graft.ml.Trainer.trainLogistic(train, cfg.maxIter, cfg.regParam) },
        (m: org.apache.spark.ml.classification.LogisticRegressionModel,
         test: org.apache.spark.sql.DataFrame) =>
          m.transform(test).select(col("eventId"), col("label"),
            lit(0.5).as("p_seizure")))
    }
    assert(e.getMessage.contains("fold(s) 1 have no events"), e.getMessage)
    assert(fits.get == 0, s"fit ran ${fits.get} times before the guard")
  }

  test("every flat k-fold entry point rejects a null or out-of-range fold with the one validator's message") {
    val cfg = RunSequence.Config(historyN = 2,
      extract = FeatureExtract.Config(highPassHz = 0.0))
    val dps = foldDps
    val fits = new java.util.concurrent.atomic.AtomicInteger
    type C = org.apache.spark.sql.Column
    val entries = Seq[(String, C => Any)](
      ("skeleton", (f: C) => RunSequence.skeleton(foldEvents, dps, lit(true), f, cfg)),
      ("auditFrame", (f: C) => RunSequence.auditFrame(foldEvents, lit(true), f, cfg)),
      ("paramSweep", (f: C) => RunSequence.paramSweep(foldEvents, dps, lit(true),
        f, cfg, sweeps = Seq("oversampleFactor" -> Seq(3L)))),
      ("runWith", (f: C) => RunSequence.runWith(foldEvents, dps, lit(true), f, cfg)(
        _ => { fits.incrementAndGet(); () }, constScore)))
    val folds = Seq(
      when(col("id") === "F1b", lit(null)).otherwise(col("fold0")) ->
        "foldOf evaluated to NULL on 1 rows",
      (col("fold0") + 2) -> "foldOf out of range 0..2: saw [2, 4]")
    for ((name, entry) <- entries; (fold, msg) <- folds) {
      val e = intercept[IllegalArgumentException](entry(fold))
      assert(e.getMessage.contains(msg), s"$name: ${e.getMessage}")
    }
    assert(fits.get == 0, s"fit ran ${fits.get} times before the guard")
  }

  test("only foldCountsOf says a fold column is NULL or out of range") {
    import scala.jdk.CollectionConverters._
    val phrases = Seq("evaluated to NULL", "out of range 0..")
    val defLine = """^\s*(?:(?:private|protected|override|final|implicit)(?:\[\w+\])?\s+)*def\s+(\w+)""".r
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    // each phrase's enclosing function: the nearest def above its line
    val sites = (for (f <- files(root)) yield {
      var enclosing = "<file scope>"
      java.nio.file.Files.readAllLines(f.toPath).asScala.flatMap { line =>
        defLine.findFirstMatchIn(line).foreach(m => enclosing = m.group(1))
        if (phrases.exists(line.contains)) Some(s"${f.getName}:$enclosing") else None
      }
    }).flatten.distinct
    assert(sites == Seq("RunSequence.scala:foldCountsOf"), sites.mkString(", "))
  }

  test("runWith: a failing fold surfaces unwrapped and no pinned frame leaks") {
    val cfg = RunSequence.Config(historyN = 2,
      extract = FeatureExtract.Config(highPassHz = 0.0))
    val dps = foldDps
    val before = Scoped.cachedPartitions(spark)
    val e = intercept[IllegalStateException] {
      RunSequence.runWith(foldEvents, dps, lit(true), col("fold0"), cfg)(
        train => {
          // fold 1's training slice is the one without fold-1 ids
          val ids = train.select("eventId").collect().map(_.getString(0))
          if (!ids.exists(_.startsWith("F1"))) throw new IllegalStateException("fold 1 fit")
          ()
        }, constScore)
    }
    assert(e.getMessage == "fold 1 fit")
    val after = Scoped.cachedPartitions(spark)
    assert(after <= before, s"cached partitions grew: $before -> $after")
  }

  test("runWith: fold training counts equal the skeleton's train and train_aug rows") {
    val cfg = RunSequence.Config(historyN = 2,
      extract = FeatureExtract.Config(highPassHz = 0.0))
    val dps = foldDps
    val rs = RunSequence.runWith(foldEvents, dps, lit(true), col("fold0"), cfg)(
      _ => (), constScore)
    val sk = RunSequence.skeleton(foldEvents, dps, lit(true), col("fold0"), cfg)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rs.map(_.fold) == Seq(0, 1, 2))
    rs.foreach { fr =>
      assert(fr.nTrainEvents == sk((fr.fold.toLong, "train")))
      assert(fr.nTrainAugEvents == sk((fr.fold.toLong, "train_aug")))
      assert(fr.nTestEvents == sk((fr.fold.toLong, "test")))
    }
    // plan multiplicities: seizure x2, seizure TC x4, others x1, so
    // fold 0 trains on F1a x2 + F2a x2 + F1b + F2b = 6 plan rows
    assert(rs.map(_.nTrainAugEvents) == Seq(6L, 8L, 8L))
    assert(rs.map(_.nTrainEvents) == Seq(4L, 4L, 4L))
  }

  // ------------------------------------------------------- parameter sweep

  private def sweepEvents = evFrame(Seq(
    ("E0", "Seizure", "Tonic-Clonic", 0),
    ("E1", "False Alarm", "other", 1),
    ("E2", "Seizure", "other", 0),
    ("E3", "Unknown", "other", 1))) // excluded by select

  test("paramSweep: baseline block == skeleton; each knob reshapes exactly its run") {
    val base = RunSequence.Config(historyN = 2,
      extract = FeatureExtract.Config(highPassHz = 0.0))
    val dps = miniDps(Seq("E0", "E1", "E2", "E3"))
    val sw = RunSequence.paramSweep(
      sweepEvents, dps, col("type") =!= "Unknown", col("fold0"), base,
      sweeps = Seq("oversampleFactor" -> Seq(3L), "historyN" -> Seq(3L)))
    val rows = sw.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)) ->
        (r.getLong(4), r.getLong(5))).toMap
    assert(rows.size == 3 * 12, s"3 runs x 12 stage rows, got ${rows.size}")
    // baseline block is exactly the skeleton's frame
    val sk = RunSequence.skeleton(sweepEvents, dps,
        col("type") =!= "Unknown", col("fold0"), base)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    sk.foreach { case ((f, stage), v) =>
      assert(rows(("baseline", -1L, f, stage)) == v,
        s"baseline ($f, $stage): ${rows(("baseline", -1L, f, stage))} != $v")
    }
    // oversampleFactor=3: E0 (TC seizure) x6, E2 (seizure) x3, E1 x1 —
    // fold 1 trains on E0+E2 -> 9 plan events, 27 epochs (nEp = 3)
    assert(rows(("oversampleFactor", 3L, 1L, "train_aug")) == ((9L, 27L)))
    // ...and leaves the un-augmented stages at the baseline's values
    assert(rows(("oversampleFactor", 3L, 1L, "train")) ==
      rows(("baseline", -1L, 1L, "train")))
    // historyN=3: one more dropped epoch per event (nEp = 4 - 2 = 2)
    assert(rows(("historyN", 3L, 2L, "train")) == ((3L, 6L)))
    assert(rows(("historyN", 3L, 1L, "train_aug")) == ((6L, 12L)))
    // the guard stage is zero in EVERY run
    rows.foreach { case ((p, v, f, stage), n) =>
      if (stage == "guard") assert(n == ((0L, 0L)), s"guard ($p,$v,$f): $n")
    }
  }

  test("paramSweep memoization: one extraction unless window/step is swept; unknown knob fails") {
    val base = RunSequence.Config(historyN = 2,
      extract = FeatureExtract.Config(highPassHz = 0.0))
    val dps = miniDps(Seq("E0", "E1", "E2", "E3"))
    // three runs, none touching extract -> ONE materialized config
    val (df1, cfgs1, evws1) = RunSequence.paramSweepWithStats(
      sweepEvents, dps, col("type") =!= "Unknown", col("fold0"), base,
      sweeps = Seq("oversampleFactor" -> Seq(3L, 4L), "tcAugFac" -> Seq(2L)))
    assert(df1.count() == 4 * 12)
    assert(cfgs1 == Seq(base.extract),
      s"extraction ran for ${cfgs1.size} configs, expected the shared one")
    // the history-stage receipt: all four runs share historyN, so ONE
    // evW frame was materialized for the whole sweep
    assert(evws1 == Seq((base.extract, base.historyN)), s"got $evws1")
    // a step sweep forces exactly one extra extraction per new value
    val (df2, cfgs2, evws2) = RunSequence.paramSweepWithStats(
      sweepEvents, dps, col("type") =!= "Unknown", col("fold0"), base,
      sweeps = Seq("step" -> Seq(250L), "oversampleFactor" -> Seq(3L)))
    assert(df2.count() == 3 * 12)
    assert(cfgs2 == Seq(base.extract, base.extract.copy(step = 250)),
      s"got $cfgs2")
    // a step sweep forces a second evW (its extract differs); a
    // historyN sweep would force one via the key's second component
    assert(evws2 == Seq((base.extract, base.historyN),
      (base.extract.copy(step = 250), base.historyN)), s"got $evws2")
    // fail-loud on a typo'd knob
    intercept[IllegalArgumentException](
      RunSequence.withKnob(base, "n_estimatorz", 10L))
    // fail-loud on a 'k' sweep: the fold column was evaluated against
    // the baseline k, so a k re-run would compare silently-wrong splits
    val ke = intercept[IllegalArgumentException](
      RunSequence.paramSweepWithStats(
        sweepEvents, dps, col("type") =!= "Unknown", col("fold0"), base,
        sweeps = Seq("k" -> Seq(5L))))
    assert(ke.getMessage.contains("not sweepable"))
  }
}
