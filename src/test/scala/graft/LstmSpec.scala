package graft

import org.apache.spark.sql.functions._

import graft.ml.Lstm
import graft.sources.SimulatedEvents
import graft.sources.SimulatedEvents.{Component, EventSpec}
import graft.streaming.Replay

/** The in-engine hard-gate LSTM ([[graft.ml.Lstm]]) — the RECURRENT
  * half of the round-12 verdict's missing-#2 architecture boundary
  * (the reference's AMBER family):
  *
  *   - the Catalyst forward pass ([[Lstm.logitCol]]) is BIT-IDENTICAL
  *     to the JVM loop ([[Lstm.forward]]) the streaming scorer runs —
  *     pinned on float weights/windows where nothing is integer-exact;
  *   - the hand-written BPTT gradient matches finite differences of
  *     the forward loss (the only honest gate on recurrence calculus);
  *   - LBFGS-over-treeAggregate training learns a planted-separable
  *     raw-window corpus (held-out, event-disjoint);
  *   - the trained net deploys into the SAME replay FSM as LR/MLP/CNN
  *     and the serve-time window contract is fail-loud.
  */
class LstmSpec extends SparkSpec {

  /** Same planted physics as CnnSpec: seizure = 3-6 Hz tremor burst
    * over gravity; normal = slow sway — consumed as RAW windows. */
  private lazy val corpus = {
    val specs = (0 until 16).flatMap { i =>
      Seq(
        EventSpec(s"SZ$i", "seizure sim", typeStr = "seizure",
          durationSecs = 60.0,
          components = Seq(
            Component("gravity", 0, 0.0, 1000.0, 0.0, 0.0, 1e9),
            Component("tremor", 0, 3.0 + (i % 4) * 0.8, 200.0 + 10.0 * i,
              22.5 * i, 5.0, 55.0))),
        EventSpec(s"OK$i", "normal sim", typeStr = "falseAlarm",
          durationSecs = 60.0,
          components = Seq(
            Component("gravity", 0, 0.0, 1000.0, 0.0, 0.0, 1e9),
            Component("sway", 0, 0.4 + 0.02 * i, 40.0 + 5.0 * i,
              10.0 * i, 0.0, 1e9))))
    }
    SimulatedEvents(spark, specs)
  }

  private lazy val windows = {
    val vecs = graft.streaming.NnBuffer.dp2vectors(corpus, bufferSamples = 125)
    vecs.toDF().select(
      col("eventId"),
      when(col("eventId").startsWith("SZ"), 1.0).otherwise(0.0).as("label"),
      col("vec").as("window"))
  }

  private def randomModel(seed: Int, h: Int, win: Int): Lstm.LstmModel = {
    val rnd = new scala.util.Random(seed)
    Lstm.LstmModel(h, win,
      wx = Array.fill(4 * h)(rnd.nextGaussian() * 0.6),
      wh = Array.fill(4 * h * h)(rnd.nextGaussian() * 0.4),
      b = Array.fill(4 * h)(rnd.nextGaussian() * 0.2),
      dense = Array.fill(h)(rnd.nextGaussian()),
      bias = rnd.nextGaussian() * 0.2,
      mean = 0.41, std = 1.37)
  }

  test("logitCol == forward bit-exactly (float weights, float windows)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val win = 40
    val m = randomModel(5, h = 3, win = win)
    val rows = (0 until 20).map(i =>
      (i, Array.fill(win)(rnd.nextGaussian() * 2 + 0.3)))
    val df = rows.toDF("i", "window")
    val got = df.select(col("i"), Lstm.logitCol(m, col("window")).as("z"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    rows.foreach { case (i, x) =>
      val want = Lstm.forward(m, x)
      assert(got(i) == want, // exact ==, not a tolerance: same op order
        s"row $i: column ${got(i)} != jvm $want")
    }
  }

  test("empty window: logitCol is NULL; wrong serve length is loud") {
    import spark.implicits._
    val m = randomModel(6, h = 2, win = 8)
    val df = Seq(Array.empty[Double]).toDF("window")
    assert(df.select(Lstm.logitCol(m, col("window"))).head().isNullAt(0))
    val e = intercept[IllegalArgumentException](
      Lstm.scorer(m)(new Array[Double](5)))
    assert(e.getMessage.contains("trained window"))
    // the BATCH path enforces the same contract
    val be = intercept[Exception](
      Lstm.scoreWindows(m, Seq(Array.fill(5)(1.0)).toDF("window"))
        .collect())
    val bmsg = be.getMessage +
      Option(be.getCause).map(_.getMessage).getOrElse("")
    assert(bmsg.contains("trained window"), bmsg.take(300))
    val p = Lstm.scorer(m)(new Array[Double](8))
    assert(p >= 0.0 && p <= 1.0)
    assert(Lstm.deployedLstm(m).name == "NnAlg")
  }

  test("BPTT gradient == finite differences of the forward loss") {
    val hN = 2
    val T = 7
    val nP = Lstm.nParams(hN)
    val rnd = new scala.util.Random(3)
    // NON-uniform per-row weights: the finite-difference gate then also
    // verifies the M13 weighted-loss calculus, not just the recurrence
    val rows = (0 until 6).map(i =>
      ((i % 2).toDouble, 0.5 + 0.25 * i, Array.fill(T)(rnd.nextGaussian())))
    val rdd = spark.sparkContext.parallelize(rows, 2)
    val p0 = Array.fill(nP)(rnd.nextGaussian() * 0.4)

    def lossAt(p: Array[Double]): Double = {
      val bw = spark.sparkContext.broadcast(p)
      try Lstm.gradientPass(rdd, bw, hN, 0.0, 1.0)._1
      finally bw.unpersist(false)
    }
    val bw0 = spark.sparkContext.broadcast(p0)
    val (_, grad) =
      try Lstm.gradientPass(rdd, bw0, hN, 0.0, 1.0)
      finally bw0.unpersist(false)

    val eps = 1e-6
    (0 until nP).foreach { j =>
      val pp = p0.clone(); pp(j) += eps
      val pm = p0.clone(); pm(j) -= eps
      val fd = (lossAt(pp) - lossAt(pm)) / (2 * eps)
      val err = math.abs(fd - grad(j)) / math.max(1.0, math.abs(grad(j)))
      assert(err < 1e-4,
        s"param $j: BPTT ${grad(j)} vs FD $fd (rel err $err)")
    }
  }

  test("train: planted raw-window corpus learns (held-out, event-disjoint)") {
    val trainDf = windows.filter(
      expr("CAST(substring(eventId, 3) AS INT) % 2 = 0"))
    val heldOut = windows.filter(
      expr("CAST(substring(eventId, 3) AS INT) % 2 = 1"))
    val model = Lstm.train(trainDf, Lstm.Config(nUnits = 4, maxIter = 100))
    assert(model.window == 125)
    val scored = Lstm.scoreWindows(model, heldOut)
      .select(col("eventId"), col("label"), col("p_seizure"))
    val a = graft.ml.Trainer.auroc(scored)
    assert(a > 0.9, s"LSTM held-out AUROC only $a")

    // batch (column) and serve (closure) scoring agree bit for bit: both
    // run the one forward kernel, and both sigmoids use StrictMath.exp.
    // One collect: limit() without an order can pick different rows per
    // execution.
    Lstm.scoreWindows(model, heldOut.limit(3))
      .select(col("window"), col("logit"), col("p_seizure"))
      .collect().foreach { r =>
        val win = r.getAs[Seq[Double]]("window").toArray
        assert(Lstm.forward(model, win) == r.getAs[Double]("logit"))
        val pc = Lstm.scorer(model)(win)
        assert(pc == r.getAs[Double]("p_seizure"),
          s"closure $pc vs column ${r.getAs[Double]("p_seizure")}")
      }

    // deploy: the trained LSTM inside the same alarm FSM as LR/MLP/CNN
    def replayAlarms(eventId: String): Long = {
      import spark.implicits._
      val dps = corpus.filter(_.eventId == eventId)
        .map(d => graft.streaming.ReplayDp(d.eventId, d.tsSec, d.hr, 0L,
          d.rawData, d.rawData3D, d.seq))
      Replay.replayBatchWith(dps, Seq(() => Lstm.deployedLstm(model)))
        .filter(col("alarmState") === 2).count()
    }
    assert(replayAlarms("SZ3") > 0, "LSTM detector never alarmed on a seizure")
    assert(replayAlarms("OK3") == 0, "LSTM detector false-alarmed on normal")
  }

  test("M13 subtype weighting: weighted loss flips the conflicted region; all-1.0 is bit-identical") {
    import spark.implicits._
    // IDENTICAL "spike" windows with CONFLICTING labels: 4 tonic-clonic
    // seizures vs 12 non-seizures. The unweighted loss writes the
    // pattern off (optimal p = 4/16); weight 10 on the TC subtype makes
    // those rows out-vote the 12 (p = 40/52) — the same decision-region
    // flip TrainerSpec pins for the LR family.
    val spike = Array.tabulate(16)(i => if (i == 5) 3.0 else 0.0)
    val pos = Array.fill(16)(2.0)
    val neg = Array.fill(16)(-2.0)
    val rows =
      (0 until 4).map(i => (s"tc$i", 1.0, "Tonic-Clonic", spike)) ++
      (0 until 12).map(i => (s"fa$i", 0.0, null: String, spike)) ++
      (0 until 20).map(i => (s"sz$i", 1.0, "other", pos)) ++
      (0 until 20).map(i => (s"ok$i", 0.0, null: String, neg))
    val df = rows.toDF("eventId", "label", "subType", "window")
    val wdf = df.withColumn("w",
      graft.ml.Trainer.subtypeWeightCol(Map("Tonic-Clonic" -> 10.0)))
    val cfg = Lstm.Config(nUnits = 2, maxIter = 100)
    val un = Lstm.train(df, cfg)
    val wt = Lstm.train(wdf, cfg, weightCol = Some("w"))
    assert(Lstm.scorer(un)(spike) < 0.5,
      s"unweighted already positive on the spike: ${Lstm.scorer(un)(spike)}")
    assert(Lstm.scorer(wt)(spike) > 0.5,
      s"weighted still negative on the spike: ${Lstm.scorer(wt)(spike)}")
    // neutral identity: an explicit all-1.0 weight column trains a
    // BIT-IDENTICAL model (1.0 multiplies exactly; weight sum == count)
    val id = Lstm.train(df.withColumn("w", lit(1.0)), cfg, weightCol = Some("w"))
    assert(id.wx.sameElements(un.wx) && id.wh.sameElements(un.wh) &&
      id.b.sameElements(un.b) && id.dense.sameElements(un.dense) &&
      id.bias == un.bias,
      "all-1.0 weights must reproduce the unweighted LSTM bit-exactly")
  }
}
