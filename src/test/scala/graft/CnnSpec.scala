package graft

import org.apache.spark.sql.functions._

import graft.ml.Cnn
import graft.sources.SimulatedEvents
import graft.sources.SimulatedEvents.{Component, EventSpec}
import graft.streaming.{NnAlg, Replay}

/** The in-engine 1-D CNN ([[graft.ml.Cnn]]) — the round-12 verdict's
  * missing-#2 architecture boundary:
  *
  *   - the Catalyst forward pass ([[Cnn.logitCol]]) is BIT-IDENTICAL
  *     to the JVM loop ([[Cnn.forward]]) the streaming scorer runs —
  *     same accumulation order, pinned on float weights/windows where
  *     nothing is integer-exact;
  *   - LBFGS-over-treeAggregate training learns a planted-separable
  *     raw-window corpus (held-out, event-disjoint);
  *   - the trained net deploys into the SAME replay FSM as the LR/MLP
  *     models ([[Cnn.deployedCnn]]) and fires on seizures only;
  *   - the serve-time window contract is fail-loud.
  */
class CnnSpec extends SparkSpec {

  /** Seizure = 3-6 Hz tremor burst over gravity; normal = slow sway —
    * the same planted physics as TrainerSpec, consumed here as RAW
    * windows (M8 dp2vectors), not P12 features: the CNN must learn the
    * discriminating local pattern itself. */
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

  test("scorer's probability == scoreWindows' p_seizure bit for bit (20k logits)") {
    import spark.implicits._
    // logit = bias + max(0, x): a one-tap model sweeps the logit over
    // [-10, 10). Every family's replay scorer uses this sigmoid
    // (DetAgg.sigmoid); math.exp differs from Spark's StrictMath.exp in
    // the last bit on a few percent of such logits.
    val m = Cnn.CnnModel(1, 1, 1, filters = Array(1.0),
      filterBias = Array(0.0), dense = Array(1.0), bias = -10.0,
      mean = 0.0, std = 1.0)
    val rnd = new scala.util.Random(5)
    val xs = Seq.fill(20000)(rnd.nextDouble() * 20.0)
    val got = Cnn.scoreWindows(m, xs.map(x => Tuple1(Array(x))).toDF("window"))
      .select(col("window")(0), col("p_seizure")).collect()
    assert(got.length == xs.length)
    val bad = got.count(r => Cnn.scorer(m)(Array(r.getDouble(0))) != r.getDouble(1))
    assert(bad == 0, s"$bad of ${got.length} probabilities differ")
  }

  test("logitCol == forward bit-exactly (float weights, float windows)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val nf = 3; val w = 5; val win = 40
    val m = Cnn.CnnModel(nf, w, win,
      filters = Array.fill(nf * w)(rnd.nextGaussian()),
      filterBias = Array.fill(nf)(rnd.nextGaussian() * 0.1),
      dense = Array.fill(nf)(rnd.nextGaussian()),
      bias = rnd.nextGaussian(),
      mean = 0.73, std = 1.91)
    val rows = (0 until 20).map(i =>
      (i, Array.fill(win)(rnd.nextGaussian() * 500 + 900)))
    val df = rows.toDF("i", "window")
    val got = df.select(col("i"), Cnn.logitCol(m, col("window")).as("z"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    rows.foreach { case (i, x) =>
      val want = Cnn.forward(m, x)
      assert(got(i) == want, // exact ==, not a tolerance: same op order
        s"row $i: column $got(i) != jvm $want")
    }
  }

  test("short window: logitCol is NULL, forward is loud") {
    import spark.implicits._
    val m = Cnn.CnnModel(1, 4, 4, Array(1.0, 1, 1, 1), Array(0.0),
      Array(1.0), 0.0, 0.0, 1.0)
    val df = Seq(Array(1.0, 2, 3)).toDF("window")
    assert(df.select(Cnn.logitCol(m, col("window"))).head().isNullAt(0))
    intercept[IllegalArgumentException](Cnn.forward(m, Array(1.0, 2, 3)))
  }

  test("train: planted raw-window corpus learns (held-out, event-disjoint)") {
    val trainDf = windows.filter(
      expr("CAST(substring(eventId, 3) AS INT) % 2 = 0"))
    val heldOut = windows.filter(
      expr("CAST(substring(eventId, 3) AS INT) % 2 = 1"))
    val model = Cnn.train(trainDf, Cnn.Config(maxIter = 100))
    assert(model.window == 125)
    val scored = Cnn.scoreWindows(model, heldOut)
      .select(col("eventId"), col("label"), col("p_seizure"))
    val a = graft.ml.Trainer.auroc(scored)
    assert(a > 0.95, s"CNN held-out AUROC only $a")

    // batch (column) and serve (closure) scoring agree bit for bit: both
    // run the one forward kernel, and both sigmoids use StrictMath.exp.
    // One collect: limit() without an order can pick different rows per
    // execution.
    Cnn.scoreWindows(model, heldOut.limit(3))
      .select(col("window"), col("logit"), col("p_seizure"))
      .collect().foreach { r =>
        val win = r.getAs[Seq[Double]]("window").toArray
        assert(Cnn.forward(model, win) == r.getAs[Double]("logit"))
        val pc = Cnn.scorer(model)(win)
        assert(pc == r.getAs[Double]("p_seizure"),
          s"closure $pc vs column ${r.getAs[Double]("p_seizure")}")
      }

    // deploy: the trained CNN inside the same alarm FSM as LR/MLP
    def replayAlarms(eventId: String): Long = {
      import spark.implicits._
      val dps = corpus.filter(_.eventId == eventId)
        .map(d => graft.streaming.ReplayDp(d.eventId, d.tsSec, d.hr, 0L,
          d.rawData, d.rawData3D, d.seq))
      Replay.replayBatchWith(dps, Seq(() => Cnn.deployedCnn(model)))
        .filter(col("alarmState") === 2).count()
    }
    assert(replayAlarms("SZ1") > 0, "CNN detector never alarmed on a seizure")
    assert(replayAlarms("OK1") == 0, "CNN detector false-alarmed on normal")
  }

  test("serve window contract: wrong buffer length is loud, deployedCnn pins it") {
    val m = Cnn.CnnModel(1, 4, 125, Array(1.0, 1, 1, 1), Array(0.0),
      Array(1.0), 0.0, 0.0, 1.0)
    val e = intercept[IllegalArgumentException](
      Cnn.scorer(m)(new Array[Double](64)))
    assert(e.getMessage.contains("trained window"))
    // the BATCH path enforces the same contract (scoreWindows raises,
    // never convolves a wrong-length window into a wrong score)
    import spark.implicits._
    val be = intercept[Exception](
      Cnn.scoreWindows(m, Seq(Array.fill(64)(1.0)).toDF("window"))
        .collect())
    val bmsg = be.getMessage +
      Option(be.getCause).map(_.getMessage).getOrElse("")
    assert(bmsg.contains("trained window"), bmsg.take(300))
    val alg = Cnn.deployedCnn(m)
    // the assembled detector's buffer matches the trained window by
    // construction — scoring a full buffer must NOT throw
    val p = Cnn.scorer(m)(new Array[Double](125))
    assert(p >= 0.0 && p <= 1.0)
    assert(alg.name == "NnAlg")
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
    val cfg = Cnn.Config(nFilters = 2, width = 3, maxIter = 80)
    val un = Cnn.train(df, cfg)
    val wt = Cnn.train(wdf, cfg, weightCol = Some("w"))
    assert(Cnn.scorer(un)(spike) < 0.5,
      s"unweighted already positive on the spike: ${Cnn.scorer(un)(spike)}")
    assert(Cnn.scorer(wt)(spike) > 0.5,
      s"weighted still negative on the spike: ${Cnn.scorer(wt)(spike)}")
    // neutral identity: an explicit all-1.0 weight column trains a
    // BIT-IDENTICAL model (1.0 multiplies exactly; weight sum == count)
    val id = Cnn.train(df.withColumn("w", lit(1.0)), cfg, weightCol = Some("w"))
    assert(id.filters.sameElements(un.filters) &&
      id.filterBias.sameElements(un.filterBias) &&
      id.dense.sameElements(un.dense) && id.bias == un.bias,
      "all-1.0 weights must reproduce the unweighted CNN bit-exactly")
  }
}
