package graft

import org.apache.spark.sql.functions._

import graft.ml.ConvPipe
import graft.sources.SimulatedEvents
import graft.sources.SimulatedEvents.{Component, EventSpec}

/** The composed conv→recurrence architecture ([[ConvPipe]] — the
  * reference lstm_pipe trained end-to-end): the COMPOSED gradient
  * (conv backward fed by the recurrence's input gradient) matches
  * finite differences over EVERY parameter; training learns a planted
  * corpus; scoring is one projection matching the chained JVM loops. */
class ConvPipeSpec extends SparkSpec {

  test("composed end-to-end gradient == finite differences (conv -> bidir+mha stack)") {
    val cfg = ConvPipe.Config(
      blocks = Seq(ConvPipe.BlockSpec(2, 3), ConvPipe.BlockSpec(2, 3)),
      h1 = 2, h2 = 2, head = "mha", nHeads = 2, bidir = true)
    val W = 16 // -> (16-3+1)/2 = 7 -> (7-3+1)/2 = 2 recurrence steps
    val rnd = new scala.util.Random(37)
    val rows = (0 until 6).map(i =>
      ((i % 2).toDouble, 0.5 + 0.25 * i, Array.fill(W)(rnd.nextGaussian())))
    val rdd = spark.sparkContext.parallelize(rows, 2)
    // block0: 2·1·3 + 3·2 = 12; block1: 2·2·3 + 3·2 = 18; mix 2+1 = 3;
    // then the bidir+mha stack block
    val nP = 12 + 18 + 3 +
      graft.ml.LstmStack.nParams(2, 2, "mha", bidir = true, nHeads = 2)
    val p0 = Array.fill(nP)(rnd.nextGaussian() * 0.4)
    // keep the affine scales away from 0 so the conv path stays live
    // (block0 scale at 12+2..12+3, block1 at 12+18-4.. — set explicitly)
    p0(12 + 2) = 1.1; p0(12 + 3) = 0.9
    p0(12 + 18 - 4) = 1.05; p0(12 + 18 - 3) = 0.95
    def evalAt(p: Array[Double]) = {
      val bw = spark.sparkContext.broadcast(p)
      try ConvPipe.gradientPass(rdd, bw, cfg, W, 0.1, 1.3)
      finally bw.unpersist(false)
    }
    val (_, grad) = evalAt(p0)
    val eps = 1e-6
    var checked = 0
    (0 until nP).foreach { j =>
      val pp = p0.clone(); pp(j) += eps
      val pm = p0.clone(); pm(j) -= eps
      val fd = (evalAt(pp)._1 - evalAt(pm)._1) / (2 * eps)
      val err = math.abs(fd - grad(j)) / math.max(1.0, math.abs(grad(j)))
      assert(err < 1e-4, s"param $j: BPTT ${grad(j)} vs FD $fd (rel err $err)")
      checked += 1
    }
    assert(checked == nP)
  }

  test("multi-channel (cIn=3): composed gradient == finite differences; column == JVM") {
    import spark.implicits._
    val cfg = ConvPipe.Config(
      blocks = Seq(ConvPipe.BlockSpec(2, 3), ConvPipe.BlockSpec(2, 3)),
      h1 = 2, h2 = 2, head = "mha", nHeads = 2, bidir = true, cIn = 3)
    val T = 16 // per-channel; raw rows are interleaved 3·16 = 48
    val rnd = new scala.util.Random(53)
    val rows = (0 until 6).map(i =>
      ((i % 2).toDouble, 0.5 + 0.25 * i, Array.fill(3 * T)(rnd.nextGaussian())))
    val rdd = spark.sparkContext.parallelize(rows, 2)
    // block0: 2·3·3 + 3·2 = 24; block1: 2·2·3 + 3·2 = 18; mix 2+1 = 3
    val nP = 24 + 18 + 3 +
      graft.ml.LstmStack.nParams(2, 2, "mha", bidir = true, nHeads = 2)
    val p0 = Array.fill(nP)(rnd.nextGaussian() * 0.4)
    p0(18 + 2) = 1.1; p0(18 + 3) = 0.9 // block0 affine scales live
    p0(24 + 18 - 4) = 1.05; p0(24 + 18 - 3) = 0.95
    def evalAt(p: Array[Double]) = {
      val bw = spark.sparkContext.broadcast(p)
      try ConvPipe.gradientPass(rdd, bw, cfg, T, 0.1, 1.3)
      finally bw.unpersist(false)
    }
    val (_, grad) = evalAt(p0)
    val eps = 1e-6
    (0 until nP).foreach { j =>
      val pp = p0.clone(); pp(j) += eps
      val pm = p0.clone(); pm(j) -= eps
      val fd = (evalAt(pp)._1 - evalAt(pm)._1) / (2 * eps)
      val err = math.abs(fd - grad(j)) / math.max(1.0, math.abs(grad(j)))
      assert(err < 1e-4, s"param $j: BPTT ${grad(j)} vs FD $fd (rel err $err)")
    }
    // the trained 3-channel model scores the interleaved column
    // exactly like the chained JVM loops, and the serve-length guard
    // speaks the INPUT length (3·T), not the per-channel window
    val tiny = (0 until 8).map(i =>
      (s"E$i", (i % 2).toDouble,
        Array.fill(3 * T)(rnd.nextGaussian() + i % 2)))
      .toDF("eventId", "label", "window")
    val m = ConvPipe.train(tiny, cfg.copy(maxIter = 2))
    assert(m.front.cIn0 == 3 && m.front.window == T &&
      m.front.inputLen == 3 * T)
    val probes = (0 until 8).map(i => (i, Array.fill(3 * T)(rnd.nextGaussian())))
    val got = probes.toDF("i", "window")
      .select(col("i"), ConvPipe.logitCol(m, col("window")).as("z"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    probes.foreach { case (i, x) =>
      assert(got(i) == ConvPipe.forward(m, x),
        s"row $i: column ${got(i)} != jvm ${ConvPipe.forward(m, x)}")
    }
    val e = intercept[Exception] {
      ConvPipe.scoreWindows(m,
        Seq((1, Array.fill(3 * T - 2)(0.5))).toDF("i", "window"))
        .select("p_seizure").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains(s"trained input length ${3 * T}")),
      s"wrong failure: ${messages(e)}")
  }

  test("scoring: logitCol == chained JVM loops; serve-length fail-loud") {
    import spark.implicits._
    val cfg = ConvPipe.Config(
      blocks = Seq(ConvPipe.BlockSpec(3, 3), ConvPipe.BlockSpec(3, 3)),
      h1 = 2, h2 = 2, head = "mha", nHeads = 2, bidir = true, maxIter = 2)
    // a 2-iteration train just to materialize a consistent model
    val rnd = new scala.util.Random(3)
    val W = 40
    val tiny = (0 until 8).map(i =>
      (s"E$i", (i % 2).toDouble, Array.fill(W)(rnd.nextGaussian() + i % 2)))
      .toDF("eventId", "label", "window")
    val m = ConvPipe.train(tiny, cfg)
    val rows = (0 until 10).map(i =>
      (i, Array.fill(W)(rnd.nextGaussian() * 2)))
    val got = rows.toDF("i", "window")
      .select(col("i"), ConvPipe.logitCol(m, col("window")).as("z"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    rows.foreach { case (i, x) =>
      assert(got(i) == ConvPipe.forward(m, x),
        s"row $i: column ${got(i)} != jvm ${ConvPipe.forward(m, x)}")
    }
    val short = Seq((1, Array.fill(W - 3)(0.5))).toDF("i", "window")
    val e = intercept[Exception] {
      ConvPipe.scoreWindows(m, short).select("p_seizure").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("trained input length")),
      s"wrong failure: ${messages(e)}")
  }

  test("convPipeFamily rides runWithWindows: the composed pipe per fold") {
    val specs = (0 until 6).flatMap { i =>
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
    import spark.implicits._
    val events = (0 until 6).flatMap { i =>
      Seq((s"SZ$i", "Seizure", "other", i % 2),
        (s"OK$i", "False Alarm", "other", i % 2))
    }.toDF("id", "type", "subType", "fold0")
    val (fit, score) = ConvPipe.convPipeFamily(ConvPipe.Config(
      blocks = Seq(ConvPipe.BlockSpec(2, 3), ConvPipe.BlockSpec(2, 3)),
      h1 = 2, h2 = 2, head = "mha", nHeads = 2, bidir = true,
      maxIter = 60))
    val results = graft.ml.RunSequence.runWithWindows(
      events, corpus, lit(true), col("fold0"),
      graft.ml.RunSequence.Config(k = 2), bufferSamples = 125)(fit, score)
    assert(results.size == 2)
    results.foreach { fr =>
      val m = fr.model.asInstanceOf[ConvPipe.ConvPipeModel]
      assert(m.front.window == 125 && m.stack.window == m.front.outLen)
      assert(fr.heldOutAuroc > 0.85,
        s"fold ${fr.fold}: composed-pipe held-out AUROC ${fr.heldOutAuroc}")
    }
  }

  test("end-to-end: the composed pipe learns the planted corpus and deploys") {
    val specs = (0 until 12).flatMap { i =>
      Seq(
        EventSpec(s"SZ$i", "seizure sim", typeStr = "seizure",
          durationSecs = 45.0,
          components = Seq(
            Component("gravity", 0, 0.0, 1000.0, 0.0, 0.0, 1e9),
            Component("tremor", 0, 3.0 + (i % 4) * 0.8, 200.0 + 10.0 * i,
              22.5 * i, 5.0, 40.0))),
        EventSpec(s"OK$i", "normal sim", typeStr = "falseAlarm",
          durationSecs = 45.0,
          components = Seq(
            Component("gravity", 0, 0.0, 1000.0, 0.0, 0.0, 1e9),
            Component("sway", 0, 0.4 + 0.02 * i, 40.0 + 5.0 * i,
              10.0 * i, 0.0, 1e9))))
    }
    val corpus = SimulatedEvents(spark, specs)
    val windows = graft.streaming.NnBuffer
      .dp2vectors(corpus, bufferSamples = 125).toDF()
      .select(col("eventId"),
        when(col("eventId").startsWith("SZ"), 1.0).otherwise(0.0).as("label"),
        col("vec").as("window"))
    val trainDf = windows.filter(
      expr("CAST(substring(eventId, 3) AS INT) % 2 = 0"))
    val heldOut = windows.filter(
      expr("CAST(substring(eventId, 3) AS INT) % 2 = 1"))
    val cfg = ConvPipe.Config(
      blocks = Seq(ConvPipe.BlockSpec(3, 3), ConvPipe.BlockSpec(4, 3)),
      h1 = 2, h2 = 2, head = "mha", nHeads = 2, bidir = true,
      maxIter = 80)
    val m = ConvPipe.train(trainDf, cfg)
    assert(m.front.blocks.size == 2 && m.stack.bidir &&
      m.stack.head == "mha" && m.front.window == 125 &&
      m.stack.window == m.front.outLen)
    val a = graft.ml.Trainer.auroc(
      ConvPipe.scoreWindows(m, heldOut)
        .select(col("eventId"), col("label"), col("p_seizure")))
    assert(a > 0.9, s"composed conv->recurrence held-out AUROC only $a")
    // deploys through the replay seam: scorer agrees with the column
    val w0 = heldOut.limit(1).collect()(0).getAs[Seq[Double]]("window").toArray
    val p = ConvPipe.scorer(m)(w0)
    assert(p > 0.0 && p < 1.0)
  }
}
