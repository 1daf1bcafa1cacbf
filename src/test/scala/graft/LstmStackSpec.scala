package graft

import org.apache.spark.sql.functions._

import graft.ml.LstmStack
import graft.sources.SimulatedEvents
import graft.sources.SimulatedEvents.{Component, EventSpec}

/** The STACKED two-layer hard-gate LSTM + mean-pool head
  * ([[graft.ml.LstmStack]] — the round-13 verdict's missing #1, the
  * amber family's stacked recurrence + fusion pooling):
  *
  *   - the Catalyst forward pass ([[LstmStack.logitCol]]) is
  *     BIT-IDENTICAL to the JVM loop ([[LstmStack.forward]]);
  *   - the two-layer BPTT (pool → layer 2 → layer 1) matches finite
  *     differences of the forward loss, under NON-uniform row weights;
  *   - LBFGS training learns a planted-separable raw-window corpus
  *     (held-out, event-disjoint) and deploys into the replay FSM;
  *   - the serve-time window contract is fail-loud.
  */
class LstmStackSpec extends SparkSpec {

  private def randomModel(seed: Int, h1: Int, h2: Int,
                          win: Int): LstmStack.Lstm2Model = {
    val rnd = new scala.util.Random(seed)
    LstmStack.Lstm2Model(h1, h2, win,
      wx1 = Array.fill(4 * h1)(rnd.nextGaussian() * 0.6),
      wh1 = Array.fill(4 * h1 * h1)(rnd.nextGaussian() * 0.4),
      b1 = Array.fill(4 * h1)(rnd.nextGaussian() * 0.2),
      wx2 = Array.fill(4 * h2 * h1)(rnd.nextGaussian() * 0.5),
      wh2 = Array.fill(4 * h2 * h2)(rnd.nextGaussian() * 0.4),
      b2 = Array.fill(4 * h2)(rnd.nextGaussian() * 0.2),
      dense = Array.fill(h2)(rnd.nextGaussian()),
      bias = rnd.nextGaussian() * 0.2,
      mean = 0.41, std = 1.37)
  }

  test("logitCol == forward bit-exactly (float weights, float windows)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val win = 40
    val m = randomModel(9, h1 = 3, h2 = 2, win = win)
    val rows = (0 until 20).map(i =>
      (i, Array.fill(win)(rnd.nextGaussian() * 2 + 0.3)))
    val df = rows.toDF("i", "window")
    val got = df.select(col("i"), LstmStack.logitCol(m, col("window")).as("z"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    rows.foreach { case (i, x) =>
      val want = LstmStack.forward(m, x)
      assert(got(i) == want, // exact ==, not a tolerance: same op order
        s"row $i: column ${got(i)} != jvm $want")
    }
  }

  test("K-class head: logitsKCol == forwardK bit-exactly; argmax first-max; binary row == logit") {
    import spark.implicits._
    val rnd = new scala.util.Random(71)
    val win = 24
    val h1 = 2; val h2 = 2; val nH = 2; val K = 3
    // the full-amber shape (bidir + mha) — the richest head state
    val m = LstmStack.Lstm2Model(h1, h2, win,
      wx1 = Array.fill(4 * h1)(rnd.nextGaussian() * 0.6),
      wh1 = Array.fill(4 * h1 * h1)(rnd.nextGaussian() * 0.4),
      b1 = Array.fill(4 * h1)(rnd.nextGaussian() * 0.2),
      wx2 = Array.fill(4 * h2 * 2 * h1)(rnd.nextGaussian() * 0.5),
      wh2 = Array.fill(4 * h2 * h2)(rnd.nextGaussian() * 0.4),
      b2 = Array.fill(4 * h2)(rnd.nextGaussian() * 0.2),
      dense = Array.fill(h2)(rnd.nextGaussian()),
      bias = 0.2, mean = 0.1, std = 1.2,
      head = "mha", bidir = true,
      wx1b = Array.fill(4 * h1)(rnd.nextGaussian() * 0.6),
      wh1b = Array.fill(4 * h1 * h1)(rnd.nextGaussian() * 0.4),
      b1b = Array.fill(4 * h1)(rnd.nextGaussian() * 0.2),
      nHeads = nH,
      attA = Array.fill(nH * h2)(rnd.nextGaussian() * 0.5),
      attCs = Array.fill(nH)(rnd.nextGaussian() * 0.3),
      attD = Array.fill(nH * h2)(rnd.nextGaussian()))
    val kh = LstmStack.KHead(K,
      denseK = Array.fill(K * h2)(rnd.nextGaussian()),
      biasK = Array.fill(K)(rnd.nextGaussian() * 0.3),
      attDK = Array.fill(K * nH * h2)(rnd.nextGaussian()))
    val rows = (0 until 15).map(i =>
      (i, Array.fill(win)(rnd.nextGaussian() * 2)))
    val got = rows.toDF("i", "window")
      .select(col("i"),
        LstmStack.logitsKCol(m, kh, col("window")).as("lk"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    rows.foreach { case (i, x) =>
      val want = LstmStack.forwardK(m, kh, x)
      assert(got(i) == want.toSeq,
        s"row $i: column ${got(i)} != jvm ${want.toSeq}")
    }
    // a K row with the binary head's (dense, bias, attD) IS the binary
    // logit — the readout walks are the same code path
    val khB = LstmStack.KHead(2,
      denseK = m.dense ++ kh.denseK.take(h2),
      biasK = Array(m.bias, kh.biasK(0)),
      attDK = m.attD ++ kh.attDK.take(nH * h2))
    rows.take(5).foreach { case (_, x) =>
      assert(LstmStack.forwardK(m, khB, x)(0) == LstmStack.forward(m, x))
    }
    // argmax: first-max tie-break
    val am = Seq((2.0, 2.0, 1.0), (1.0, 3.0, 3.0), (0.0, 1.0, 2.0))
      .toDF("a", "b", "c")
      .select(LstmStack.argmaxCol(Seq(col("a"), col("b"), col("c"))))
      .collect().map(_.getInt(0)).toSeq
    assert(am == Seq(0, 1, 2), s"first-max argmax wrong: $am")
    // shape guards fail loudly
    intercept[IllegalArgumentException](
      LstmStack.logitsKCol(m,
        LstmStack.KHead(3, Array.fill(5)(0.1), Array.fill(3)(0.0),
          Array.fill(12)(0.1)), col("w")))
  }

  test("empty window: logitCol is NULL; wrong serve length is loud") {
    import spark.implicits._
    val m = randomModel(6, h1 = 2, h2 = 2, win = 8)
    val df = Seq(Array.empty[Double]).toDF("window")
    assert(df.select(LstmStack.logitCol(m, col("window"))).head().isNullAt(0))
    val e = intercept[IllegalArgumentException](
      LstmStack.scorer(m)(new Array[Double](5)))
    assert(e.getMessage.contains("trained window"))
    val be = intercept[Exception](
      LstmStack.scoreWindows(m, Seq(Array.fill(5)(1.0)).toDF("window"))
        .collect())
    val bmsg = be.getMessage +
      Option(be.getCause).map(_.getMessage).getOrElse("")
    assert(bmsg.contains("trained window"), bmsg.take(300))
    assert(LstmStack.deployedLstm2(m).name == "NnAlg")
  }

  test("two-layer BPTT gradient == finite differences (weighted rows)") {
    val h1 = 2; val h2 = 2
    val T = 6
    val nP = LstmStack.nParams(h1, h2)
    val rnd = new scala.util.Random(7)
    // non-uniform weights: the FD gate covers the M13 weighted calculus
    // through the stacked backward pass too
    val rows = (0 until 6).map(i =>
      ((i % 2).toDouble, 0.5 + 0.25 * i, Array.fill(T)(rnd.nextGaussian())))
    val rdd = spark.sparkContext.parallelize(rows, 2)
    val p0 = Array.fill(nP)(rnd.nextGaussian() * 0.4)

    def lossAt(p: Array[Double]): Double = {
      val bw = spark.sparkContext.broadcast(p)
      try LstmStack.gradientPass(rdd, bw, h1, h2, 0.0, 1.0)._1
      finally bw.unpersist(false)
    }
    val bw0 = spark.sparkContext.broadcast(p0)
    val (_, grad) =
      try LstmStack.gradientPass(rdd, bw0, h1, h2, 0.0, 1.0)
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
    val model = LstmStack.train(trainDf,
      LstmStack.Config(h1 = 3, h2 = 2, maxIter = 100))
    assert(model.window == 125)
    val scored = LstmStack.scoreWindows(model, heldOut)
      .select(col("eventId"), col("label"), col("p_seizure"))
    val a = graft.ml.Trainer.auroc(scored)
    assert(a > 0.9, s"stacked LSTM held-out AUROC only $a")
    // batch vs serve parity: logits bit-exact, sigmoid to a few ulps
    LstmStack.scoreWindows(model, heldOut.limit(3))
      .select(col("window"), col("logit"), col("p_seizure"))
      .collect().foreach { r =>
        val win = r.getAs[Seq[Double]]("window").toArray
        assert(LstmStack.forward(model, win) == r.getAs[Double]("logit"))
        val pc = LstmStack.scorer(model)(win)
        assert(math.abs(pc - r.getAs[Double]("p_seizure")) <= 4 * math.ulp(pc))
      }
  }

  test("attention head: logitCol == forward bit-exactly; BPTT == finite differences") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val win = 30
    val base = randomModel(12, h1 = 2, h2 = 2, win = win)
    val m = base.copy(head = "attn",
      attA = Array.fill(2)(rnd.nextGaussian() * 0.6),
      attC = rnd.nextGaussian() * 0.3)
    val rows = (0 until 15).map(i =>
      (i, Array.fill(win)(rnd.nextGaussian() * 2 + 0.3)))
    val df = rows.toDF("i", "window")
    val got = df.select(col("i"), LstmStack.logitCol(m, col("window")).as("z"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    rows.foreach { case (i, x) =>
      assert(got(i) == LstmStack.forward(m, x),
        s"row $i: column ${got(i)} != jvm ${LstmStack.forward(m, x)}")
    }

    // FD gate over the FULL attn parameter vector (incl. attA/attC),
    // weighted rows — the only honest gate on the attention calculus
    val h1 = 2; val h2 = 2
    val T = 6
    val nP = LstmStack.nParams(h1, h2, "attn")
    val frows = (0 until 6).map(i =>
      ((i % 2).toDouble, 0.5 + 0.25 * i, Array.fill(T)(rnd.nextGaussian())))
    val rdd = spark.sparkContext.parallelize(frows, 2)
    val p0 = Array.fill(nP)(rnd.nextGaussian() * 0.4)
    def lossAt(p: Array[Double]): Double = {
      val bw = spark.sparkContext.broadcast(p)
      try LstmStack.gradientPass(rdd, bw, h1, h2, 0.0, 1.0, "attn")._1
      finally bw.unpersist(false)
    }
    val bw0 = spark.sparkContext.broadcast(p0)
    val (_, grad) =
      try LstmStack.gradientPass(rdd, bw0, h1, h2, 0.0, 1.0, "attn")
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

  test("attention head trains on the planted corpus; artifact round-trips") {
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
    val model = LstmStack.train(trainDf,
      LstmStack.Config(h1 = 3, h2 = 2, maxIter = 100, head = "attn"))
    assert(model.head == "attn" && model.attA.length == 2)
    val a = graft.ml.Trainer.auroc(
      LstmStack.scoreWindows(model, heldOut)
        .select(col("eventId"), col("label"), col("p_seizure")))
    assert(a > 0.9, s"attn-head stacked LSTM held-out AUROC only $a")
    // artifact round-trip carries the head + attention params bit-exactly
    val p = java.nio.file.Files.createTempDirectory("lstm2attn")
      .resolve("m.json").toString
    graft.ml.ModelIo.saveLstm2(model, p)
    val back = graft.ml.ModelIo.loadLstm2(p)
    assert(back.head == "attn" && back.attA.toSeq == model.attA.toSeq &&
      java.lang.Double.doubleToLongBits(back.attC) ==
        java.lang.Double.doubleToLongBits(model.attC))
    val w0 = heldOut.limit(1).collect()(0).getAs[Seq[Double]]("window").toArray
    assert(java.lang.Double.doubleToLongBits(LstmStack.forward(back, w0)) ==
      java.lang.Double.doubleToLongBits(LstmStack.forward(model, w0)))
  }

  private def randomBidir(seed: Int, h1: Int, h2: Int, win: Int,
                          head: String): LstmStack.Lstm2Model = {
    val rnd = new scala.util.Random(seed)
    LstmStack.Lstm2Model(h1, h2, win,
      wx1 = Array.fill(4 * h1)(rnd.nextGaussian() * 0.6),
      wh1 = Array.fill(4 * h1 * h1)(rnd.nextGaussian() * 0.4),
      b1 = Array.fill(4 * h1)(rnd.nextGaussian() * 0.2),
      wx2 = Array.fill(4 * h2 * 2 * h1)(rnd.nextGaussian() * 0.5),
      wh2 = Array.fill(4 * h2 * h2)(rnd.nextGaussian() * 0.4),
      b2 = Array.fill(4 * h2)(rnd.nextGaussian() * 0.2),
      dense = Array.fill(h2)(rnd.nextGaussian()),
      bias = rnd.nextGaussian() * 0.2,
      mean = 0.41, std = 1.37,
      head = head,
      attA = if (head == "attn") Array.fill(h2)(rnd.nextGaussian() * 0.6)
             else Array.emptyDoubleArray,
      attC = if (head == "attn") rnd.nextGaussian() * 0.3 else 0.0,
      bidir = true,
      wx1b = Array.fill(4 * h1)(rnd.nextGaussian() * 0.6),
      wh1b = Array.fill(4 * h1 * h1)(rnd.nextGaussian() * 0.4),
      b1b = Array.fill(4 * h1)(rnd.nextGaussian() * 0.2))
  }

  test("bidirectional: logitCol == forward bit-exactly (mean and attn heads)") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val win = 30
    Seq("mean", "attn").foreach { head =>
      val m = randomBidir(50 + head.length, h1 = 2, h2 = 2, win = win,
        head = head)
      val rows = (0 until 12).map(i =>
        (i, Array.fill(win)(rnd.nextGaussian() * 2 + 0.3)))
      val got = rows.toDF("i", "window")
        .select(col("i"), LstmStack.logitCol(m, col("window")).as("z"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      rows.foreach { case (i, x) =>
        assert(got(i) == LstmStack.forward(m, x),
          s"head=$head row $i: column ${got(i)} != jvm ${LstmStack.forward(m, x)}")
      }
      // direction matters: a reversed window must NOT give the same
      // logit (the backward cell has its own weights)
      val x0 = rows.head._2
      assert(LstmStack.forward(m, x0) != LstmStack.forward(m, x0.reverse),
        "bidirectional logit insensitive to time reversal — suspicious")
    }
  }

  test("bidirectional + attention BPTT == finite differences (the full amber-shape config)") {
    val h1 = 2; val h2 = 2
    val T = 5
    val nP = LstmStack.nParams(h1, h2, "attn", bidir = true)
    val rnd = new scala.util.Random(13)
    val rows = (0 until 6).map(i =>
      ((i % 2).toDouble, 0.5 + 0.25 * i, Array.fill(T)(rnd.nextGaussian())))
    val rdd = spark.sparkContext.parallelize(rows, 2)
    val p0 = Array.fill(nP)(rnd.nextGaussian() * 0.4)
    def lossAt(p: Array[Double]): Double = {
      val bw = spark.sparkContext.broadcast(p)
      try LstmStack.gradientPass(rdd, bw, h1, h2, 0.0, 1.0,
        "attn", bidir = true)._1
      finally bw.unpersist(false)
    }
    val bw0 = spark.sparkContext.broadcast(p0)
    val (_, grad) =
      try LstmStack.gradientPass(rdd, bw0, h1, h2, 0.0, 1.0,
        "attn", bidir = true)
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

  test("bidirectional training learns the planted corpus; artifact round-trips") {
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
    val model = LstmStack.train(trainDf,
      LstmStack.Config(h1 = 2, h2 = 2, maxIter = 80, bidir = true))
    assert(model.bidir && model.wx1b.length == 8 &&
      model.wx2.length == 4 * 2 * 4)
    val a = graft.ml.Trainer.auroc(
      LstmStack.scoreWindows(model, heldOut)
        .select(col("eventId"), col("label"), col("p_seizure")))
    assert(a > 0.9, s"bidir stacked LSTM held-out AUROC only $a")
    val p = java.nio.file.Files.createTempDirectory("lstm2bd")
      .resolve("m.json").toString
    graft.ml.ModelIo.saveLstm2(model, p)
    val back = graft.ml.ModelIo.loadLstm2(p)
    assert(back.bidir && back.wx1b.toSeq == model.wx1b.toSeq)
    val w0 = heldOut.limit(1).collect()(0).getAs[Seq[Double]]("window").toArray
    assert(java.lang.Double.doubleToLongBits(LstmStack.forward(back, w0)) ==
      java.lang.Double.doubleToLongBits(LstmStack.forward(model, w0)))
  }

  private def randomMha(seed: Int, h1: Int, h2: Int, win: Int,
                        nHeads: Int, bidir: Boolean): LstmStack.Lstm2Model = {
    val rnd = new scala.util.Random(seed)
    val xDim = if (bidir) 2 * h1 else h1
    LstmStack.Lstm2Model(h1, h2, win,
      wx1 = Array.fill(4 * h1)(rnd.nextGaussian() * 0.6),
      wh1 = Array.fill(4 * h1 * h1)(rnd.nextGaussian() * 0.4),
      b1 = Array.fill(4 * h1)(rnd.nextGaussian() * 0.2),
      wx2 = Array.fill(4 * h2 * xDim)(rnd.nextGaussian() * 0.5),
      wh2 = Array.fill(4 * h2 * h2)(rnd.nextGaussian() * 0.4),
      b2 = Array.fill(4 * h2)(rnd.nextGaussian() * 0.2),
      dense = Array.fill(h2)(rnd.nextGaussian()),
      bias = rnd.nextGaussian() * 0.2,
      mean = 0.41, std = 1.37,
      head = "mha",
      bidir = bidir,
      wx1b = if (bidir) Array.fill(4 * h1)(rnd.nextGaussian() * 0.6)
             else Array.emptyDoubleArray,
      wh1b = if (bidir) Array.fill(4 * h1 * h1)(rnd.nextGaussian() * 0.4)
             else Array.emptyDoubleArray,
      b1b = if (bidir) Array.fill(4 * h1)(rnd.nextGaussian() * 0.2)
            else Array.emptyDoubleArray,
      nHeads = nHeads,
      attA = Array.fill(nHeads * h2)(rnd.nextGaussian() * 0.6),
      attCs = Array.fill(nHeads)(rnd.nextGaussian() * 0.3),
      attD = Array.fill(nHeads * h2)(rnd.nextGaussian()))
  }

  test("mha head: logitCol == forward bit-exactly (unidir and bidir)") {
    import spark.implicits._
    val rnd = new scala.util.Random(71)
    val win = 30
    Seq(false, true).foreach { bd =>
      val m = randomMha(60 + (if (bd) 1 else 0), h1 = 2, h2 = 2,
        win = win, nHeads = 3, bidir = bd)
      val rows = (0 until 12).map(i =>
        (i, Array.fill(win)(rnd.nextGaussian() * 2 + 0.3)))
      val got = rows.toDF("i", "window")
        .select(col("i"), LstmStack.logitCol(m, col("window")).as("z"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      rows.foreach { case (i, x) =>
        assert(got(i) == LstmStack.forward(m, x),
          s"bidir=$bd row $i: column ${got(i)} != jvm ${LstmStack.forward(m, x)}")
      }
    }
  }

  test("mha head with zero readout slices reduces to the mean head (residual identity)") {
    val win = 20
    val m = randomMha(77, h1 = 2, h2 = 2, win = win, nHeads = 2,
      bidir = false)
    val zeroD = m.copy(attD = new Array[Double](m.nHeads * m.h2))
    val meanTwin = m.copy(head = "mean", nHeads = 1,
      attA = Array.emptyDoubleArray, attCs = Array.emptyDoubleArray,
      attD = Array.emptyDoubleArray)
    val rnd = new scala.util.Random(5)
    (0 until 8).foreach { _ =>
      val x = Array.fill(win)(rnd.nextGaussian())
      assert(java.lang.Double.doubleToLongBits(LstmStack.forward(zeroD, x)) ==
        java.lang.Double.doubleToLongBits(LstmStack.forward(meanTwin, x)),
        "attD = 0 must leave exactly the residual mean-pool path")
    }
  }

  test("mha + bidir BPTT == finite differences (the full fusion-layer config)") {
    val h1 = 2; val h2 = 2; val nHeads = 2
    val T = 5
    val nP = LstmStack.nParams(h1, h2, "mha", bidir = true, nHeads = nHeads)
    val rnd = new scala.util.Random(29)
    val rows = (0 until 6).map(i =>
      ((i % 2).toDouble, 0.5 + 0.25 * i, Array.fill(T)(rnd.nextGaussian())))
    val rdd = spark.sparkContext.parallelize(rows, 2)
    val p0 = Array.fill(nP)(rnd.nextGaussian() * 0.4)
    def lossAt(p: Array[Double]): Double = {
      val bw = spark.sparkContext.broadcast(p)
      try LstmStack.gradientPass(rdd, bw, h1, h2, 0.0, 1.0,
        "mha", bidir = true, nHeads = nHeads)._1
      finally bw.unpersist(false)
    }
    val bw0 = spark.sparkContext.broadcast(p0)
    val (_, grad) =
      try LstmStack.gradientPass(rdd, bw0, h1, h2, 0.0, 1.0,
        "mha", bidir = true, nHeads = nHeads)
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

  test("mha training learns the planted corpus; artifact round-trips") {
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
    val model = LstmStack.train(trainDf,
      LstmStack.Config(h1 = 2, h2 = 2, maxIter = 80, head = "mha",
        nHeads = 2))
    assert(model.head == "mha" && model.nHeads == 2 &&
      model.attA.length == 4 && model.attCs.length == 2 &&
      model.attD.length == 4)
    val a = graft.ml.Trainer.auroc(
      LstmStack.scoreWindows(model, heldOut)
        .select(col("eventId"), col("label"), col("p_seizure")))
    assert(a > 0.9, s"mha stacked LSTM held-out AUROC only $a")
    val p = java.nio.file.Files.createTempDirectory("lstm2mha")
      .resolve("m.json").toString
    graft.ml.ModelIo.saveLstm2(model, p)
    val back = graft.ml.ModelIo.loadLstm2(p)
    assert(back.head == "mha" && back.nHeads == 2 &&
      back.attD.toSeq == model.attD.toSeq)
    val w0 = heldOut.limit(1).collect()(0).getAs[Seq[Double]]("window").toArray
    assert(java.lang.Double.doubleToLongBits(LstmStack.forward(back, w0)) ==
      java.lang.Double.doubleToLongBits(LstmStack.forward(model, w0)))
  }
}
