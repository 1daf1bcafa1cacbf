package graft

import org.apache.spark.sql.functions._

import graft.ml.SpecCnn
import graft.sources.SimulatedEvents
import graft.sources.SimulatedEvents.{Component, EventSpec}

/** The spectrogram-input 2-D CNN ([[graft.ml.SpecCnn]]) — the
  * reference's `specCnnModel.py` family, closing the nnModel subclass
  * census:
  *
  *   - the Catalyst forward pass ([[SpecCnn.logitCol]]) is BIT-IDENTICAL
  *     to the JVM loop ([[SpecCnn.forward]]) on float weights/images,
  *     including odd dims (same-pool edge cells) and multi-layer stacks;
  *   - the spectrogram extraction ([[SpecCnn.specImage]]) matches the
  *     reference's slice layout, DC handling, and zeroTol clip;
  *   - the training gradient == central finite differences over every
  *     parameter (conv taps, conv biases, dense, bias; weighted rows);
  *   - LBFGS training learns a planted-separable spectrogram corpus;
  *   - the M13 all-1.0 weight identity holds bit-exactly.
  */
class SpecCnnSpec extends SparkSpec {

  private def randModel(rnd: scala.util.Random, nFreq: Int, nSpec: Int,
                        channels: Seq[Int]): SpecCnn.SpecCnnModel = {
    var cIn = 1
    val layers = channels.map { cOut =>
      val l = SpecCnn.Layer(cIn, cOut,
        Array.fill(cOut * cIn * 9)(rnd.nextGaussian()),
        Array.fill(cOut)(rnd.nextGaussian() * 0.1))
      cIn = cOut
      l
    }.toArray
    val (h, w) = channels.indices.foldLeft((nFreq, nSpec))((d, _) =>
      ((d._1 + 1) / 2, (d._2 + 1) / 2))
    SpecCnn.SpecCnnModel(nFreq, nSpec, layers,
      Array.fill(channels.last * h * w)(rnd.nextGaussian()),
      rnd.nextGaussian(), mean = 0.37, std = 1.43)
  }

  test("logitCol == forward bit-exactly (float weights, odd dims, 2 layers)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // odd×odd dims exercise the same-pool edge cells at every level
    for ((nf, ns) <- Seq((5, 7), (6, 4), (25, 4))) {
      val m = randModel(rnd, nf, ns, Seq(2, 3))
      val rows = (0 until 12).map(i =>
        (i, Array.fill(nf * ns)(rnd.nextGaussian() * 3)))
      val got = rows.toDF("i", "img")
        .select(col("i"), SpecCnn.logitCol(m, col("img")).as("z"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      rows.foreach { case (i, x) =>
        val want = SpecCnn.forward(m, x)
        assert(got(i) == want, s"dims $nf x $ns row $i: ${got(i)} != $want")
      }
    }
  }

  test("wrong-shape image: logitCol NULL, forward loud, scoreSpectrograms loud") {
    import spark.implicits._
    val m = randModel(new scala.util.Random(3), 4, 4, Seq(2))
    val df = Seq(Array.fill(9)(1.0)).toDF("spectrogram")
    assert(df.select(SpecCnn.logitCol(m, col("spectrogram"))).head().isNullAt(0))
    intercept[IllegalArgumentException](SpecCnn.forward(m, Array.fill(9)(1.0)))
    val be = intercept[Exception](
      SpecCnn.scoreSpectrograms(m, df).collect())
    val bmsg = be.getMessage + Option(be.getCause).map(_.getMessage).getOrElse("")
    assert(bmsg.contains("trained 4x4"), bmsg.take(300))
    // a NULL image also fails loudly WITH a readable message (size(NULL)
    // is NULL; the guard coalesces it so raise_error never gets NULL)
    val ndf = Seq[Option[Array[Double]]](None).toDF("spectrogram")
    val ne = intercept[Exception](
      SpecCnn.scoreSpectrograms(m, ndf).collect())
    val nmsg = ne.getMessage + Option(ne.getCause).map(_.getMessage).getOrElse("")
    assert(nmsg.contains("image NULL"), nmsg.take(300))
  }

  test("specImage: slice layout, DC residual clip, sine peak bin, zeroTol") {
    // layout: 125-sample window, specSamp 50, specStep 25 -> 25 x 4
    val (nf, ns) = SpecCnn.imageDims(125, 50, 25)
    assert((nf, ns) == (25, 4))
    // non-overlapping regime: 250 samples, step 50 == samp -> 5 slices
    assert(SpecCnn.imageDims(250, 50, 50) == (25, 5))
    // shorter than one slice -> zero slices
    assert(SpecCnn.imageDims(30, 50, 25)._2 == 0)

    // constant signal: DC removal leaves the FP residual, clipped to 0
    // by zeroTol in EVERY bin (|X_k| of a ~1e-13 residual is < 0.001)
    val flat = SpecCnn.specImage(Array.fill(125)(0.98), 50, 25)
    assert(flat.length == 25 * 4)
    assert(flat.forall(_ == 0.0), "constant window must clip to all-zero")

    // 5 Hz sine at 25 Hz sampling, specSamp 50 -> 0.5 Hz bins -> bin 10
    val sine = Array.tabulate(125)(t =>
      1.0 + 0.5 * math.sin(2 * math.Pi * 5.0 * t / 25.0))
    val img = SpecCnn.specImage(sine, 50, 25)
    for (s <- 0 until 4) {
      val col10 = img(10 * 4 + s)
      val rest = (0 until 25).filter(_ != 10).map(f => img(f * 4 + s)).max
      assert(col10 > 10 * math.max(rest, 1e-12),
        s"slice $s: bin 10 ($col10) not dominant (max other $rest)")
    }
  }

  test("training gradient == central finite differences (weighted rows)") {
    val rnd = new scala.util.Random(23)
    val nFreq = 5; val nSpec = 6; val channels = Seq(2, 3)
    val m = randModel(rnd, nFreq, nSpec, channels)
    val p = SpecCnn.packModel(m)
    val rows = (0 until 6).map { i =>
      (if (i % 2 == 0) 1.0 else 0.0, 0.5 + 0.25 * (i % 3),
        Array.fill(nFreq * nSpec)(rnd.nextGaussian() * 2))
    }
    val (_, g) = SpecCnn.localLossGrad(p, nFreq, nSpec, channels,
      m.mean, m.std, rows)
    val eps = 1e-6
    p.indices.foreach { i =>
      val pp = p.clone(); pp(i) += eps
      val pm = p.clone(); pm(i) -= eps
      val lp = SpecCnn.localLossGrad(pp, nFreq, nSpec, channels,
        m.mean, m.std, rows)._1
      val lm = SpecCnn.localLossGrad(pm, nFreq, nSpec, channels,
        m.mean, m.std, rows)._1
      val num = (lp - lm) / (2 * eps)
      assert(math.abs(num - g(i)) <= 1e-4 * math.max(1.0, math.abs(num)),
        s"param $i: analytic ${g(i)} vs numeric $num")
    }
  }

  /** Seizure = 3-6 Hz tremor burst; normal = slow sway — the CnnSpec
    * physics, consumed as SPECTROGRAM images: the tremor's energy lands
    * in high bins, the sway in low bins, and the 2-D conv must find it. */
  private lazy val corpus = {
    val specs = (0 until 12).flatMap { i =>
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

  test("train: planted spectrogram corpus learns (held-out, event-disjoint)") {
    import spark.implicits._
    val cfg = SpecCnn.Config(channels = Seq(2, 2), maxIter = 60)
    val vecs = graft.streaming.NnBuffer.dp2vectors(corpus, bufferSamples = 125)
    val images = vecs.map(v => (v.eventId,
        SpecCnn.specImage(v.vec, cfg.specSamp, cfg.specStep, cfg.zeroTol)))
      .toDF("eventId", "spectrogram")
      .withColumn("label",
        when(col("eventId").startsWith("SZ"), 1.0).otherwise(0.0))
    val (nFreq, nSpec) = SpecCnn.imageDims(125, cfg.specSamp, cfg.specStep)
    val trainDf = images.filter(
      expr("CAST(substring(eventId, 3) AS INT) % 2 = 0"))
    val heldOut = images.filter(
      expr("CAST(substring(eventId, 3) AS INT) % 2 = 1"))
    val model = SpecCnn.train(trainDf, nFreq, nSpec, cfg)
    assert(model.nFreq == 25 && model.nSpec == 4)
    val scored = SpecCnn.scoreSpectrograms(model, heldOut)
      .select(col("eventId"), col("label"), col("p_seizure"))
    val a = graft.ml.Trainer.auroc(scored)
    assert(a > 0.95, s"SpecCnn held-out AUROC only $a")

    // column and closure scoring agree bit for bit on the SAME window:
    // the closure re-derives the image from the raw window via the
    // trained geometry
    val v = graft.streaming.NnBuffer.dp2vectors(corpus, bufferSamples = 125)
      .filter(_.eventId == "SZ1").head()
    val img = SpecCnn.specImage(v.vec, cfg.specSamp, cfg.specStep, cfg.zeroTol)
    val pc = SpecCnn.scorer(model, cfg)(v.vec)
    val pf = SpecCnn.scoreSpectrograms(model,
        Seq(Tuple1(img)).toDF("spectrogram"))
      .select("p_seizure").collect().head.getDouble(0)
    assert(pc == pf, s"closure $pc vs column $pf")

    // deploy: the trained spec-CNN inside the same alarm FSM as the
    // other families; wrong buffer geometry is loud at assembly time
    def replayAlarms(eventId: String): Long = {
      val dps = corpus.filter(_.eventId == eventId)
        .map(d2 => graft.streaming.ReplayDp(d2.eventId, d2.tsSec, d2.hr, 0L,
          d2.rawData, d2.rawData3D, d2.seq))
      graft.streaming.Replay.replayBatchWith(dps,
          Seq(() => graft.ml.SpecCnn.deployedSpecCnn(model, cfg, 125)))
        .filter(col("alarmState") === 2).count()
    }
    assert(replayAlarms("SZ1") > 0, "SpecCnn detector never alarmed on a seizure")
    assert(replayAlarms("OK1") == 0, "SpecCnn detector false-alarmed on normal")
    val ge = intercept[IllegalArgumentException](
      graft.ml.SpecCnn.deployedSpecCnn(model, cfg, 100))
    assert(ge.getMessage.contains("trained 25x4"))

    // M13 neutral identity: all-1.0 weights train bit-identically
    val id = SpecCnn.train(trainDf.withColumn("w", lit(1.0)), nFreq, nSpec,
      cfg, weightCol = Some("w"))
    assert(id.layers.zip(model.layers).forall { case (a2, b2) =>
      a2.w.sameElements(b2.w) && a2.b.sameElements(b2.b)
    } && id.dense.sameElements(model.dense) && id.bias == model.bias,
      "all-1.0 weights must reproduce the unweighted SpecCnn bit-exactly")
  }
}
