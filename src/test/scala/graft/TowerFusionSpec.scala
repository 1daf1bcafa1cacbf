package graft

import org.apache.spark.sql.functions._

import graft.ml.{ConvFront, ConvPipe, LstmStack, TowerFusion}

/** The N-tower fusion of the reference's build_model ([[TowerFusion]]):
  * the column form (per-tower K-mode pooled vectors + fusion
  * arithmetic) is bit-identical to the JVM twin, the pooled unit-KHead
  * readout really is the head-input vector, and the plan is a
  * shuffle-free scan→project chain. */
class TowerFusionSpec extends SparkSpec {

  private def tower(seed: Int, axis: Int, T: Int): ConvPipe.ConvPipeModel = {
    val r = new scala.util.Random(seed)
    val b0 = ConvFront.ConvBlock(3, 2, 3,
      w = Array.tabulate(18) { idx =>
        val ci = (idx / 3) % 3
        if (ci == axis) r.nextGaussian() * 0.4 else 0.0
      },
      b = Array.fill(2)(r.nextGaussian() * 0.1),
      scale = Array.fill(2)(1.0 + r.nextGaussian() * 0.1),
      shift = Array.fill(2)(r.nextGaussian() * 0.1))
    val b1 = ConvFront.ConvBlock(2, 2, 3,
      w = Array.fill(12)(r.nextGaussian() * 0.4),
      b = Array.fill(2)(r.nextGaussian() * 0.1),
      scale = Array.fill(2)(1.0 + r.nextGaussian() * 0.1),
      shift = Array.fill(2)(r.nextGaussian() * 0.1))
    val front = ConvFront.ConvFrontModel(T, Seq(b0, b1),
      mix = Array.fill(2)(r.nextGaussian()),
      mixBias = 0.1, mean = 0.0, std = 2.0)
    val h1 = 2; val h2 = 2; val nH = 2
    ConvPipe.ConvPipeModel(front, LstmStack.Lstm2Model(h1, h2,
      front.outLen,
      wx1 = Array.fill(4 * h1)(r.nextGaussian() * 0.5),
      wh1 = Array.fill(4 * h1 * h1)(r.nextGaussian() * 0.4),
      b1 = Array.fill(4 * h1)(r.nextGaussian() * 0.2),
      wx2 = Array.fill(4 * h2 * 2 * h1)(r.nextGaussian() * 0.5),
      wh2 = Array.fill(4 * h2 * h2)(r.nextGaussian() * 0.4),
      b2 = Array.fill(4 * h2)(r.nextGaussian() * 0.2),
      dense = Array.fill(h2)(r.nextGaussian()),
      bias = 0.1, mean = 0.0, std = 1.0,
      head = "mha", bidir = true,
      wx1b = Array.fill(4 * h1)(r.nextGaussian() * 0.5),
      wh1b = Array.fill(4 * h1 * h1)(r.nextGaussian() * 0.4),
      b1b = Array.fill(4 * h1)(r.nextGaussian() * 0.2),
      nHeads = nH,
      attA = Array.fill(nH * h2)(r.nextGaussian() * 0.5),
      attCs = Array.fill(nH)(r.nextGaussian() * 0.3),
      attD = Array.fill(nH * h2)(r.nextGaussian())))
  }

  test("withLogit == forward bit-exactly; unit-KHead pooled is the head-input vector; no shuffle") {
    import spark.implicits._
    val T = 20 // per-channel; raw input 60 interleaved values
    val rnd = new scala.util.Random(41)
    val towers = (0 until 3).map(a => tower(900 + a, a, T))
    val d = towers.map(t => TowerFusion.pooledDim(t.stack)).sum
    val r = new scala.util.Random(7)
    val m = TowerFusion.TowerFusionModel(towers,
      fuse = Array.fill(d * d)(r.nextGaussian() * 0.2),
      w1 = Array.fill(4 * d)(r.nextGaussian() * 0.4),
      b1 = Array.fill(4)(r.nextGaussian() * 0.2),
      w2 = Array.fill(4)(r.nextGaussian()),
      b2 = 0.15)
    val rows = (0 until 12).map(i =>
      (i, Array.fill(3 * T)(rnd.nextGaussian() * 2)))
    val df = TowerFusion.withLogit(m, rows.toDF("i", "window"), "window")
    val got = df.select(col("i"), col("logit"))
      .collect().map(rr => rr.getInt(0) -> rr.getDouble(1)).toMap
    rows.foreach { case (i, x) =>
      val want = TowerFusion.forward(m, x)
      assert(java.lang.Double.doubleToLongBits(got(i)) ==
        java.lang.Double.doubleToLongBits(want),
        s"row $i: column ${got(i)} != jvm $want")
    }
    // plan: scan -> project chain, NO exchange (each tower one K-mode
    // nested expression; fusion is plain arithmetic)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1200))
    // the unit-KHead really reads out the pooled head-input vector:
    // a hand-built mean-head model's pooled vector is s/T, which for a
    // dense = e_u readout equals the scalar logit with bias 0
    val mm = towers.head.stack
    val kh = TowerFusion.unitKHead(mm)
    val seq0 = ConvFront.forward(towers.head.front,
      Array.fill(3 * T)(0.7))
    val pooled = LstmStack.forwardK(mm, kh, seq0)
    assert(pooled.length == TowerFusion.pooledDim(mm))
    (0 until mm.h2).foreach { u =>
      val unit = mm.copy(
        dense = Array.tabulate(mm.h2)(v => if (v == u) 1.0 else 0.0),
        bias = 0.0,
        attD = new Array[Double](mm.nHeads * mm.h2))
      assert(pooled(u) == LstmStack.forward(unit, seq0),
        s"pooled($u) != unit-dense scalar readout")
    }
  }

  test("joint end-to-end gradient == finite differences (fusion -> towers -> convs)") {
    val cfg = TowerFusion.TrainConfig(
      nTowers = 3,
      blocks = Seq(ConvPipe.BlockSpec(2, 3), ConvPipe.BlockSpec(2, 3)),
      h1 = 2, h2 = 2, nHeads = 2, fusionHidden = 3)
    val T = 16 // per-channel; raw rows interleave 3·16 = 48
    val rnd = new scala.util.Random(61)
    val rows = (0 until 6).map(i =>
      ((i % 2).toDouble, 0.5 + 0.25 * i,
        Array.fill(3 * T)(rnd.nextGaussian())))
    val rdd = spark.sparkContext.parallelize(rows, 2)
    val lay = TowerFusion.Layout(cfg)
    val p0 = Array.fill(lay.nP)(rnd.nextGaussian() * 0.4)
    // keep the affine scales live per tower (block0 at w+b offset,
    // block1 at the end of each tower's conv segment)
    (0 until 3).foreach { t =>
      val o = lay.towerOff(t)
      p0(o + lay.block0W + 2) = 1.1; p0(o + lay.block0W + 3) = 0.9
      p0(o + lay.nConv - 3 - 4) = 1.05; p0(o + lay.nConv - 3 - 3) = 0.95
    }
    // masked off-axis block-0 weights pinned at 0 (the training
    // contract). The mask is a CONSTRAINT, not a stationarity claim —
    // the loss does depend on a masked weight, so its FD is nonzero by
    // design; the gradient check covers the TRAINABLE set only.
    (0 until lay.nP).foreach(i => if (!lay.trainable(i)) p0(i) = 0.0)
    def evalAt(p: Array[Double]) = {
      val bw = spark.sparkContext.broadcast(p)
      try TowerFusion.gradientPass(rdd, bw, cfg, T, 0.1, 1.3)
      finally bw.unpersist(false)
    }
    val (_, grad) = evalAt(p0)
    val eps = 1e-6
    var checked = 0
    (0 until lay.nP).foreach { j =>
      if (lay.trainable(j)) {
        val pp = p0.clone(); pp(j) += eps
        val pm = p0.clone(); pm(j) -= eps
        val fd = (evalAt(pp)._1 - evalAt(pm)._1) / (2 * eps)
        val err = math.abs(fd - grad(j)) / math.max(1.0, math.abs(grad(j)))
        assert(err < 1e-4, s"param $j: grad ${grad(j)} vs FD $fd ($err)")
        checked += 1
      }
    }
    assert(checked == lay.trainable.count(identity),
      s"checked $checked of ${lay.nP}")
  }

  test("joint training learns a planted axis-split corpus; column scores the trained model") {
    import spark.implicits._
    // class signal rides AXIS 0 only: label-1 rows carry an elevated
    // oscillation on channel 0; labels are invisible on channels 1/2
    // (pure noise) — exactly the per-feature-tower setting
    val rnd = new scala.util.Random(11)
    val T = 32
    def row(i: Int): (String, Double, Array[Double]) = {
      val y = i % 2
      val x = Array.tabulate(3 * T) { j =>
        val t = j / 3; val a = j % 3
        if (a == 0 && y == 1)
          2.0 + 1.5 * math.sin(t * 0.7 + i) + rnd.nextGaussian() * 0.25
        else rnd.nextGaussian() * 0.25
      }
      (s"E$i", y.toDouble, x)
    }
    val data = (0 until 80).map(row).toDF("eventId", "label", "window")
    val train = data.filter(expr("CAST(substring(eventId, 2) AS INT) % 3 != 0"))
    val heldOut = data.filter(expr("CAST(substring(eventId, 2) AS INT) % 3 = 0"))
    val cfg = TowerFusion.TrainConfig(
      nTowers = 3,
      blocks = Seq(ConvPipe.BlockSpec(2, 3), ConvPipe.BlockSpec(2, 3)),
      h1 = 2, h2 = 2, nHeads = 2, fusionHidden = 3, maxIter = 150)
    val m = TowerFusion.train(train, cfg)
    // the per-feature constraint held through training: every tower's
    // block-0 weights are EXACTLY 0 off its own axis
    m.towers.zipWithIndex.foreach { case (t, ti) =>
      val b0 = t.front.blocks.head
      (0 until b0.w.length).foreach { idx =>
        val ci = (idx / b0.k) % 3
        if (ci != ti) assert(b0.w(idx) == 0.0,
          s"tower $ti block0 weight $idx (channel $ci) drifted: ${b0.w(idx)}")
      }
    }
    // held-out separation through the COLUMN path (the serving form)
    val scored = TowerFusion.withLogit(m, heldOut, "window")
      .select(col("label"),
        (lit(1.0) / (lit(1.0) + exp(-col("logit")))).as("p"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val pos = scored.filter(_._1 == 1.0).map(_._2)
    val neg = scored.filter(_._1 == 0.0).map(_._2)
    // exact Mann-Whitney AUROC over the held-out scores
    val auroc = pos.map(p => neg.count(n => n < p) +
      0.5 * neg.count(n => n == p)).sum / (pos.length * neg.length)
    assert(auroc > 0.95, s"joint-trained fusion held-out AUROC $auroc")
  }
}
