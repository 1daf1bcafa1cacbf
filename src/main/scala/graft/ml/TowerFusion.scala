package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ml.ConvPipe.ConvPipeModel

/** The N-TOWER fusion of the reference's `build_model`
  * (`user_tools/nnTraining2/amber/model.py:42-66`): one `lstm_pipe`
  * tower per input feature, per-tower `Attention()` (identity over the
  * single pooled token — softmax over one key is weight 1), then
  * `EnhancedFusionLayer` (`amber/enhanced_fusion_layer.py:14-22`:
  * concat → MultiHeadAttention → residual Add; over a single token the
  * MHA collapses to a linear map, so the layer is exactly
  * v + A·v) and the dense head — in the engine's oracle-preserving
  * form:
  *
  *   - each tower is a composed conv→recurrence pipe whose first conv
  *     block reads the 3-channel interleaved input with weights
  *     NON-ZERO ONLY ON ITS OWN AXIS — the per-feature input split of
  *     `build_model` stated as axis-selective channel weights, so
  *     every tower consumes the same raw rawData3D column and the
  *     oracle can state the identical expression (zero terms
  *     included) bit-for-bit;
  *   - the tower readout is the pooled HEAD-INPUT VECTOR, obtained
  *     through the K-class machinery with UNIT readout rows
  *     ([[unitKHead]] — one recurrence evaluation per tower, the
  *     pooled vector as `array<double>`);
  *   - fusion: v = concat(tower vectors); fused = v + A·v (the
  *     collapsed EnhancedFusionLayer); ReLU dense layer; scalar head.
  *     Every op is IEEE mul/add/compare; the long fusion dot products
  *     put the FINAL value on the ×1e6 round grid in the oracle (the
  *     ml5 FMA discipline).
  *
  * Plan shape: ONE projection — the N tower expressions (each a nested
  * codegen'd `LstmStackLogit(ConvFrontSeq(w))` in K-mode) are direct
  * children of one native [[org.apache.spark.sql.graft.FusionDenseLogit]],
  * which runs the fusion/dense arithmetic in its own generated method.
  * No shuffle, no UDF, each tower's recurrence evaluated exactly once
  * per row (expression children evaluate once by construction). The
  * round-15 staged-projection form measured 2.3× the three-recurrence
  * floor on per-level UnsafeRow copies; the native form measures AT the
  * floor (523k vs ~435k·3-pipe-share rows/s, round-16 probe) with the
  * ml4i hash unchanged. */
object TowerFusion {

  case class TowerFusionModel(
      towers: Seq[ConvPipeModel],
      fuse: Array[Double], // D×D row-major: fused = v + fuse·v
      w1: Array[Double],   // H×D dense layer
      b1: Array[Double],   // H
      w2: Array[Double],   // H readout
      b2: Double) {
    require(towers.nonEmpty, "tower fusion over zero towers")
    require(towers.map(_.front.inputLen).distinct.size == 1,
      "towers must consume the same raw input length")
    val dims: Seq[Int] = towers.map(t => pooledDim(t.stack))
    val d: Int = dims.sum
    require(fuse.length == d * d, s"fuse must be $d x $d: ${fuse.length}")
    require(w1.length == b1.length * d && w2.length == b1.length,
      s"dense layer shapes inconsistent: |w1|=${w1.length} |b1|=${b1.length}")
    def inputLen: Int = towers.head.front.inputLen
  }

  /** Dimension of the pooled head-input vector: the residual/mean pool
    * (h2) plus, for the mha head, each attention head's pooled vector
    * (nHeads · h2) — the order [[LstmStack]]'s readout walks. */
  def pooledDim(m: LstmStack.Lstm2Model): Int =
    if (m.head == "mha") m.h2 * (1 + m.nHeads) else m.h2

  /** The pooled vector as a K-class head with UNIT readout rows: class
    * c reads exactly pooled component c (zero rows elsewhere — zero
    * multiplies are value-preserving), so `logitsKCol` emits the
    * pooled head-input vector from one recurrence evaluation. */
  def unitKHead(m: LstmStack.Lstm2Model): LstmStack.KHead = {
    val dd = pooledDim(m)
    require(dd >= 2, s"pooled dim must be >= 2 for the K machinery: $dd")
    val mha = m.head == "mha"
    val denseK = new Array[Double](dd * m.h2)
    val attDK =
      if (mha) new Array[Double](dd * m.nHeads * m.h2)
      else Array.emptyDoubleArray
    var c = 0
    while (c < dd) {
      if (c < m.h2) denseK(c * m.h2 + c) = 1.0
      else {
        val k = (c - m.h2) / m.h2
        val u = (c - m.h2) % m.h2
        attDK(c * m.nHeads * m.h2 + k * m.h2 + u) = 1.0
      }
      c += 1
    }
    LstmStack.KHead(dd, denseK, new Array[Double](dd), attDK)
  }

  /** JVM twin of the column form: tower pooled vectors → fusion →
    * dense → scalar logit, all in the column's accumulation order. */
  def forward(m: TowerFusionModel, x: Array[Double]): Double = {
    val v = m.towers.flatMap(t =>
      LstmStack.forwardK(t.stack, unitKHead(t.stack),
        ConvFront.forward(t.front, x))).toArray
    fusionScalar(m, v)
  }

  private def fusionScalar(m: TowerFusionModel, v: Array[Double]): Double = {
    val d = m.d
    val fused = new Array[Double](d)
    var j = 0
    while (j < d) {
      var acc = v(j)
      var i = 0
      while (i < d) { acc += m.fuse(j * d + i) * v(i); i += 1 }
      fused(j) = acc
      j += 1
    }
    var z = m.b2
    var r = 0
    while (r < m.b1.length) {
      var h = m.b1(r)
      var jj = 0
      while (jj < d) { h += m.w1(r * d + jj) * fused(jj); jj += 1 }
      z += m.w2(r) * (if (h > 0.0) h else 0.0)
      r += 1
    }
    z
  }

  /** The fused logit as ONE native column: each tower's pooled vector
    * (a nested codegen'd K-mode `LstmStackLogit(ConvFrontSeq(w))`)
    * nested directly as a child of
    * [[org.apache.spark.sql.graft.FusionDenseLogit]], which runs the
    * concat → (v + A·v) → ReLU dense → scalar arithmetic in one
    * generated method. One projection, each tower evaluated exactly
    * once per row (expression children evaluate once by construction).
    *
    * History: round 15 staged this as pooled/fused/ReLU column LEVELS
    * behind CollapseProject's non-cheap-alias guard — correct and
    * codegen'd, but the per-level UnsafeRow copies measured 2.3× over
    * the three-recurrence floor (SCALING.md:1540). The native form
    * removes the copies with the SAME accumulation order
    * ([[fusionScalar]]'s), so the ml4i oracle hash pins the swap
    * bit-exact. (The round-15 lesson about ONE MONOLITHIC column
    * expression still stands — that form duplicated every fused(j)
    * subtree into all H dense rows; a generated method with local
    * arrays duplicates nothing.) */
  def logitCol(m: TowerFusionModel, win: Column): Column =
    org.apache.spark.sql.graft.GraftSqlBridge.fusionDenseLogit(
      m.towers.map(t => LstmStack.logitsKCol(t.stack, unitKHead(t.stack),
        ConvFront.seqCol(t.front, win))),
      m.dims, m.fuse.toSeq, m.w1.toSeq, m.b1.toSeq, m.w2.toSeq, m.b2)

  /** Attach the fused logit to `df` — [[logitCol]] under the original
    * staged-API name (all call sites go through here). */
  def withLogit(m: TowerFusionModel, df: DataFrame, winCol: String,
                outCol: String = "logit"): DataFrame =
    df.withColumn(outCol, logitCol(m, col(winCol)))

  // ------------------------------------------------------------ training

  /** Joint end-to-end training config: N towers over N interleaved
    * input channels (each tower's first-block weights CONSTRAINED to
    * its own axis by a gradient mask — the reference's per-feature
    * input split held exactly during training: masked weights start at
    * 0 and receive zero gradient, so LBFGS never moves them), shared
    * tower architecture, a fusionHidden-unit ReLU dense layer over the
    * fused vector, logistic head. */
  case class TrainConfig(
      nTowers: Int = 3,
      blocks: Seq[ConvPipe.BlockSpec] =
        Seq(ConvPipe.BlockSpec(2, 3), ConvPipe.BlockSpec(2, 3)),
      h1: Int = 2,
      h2: Int = 2,
      nHeads: Int = 2,
      fusionHidden: Int = 4,
      maxIter: Int = 120,
      regParam: Double = 1e-4,
      seed: Long = 42L)

  /** Parameter layout: [tower₀ conv|stack | tower₁ … | fuse (D×D) |
    * w1 (H×D) | b1 (H) | w2 (H) | b2]. Towers are mha+bidir (the full
    * amber shape). */
  private[graft] final case class Layout(cfg: TrainConfig) {
    val shapes: Seq[(Int, Int, Int)] =
      ConvPipe.shapesOf(cfg.blocks, cfg.nTowers)
    val nConv: Int = ConvPipe.convParamCount(shapes)
    val nStack: Int =
      LstmStack.nParams(cfg.h1, cfg.h2, "mha", bidir = true, cfg.nHeads)
    val towerN: Int = nConv + nStack
    val dim: Int = cfg.h2 * (1 + cfg.nHeads) // pooled dim per tower
    val d: Int = cfg.nTowers * dim
    val h: Int = cfg.fusionHidden
    def towerOff(t: Int): Int = t * towerN
    def stackOff(t: Int): Int = towerOff(t) + nConv
    val fuseO: Int = cfg.nTowers * towerN
    val w1O: Int = fuseO + d * d
    val b1O: Int = w1O + h * d
    val w2O: Int = b1O + h
    val b2O: Int = w2O + h
    val nP: Int = b2O + 1
    /** block-0 weight index (within a tower) reads channel `ci` */
    def block0Chan(idx: Int): Int = {
      val (_, _, k) = shapes.head
      (idx / k) % cfg.nTowers
    }
    val block0W: Int = { val (ci, co, k) = shapes.head; co * ci * k }
    /** trainable mask: false = off-axis block-0 weight of some tower
      * (pinned at 0 — the per-feature tower constraint) */
    val trainable: Array[Boolean] = {
      val m = Array.fill(nP)(true)
      var t = 0
      while (t < cfg.nTowers) {
        var i = 0
        while (i < block0W) {
          if (block0Chan(i) != t) m(towerOff(t) + i) = false
          i += 1
        }
        t += 1
      }
      m
    }
  }

  /** Joint END-TO-END training of the complete `build_model`: ONE
    * parameter vector across every tower's conv front + stacked
    * recurrence, the fusion matrix, and the dense head; per row the
    * gradient flows dz → fusion backward → per-tower pooled-vector
    * gradients → [[LstmStack.backwardFromPooled]] → conv backward.
    * Trained by [[DetAgg.fit]], the discipline every gradient family
    * shares; the off-axis block-0 weights start at 0, get a zero
    * gradient and no L2, so LBFGS keeps them at exactly 0. */
  def train(windows: DataFrame, cfg: TrainConfig = TrainConfig(),
            weightCol: Option[String] = None): TowerFusionModel = {
    val lay = Layout(cfg)
    // L2 weight ranges: per tower, conv kernels (trainable entries
    // only, via the mask) + channel mix + stack weight ranges; plus
    // fuse / w1 / w2 (biases b1, b2 and the conv affine excluded)
    val wRanges: Seq[(Int, Int)] = (0 until cfg.nTowers).flatMap { t =>
      ConvPipe.convWeightRanges(lay.shapes, lay.towerOff(t)) ++ LstmStack
        .stackWeightRanges(cfg.h1, cfg.h2, "mha", bidir = true, cfg.nHeads)
        .map(r => (lay.stackOff(t) + r._1, lay.stackOff(t) + r._2))
    } ++ Seq((lay.fuseO, lay.w1O), (lay.w1O, lay.b1O),
      (lay.w2O, lay.b2O))
    val isWeight = Array.tabulate(lay.nP)(i =>
      lay.trainable(i) && wRanges.exists(r => i >= r._1 && i < r._2))

    val rnd = new scala.util.Random(cfg.seed)
    val init = new Array[Double](lay.nP)
    (0 until cfg.nTowers).foreach { t =>
      ConvPipe.convInit(rnd, lay.shapes, init, lay.towerOff(t))
      System.arraycopy(
        LstmStack.stackInit(rnd, cfg.h1, cfg.h2, "mha", bidir = true,
          cfg.nHeads),
        0, init, lay.stackOff(t), lay.nStack)
    }
    (lay.fuseO until lay.w1O).foreach(i =>
      init(i) = rnd.nextGaussian() * 0.1)
    (lay.w1O until lay.b1O).foreach(i =>
      init(i) = rnd.nextGaussian() * 0.3)
    (lay.w2O until lay.b2O).foreach(i => init(i) = rnd.nextGaussian())
    // the mask pins off-axis block-0 weights at EXACTLY 0 (the draw
    // above keeps the rnd stream deterministic regardless of mask)
    (0 until lay.nP).foreach(i => if (!lay.trainable(i)) init(i) = 0.0)

    DetAgg.fit(windows, "window", weightCol, init, isWeight,
        cfg.regParam, cfg.maxIter) { (mean, std, len) =>
      val (tLen, _) =
        ConvPipe.frontShape(len, cfg.nTowers, lay.shapes, cfg.blocks)
      ((ds, bw) => {
         val (loss, grad) = gradientPass(ds, bw, cfg, tLen, mean, std)
         // masked (off-axis) entries get a zero gradient
         var i = 0
         while (i < lay.nP) { if (!lay.trainable(i)) grad(i) = 0.0; i += 1 }
         (loss, grad)
       },
       sol => unpack(sol, cfg, tLen, mean, std))
    }
  }

  private def unpack(p: Array[Double], cfg: TrainConfig, tLen: Int,
      mean: Double, std: Double): TowerFusionModel = {
    val lay = Layout(cfg)
    val towers = (0 until cfg.nTowers).map { t =>
      val front = ConvPipe.frontOf(
        java.util.Arrays.copyOfRange(p, lay.towerOff(t),
          lay.towerOff(t) + lay.nConv),
        lay.shapes, tLen, mean, std)
      ConvPipe.ConvPipeModel(front,
        LstmStack.stackUnpack(p, lay.stackOff(t), cfg.h1, cfg.h2,
          front.outLen, 0.0, 1.0, "mha", bidir = true, cfg.nHeads))
    }
    TowerFusionModel(towers,
      fuse = java.util.Arrays.copyOfRange(p, lay.fuseO, lay.w1O),
      w1 = java.util.Arrays.copyOfRange(p, lay.w1O, lay.b1O),
      b1 = java.util.Arrays.copyOfRange(p, lay.b1O, lay.w2O),
      w2 = java.util.Arrays.copyOfRange(p, lay.w2O, lay.b2O),
      b2 = p(lay.b2O))
  }

  /** One composed loss/gradient evaluation: per row, every tower's
    * conv forward → stored-recurrence forward → pooled vector; the
    * fusion forward/backward on the driver-free executor path; then
    * per-tower [[LstmStack.backwardFromPooled]] seeding the conv
    * backward. Partials combine in partition-index order. (Lives in an
    * object method — a closure inside the anonymous DiffFunction would
    * capture it and fail serialization, the ConvPipe lesson.)
    * TowerFusionSpec's finite-difference check drives it directly. */
  private[graft] def gradientPass(
      ds: org.apache.spark.rdd.RDD[(Double, Double, Array[Double])],
      bw: org.apache.spark.broadcast.Broadcast[Array[Double]],
      cfg: TrainConfig, tLen: Int, mean: Double, std: Double)
      : (Double, Array[Double]) = {
    val lay = Layout(cfg)
    DetAgg.lossGrad(
      ds.mapPartitionsWithIndex { case (pi, it) =>
        if (it.isEmpty) Iterator.empty
        else {
          val pv = bw.value
          val fronts = (0 until cfg.nTowers).map(t =>
            ConvPipe.frontOf(
              java.util.Arrays.copyOfRange(pv, lay.towerOff(t),
                lay.towerOff(t) + lay.nConv),
              lay.shapes, tLen, mean, std))
          val grad = new Array[Double](lay.nP)
          var ls = 0.0
          val d = lay.d; val dim = lay.dim; val h = lay.h
          it.foreach { case (y, wt, xRaw) =>
            // ---- towers forward
            val seqs = new Array[Array[Double]](cfg.nTowers)
            val tapes = new Array[LstmStack.StackTape](cfg.nTowers)
            val v = new Array[Double](d)
            var t = 0
            while (t < cfg.nTowers) {
              seqs(t) = ConvFront.forward(fronts(t), xRaw)
              tapes(t) = LstmStack.forwardStore(pv, lay.stackOff(t),
                cfg.h1, cfg.h2, "mha", bidir = true, cfg.nHeads, seqs(t))
              val pooled = LstmStack.pooledOfTape(tapes(t), cfg.h2,
                "mha", cfg.nHeads)
              System.arraycopy(pooled, 0, v, t * dim, dim)
              t += 1
            }
            // ---- fusion forward (the withLogit accumulation order)
            val fused = new Array[Double](d)
            var j = 0
            while (j < d) {
              var acc = v(j)
              var i = 0
              while (i < d) { acc += pv(lay.fuseO + j * d + i) * v(i); i += 1 }
              fused(j) = acc
              j += 1
            }
            val hPre = new Array[Double](h)
            var z = pv(lay.b2O)
            var r = 0
            while (r < h) {
              var hv = pv(lay.b1O + r)
              j = 0
              while (j < d) { hv += pv(lay.w1O + r * d + j) * fused(j); j += 1 }
              hPre(r) = hv
              z += pv(lay.w2O + r) * (if (hv > 0.0) hv else 0.0)
              r += 1
            }
            val loss =
              if (z > 0) z + math.log1p(math.exp(-z)) - y * z
              else math.log1p(math.exp(z)) - y * z
            ls += wt * loss
            val dz = wt * (1.0 / (1.0 + math.exp(-z)) - y)
            // ---- fusion backward
            grad(lay.b2O) += dz
            val dFused = new Array[Double](d)
            r = 0
            while (r < h) {
              val relu = if (hPre(r) > 0.0) hPre(r) else 0.0
              grad(lay.w2O + r) += dz * relu
              val dh = if (hPre(r) > 0.0) dz * pv(lay.w2O + r) else 0.0
              if (dh != 0.0) {
                grad(lay.b1O + r) += dh
                j = 0
                while (j < d) {
                  grad(lay.w1O + r * d + j) += dh * fused(j)
                  dFused(j) += dh * pv(lay.w1O + r * d + j)
                  j += 1
                }
              }
              r += 1
            }
            val dV = new Array[Double](d)
            j = 0
            while (j < d) {
              val df = dFused(j)
              dV(j) += df // the residual path
              var i = 0
              while (i < d) {
                grad(lay.fuseO + j * d + i) += df * v(i)
                dV(i) += df * pv(lay.fuseO + j * d + i)
                i += 1
              }
              j += 1
            }
            // ---- towers backward
            t = 0
            while (t < cfg.nTowers) {
              val dPooled =
                java.util.Arrays.copyOfRange(dV, t * dim, (t + 1) * dim)
              val dxs = new Array[Double](seqs(t).length)
              LstmStack.backwardFromPooled(pv, lay.stackOff(t),
                cfg.h1, cfg.h2, "mha", bidir = true, cfg.nHeads,
                tapes(t), dPooled, grad, dxs)
              ConvFront.rowBackward(fronts(t), xRaw, dxs, grad,
                lay.towerOff(t))
              t += 1
            }
          }
          Iterator.single((pi, (ls, grad)))
        }
      }, lay.nP)
  }
}
