package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.types.{DataType, DoubleType}
import graft.functions.Signal

/** The SPECTROGRAM-INPUT CNN — the reference's `SpecCnnModel`
  * (`user_tools/nnTraining2/specCnnModel.py`): the raw window is
  * converted to a spectrogram "image" (nFreq × nSpec, one short-time
  * spectrum per column — specCnnModel.py:130-180), and an image-style
  * 2-D CNN classifies it (makeModel, specCnnModel.py:84-100: nLayers ×
  * [Conv2D(3×3, same) → ReLU → MaxPool2D(2×2, same)] → flatten → dense).
  * This closes the nnModel subclass census: features-MLP/LR/RF,
  * raw-window CNN/LSTM/stack/ConvPipe/TowerFusion, and now the
  * spectrogram basis.
  *
  * Spark-first boundary, same as the rest of the family: the
  * architecture is a per-row pure function (forward = one JVM kernel,
  * served in batch by [[org.apache.spark.sql.graft.ModelForward]]),
  * training is driver LBFGS over a deterministic one-pass distributed
  * gradient ([[DetAgg.fit]]), and the spectrogram extraction
  * is a pure per-window function — a third BASIS for
  * [[RunSequence.runNestedBases]], extracted once per nested run exactly
  * like the features and raw-window bases.
  *
  * Redesign notes vs the reference (each a deliberate collapse, not an
  * omission):
  *  - Dropout is a train-time stochastic regularizer and an identity at
  *    inference; the engine's deterministic LBFGS path regularizes with
  *    L2 instead (the [[Cnn]]/[[Lstm]] family convention).
  *  - BatchNormalization at inference is a per-channel affine — foldable
  *    into the conv weights; at this parameter count (hundreds of
  *    doubles, not the reference's 32-filter Keras net) the fold is the
  *    identity-at-init case, so the engine trains the plain conv stack
  *    (the [[Cnn]] docblock's "minus the layers MLlib-class training
  *    can't justify" boundary).
  *  - num_classes=2 softmax ≡ a single logistic logit (softmax over two
  *    logits is sigmoid of their difference) — the binary readout every
  *    other family uses; the K-class readout precedent is
  *    [[LstmStack.KHead]] if a >2-class spectrogram model is ever
  *    needed.
  *
  * Spectrogram semantics ([[specImage]]) follow
  * `generateSpectralHistoryFromAccelLst` (specCnnModel.py:130-180):
  * slices of specSamp samples every specStep, per slice DC removal
  * (slice − mean), |DFT| magnitudes for bins 0..specSamp/2−1 (DC bin
  * KEPT — after mean removal it is the FP residual, exactly as the
  * reference keeps fftMag[0:fftLen]), values with |mag| < zeroTol
  * clipped to 0. The reference's /1000 is the mG→G conversion —
  * already applied by the M8 buffer path
  * ([[graft.streaming.NnBuffer.dp2vectors]] emits G), so it does not
  * reappear here. The reference's sdThresh branch is dead code
  * (`if (True)` — specCnnModel.py:162) and is not reproduced.
  *
  * Scale shape: extraction is embarrassingly parallel per window (an
  * O(nSpec · specSamp²) direct DFT — ~29 slices × 2.5k flops at the
  * default geometry); scoring is one codegen'd projection, no shuffle;
  * training cost per LBFGS iteration is one map-side partial-gradient
  * pass + an O(P) driver update. All three survive a 1000-executor
  * corpus untouched.
  */
object SpecCnn {

  /** One conv block: cIn → cOut channels, 3×3 kernel, same padding,
    * ReLU, then 2×2 same max-pool (ceil dims). Weight layout:
    * ((o·cIn + ci)·3 + dy)·3 + dx. */
  case class Layer(cIn: Int, cOut: Int, w: Array[Double], b: Array[Double]) {
    require(w.length == cOut * cIn * 9 && b.length == cOut,
      "SpecCnn.Layer weight shapes inconsistent")
  }

  /** Trained network + the input geometry and scaling it was fit under.
    * `dense` flattens the final feature map (c slowest, then f, then s).
    * Serving a different image shape is a fail-loud require. */
  case class SpecCnnModel(
      nFreq: Int,
      nSpec: Int,
      layers: Array[Layer],
      dense: Array[Double],
      bias: Double,
      mean: Double,
      std: Double) {
    require(layers.nonEmpty && layers.head.cIn == 1,
      "SpecCnnModel consumes a single-channel image")
    require(layers.sliding(2).forall(p => p.size < 2 || p(0).cOut == p(1).cIn),
      "SpecCnnModel channel chain inconsistent")
    val (hOut, wOut) = layers.indices.foldLeft((nFreq, nSpec))((d, _) =>
      ((d._1 + 1) / 2, (d._2 + 1) / 2))
    require(dense.length == layers.last.cOut * hOut * wOut,
      s"dense length ${dense.length} != ${layers.last.cOut}*$hOut*$wOut")
    def nParams: Int =
      layers.map(l => l.w.length + l.b.length).sum + dense.length + 1
  }

  case class Config(
      specSamp: Int = 50,   // samples per spectrum: 2 s at 25 Hz = 0.5 Hz bins
      specStep: Int = 25,   // window advance between spectra
      zeroTol: Double = 0.001,
      channels: Seq[Int] = Seq(4, 8), // cOut per conv block
      maxIter: Int = 120,
      regParam: Double = 1e-4,
      seed: Long = 42L)

  /** Image dims for a window of `n` samples: (nFreq, nSpec). nSpec is
    * the slice-loop count (endPosn = specSamp, +specStep, ... ≤ n) —
    * identically the reference's nSpec formula for both the
    * overlapping and the non-overlapping regime. */
  def imageDims(n: Int, specSamp: Int, specStep: Int): (Int, Int) =
    (specSamp / 2, if (n < specSamp) 0 else (n - specSamp) / specStep + 1)

  /** The spectrogram of one window (in G), flattened freq-major:
    * img(f·nSpec + s) = |X_f| of slice s. See the object docblock for
    * the semantics contract. */
  def specImage(win: Array[Double], specSamp: Int, specStep: Int,
                zeroTol: Double = 0.001): Array[Double] = {
    val (nFreq, nSpec) = imageDims(win.length, specSamp, specStep)
    val img = new Array[Double](nFreq * nSpec)
    var s = 0
    var endPosn = specSamp
    while (endPosn <= win.length) {
      val slice = new Array[Double](specSamp)
      var i = 0
      var sum = 0.0
      while (i < specSamp) { sum += win(endPosn - specSamp + i); i += 1 }
      val mu = sum / specSamp
      i = 0
      while (i < specSamp) { slice(i) = win(endPosn - specSamp + i) - mu; i += 1 }
      val (re, im) = Signal.dft(slice)
      var f = 0
      while (f < nFreq) {
        val m = math.sqrt(Signal.magnitudeSq(re(f), im(f)))
        img(f * nSpec + s) = if (m < zeroTol) 0.0 else m
        f += 1
      }
      s += 1
      endPosn += specStep
    }
    img
  }

  /** Forward pass → LOGIT over the trained image shape — the replay
    * scorer's path; [[logitCol]] runs the same [[logit]] kernel. */
  def forward(m: SpecCnnModel, img: Array[Double]): Double = {
    require(img.length == m.nFreq * m.nSpec,
      s"image ${img.length} != trained ${m.nFreq}x${m.nSpec}")
    logit(m, img)
  }

  /** The one forward kernel over a freq-major image, pixel (f, s) at
    * f·nSpec + s. "Same" conv pads (k−1)/2 zeros on each side; "same"
    * pool emits ceil(dim/2) cells, edge cells maxing over the covered
    * elements only. Accumulation order is the cross-engine contract
    * (the generated ml10 SQL replays it): conv acc = b(o) then ci, dy,
    * dx ascending; readout c, f, s ascending. With integer inputs and
    * weights every intermediate is an exact integer — the ml3 oracle
    * class. */
  private def logit(m: SpecCnnModel, img: Array[Double]): Double = {
    var h = m.nFreq; var w = m.nSpec
    var cur = Array.tabulate(1, m.nFreq, m.nSpec)((_, f, s) =>
      (img(f * m.nSpec + s) - m.mean) / m.std)
    var li = 0
    while (li < m.layers.length) {
      val l = m.layers(li)
      val act = convRelu(l, cur, h, w)
      val hp = (h + 1) / 2; val wp = (w + 1) / 2
      cur = pool(act, l.cOut, h, w, hp, wp, null)
      h = hp; w = wp
      li += 1
    }
    var z = m.bias
    var c = 0; var idx = 0
    while (c < m.layers.last.cOut) {
      var f = 0
      while (f < h) {
        var s = 0
        while (s < w) { z += m.dense(idx) * cur(c)(f)(s); idx += 1; s += 1 }
        f += 1
      }
      c += 1
    }
    z
  }

  /** Same-padded 3×3 conv + ReLU of one layer (acc order: b, then ci,
    * dy, dx ascending — the cross-engine contract). */
  private def convRelu(l: Layer, in: Array[Array[Array[Double]]],
                       h: Int, w: Int): Array[Array[Array[Double]]] = {
    val act = Array.ofDim[Double](l.cOut, h, w)
    var o = 0
    while (o < l.cOut) {
      var f = 0
      while (f < h) {
        var s = 0
        while (s < w) {
          var acc = l.b(o)
          var ci = 0
          while (ci < l.cIn) {
            var dy = 0
            while (dy < 3) {
              val ff = f + dy - 1
              if (ff >= 0 && ff < h) {
                var dx = 0
                while (dx < 3) {
                  val ss = s + dx - 1
                  if (ss >= 0 && ss < w)
                    acc += l.w(((o * l.cIn + ci) * 3 + dy) * 3 + dx) * in(ci)(ff)(ss)
                  dx += 1
                }
              }
              dy += 1
            }
            ci += 1
          }
          act(o)(f)(s) = if (acc > 0.0) acc else 0.0
          s += 1
        }
        f += 1
      }
      o += 1
    }
    act
  }

  /** 2×2 same max-pool (ceil dims; first covered cell seeds, strict `>`
    * so the FIRST maximum in scan order wins — the tie rule the backward
    * pass replays). `argOut`, when non-null, records the winning flat
    * (f·w + s) per pooled cell for gradient routing. */
  private def pool(act: Array[Array[Array[Double]]], cOut: Int,
                   h: Int, w: Int, hp: Int, wp: Int,
                   argOut: Array[Array[Int]]): Array[Array[Array[Double]]] = {
    val out = Array.ofDim[Double](cOut, hp, wp)
    var o = 0
    while (o < cOut) {
      var fp = 0
      while (fp < hp) {
        var sp = 0
        while (sp < wp) {
          var bf = 2 * fp; var bs = 2 * sp
          var best = act(o)(bf)(bs)
          if (2 * sp + 1 < w && act(o)(2 * fp)(2 * sp + 1) > best) {
            best = act(o)(2 * fp)(2 * sp + 1); bs = 2 * sp + 1
          }
          if (2 * fp + 1 < h) {
            if (act(o)(2 * fp + 1)(2 * sp) > best) {
              best = act(o)(2 * fp + 1)(2 * sp); bf = 2 * fp + 1; bs = 2 * sp
            }
            if (2 * sp + 1 < w && act(o)(2 * fp + 1)(2 * sp + 1) > best) {
              best = act(o)(2 * fp + 1)(2 * sp + 1); bf = 2 * fp + 1; bs = 2 * sp + 1
            }
          }
          out(o)(fp)(sp) = best
          if (argOut != null) argOut(o)(fp * wp + sp) = bf * w + bs
          sp += 1
        }
        fp += 1
      }
      o += 1
    }
    out
  }

  /** [[logit]] as the column's kernel: NULL for a wrong-shape image (it
    * has no meaningful convolution; the fail-loud serve guard is
    * [[scoreSpectrograms]]'). */
  private[graft] final case class Kernel(m: SpecCnnModel)
      extends org.apache.spark.sql.graft.ForwardKernel {
    def dataType: DataType = DoubleType
    def apply(x: Array[Double]): Any =
      if (x.length == m.nFreq * m.nSpec) logit(m, x) else null
    override def toString: String =
      s"spec_cnn(image=${m.nFreq}x${m.nSpec}, " +
        m.layers.map(l => s"${l.cIn}->${l.cOut}").mkString("channels=", ",", ")")
  }

  /** The forward pass as a native Catalyst column over the flattened
    * freq-major image ([[org.apache.spark.sql.graft.ModelForward]] over
    * [[logit]]; NULL for a wrong-shape image). */
  def logitCol(m: SpecCnnModel, img: Column): Column =
    org.apache.spark.sql.graft.GraftSqlBridge.modelForward(img, Kernel(m))

  // ------------------------------------------------------------ training

  /** Parameter vector layout: per layer (w then b) sequential, then
    * dense, then bias — one flat double[] for LBFGS. */
  private def pack(m: SpecCnnModel): Array[Double] = {
    val out = new Array[Double](m.nParams)
    var off = 0
    m.layers.foreach { l =>
      Array.copy(l.w, 0, out, off, l.w.length); off += l.w.length
      Array.copy(l.b, 0, out, off, l.b.length); off += l.b.length
    }
    Array.copy(m.dense, 0, out, off, m.dense.length); off += m.dense.length
    out(off) = m.bias
    out
  }

  private def unpack(p: Array[Double], nFreq: Int, nSpec: Int,
                     channels: Seq[Int], mean: Double, std: Double): SpecCnnModel = {
    var off = 0
    var cIn = 1
    val layers = channels.map { cOut =>
      val w = java.util.Arrays.copyOfRange(p, off, off + cOut * cIn * 9)
      off += cOut * cIn * 9
      val b = java.util.Arrays.copyOfRange(p, off, off + cOut)
      off += cOut
      val l = Layer(cIn, cOut, w, b)
      cIn = cOut
      l
    }.toArray
    val (h, wd) = channels.indices.foldLeft((nFreq, nSpec))((d, _) =>
      ((d._1 + 1) / 2, (d._2 + 1) / 2))
    val dLen = channels.last * h * wd
    val dense = java.util.Arrays.copyOfRange(p, off, off + dLen)
    off += dLen
    SpecCnnModel(nFreq, nSpec, layers, dense, p(off), mean, std)
  }

  /** One row's loss + gradient into `g` (same parameter layout as
    * [[pack]]). Forward stores per-layer inputs, activations, and pool
    * argmaxes; backward routes dz through the dense readout, the pool
    * argmax, the ReLU gate, and the conv taps — gradient == finite
    * differences is SpecCnnSpec's gate. */
  private def rowGrad(p: Array[Double], nFreq: Int, nSpec: Int,
                      channels: Seq[Int], mean: Double, std: Double,
                      y: Double, wt: Double, img: Array[Double],
                      g: Array[Double]): Double = {
    val nL = channels.length
    // ---- forward with tape
    val ins = new Array[Array[Array[Array[Double]]]](nL)  // input per layer
    val acts = new Array[Array[Array[Array[Double]]]](nL) // post-ReLU conv
    val args = new Array[Array[Array[Int]]](nL)           // pool argmax
    val hs = new Array[Int](nL + 1); val wsDim = new Array[Int](nL + 1)
    hs(0) = nFreq; wsDim(0) = nSpec
    var cur = Array.tabulate(1, nFreq, nSpec)((_, f, s) =>
      (img(f * nSpec + s) - mean) / std)
    val offs = new Array[Int](nL) // parameter offset of layer i's w block
    var off = 0
    var cIn = 1
    var li = 0
    while (li < nL) {
      val cOut = channels(li)
      offs(li) = off
      val l = Layer(cIn,
        cOut,
        java.util.Arrays.copyOfRange(p, off, off + cOut * cIn * 9),
        java.util.Arrays.copyOfRange(p, off + cOut * cIn * 9,
          off + cOut * cIn * 9 + cOut))
      off += cOut * cIn * 9 + cOut
      val h = hs(li); val w = wsDim(li)
      ins(li) = cur
      val act = convRelu(l, cur, h, w)
      acts(li) = act
      val hp = (h + 1) / 2; val wp = (w + 1) / 2
      val arg = Array.ofDim[Int](cOut, hp * wp)
      cur = pool(act, cOut, h, w, hp, wp, arg)
      args(li) = arg
      hs(li + 1) = hp; wsDim(li + 1) = wp
      cIn = cOut
      li += 1
    }
    val dOff = off
    val hF = hs(nL); val wF = wsDim(nL)
    var z = p(p.length - 1)
    var c = 0; var idx = 0
    while (c < channels.last) {
      var f = 0
      while (f < hF) {
        var s = 0
        while (s < wF) { z += p(dOff + idx) * cur(c)(f)(s); idx += 1; s += 1 }
        f += 1
      }
      c += 1
    }
    val loss =
      if (z > 0) z + math.log1p(math.exp(-z)) - y * z
      else math.log1p(math.exp(z)) - y * z
    // ---- backward
    val dz = wt * (1.0 / (1.0 + math.exp(-z)) - y)
    g(p.length - 1) += dz
    var dCur = Array.ofDim[Double](channels.last, hF, wF)
    c = 0; idx = 0
    while (c < channels.last) {
      var f = 0
      while (f < hF) {
        var s = 0
        while (s < wF) {
          g(dOff + idx) += dz * cur(c)(f)(s)
          dCur(c)(f)(s) = dz * p(dOff + idx)
          idx += 1; s += 1
        }
        f += 1
      }
      c += 1
    }
    li = nL - 1
    while (li >= 0) {
      val cOut = channels(li)
      val cInL = if (li == 0) 1 else channels(li - 1)
      val h = hs(li); val w = wsDim(li)
      val hp = hs(li + 1); val wp = wsDim(li + 1)
      // pool backward: route each pooled grad to its argmax cell
      val dAct = Array.ofDim[Double](cOut, h, w)
      var o = 0
      while (o < cOut) {
        var fp = 0
        while (fp < hp) {
          var sp = 0
          while (sp < wp) {
            val a = args(li)(o)(fp * wp + sp)
            dAct(o)(a / w)(a % w) += dCur(o)(fp)(sp)
            sp += 1
          }
          fp += 1
        }
        o += 1
      }
      // conv backward through the ReLU gate (act > 0 passes)
      val dIn =
        if (li == 0) null else Array.ofDim[Double](cInL, h, w)
      val wOff = offs(li)
      val bOff = offs(li) + cOut * cInL * 9
      o = 0
      while (o < cOut) {
        var f = 0
        while (f < h) {
          var s = 0
          while (s < w) {
            val d = dAct(o)(f)(s)
            if (d != 0.0 && acts(li)(o)(f)(s) > 0.0) {
              g(bOff + o) += d
              var ci = 0
              while (ci < cInL) {
                var dy = 0
                while (dy < 3) {
                  val ff = f + dy - 1
                  if (ff >= 0 && ff < h) {
                    var dx = 0
                    while (dx < 3) {
                      val ss = s + dx - 1
                      if (ss >= 0 && ss < w) {
                        val wi = wOff + ((o * cInL + ci) * 3 + dy) * 3 + dx
                        g(wi) += d * ins(li)(ci)(ff)(ss)
                        if (dIn != null) dIn(ci)(ff)(ss) += d * p(wi)
                      }
                      dx += 1
                    }
                  }
                  dy += 1
                }
                ci += 1
              }
            }
            s += 1
          }
          f += 1
        }
        o += 1
      }
      if (li > 0) dCur = dIn
      li -= 1
    }
    wt * loss
  }

  /** One distributed loss/gradient evaluation — map-side partials per
    * partition combined in partition-index order ([[DetAgg.lossGrad]];
    * the [[Cnn.train]] determinism discipline). Top-level so executor
    * lambdas capture only their arguments. */
  private def gradientPass(
      ds: org.apache.spark.rdd.RDD[(Double, Double, Array[Double])],
      bw: org.apache.spark.broadcast.Broadcast[Array[Double]],
      nFreq: Int, nSpec: Int, channels: Seq[Int],
      mean: Double, std: Double, nP: Int): (Double, Array[Double]) =
    DetAgg.lossGrad(
      ds.mapPartitionsWithIndex { case (pi, it) =>
        if (it.isEmpty) Iterator.empty
        else {
          val p = bw.value
          var ls = 0.0
          val g = new Array[Double](nP)
          it.foreach { case (y, wt, img) =>
            ls += rowGrad(p, nFreq, nSpec, channels, mean, std, y, wt, img, g)
          }
          Iterator.single((pi, (ls, g)))
        }
      }, nP)

  /** Distributed training over `(label, [weight], spectrogram)` rows
    * through [[DetAgg.fit]], the discipline every gradient family
    * shares: L2 on conv + dense weights (not biases), seeded init.
    * Image geometry comes from the `nFreq`/`nSpec` args (callers have
    * the window length and the [[Config]]; [[imageDims]] derives the
    * shape), and every image must have that many values. */
  def train(images: DataFrame, nFreq: Int, nSpec: Int,
            cfg: Config = Config(),
            weightCol: Option[String] = None): SpecCnnModel = {
    // name degenerate geometry at TRAINING time: a windowSamples <
    // specSamp yields nSpec = 0 via imageDims, and every image is empty
    require(nFreq >= 1 && nSpec >= 1,
      s"degenerate spectrogram geometry nFreq=$nFreq nSpec=$nSpec — " +
        "window shorter than one spectral slice?")
    val channels = cfg.channels
    val (h, w) = channels.indices.foldLeft((nFreq, nSpec))((d, _) =>
      ((d._1 + 1) / 2, (d._2 + 1) / 2))
    val denseLen = channels.last * h * w
    var cIn = 1
    var nW = 0
    channels.foreach { co => nW += co * cIn * 9 + co; cIn = co }
    val nP = nW + denseLen + 1

    // L2 applies to conv + dense WEIGHTS only
    val isWeight = new Array[Boolean](nP)
    var off = 0; cIn = 1
    channels.foreach { co =>
      (0 until co * cIn * 9).foreach(i => isWeight(off + i) = true)
      off += co * cIn * 9 + co // biases excluded
      cIn = co
    }
    (0 until denseLen).foreach(i => isWeight(off + i) = true)

    val rnd = new scala.util.Random(cfg.seed)
    val init = new Array[Double](nP)
    off = 0; cIn = 1
    channels.foreach { co =>
      (0 until co * cIn * 9).foreach(i => init(off + i) = rnd.nextGaussian() * 0.3)
      off += co * cIn * 9 + co
      cIn = co
    }
    (0 until denseLen).foreach(i => init(off + i) = rnd.nextGaussian() * 0.3)

    DetAgg.fit(images, "spectrogram", weightCol, init, isWeight,
        cfg.regParam, cfg.maxIter) { (mean, std, len) =>
      require(len == nFreq * nSpec, s"image length $len != $nFreq*$nSpec")
      ((ds, bw) =>
         gradientPass(ds, bw, nFreq, nSpec, channels, mean, std, nP),
       sol => unpack(sol, nFreq, nSpec, channels, mean, std))
    }
  }

  /** TEST SEAM: one weighted loss/gradient at a given parameter vector
    * over local rows — SpecCnnSpec's finite-difference gate drives the
    * exact code the distributed pass runs per row. */
  private[graft] def localLossGrad(p: Array[Double], nFreq: Int, nSpec: Int,
      channels: Seq[Int], mean: Double, std: Double,
      rows: Seq[(Double, Double, Array[Double])]): (Double, Array[Double]) = {
    val g = new Array[Double](p.length)
    var ls = 0.0
    rows.foreach { case (y, wt, img) =>
      ls += rowGrad(p, nFreq, nSpec, channels, mean, std, y, wt, img, g)
    }
    (ls, g)
  }

  private[graft] def packModel(m: SpecCnnModel): Array[Double] = pack(m)

  /** Batch scoring over a flattened-spectrogram column: per-row logit +
    * probability, pure codegen'd column work. Wrong-shape images fail
    * loudly (the serve-length contract; [[logitCol]] itself stays
    * permissive for the oracle fixtures). */
  def scoreSpectrograms(m: SpecCnnModel, images: DataFrame,
                        imgCol: String = "spectrogram"): DataFrame =
    DetAgg.scoreChecked(images, imgCol, m.nFreq * m.nSpec, "image",
      s"trained ${m.nFreq}x${m.nSpec}")(logitCol(m, _))

  /** The spectrogram CNN as a replay scorer closure — extraction + the
    * [[forward]], same unit contract as [[Cnn.scorer]] (buffer in
    * G, length must produce the trained image shape). */
  def scorer(m: SpecCnnModel, cfg: Config): Array[Double] => Double =
    (vecG: Array[Double]) => {
      val img = specImage(vecG, cfg.specSamp, cfg.specStep, cfg.zeroTol)
      DetAgg.sigmoid(forward(m, img))
    }

  /** The trained spectrogram CNN as a fully-assembled replay detector
    * (the [[Cnn.deployedCnn]] symmetry): `windowSamples` is the buffer
    * length the model was trained under — the image geometry it
    * produces must BE the trained geometry, enforced here rather than
    * surfacing as a per-datapoint shape error mid-replay. normalise
    * off: the model's own (mean, std) is the only scaling. */
  def deployedSpecCnn(m: SpecCnnModel, cfg: Config, windowSamples: Int,
                      base: graft.streaming.NnSettings = graft.streaming.NnSettings())
      : graft.streaming.NnAlg = {
    val (nf, ns) = imageDims(windowSamples, cfg.specSamp, cfg.specStep)
    require(nf == m.nFreq && ns == m.nSpec,
      s"buffer $windowSamples yields ${nf}x$ns, trained ${m.nFreq}x${m.nSpec}")
    new graft.streaming.NnAlg(
      base.copy(bufferSamples = windowSamples, normalise = false),
      scorer(m, cfg))
  }
}
