package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A STACKED two-layer hard-gate LSTM with a mean-pool head — the
  * round-13 verdict's missing #1: the reference's amber family stacks
  * recurrent layers and fuses a pooled representation
  * (`user_tools/nnTraining2/amber/model.py`,
  * `amber/enhanced_fusion_layer.py:14-22`); [[Lstm]] deliberately shipped
  * the single recurrence first to prove the bit-exact-oracle discipline.
  * This closes most of the remaining architecture gap under the SAME
  * discipline:
  *
  *   window (length T, one channel)
  *     → z-scale by the corpus-global (mean, std) stored in the model
  *     → LSTM layer 1 (H1 units, hard gates) over the scalar series
  *     → LSTM layer 2 (H2 units, hard gates) over layer 1's hidden
  *       sequence h1(t) — the stacked recurrence
  *     → MEAN POOL over time of layer 2's hidden states (the fusion
  *       layer's pooled path; attention's softmax is transcendental and
  *       would forfeit the bit-exact oracle — mean pooling is the
  *       oracle-preserving member of the fusion family)
  *     → dense: logit = b + Σ_u v_u·(s_u/T)   (sigmoid at serve time)
  *
  * Same exactness contract as [[Lstm]]: piecewise-linear gates mean the
  * whole two-layer recurrence plus the pool accumulation is
  * correctly-rounded IEEE mul/add/compare, so a DuckDB recursive CTE
  * replays it bit-exactly (the ml4b oracle) — [[forward]] and
  * [[logitCol]] accumulate in the SAME order (layer-2 gate
  * pre-activation: b + Σ_j wx·h1_j (j ascending) + Σ_v wh·h2prev_v
  * (v ascending); pool sum in t order; pooled division before the
  * dense multiply, u ascending).
  *
  * Scale slope: training is one BPTT pass per LBFGS evaluation
  * (O(rows·T·(H1²+H1·H2+H2²)) flops, partition partials combined in
  * index order via [[DetAgg]]), driver state one parameter vector;
  * batch scoring is per-row codegen with no shuffle. */
object LstmStack {

  /** Trained stacked network + input scaling; layer-2 input weights
    * `wx2` are (gate-major unit, input-j): index (g·H2+u)·H1 + j.
    *
    * `head` selects the fusion-pooling member: `"mean"` (mean pool over
    * time) or `"attn"` — ADD-ONE-SMOOTHED HARD ATTENTION, the
    * oracle-preserving analog of the amber family's dot-product
    * attention pooling (`amber/model.py` `Attention()([x, x])`,
    * `enhanced_fusion_layer.py`): per-step score s_t = attC + a·h2(t),
    * weight w_t = hardSig(s_t), pooled_u = Σ_t w_t·h2_t(u) / (1 + Σ_t
    * w_t). The +1 smoothing keeps the all-gates-closed case (Σw = 0)
    * defined without an epsilon-vs-branch divergence — a constant that
    * rides both engines identically; softmax attention is
    * transcendental and would forfeit the bit-exact recursive-CTE
    * oracle (ml4c gates this head exactly as ml4b gates the mean). */
  /** `bidir` makes layer 1 BIDIRECTIONAL (the amber
    * `Bidirectional(LSTM(...))` wrapper): a second hard-gate cell with
    * its OWN weights (wx1b/wh1b/b1b) runs the window back-to-front, and
    * layer 2 consumes the per-step concatenation [h1fwd(t); h1bwd(t)]
    * (input width 2·H1 — `wx2` sizes accordingly). Still pure IEEE
    * mul/add/compare: the backward recurrence is just the forward cell
    * over the reversed sequence, so the ml4d oracle replays it as a
    * second recursive CTE walking the samples in reverse.
    *
    * `head = "mha"` is the MULTI-HEAD + RESIDUAL fusion — the
    * oracle-preserving analog of the reference's EnhancedFusionLayer
    * (`amber/enhanced_fusion_layer.py:14-22`:
    * `Add()([inputs, MultiHeadAttention()(inputs, inputs)])`): nHeads
    * independent hard-attention pools over the SAME h2 sequence (head
    * k scores with its own attA slice [k·H2, (k+1)·H2) and attCs(k),
    * pools like "attn"), each read out by its own attD slice — PLUS
    * the residual path, the untouched mean pool read out by `dense`
    * exactly as head = "mean". The residual Add is linear, so folding
    * it into the readout sum is the same function; attD = 0 reduces
    * bit-exactly to the mean head. */
  case class Lstm2Model(
      h1: Int,
      h2: Int,
      window: Int,
      wx1: Array[Double],
      wh1: Array[Double],
      b1: Array[Double],
      wx2: Array[Double],
      wh2: Array[Double],
      b2: Array[Double],
      dense: Array[Double],
      bias: Double,
      mean: Double,
      std: Double,
      head: String = "mean",
      attA: Array[Double] = Array.emptyDoubleArray,
      attC: Double = 0.0,
      bidir: Boolean = false,
      wx1b: Array[Double] = Array.emptyDoubleArray,
      wh1b: Array[Double] = Array.emptyDoubleArray,
      b1b: Array[Double] = Array.emptyDoubleArray,
      nHeads: Int = 1,
      attCs: Array[Double] = Array.emptyDoubleArray,
      attD: Array[Double] = Array.emptyDoubleArray) {
    def x2Dim: Int = if (bidir) 2 * h1 else h1
    require(wx1.length == 4 * h1 && wh1.length == 4 * h1 * h1 &&
      b1.length == 4 * h1 && wx2.length == 4 * h2 * x2Dim &&
      wh2.length == 4 * h2 * h2 && b2.length == 4 * h2 &&
      dense.length == h2, "Lstm2Model weight shapes inconsistent")
    require(!bidir || (wx1b.length == 4 * h1 &&
      wh1b.length == 4 * h1 * h1 && b1b.length == 4 * h1),
      "Lstm2Model backward-direction weight shapes inconsistent")
    require(head == "mean" || head == "attn" || head == "mha",
      s"unknown head '$head'")
    require(head != "attn" || attA.length == h2,
      s"attn head needs ${h2} attention weights, got ${attA.length}")
    require(head != "mha" || (nHeads >= 1 && attA.length == nHeads * h2 &&
      attCs.length == nHeads && attD.length == nHeads * h2),
      s"mha head needs $nHeads×$h2 attA, $nHeads attCs, $nHeads×$h2 attD")
    def nParams: Int = LstmStack.nParams(h1, h2, head, bidir, nHeads)
  }

  case class Config(
      h1: Int = 4,
      h2: Int = 3,
      maxIter: Int = 120,
      regParam: Double = 1e-4,
      seed: Long = 42L,
      head: String = "mean",
      bidir: Boolean = false,
      nHeads: Int = 2)

  def nParams(h1: Int, h2: Int, head: String = "mean",
              bidir: Boolean = false, nHeads: Int = 1): Int = {
    val dir = if (bidir) 2 else 1
    val x2 = if (bidir) 2 * h1 else h1
    dir * (4 * h1 + 4 * h1 * h1 + 4 * h1) +
      4 * h2 * x2 + 4 * h2 * h2 + 4 * h2 + h2 + 1 +
      (head match {
        case "attn" => h2 + 1
        case "mha"  => nHeads * (2 * h2 + 1)
        case _      => 0
      })
  }

  // Parameter-vector layout:
  // [wx1 | wh1 | b1 | (wx1b | wh1b | b1b) | wx2 4H2·x2 | wh2 | b2 |
  //  dense | bias | (attn: attA | attC)
  //                | (mha: attA nH·H2 | attCs nH | attD nH·H2)]
  private def l1Block(h1: Int) = 8 * h1 + 4 * h1 * h1
  private def oWx1(h1: Int, h2: Int) = 0
  private def oWh1(h1: Int, h2: Int) = 4 * h1
  private def oB1(h1: Int, h2: Int) = 4 * h1 + 4 * h1 * h1
  private def oWx1b(h1: Int, h2: Int) = l1Block(h1)
  private def oWh1b(h1: Int, h2: Int) = l1Block(h1) + 4 * h1
  private def oB1b(h1: Int, h2: Int) = l1Block(h1) + 4 * h1 + 4 * h1 * h1
  private def oWx2(h1: Int, h2: Int, bidir: Boolean = false) =
    (if (bidir) 2 else 1) * l1Block(h1)
  private def x2DimOf(h1: Int, bidir: Boolean) = if (bidir) 2 * h1 else h1
  private def oWh2(h1: Int, h2: Int, bidir: Boolean = false) =
    oWx2(h1, h2, bidir) + 4 * h2 * x2DimOf(h1, bidir)
  private def oB2(h1: Int, h2: Int, bidir: Boolean = false) =
    oWh2(h1, h2, bidir) + 4 * h2 * h2
  private def oDv(h1: Int, h2: Int, bidir: Boolean = false) =
    oB2(h1, h2, bidir) + 4 * h2
  private def oBias(h1: Int, h2: Int, bidir: Boolean = false) =
    oDv(h1, h2, bidir) + h2
  // attention-head params (present only when head == "attn")
  private def oAttA(h1: Int, h2: Int, bidir: Boolean = false) =
    oBias(h1, h2, bidir) + 1
  private def oAttC(h1: Int, h2: Int, bidir: Boolean = false) =
    oAttA(h1, h2, bidir) + h2
  // mha-head params (head == "mha"): attA shares oAttA's start,
  // head-major; then the nH head biases; then the nH readout slices
  private def oMhaCs(h1: Int, h2: Int, bidir: Boolean, nH: Int) =
    oAttA(h1, h2, bidir) + nH * h2
  private def oMhaD(h1: Int, h2: Int, bidir: Boolean, nH: Int) =
    oMhaCs(h1, h2, bidir, nH) + nH

  @inline private def hardSig(a: Double): Double =
    if (a < -2.0) 0.0 else if (a > 2.0) 1.0 else 0.25 * a + 0.5

  @inline private def hardTanh(a: Double): Double =
    if (a < -1.0) -1.0 else if (a > 1.0) 1.0 else a

  /** One hard-gate cell step for a VECTOR input (layer 1 passes H=1
    * inputs through the scalar fast path below; layer 2 uses this).
    * Mutates (h, c) in place; `hp` is the previous hidden state. */
  @inline private def cellStep(x: Array[Double], hp: Array[Double],
      h: Array[Double], c: Array[Double], hN: Int, xN: Int,
      wx: Array[Double], wxO: Int, wh: Array[Double], whO: Int,
      b: Array[Double], bO: Int): Unit = {
    var u = 0
    while (u < hN) {
      val pre = new Array[Double](4)
      var g = 0
      while (g < 4) {
        var acc = b(bO + g * hN + u)
        var j = 0
        while (j < xN) { acc += wx(wxO + (g * hN + u) * xN + j) * x(j); j += 1 }
        var v = 0
        while (v < hN) { acc += wh(whO + (g * hN + u) * hN + v) * hp(v); v += 1 }
        pre(g) = acc
        g += 1
      }
      val gi = hardSig(pre(0)); val gf = hardSig(pre(1))
      val gg = hardTanh(pre(2)); val go = hardSig(pre(3))
      val cn = gf * c(u) + gi * gg
      c(u) = cn
      h(u) = go * hardTanh(cn)
      u += 1
    }
  }

  /** Forward pass → LOGIT (pre-sigmoid), JVM loop form — [[logitCol]]'s
    * bit-exact twin. Layer-1 gate pre-activation keeps [[Lstm]]'s order
    * (b + wx·x + Σ wh·h); layer-2's is b + Σ_j wx·h1_j + Σ_v wh·h2_v. */
  /** Head accumulators + readout, shared by both forward paths. Step
    * order per t (the IEEE order every engine replays): residual/mean
    * sums first, then heads ascending (mha) or the single attention
    * weight (attn). Readout order: bias, residual/mean terms u
    * ascending, then per-head terms (k, u) ascending. */
  private final class HeadState(m: Lstm2Model) {
    private val h2N = m.h2
    val s = new Array[Double](h2N) // mean pool sums / attn numerators
    var den = 0.0                  // attn denominator
    val num = if (m.head == "mha") new Array[Double](m.nHeads * h2N) else null
    val dens = if (m.head == "mha") new Array[Double](m.nHeads) else null
    def step(h2: Array[Double]): Unit = m.head match {
      case "attn" =>
        var sc = m.attC
        var u = 0
        while (u < h2N) { sc += m.attA(u) * h2(u); u += 1 }
        val w = hardSig(sc)
        u = 0
        while (u < h2N) { s(u) += w * h2(u); u += 1 }
        den += w
      case "mha" =>
        var u = 0
        while (u < h2N) { s(u) += h2(u); u += 1 }
        var k = 0
        while (k < m.nHeads) {
          var sc = m.attCs(k)
          u = 0
          while (u < h2N) { sc += m.attA(k * h2N + u) * h2(u); u += 1 }
          val w = hardSig(sc)
          u = 0
          while (u < h2N) { num(k * h2N + u) += w * h2(u); u += 1 }
          dens(k) += w
          k += 1
        }
      case _ =>
        var u = 0
        while (u < h2N) { s(u) += h2(u); u += 1 }
    }
    def logit(T: Int): Double = logitFor(T, m.bias, m.dense, 0, m.attD, 0)

    /** One readout with an arbitrary (bias, dense row, attD row) — the
      * binary head and every K-class row ([[forwardK]]) share this
      * walk, so per-class accumulation order is identical. */
    def logitFor(T: Int, b0: Double, dv: Array[Double], dvOff: Int,
        aD: Array[Double], aDOff: Int): Double = {
      var z = b0
      var u = 0
      m.head match {
        case "attn" =>
          while (u < h2N) { z += dv(dvOff + u) * (s(u) / (1.0 + den)); u += 1 }
        case "mha" =>
          while (u < h2N) { z += dv(dvOff + u) * (s(u) / T); u += 1 }
          var k = 0
          while (k < m.nHeads) {
            val denom = 1.0 + dens(k)
            u = 0
            while (u < h2N) {
              z += aD(aDOff + k * h2N + u) * (num(k * h2N + u) / denom)
              u += 1
            }
            k += 1
          }
        case _ =>
          while (u < h2N) { z += dv(dvOff + u) * (s(u) / T); u += 1 }
      }
      z
    }
  }

  def forward(m: Lstm2Model, x: Array[Double]): Double =
    headStateOf(m, x).logit(x.length)

  /** The head accumulators after the full recurrence — shared by the
    * binary readout ([[forward]]) and the K-class readout
    * ([[forwardK]]): one recurrence evaluation, many readouts. */
  private def headStateOf(m: Lstm2Model, x: Array[Double]): HeadState = {
    require(x.length == m.window,
      s"window ${x.length} != trained window ${m.window}")
    if (m.bidir) return headStateBidir(m, x)
    val h1N = m.h1; val h2N = m.h2
    val h1 = new Array[Double](h1N); val c1 = new Array[Double](h1N)
    val hp1 = new Array[Double](h1N)
    val h2 = new Array[Double](h2N); val c2 = new Array[Double](h2N)
    val hp2 = new Array[Double](h2N)
    val hs = new HeadState(m)
    var t = 0
    while (t < x.length) {
      val xv = (x(t) - m.mean) / m.std
      System.arraycopy(h1, 0, hp1, 0, h1N)
      // layer 1 — scalar input, Lstm's exact accumulation order
      var u = 0
      while (u < h1N) {
        val pre = new Array[Double](4)
        var g = 0
        while (g < 4) {
          var acc = m.b1(g * h1N + u) + m.wx1(g * h1N + u) * xv
          var v = 0
          while (v < h1N) { acc += m.wh1((g * h1N + u) * h1N + v) * hp1(v); v += 1 }
          pre(g) = acc
          g += 1
        }
        val gi = hardSig(pre(0)); val gf = hardSig(pre(1))
        val gg = hardTanh(pre(2)); val go = hardSig(pre(3))
        val cn = gf * c1(u) + gi * gg
        c1(u) = cn
        h1(u) = go * hardTanh(cn)
        u += 1
      }
      // layer 2 — vector input h1(t)
      System.arraycopy(h2, 0, hp2, 0, h2N)
      cellStep(h1, hp2, h2, c2, h2N, h1N, m.wx2, 0, m.wh2, 0, m.b2, 0)
      hs.step(h2)
      t += 1
    }
    hs
  }

  /** One direction of the layer-1 recurrence over the pre-scaled
    * series: states written to `out(t)` at ORIGINAL time indices;
    * `reverse = true` walks the samples back-to-front (the
    * bidirectional wrapper's second pass). Accumulation order per step
    * is the scalar cell's (b + wx·x + Σ wh·h, v ascending). */
  private def dirPass(xs: Array[Double], wx: Array[Double],
      wh: Array[Double], b: Array[Double], h1N: Int,
      out: Array[Array[Double]], reverse: Boolean): Unit = {
    val T = xs.length
    val h = new Array[Double](h1N)
    val c = new Array[Double](h1N)
    val hp = new Array[Double](h1N)
    var k = 0
    while (k < T) {
      val t = if (reverse) T - 1 - k else k
      System.arraycopy(h, 0, hp, 0, h1N)
      var u = 0
      while (u < h1N) {
        val pre = new Array[Double](4)
        var g = 0
        while (g < 4) {
          var acc = b(g * h1N + u) + wx(g * h1N + u) * xs(t)
          var v = 0
          while (v < h1N) { acc += wh((g * h1N + u) * h1N + v) * hp(v); v += 1 }
          pre(g) = acc
          g += 1
        }
        val gi = hardSig(pre(0)); val gf = hardSig(pre(1))
        val gg = hardTanh(pre(2)); val go = hardSig(pre(3))
        val cn = gf * c(u) + gi * gg
        c(u) = cn
        h(u) = go * hardTanh(cn)
        u += 1
      }
      System.arraycopy(h, 0, out(t), 0, h1N)
      k += 1
    }
  }

  /** Bidirectional head state: both layer-1 directions first (stored
    * per original time index), then layer 2 over [h1fwd(t); h1bwd(t)]
    * with the same head accumulation as the unidirectional path. */
  private def headStateBidir(m: Lstm2Model, x: Array[Double]): HeadState = {
    val T = x.length
    val h1N = m.h1; val h2N = m.h2
    val xs = Array.tabulate(T)(t => (x(t) - m.mean) / m.std)
    val h1f = Array.ofDim[Double](T, h1N)
    dirPass(xs, m.wx1, m.wh1, m.b1, h1N, h1f, reverse = false)
    val h1b = Array.ofDim[Double](T, h1N)
    dirPass(xs, m.wx1b, m.wh1b, m.b1b, h1N, h1b, reverse = true)
    val h2 = new Array[Double](h2N); val c2 = new Array[Double](h2N)
    val hp2 = new Array[Double](h2N)
    val hs = new HeadState(m)
    val x2 = new Array[Double](2 * h1N)
    var t = 0
    while (t < T) {
      System.arraycopy(h1f(t), 0, x2, 0, h1N)
      System.arraycopy(h1b(t), 0, x2, h1N, h1N)
      System.arraycopy(h2, 0, hp2, 0, h2N)
      cellStep(x2, hp2, h2, c2, h2N, 2 * h1N, m.wx2, 0, m.wh2, 0, m.b2, 0)
      hs.step(h2)
      t += 1
    }
    hs
  }

  /** K-CLASS head over the stacked recurrence — the reference's
    * `Dense(num_classes, softmax)` readout (`amber/model.py:66`) in
    * argmax-serving form: softmax is monotone per row, so serving
    * never needs a transcendental; class k's logit is the binary
    * readout with (denseK row k, biasK(k), attDK row k). One
    * [[HeadState]] evaluation feeds all K readouts. */
  case class KHead(nClasses: Int, denseK: Array[Double],
      biasK: Array[Double],
      attDK: Array[Double] = Array.emptyDoubleArray) {
    require(nClasses >= 2, s"K-class head needs >= 2 classes: $nClasses")
    require(biasK.length == nClasses,
      s"biasK length ${biasK.length} != $nClasses")
  }

  private def requireKShapes(m: Lstm2Model, kh: KHead): Unit = {
    require(kh.denseK.length == kh.nClasses * m.h2,
      s"denseK length ${kh.denseK.length} != ${kh.nClasses}*${m.h2}")
    require(if (m.head == "mha")
        kh.attDK.length == kh.nClasses * m.nHeads * m.h2
      else kh.attDK.isEmpty,
      s"attDK length ${kh.attDK.length} inconsistent with head '${m.head}'")
  }

  /** JVM twin of [[logitsKCol]]: all K class logits from one
    * recurrence evaluation. */
  def forwardK(m: Lstm2Model, kh: KHead, x: Array[Double]): Array[Double] = {
    requireKShapes(m, kh)
    val hs = headStateOf(m, x)
    Array.tabulate(kh.nClasses)(c =>
      hs.logitFor(x.length, kh.biasK(c), kh.denseK, c * m.h2,
        kh.attDK, c * m.nHeads * m.h2))
  }

  /** The K-class forward pass as ONE native codegen'd column emitting
    * `array<double>` of the K class logits — scan → project, no
    * shuffle, the recurrence evaluated once for all classes. */
  def logitsKCol(m: Lstm2Model, kh: KHead, win: Column): Column = {
    requireKShapes(m, kh)
    org.apache.spark.sql.graft.GraftSqlBridge.lstmStackLogit(
      win, m.h1, m.h2, m.wx1.toSeq, m.wh1.toSeq, m.b1.toSeq,
      m.wx2.toSeq, m.wh2.toSeq, m.b2.toSeq, m.dense.toSeq,
      m.bias, m.mean, m.std,
      attn = m.head == "attn", attA = m.attA.toSeq, attC = m.attC,
      bidir = m.bidir, wx1b = m.wx1b.toSeq, wh1b = m.wh1b.toSeq,
      b1b = m.b1b.toSeq,
      mha = m.head == "mha", nHeads = m.nHeads,
      attCs = m.attCs.toSeq, attD = m.attD.toSeq,
      denseK = kh.denseK.toSeq, biasK = kh.biasK.toSeq,
      attDK = kh.attDK.toSeq)
  }

  /** FIRST-max argmax over K logit columns (deterministic tie-break —
    * the exact CASE ladder the oracle states). */
  def argmaxCol(logits: Seq[Column]): Column = {
    require(logits.nonEmpty)
    def rec(c: Int): Column =
      if (c == logits.size - 1) lit(c)
      else when(
        logits.drop(c + 1).foldLeft(lit(true))(
          (acc, l) => acc && logits(c) >= l),
        lit(c)).otherwise(rec(c + 1))
    rec(0)
  }

  /** The stacked forward pass as a native Catalyst column
    * ([[org.apache.spark.sql.graft.LstmStackLogit]], codegen'd —
    * same non-starter argument against HOF composition as [[Lstm]]).
    * NULL for an empty window. */
  def logitCol(m: Lstm2Model, win: Column): Column =
    org.apache.spark.sql.graft.GraftSqlBridge.lstmStackLogit(
      win, m.h1, m.h2, m.wx1.toSeq, m.wh1.toSeq, m.b1.toSeq,
      m.wx2.toSeq, m.wh2.toSeq, m.b2.toSeq, m.dense.toSeq,
      m.bias, m.mean, m.std,
      attn = m.head == "attn", attA = m.attA.toSeq, attC = m.attC,
      bidir = m.bidir, wx1b = m.wx1b.toSeq, wh1b = m.wh1b.toSeq,
      b1b = m.b1b.toSeq,
      mha = m.head == "mha", nHeads = m.nHeads,
      attCs = m.attCs.toSeq, attD = m.attD.toSeq)

  /** One distributed loss/gradient evaluation: per-partition BPTT
    * through pool → layer 2 → layer 1, partials combined in
    * partition-index order ([[DetAgg.lossGrad]]). Derivative regimes
    * are exact (hard gates — see [[Lstm]]); the pool backpropagates
    * dz·v_u/T into EVERY timestep's dh2. LstmStackSpec's
    * finite-difference checks drive it directly. */
  private[graft] def gradientPass(
      ds: org.apache.spark.rdd.RDD[(Double, Double, Array[Double])],
      bw: org.apache.spark.broadcast.Broadcast[Array[Double]],
      h1N: Int, h2N: Int, mean: Double, std: Double,
      head: String = "mean", bidir: Boolean = false, nHeads: Int = 1)
      : (Double, Array[Double]) = {
    val nP = nParams(h1N, h2N, head, bidir, nHeads)
    val seqOp: ((Double, Array[Double]), (Double, Double, Array[Double]))
        => (Double, Array[Double]) = { case ((ls, grad), (y, wt, xRaw)) =>
      val p = bw.value
      val T = xRaw.length
      val xs = new Array[Double](T)
      var i = 0
      while (i < T) { xs(i) = (xRaw(i) - mean) / std; i += 1 }
      (ls + rowGrad(p, 0, h1N, h2N, head, bidir, nHeads,
        y, wt, xs, grad, null), grad)
    }
    DetAgg.lossGrad(
      ds.mapPartitionsWithIndex { case (pi, it) =>
        if (it.isEmpty) Iterator.empty
        else Iterator.single(
          (pi, it.foldLeft((0.0, new Array[Double](nP)))(seqOp)))
      }, nP)
  }

  /** Stored forward state for one row — everything the backward pass
    * needs. Built by [[forwardStore]]; consumed by
    * [[backwardFromPooled]] (with [[rowGrad]]'s logistic head on top,
    * or [[TowerFusion]]'s fusion backward seeding `dPooled` directly).
    * Plain mutable holder; lives for one row. */
  private[ml] final class StackTape(val T: Int) {
    var xs: Array[Double] = null
    var xsRev: Array[Double] = null
    var g1I: Array[Array[Double]] = null
    var g1F: Array[Array[Double]] = null
    var g1G: Array[Array[Double]] = null
    var g1O: Array[Array[Double]] = null
    var c1S: Array[Array[Double]] = null
    var h1S: Array[Array[Double]] = null
    var g1Ib: Array[Array[Double]] = null
    var g1Fb: Array[Array[Double]] = null
    var g1Gb: Array[Array[Double]] = null
    var g1Ob: Array[Array[Double]] = null
    var c1Sb: Array[Array[Double]] = null
    var h1Sb: Array[Array[Double]] = null
    var x2S: Array[Array[Double]] = null
    var g2I: Array[Array[Double]] = null
    var g2F: Array[Array[Double]] = null
    var g2G: Array[Array[Double]] = null
    var g2O: Array[Array[Double]] = null
    var c2S: Array[Array[Double]] = null
    var h2S: Array[Array[Double]] = null
    var sPool: Array[Double] = null
    var wAtt: Array[Double] = null
    var num: Array[Double] = null
    var den: Double = 0.0
    var wMha: Array[Array[Double]] = null
    var numM: Array[Double] = null
    var denM: Array[Double] = null
  }

  /** The stacked forward pass with STORED activations (both layer-1
    * directions, layer 2, head accumulators) over an already prepared
    * `xs` — the arithmetic is byte-for-byte the pre-round-15 rowGrad
    * forward section, relocated so a composed caller (the N-tower
    * fusion) can read the pooled vector, run its own head, and seed
    * [[backwardFromPooled]]. */
  private[ml] def forwardStore(p: Array[Double], off: Int, h1N: Int,
      h2N: Int, head: String, bidir: Boolean, nHeads: Int,
      xs: Array[Double]): StackTape = {
    val attn = head == "attn"
    val mha = head == "mha"
    val T = xs.length
    val wx1O = off + oWx1(h1N, h2N); val wh1O = off + oWh1(h1N, h2N)
    val b1O = off + oB1(h1N, h2N); val wx2O = off + oWx2(h1N, h2N, bidir)
    val wh2O = off + oWh2(h1N, h2N, bidir)
    val b2O = off + oB2(h1N, h2N, bidir)
    val wx1bO = off + oWx1b(h1N, h2N); val wh1bO = off + oWh1b(h1N, h2N)
    val b1bO = off + oB1b(h1N, h2N)
    val xN = x2DimOf(h1N, bidir)
    val tp = new StackTape(T)
    tp.xs = xs
    // ---- forward, storing activations for both layers
    tp.g1I = Array.ofDim[Double](T, h1N)
    tp.g1F = Array.ofDim[Double](T, h1N)
    tp.g1G = Array.ofDim[Double](T, h1N); tp.g1O = Array.ofDim[Double](T, h1N)
    tp.c1S = Array.ofDim[Double](T, h1N); tp.h1S = Array.ofDim[Double](T, h1N)
    l1ForwardStore(p, xs, h1N, wx1O, wh1O, b1O,
      tp.g1I, tp.g1F, tp.g1G, tp.g1O, tp.c1S, tp.h1S)
    // backward direction (bidir): same cell over the REVERSED series,
    // activations stored in PROCESSING order (r = 0 is sample T-1)
    tp.xsRev = if (bidir) Array.tabulate(T)(r => xs(T - 1 - r)) else null
    if (bidir) {
      tp.g1Ib = Array.ofDim[Double](T, h1N)
      tp.g1Fb = Array.ofDim[Double](T, h1N)
      tp.g1Gb = Array.ofDim[Double](T, h1N)
      tp.g1Ob = Array.ofDim[Double](T, h1N)
      tp.c1Sb = Array.ofDim[Double](T, h1N)
      tp.h1Sb = Array.ofDim[Double](T, h1N)
      l1ForwardStore(p, tp.xsRev, h1N, wx1bO, wh1bO,
        b1bO, tp.g1Ib, tp.g1Fb, tp.g1Gb, tp.g1Ob, tp.c1Sb, tp.h1Sb)
    }
    // layer-2 input sequence: h1fwd(t) (++ h1bwd(t) when bidir —
    // h1bwd at ORIGINAL time t is the backward pass's r = T-1-t row)
    tp.x2S =
      if (bidir) Array.tabulate(T) { t =>
        val row = new Array[Double](2 * h1N)
        System.arraycopy(tp.h1S(t), 0, row, 0, h1N)
        System.arraycopy(tp.h1Sb(T - 1 - t), 0, row, h1N, h1N)
        row
      }
      else tp.h1S
    tp.g2I = Array.ofDim[Double](T, h2N); tp.g2F = Array.ofDim[Double](T, h2N)
    tp.g2G = Array.ofDim[Double](T, h2N); tp.g2O = Array.ofDim[Double](T, h2N)
    tp.c2S = Array.ofDim[Double](T, h2N); tp.h2S = Array.ofDim[Double](T, h2N)
    val hp = new Array[Double](h2N)
    tp.sPool = new Array[Double](h2N)
    var t = 0
    while (t < T) {
      if (t > 0) System.arraycopy(tp.h2S(t - 1), 0, hp, 0, h2N)
      else java.util.Arrays.fill(hp, 0, h2N, 0.0)
      var u = 0
      while (u < h2N) {
        val pre = new Array[Double](4)
        var g = 0
        while (g < 4) {
          var acc = p(b2O + g * h2N + u)
          var j = 0
          while (j < xN) {
            acc += p(wx2O + (g * h2N + u) * xN + j) * tp.x2S(t)(j); j += 1
          }
          var v = 0
          while (v < h2N) {
            acc += p(wh2O + (g * h2N + u) * h2N + v) * hp(v); v += 1
          }
          pre(g) = acc
          g += 1
        }
        tp.g2I(t)(u) = hardSig(pre(0)); tp.g2F(t)(u) = hardSig(pre(1))
        tp.g2G(t)(u) = hardTanh(pre(2)); tp.g2O(t)(u) = hardSig(pre(3))
        val cPrev = if (t > 0) tp.c2S(t - 1)(u) else 0.0
        val cn = tp.g2F(t)(u) * cPrev + tp.g2I(t)(u) * tp.g2G(t)(u)
        tp.c2S(t)(u) = cn
        tp.h2S(t)(u) = tp.g2O(t)(u) * hardTanh(cn)
        tp.sPool(u) += tp.h2S(t)(u)
        u += 1
      }
      t += 1
    }
    // ---- head forward (attn/mha: scores/weights + smoothed
    // accumulators; mha ALSO keeps the residual mean pool)
    val attAO = off + oAttA(h1N, h2N, bidir)
    val attCO = off + oAttC(h1N, h2N, bidir)
    val mhaCsO = if (mha) off + oMhaCs(h1N, h2N, bidir, nHeads) else 0
    tp.wAtt = if (attn) new Array[Double](T) else null
    tp.num = if (attn) new Array[Double](h2N) else null
    tp.wMha = if (mha) Array.ofDim[Double](nHeads, T) else null
    tp.numM = if (mha) new Array[Double](nHeads * h2N) else null
    tp.denM = if (mha) new Array[Double](nHeads) else null
    if (attn) {
      t = 0
      while (t < T) {
        var sc = p(attCO)
        var u = 0
        while (u < h2N) { sc += p(attAO + u) * tp.h2S(t)(u); u += 1 }
        val w = hardSig(sc); tp.wAtt(t) = w
        u = 0
        while (u < h2N) { tp.num(u) += w * tp.h2S(t)(u); u += 1 }
        tp.den += w
        t += 1
      }
    } else if (mha) {
      t = 0
      while (t < T) {
        var k = 0
        while (k < nHeads) {
          var sc = p(mhaCsO + k)
          var u = 0
          while (u < h2N) {
            sc += p(attAO + k * h2N + u) * tp.h2S(t)(u); u += 1
          }
          val w = hardSig(sc); tp.wMha(k)(t) = w
          u = 0
          while (u < h2N) {
            tp.numM(k * h2N + u) += w * tp.h2S(t)(u); u += 1
          }
          tp.denM(k) += w
          k += 1
        }
        t += 1
      }
    }
    tp
  }

  /** The stored state's pooled HEAD-INPUT vector — residual/mean pool
    * first, then heads (k, u) ascending: the same component order as
    * [[HeadState.logitFor]]/[[KHead]] readouts. */
  private[ml] def pooledOfTape(tp: StackTape, h2N: Int, head: String,
      nHeads: Int): Array[Double] = head match {
    case "attn" =>
      Array.tabulate(h2N)(u => tp.num(u) / (1.0 + tp.den))
    case "mha" =>
      Array.tabulate(h2N * (1 + nHeads)) { c =>
        if (c < h2N) tp.sPool(c) / tp.T
        else {
          val k = (c - h2N) / h2N; val u = (c - h2N) % h2N
          tp.numM(k * h2N + u) / (1.0 + tp.denM(k))
        }
      }
    case _ =>
      Array.tabulate(h2N)(u => tp.sPool(u) / tp.T)
  }

  /** Backward from a POOLED-VECTOR gradient: head backward (attention
    * weight calculus → per-timestep dh2 + attA/attC/attCs grads) then
    * the layer-2 / layer-1 BPTT tail. `dPooled` is dLoss/d(pooled
    * component c) in [[pooledOfTape]] order. The logistic readout's
    * own parameters (bias, dense, attD) do NOT live here — [[rowGrad]]
    * accumulates them before seeding, and a fusion caller has no such
    * readout at the stack level. Arithmetic is byte-for-byte the
    * pre-round-15 rowGrad backward with dz·dense / dz·attD factored
    * into `dPooled` ((a·b)/c and (-a)·b associativity are exact in
    * IEEE, so the factoring is bit-preserving). */
  private[ml] def backwardFromPooled(p: Array[Double], off: Int,
      h1N: Int, h2N: Int, head: String, bidir: Boolean, nHeads: Int,
      tp: StackTape, dPooled: Array[Double],
      grad: Array[Double], dxOut: Array[Double]): Unit = {
    val attn = head == "attn"
    val mha = head == "mha"
    val T = tp.T
    val wx1O = off + oWx1(h1N, h2N); val wh1O = off + oWh1(h1N, h2N)
    val b1O = off + oB1(h1N, h2N); val wx2O = off + oWx2(h1N, h2N, bidir)
    val wh2O = off + oWh2(h1N, h2N, bidir)
    val b2O = off + oB2(h1N, h2N, bidir)
    val wx1bO = off + oWx1b(h1N, h2N); val wh1bO = off + oWh1b(h1N, h2N)
    val b1bO = off + oB1b(h1N, h2N)
    val attAO = off + oAttA(h1N, h2N, bidir)
    val attCO = off + oAttC(h1N, h2N, bidir)
    val mhaCsO = if (mha) off + oMhaCs(h1N, h2N, bidir, nHeads) else 0
    val xN = x2DimOf(h1N, bidir)
    // head backward → per-timestep dh2 contributions + head grads
    val dhHead = Array.ofDim[Double](T, h2N)
    var t = 0
    var u = 0
    if (attn) {
      val denom = 1.0 + tp.den
      val dnum = new Array[Double](h2N)
      var dden = 0.0
      u = 0
      while (u < h2N) {
        dnum(u) = dPooled(u) / denom
        dden += -dPooled(u) * tp.num(u) / (denom * denom)
        u += 1
      }
      t = 0
      while (t < T) {
        var dw = dden
        u = 0
        while (u < h2N) { dw += dnum(u) * tp.h2S(t)(u); u += 1 }
        val w = tp.wAtt(t)
        val ds = if (w > 0.0 && w < 1.0) 0.25 * dw else 0.0
        grad(attCO) += ds
        u = 0
        while (u < h2N) {
          grad(attAO + u) += ds * tp.h2S(t)(u)
          dhHead(t)(u) = dnum(u) * w + ds * p(attAO + u)
          u += 1
        }
        t += 1
      }
    } else {
      // mean pool (also mha's residual path): d s_u = dPooled_u / T,
      // reaching EVERY timestep's dh2_u
      u = 0
      while (u < h2N) {
        val c = dPooled(u) / T
        var tt = 0
        while (tt < T) { dhHead(tt)(u) = c; tt += 1 }
        u += 1
      }
      if (mha) {
        // each head replays the attn-head calculus with its own
        // slice, ACCUMULATING into dhHead on top of the residual
        var k = 0
        while (k < nHeads) {
          val denom = 1.0 + tp.denM(k)
          val dnum = new Array[Double](h2N)
          var dden = 0.0
          u = 0
          while (u < h2N) {
            dnum(u) = dPooled(h2N + k * h2N + u) / denom
            dden += -dPooled(h2N + k * h2N + u) *
              tp.numM(k * h2N + u) / (denom * denom)
            u += 1
          }
          t = 0
          while (t < T) {
            var dw = dden
            u = 0
            while (u < h2N) { dw += dnum(u) * tp.h2S(t)(u); u += 1 }
            val w = tp.wMha(k)(t)
            val ds = if (w > 0.0 && w < 1.0) 0.25 * dw else 0.0
            grad(mhaCsO + k) += ds
            u = 0
            while (u < h2N) {
              grad(attAO + k * h2N + u) += ds * tp.h2S(t)(u)
              dhHead(t)(u) += dnum(u) * w + ds * p(attAO + k * h2N + u)
              u += 1
            }
            t += 1
          }
          k += 1
        }
      }
    }
    // layer-2 BPTT; collects d(input) contributions per t
    val dx1FromL2 = Array.ofDim[Double](T, xN)
    run2(p, grad, dhHead, dx1FromL2, T, xN, h2N,
      tp.g2I, tp.g2F, tp.g2G, tp.g2O, tp.c2S, tp.x2S, tp.h2S,
      wx2O, wh2O, b2O)
    if (bidir) {
      // split the layer-2 input gradient into the two directions;
      // the backward direction's BPTT runs in PROCESSING order
      // (reversed time), so its dh slice reverses too
      val dhF = Array.tabulate(T)(t =>
        java.util.Arrays.copyOfRange(dx1FromL2(t), 0, h1N))
      val dhB = Array.tabulate(T)(r =>
        java.util.Arrays.copyOfRange(dx1FromL2(T - 1 - r), h1N, 2 * h1N))
      run1(p, grad, dhF, tp.xs, T, h1N,
        tp.g1I, tp.g1F, tp.g1G, tp.g1O, tp.c1S, tp.h1S,
        wx1O, wh1O, b1O, dxOut)
      // the backward direction's input gradient lands in PROCESSING
      // order; fold it back to original indices
      val dxRev = if (dxOut != null) new Array[Double](T) else null
      run1(p, grad, dhB, tp.xsRev, T, h1N,
        tp.g1Ib, tp.g1Fb, tp.g1Gb, tp.g1Ob, tp.c1Sb, tp.h1Sb,
        wx1bO, wh1bO, b1bO, dxRev)
      if (dxOut != null) {
        var tt = 0
        while (tt < T) { dxOut(tt) += dxRev(T - 1 - tt); tt += 1 }
      }
    } else {
      // layer-1 BPTT
      run1(p, grad, dx1FromL2, tp.xs, T, h1N,
        tp.g1I, tp.g1F, tp.g1G, tp.g1O, tp.c1S, tp.h1S,
        wx1O, wh1O, b1O, dxOut)
    }
  }

  /** Per-row loss + gradient of the stacked network over an ALREADY
    * prepared input sequence `xs` — normalization (or a conv front-end,
    * [[ConvPipe]]) is the caller's job. Parameters read from
    * p(off + ...) and gradients accumulate into grad(off + ...), so a
    * composed model can place the stack's block inside a larger
    * vector. When `dxOut` is non-null it receives d(loss)/d(xs(t)) —
    * what a front-end backward consumes. Returns wt·loss.
    *
    * Round-15 shape: [[forwardStore]] (stored activations) → the
    * logistic readout here (z, loss, dz, the readout's own bias/dense/
    * attD grads, and dPooled = dz·readout-row) →
    * [[backwardFromPooled]]. The factoring is bit-preserving (see that
    * method's docblock); the FD gates pin it. */
  private[ml] def rowGrad(p: Array[Double], off: Int, h1N: Int, h2N: Int,
      head: String, bidir: Boolean, nHeads: Int,
      y: Double, wt: Double, xs: Array[Double],
      grad: Array[Double], dxOut: Array[Double]): Double = {
    val attn = head == "attn"
    val mha = head == "mha"
    val T = xs.length
    val dvO = off + oDv(h1N, h2N, bidir)
    val biasO = off + oBias(h1N, h2N, bidir)
    val mhaDO = if (mha) off + oMhaD(h1N, h2N, bidir, nHeads) else 0
    val tp = forwardStore(p, off, h1N, h2N, head, bidir, nHeads, xs)
    // ---- readout (same accumulation order as the pre-tape code)
    var z = p(biasO)
    var u = 0
    if (attn) {
      val denom = 1.0 + tp.den
      while (u < h2N) { z += p(dvO + u) * (tp.num(u) / denom); u += 1 }
    } else {
      while (u < h2N) { z += p(dvO + u) * (tp.sPool(u) / T); u += 1 }
      if (mha) {
        var k = 0
        while (k < nHeads) {
          val denom = 1.0 + tp.denM(k)
          u = 0
          while (u < h2N) {
            z += p(mhaDO + k * h2N + u) * (tp.numM(k * h2N + u) / denom)
            u += 1
          }
          k += 1
        }
      }
    }
    val loss =
      if (z > 0) z + math.log1p(math.exp(-z)) - y * z
      else math.log1p(math.exp(z)) - y * z
    val dz = wt * (1.0 / (1.0 + math.exp(-z)) - y)
    // ---- readout backward: its own parameter grads + dPooled seeds
    grad(biasO) += dz
    val dPooled =
      new Array[Double](if (mha) h2N * (1 + nHeads) else h2N)
    if (attn) {
      val denom = 1.0 + tp.den
      u = 0
      while (u < h2N) {
        grad(dvO + u) += dz * (tp.num(u) / denom)
        dPooled(u) = dz * p(dvO + u)
        u += 1
      }
    } else {
      u = 0
      while (u < h2N) {
        grad(dvO + u) += dz * (tp.sPool(u) / T)
        dPooled(u) = dz * p(dvO + u)
        u += 1
      }
      if (mha) {
        var k = 0
        while (k < nHeads) {
          val denom = 1.0 + tp.denM(k)
          u = 0
          while (u < h2N) {
            grad(mhaDO + k * h2N + u) += dz * (tp.numM(k * h2N + u) / denom)
            dPooled(h2N + k * h2N + u) = dz * p(mhaDO + k * h2N + u)
            u += 1
          }
          k += 1
        }
      }
    }
    backwardFromPooled(p, off, h1N, h2N, head, bidir, nHeads,
      tp, dPooled, grad, dxOut)
    wt * loss
  }

  private def l1ForwardStore(p: Array[Double], xsProc: Array[Double],
      h1N: Int, wxO: Int, whO: Int, bO: Int,
      gI: Array[Array[Double]], gF: Array[Array[Double]],
      gG: Array[Array[Double]], gO: Array[Array[Double]],
      cS: Array[Array[Double]], hS: Array[Array[Double]]): Unit = {
    val T = xsProc.length
    val hp = new Array[Double](h1N)
    var t = 0
    while (t < T) {
      if (t > 0) System.arraycopy(hS(t - 1), 0, hp, 0, h1N)
      else java.util.Arrays.fill(hp, 0.0)
      var u = 0
      while (u < h1N) {
        val pre = new Array[Double](4)
        var g = 0
        while (g < 4) {
          var acc = p(bO + g * h1N + u) + p(wxO + g * h1N + u) * xsProc(t)
          var v = 0
          while (v < h1N) {
            acc += p(whO + (g * h1N + u) * h1N + v) * hp(v); v += 1
          }
          pre(g) = acc
          g += 1
        }
        gI(t)(u) = hardSig(pre(0)); gF(t)(u) = hardSig(pre(1))
        gG(t)(u) = hardTanh(pre(2)); gO(t)(u) = hardSig(pre(3))
        val cPrev = if (t > 0) cS(t - 1)(u) else 0.0
        val cn = gF(t)(u) * cPrev + gI(t)(u) * gG(t)(u)
        cS(t)(u) = cn
        hS(t)(u) = gO(t)(u) * hardTanh(cn)
        u += 1
      }
      t += 1
    }
  }

  /** Layer-2 backward: dh2(t) = head term (per t) + recurrent
    * backflow; emits parameter grads and the dx (= d input, width xN —
    * h1 contributions, or the [fwd; bwd] concat when bidirectional). */
  private def run2(p: Array[Double], grad: Array[Double],
      dhHead: Array[Array[Double]], dxOut: Array[Array[Double]],
      T: Int, xN: Int, h2N: Int,
      gI: Array[Array[Double]], gF: Array[Array[Double]],
      gG: Array[Array[Double]], gO: Array[Array[Double]],
      cS: Array[Array[Double]], xIn: Array[Array[Double]],
      hS: Array[Array[Double]],
      wxO: Int, whO: Int, bO: Int): Unit = {
    val dh = new Array[Double](h2N)
    val dc = new Array[Double](h2N)
    val dhPrev = new Array[Double](h2N)
    var t = T - 1
    while (t >= 0) {
      var u = 0
      while (u < h2N) { dh(u) += dhHead(t)(u); u += 1 }
      java.util.Arrays.fill(dhPrev, 0.0)
      u = 0
      while (u < h2N) {
        val cn = cS(t)(u)
        val tc = if (cn < -1.0) -1.0 else if (cn > 1.0) 1.0 else cn
        val o = gO(t)(u)
        val dO = dh(u) * tc
        val daO = if (o > 0.0 && o < 1.0) dO * 0.25 else 0.0
        var dcU = dc(u)
        if (cn > -1.0 && cn < 1.0) dcU += dh(u) * o
        val cPrev = if (t > 0) cS(t - 1)(u) else 0.0
        val fv = gF(t)(u); val iv = gI(t)(u); val gv = gG(t)(u)
        val daF = if (fv > 0.0 && fv < 1.0) dcU * cPrev * 0.25 else 0.0
        val daI = if (iv > 0.0 && iv < 1.0) dcU * gv * 0.25 else 0.0
        val daG = if (gv > -1.0 && gv < 1.0) dcU * iv else 0.0
        dc(u) = dcU * fv
        val das = Array(daI, daF, daG, daO)
        var g = 0
        while (g < 4) {
          val da = das(g)
          if (da != 0.0) {
            grad(bO + g * h2N + u) += da
            var j = 0
            while (j < xN) {
              grad(wxO + (g * h2N + u) * xN + j) += da * xIn(t)(j)
              dxOut(t)(j) += da * p(wxO + (g * h2N + u) * xN + j)
              j += 1
            }
            var v = 0
            while (v < h2N) {
              if (t > 0) grad(whO + (g * h2N + u) * h2N + v) += da * hS(t - 1)(v)
              dhPrev(v) += da * p(whO + (g * h2N + u) * h2N + v)
              v += 1
            }
          }
          g += 1
        }
        u += 1
      }
      System.arraycopy(dhPrev, 0, dh, 0, h2N)
      t -= 1
    }
  }

  /** Layer-1 backward: dh1(t) = layer-2 input contribution + recurrent
    * backflow; scalar input xs. */
  /** `dxOut` (optional): receives d(loss)/d(xs(t)) — the upstream
    * gradient a front-end backward ([[ConvFront.rowBackward]])
    * consumes; indices follow xs's PROCESSING order. */
  private def run1(p: Array[Double], grad: Array[Double],
      dhIn: Array[Array[Double]], xs: Array[Double], T: Int, h1N: Int,
      gI: Array[Array[Double]], gF: Array[Array[Double]],
      gG: Array[Array[Double]], gO: Array[Array[Double]],
      cS: Array[Array[Double]], hS: Array[Array[Double]],
      wxO: Int, whO: Int, bO: Int,
      dxOut: Array[Double] = null): Unit = {
    val dh = new Array[Double](h1N)
    val dc = new Array[Double](h1N)
    val dhPrev = new Array[Double](h1N)
    var t = T - 1
    while (t >= 0) {
      var u = 0
      while (u < h1N) { dh(u) += dhIn(t)(u); u += 1 }
      java.util.Arrays.fill(dhPrev, 0.0)
      u = 0
      while (u < h1N) {
        val cn = cS(t)(u)
        val tc = if (cn < -1.0) -1.0 else if (cn > 1.0) 1.0 else cn
        val o = gO(t)(u)
        val dO = dh(u) * tc
        val daO = if (o > 0.0 && o < 1.0) dO * 0.25 else 0.0
        var dcU = dc(u)
        if (cn > -1.0 && cn < 1.0) dcU += dh(u) * o
        val cPrev = if (t > 0) cS(t - 1)(u) else 0.0
        val fv = gF(t)(u); val iv = gI(t)(u); val gv = gG(t)(u)
        val daF = if (fv > 0.0 && fv < 1.0) dcU * cPrev * 0.25 else 0.0
        val daI = if (iv > 0.0 && iv < 1.0) dcU * gv * 0.25 else 0.0
        val daG = if (gv > -1.0 && gv < 1.0) dcU * iv else 0.0
        dc(u) = dcU * fv
        val das = Array(daI, daF, daG, daO)
        var g = 0
        while (g < 4) {
          val da = das(g)
          if (da != 0.0) {
            grad(bO + g * h1N + u) += da
            grad(wxO + g * h1N + u) += da * xs(t)
            if (dxOut != null) dxOut(t) += da * p(wxO + g * h1N + u)
            var v = 0
            while (v < h1N) {
              if (t > 0) grad(whO + (g * h1N + u) * h1N + v) += da * hS(t - 1)(v)
              dhPrev(v) += da * p(whO + (g * h1N + u) * h1N + v)
              v += 1
            }
          }
          g += 1
        }
        u += 1
      }
      System.arraycopy(dhPrev, 0, dh, 0, h1N)
      t -= 1
    }
  }

  /** L2-regularizable index ranges of the stack's parameter block
    * (RELATIVE to its base): weight matrices + dense + attention
    * score/readout weights — never biases. One source of truth for
    * [[train]] and the composed [[ConvPipe]] trainer. */
  private[ml] def stackWeightRanges(h1N: Int, h2N: Int, head: String,
      bidir: Boolean, nHeads: Int): Seq[(Int, Int)] = {
    val attn = head == "attn"; val mha = head == "mha"
    Seq((oWx1(h1N, h2N), oB1(h1N, h2N))) ++
      (if (bidir) Seq((oWx1b(h1N, h2N), oB1b(h1N, h2N))) else Nil) ++
      Seq((oWx2(h1N, h2N, bidir), oB2(h1N, h2N, bidir)),
        (oDv(h1N, h2N, bidir), oBias(h1N, h2N, bidir))) ++
      (if (attn) Seq((oAttA(h1N, h2N, bidir), oAttC(h1N, h2N, bidir)))
       else Nil) ++
      (if (mha) Seq(
        (oAttA(h1N, h2N, bidir), oMhaCs(h1N, h2N, bidir, nHeads)),
        (oMhaD(h1N, h2N, bidir, nHeads),
          oMhaD(h1N, h2N, bidir, nHeads) + nHeads * h2N))
       else Nil)
  }

  /** Deterministic seeded init of the stack's parameter block:
    * Gaussian·0.3 weights, forget-gate biases of every recurrent
    * block at +1, zero elsewhere. */
  private[ml] def stackInit(rnd: scala.util.Random, h1N: Int, h2N: Int,
      head: String, bidir: Boolean, nHeads: Int): Array[Double] = {
    val attn = head == "attn"; val mha = head == "mha"
    val nP = nParams(h1N, h2N, head, bidir, nHeads)
    val init = new Array[Double](nP)
    val b1O = oB1(h1N, h2N); val b1bO = oB1b(h1N, h2N)
    val wx1bO = oWx1b(h1N, h2N)
    val wx2O = oWx2(h1N, h2N, bidir); val b2O = oB2(h1N, h2N, bidir)
    val dvO = oDv(h1N, h2N, bidir)
    val attAO = oAttA(h1N, h2N, bidir)
    val mhaDO = oMhaD(h1N, h2N, bidir, nHeads)
    var i = 0
    while (i < b1O) { init(i) = rnd.nextGaussian() * 0.3; i += 1 }
    if (bidir) {
      i = wx1bO
      while (i < b1bO) { init(i) = rnd.nextGaussian() * 0.3; i += 1 }
    }
    i = wx2O
    while (i < b2O) { init(i) = rnd.nextGaussian() * 0.3; i += 1 }
    (0 until h1N).foreach(u => init(b1O + h1N + u) = 1.0)
    if (bidir) (0 until h1N).foreach(u => init(b1bO + h1N + u) = 1.0)
    (0 until h2N).foreach(u => init(b2O + h2N + u) = 1.0)
    (0 until h2N).foreach(u => init(dvO + u) = rnd.nextGaussian() * 0.3)
    if (attn)
      (0 until h2N).foreach(u => init(attAO + u) = rnd.nextGaussian() * 0.3)
    if (mha)
      (0 until nHeads * h2N).foreach { j =>
        init(attAO + j) = rnd.nextGaussian() * 0.3
        init(mhaDO + j) = rnd.nextGaussian() * 0.3
      }
    init
  }

  /** Slice a solved parameter vector (stack block at `off`) back into
    * an [[Lstm2Model]]. */
  private[ml] def stackUnpack(sol: Array[Double], off: Int, h1N: Int,
      h2N: Int, window: Int, mean: Double, std: Double, head: String,
      bidir: Boolean, nHeads: Int): Lstm2Model = {
    val attn = head == "attn"; val mha = head == "mha"
    def sl(a: Int, b: Int) = sol.slice(off + a, off + b)
    val wx2O = oWx2(h1N, h2N, bidir); val b2O = oB2(h1N, h2N, bidir)
    val dvO = oDv(h1N, h2N, bidir); val biasO = oBias(h1N, h2N, bidir)
    val attAO = oAttA(h1N, h2N, bidir); val attCO = oAttC(h1N, h2N, bidir)
    val b1bO = oB1b(h1N, h2N)
    val mhaCsO = oMhaCs(h1N, h2N, bidir, nHeads)
    val mhaDO = oMhaD(h1N, h2N, bidir, nHeads)
    Lstm2Model(h1N, h2N, window,
      wx1 = sl(oWx1(h1N, h2N), oWh1(h1N, h2N)),
      wh1 = sl(oWh1(h1N, h2N), oB1(h1N, h2N)),
      b1 = sl(oB1(h1N, h2N), oB1(h1N, h2N) + 4 * h1N),
      wx2 = sl(wx2O, oWh2(h1N, h2N, bidir)),
      wh2 = sl(oWh2(h1N, h2N, bidir), b2O),
      b2 = sl(b2O, dvO),
      dense = sl(dvO, biasO),
      bias = sol(off + biasO), mean = mean, std = std,
      head = head,
      attA = if (attn) sl(attAO, attCO)
             else if (mha) sl(attAO, mhaCsO)
             else Array.emptyDoubleArray,
      attC = if (attn) sol(off + attCO) else 0.0,
      bidir = bidir,
      wx1b = if (bidir) sl(oWx1b(h1N, h2N), oWh1b(h1N, h2N))
             else Array.emptyDoubleArray,
      wh1b = if (bidir) sl(oWh1b(h1N, h2N), b1bO)
             else Array.emptyDoubleArray,
      b1b = if (bidir) sl(b1bO, b1bO + 4 * h1N)
            else Array.emptyDoubleArray,
      nHeads = if (mha) nHeads else 1,
      attCs = if (mha) sl(mhaCsO, mhaDO) else Array.emptyDoubleArray,
      attD = if (mha) sl(mhaDO, mhaDO + nHeads * h2N)
             else Array.emptyDoubleArray)
  }

  /** Distributed training through [[DetAgg.fit]], the discipline
    * every gradient family shares, one BPTT pass per evaluation: L2
    * on the weight matrices, dense and attention weights
    * ([[stackWeightRanges]]), never biases; forget-gate biases of BOTH
    * layers initialized to +1; deterministic seeded init. */
  def train(windows: DataFrame, cfg: Config = Config(),
            weightCol: Option[String] = None): Lstm2Model = {
    val h1N = cfg.h1; val h2N = cfg.h2
    val attn = cfg.head == "attn"
    val mha = cfg.head == "mha"
    val bidir = cfg.bidir
    require(cfg.head == "mean" || attn || mha,
      s"unknown head '${cfg.head}'")
    require(!mha || cfg.nHeads >= 1, s"nHeads must be >= 1: ${cfg.nHeads}")
    val nH = if (mha) cfg.nHeads else 1
    val init = stackInit(new scala.util.Random(cfg.seed),
      h1N, h2N, cfg.head, bidir, nH)
    val wRanges = stackWeightRanges(h1N, h2N, cfg.head, bidir, nH)
    val isWeight = Array.tabulate(init.length)(i =>
      wRanges.exists(r => i >= r._1 && i < r._2))
    DetAgg.fit(windows, "window", weightCol, init, isWeight,
        cfg.regParam, cfg.maxIter) { (mean, std, len) =>
      ((ds, bw) =>
         gradientPass(ds, bw, h1N, h2N, mean, std, cfg.head, bidir, nH),
       sol => stackUnpack(sol, 0, h1N, h2N, len, mean, std, cfg.head,
         bidir, nH))
    }
  }

  /** Batch scoring — fail-loud serve-time window contract, same as
    * [[Lstm.scoreWindows]]. */
  def scoreWindows(m: Lstm2Model, windows: DataFrame,
                   winCol: String = "window"): DataFrame =
    DetAgg.scoreChecked(windows, winCol, m.window, "window",
      s"trained window ${m.window}")(logitCol(m, _))

  /** Replay scorer closure — [[Lstm.scorer]]'s unit contract. */
  def scorer(m: Lstm2Model): Array[Double] => Double =
    (vecG: Array[Double]) => 1.0 / (1.0 + math.exp(-forward(m, vecG)))

  /** The trained stacked LSTM as a replay detector. */
  def deployedLstm2(m: Lstm2Model,
                    base: graft.streaming.NnSettings = graft.streaming.NnSettings())
      : graft.streaming.NnAlg =
    new graft.streaming.NnAlg(
      base.copy(bufferSamples = m.window, normalise = false), scorer(m))

  /** The stacked-LSTM family for
    * [[RunSequence.runWithWindows]]/[[RunSequence.NestedCandidate]];
    * `subtypeWeights` is the M13 knob (same contract as
    * [[RunSequence.cnnFamily]]). */
  def lstm2Family(cfg: Config = Config(),
                  subtypeWeights: Map[String, Double] = Map.empty)
      : (DataFrame => Lstm2Model, (Lstm2Model, DataFrame) => DataFrame) = {
    val fit = (train: DataFrame) => {
      val (t, w) = RunSequence.withSubtypeWeight(train, subtypeWeights)
      LstmStack.train(t, cfg, w)
    }
    val score = (m: Lstm2Model, test: DataFrame) =>
      scoreWindows(m, test)
        .select(col("eventId"), col("label"), col("p_seizure"))
    (fit, score)
  }
}
