package graft.ml

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** The convolutional FRONT-END of the reference's `lstm_pipe`
  * (`user_tools/nnTraining2/amber/model.py:31-39`: conv_block =
  * Conv1D → BatchNormalization → ReLU, then MaxPooling1D(2), repeated,
  * before the Bidirectional(LSTM) stack) — in the engine's
  * oracle-preserving form:
  *
  *   - VALID (un-padded) 1-D convolution, multi-channel;
  *   - the BatchNorm member is its INFERENCE form, a frozen per-channel
  *     affine (scale·x + shift) — training-mode batch statistics are a
  *     minibatch-SGD artifact with no analogue in full-batch LBFGS, and
  *     folding them keeps every op an IEEE mul/add;
  *   - ReLU (piecewise linear) and max-pool(2) (compare) — both
  *     bit-exact across engines;
  *   - a final 1×1 channel mix projecting the C-channel sequence to
  *     the scalar series the stacked recurrence consumes
  *     ([[LstmStack]] layer 1 is scalar-input by design — the mix IS
  *     the 1×1 conv that makes the composition exact rather than a
  *     re-architecture of the recurrence).
  *
  * Composition is by KERNEL: [[ConvPipe]] and [[TowerFusion]] serve
  * front → stack (→ fusion) as one forward kernel over the window, one
  * column in one projection, still scan → project, no shuffle;
  * [[seqCol]] serves the front end alone. The conv stack's backward
  * (for [[ConvPipe]] training) lives here too.
  */
object ConvFront {

  /** One conv block: `w` is (out-channel-major, in-channel, tap):
    * index (o·cIn + ci)·k + j. Accumulation order per output sample is
    * b(o), then ci ascending × j ascending — the order every engine
    * replays. */
  case class ConvBlock(
      cIn: Int,
      cOut: Int,
      k: Int,
      w: Array[Double],
      b: Array[Double],
      scale: Array[Double],
      shift: Array[Double]) {
    require(w.length == cOut * cIn * k && b.length == cOut &&
      scale.length == cOut && shift.length == cOut,
      "ConvBlock weight shapes inconsistent")
    /** valid conv then pool(2): positions (T-k+1), pairs floor-halved */
    def outLen(tIn: Int): Int = (tIn - k + 1) / 2
    def nParams: Int = cOut * cIn * k + 3 * cOut
  }

  /** `window` is the PER-CHANNEL length; the raw input array is the
    * INTERLEAVED multi-channel window of length [[inputLen]] =
    * cIn0 · window, sample t of channel a at index t·cIn0 + a — the
    * rawData3D interleave convention (C7's stride slice, so a
    * 3-channel front consumes the X/Y/Z stream directly). cIn0 = 1 is
    * the scalar magnitude window unchanged. */
  case class ConvFrontModel(
      window: Int,
      blocks: Seq[ConvBlock],
      mix: Array[Double],
      mixBias: Double,
      mean: Double,
      std: Double) {
    require(blocks.nonEmpty && blocks.head.cIn >= 1,
      "ConvFront needs at least one input channel")
    require(blocks.sliding(2).forall(p =>
      p.size < 2 || p(0).cOut == p(1).cIn),
      "ConvFront channel chain inconsistent")
    require(mix.length == blocks.last.cOut,
      "ConvFront mix width != last block channels")
    def outLen: Int = blocks.foldLeft(window)((t, bl) => bl.outLen(t))
    require(outLen >= 1, s"window $window collapses to $outLen positions")
    def nParams: Int = blocks.map(_.nParams).sum + mix.length + 1
    def cIn0: Int = blocks.head.cIn
    /** raw-input array length contract (interleaved channels) */
    def inputLen: Int = cIn0 * window
  }

  /** Scale + de-interleave the raw window into channel-major form:
    * channel a sample t = x(t·cIn0 + a) — the ONE place the interleave
    * convention lives (forward and backward share it). */
  private def deinterleave(x: Array[Double], cIn0: Int,
      mean: Double, std: Double): Array[Array[Double]] = {
    require(x.length % cIn0 == 0,
      s"input ${x.length} not a multiple of $cIn0 channels")
    val tLen = x.length / cIn0
    val out = Array.ofDim[Double](cIn0, tLen)
    var a = 0
    while (a < cIn0) {
      val ch = out(a)
      var t = 0
      while (t < tLen) { ch(t) = (x(t * cIn0 + a) - mean) / std; t += 1 }
      a += 1
    }
    out
  }

  @inline private def relu(a: Double): Double = if (a > 0.0) a else 0.0

  /** One block forward over a channel-major sequence in(c)(t).
    * Returns out(c')(t') post pool. When `acts` is non-null it receives
    * the PRE-pool activation sequence (for backward). */
  private[ml] def blockForward(bl: ConvBlock, in: Array[Array[Double]],
      acts: Array[Array[Double]]): Array[Array[Double]] = {
    val tIn = in(0).length
    val nPos = tIn - bl.k + 1
    val tOut = nPos / 2
    val a = if (acts != null) acts else Array.ofDim[Double](bl.cOut, nPos)
    var o = 0
    while (o < bl.cOut) {
      // a(o)(t) = b + Σ_ci Σ_j w·in(ci)(t+j), ci then j ascending for
      // every t; the t loop innermost
      val ao = a(o)
      java.util.Arrays.fill(ao, 0, nPos, bl.b(o))
      var ci = 0
      while (ci < bl.cIn) {
        val xi = in(ci)
        var j = 0
        while (j < bl.k) {
          val wj = bl.w((o * bl.cIn + ci) * bl.k + j)
          var t = 0
          while (t < nPos) { ao(t) += wj * xi(t + j); t += 1 }
          j += 1
        }
        ci += 1
      }
      val so = bl.scale(o); val sh = bl.shift(o)
      var t = 0
      while (t < nPos) { ao(t) = relu(so * ao(t) + sh); t += 1 }
      o += 1
    }
    val out = Array.ofDim[Double](bl.cOut, tOut)
    o = 0
    while (o < bl.cOut) {
      var tp = 0
      while (tp < tOut) {
        val x0 = a(o)(2 * tp); val x1 = a(o)(2 * tp + 1)
        out(o)(tp) = if (x0 >= x1) x0 else x1
        tp += 1
      }
      o += 1
    }
    out
  }

  /** The raw input lengths the front end scores: whole channel frames
    * with at least one position surviving the conv stack. [[forward]]
    * requires it; [[seqCol]] is NULL everywhere else. */
  private[ml] def scores(m: ConvFrontModel, n: Int): Boolean =
    n % m.cIn0 == 0 &&
      m.blocks.foldLeft(n / m.cIn0)((t, bl) => bl.outLen(t)) >= 1

  /** Full front-end forward: raw window → scaled → blocks → mixed
    * scalar sequence (length [[ConvFrontModel.outLen]] when
    * x.length == inputLen; any length that [[scores]] works — the
    * serve guard belongs to the caller). The one kernel behind
    * [[seqCol]] and the composed families' columns. */
  def forward(m: ConvFrontModel, x: Array[Double]): Array[Double] = {
    require(scores(m, x.length),
      s"window ${x.length} collapses below one position through the " +
        s"conv stack (model window ${m.window}, ${m.cIn0} channels)")
    var cur = deinterleave(x, m.cIn0, m.mean, m.std)
    m.blocks.foreach { bl => cur = blockForward(bl, cur, null) }
    val tOut = cur(0).length
    val y = new Array[Double](tOut)
    var t = 0
    while (t < tOut) {
      var acc = m.mixBias
      var c = 0
      while (c < m.mix.length) { acc += m.mix(c) * cur(c)(t); c += 1 }
      y(t) = acc
      t += 1
    }
    y
  }

  private[ml] def shapeOf(m: ConvFrontModel): String =
    m.blocks.map(bl => s"${bl.cIn}->${bl.cOut}k${bl.k}").mkString("conv=", ",", "") +
      s", window=${m.window}"

  /** [[forward]] as the column's kernel: NULL where it does not
    * [[scores]] the length. */
  private[graft] final case class Kernel(m: ConvFrontModel)
      extends org.apache.spark.sql.graft.ForwardKernel {
    def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    def apply(x: Array[Double]): Any =
      if (scores(m, x.length)) forward(m, x) else null
    override def toString: String = s"conv_front(${shapeOf(m)})"
  }

  /** The front end as a native Catalyst column
    * ([[org.apache.spark.sql.graft.ModelForward]] over [[forward]]):
    * window → the mixed scalar sequence. */
  def seqCol(m: ConvFrontModel, win: Column): Column =
    org.apache.spark.sql.graft.GraftSqlBridge.modelForward(win, Kernel(m))

  // ----------------------------------------------------------- backward

  /** Per-row forward with stored activations + backward: given
    * dy(t') = dLoss/d(mixed output), accumulates dLoss/d(conv params)
    * into grad(off + ...) using the [[ConvPipe]] layout
    * [block0 w|b|scale|shift | block1 ... | mix | mixBias].
    * Gradient regimes are exact: ReLU passes iff the activation is
    * strictly positive; pool routes to the FIRST max on ties (the
    * forward's `>=` pick). Returns nothing — the raw-input gradient is
    * not needed (nothing sits upstream of the front end). */
  private[ml] def rowBackward(m: ConvFrontModel, x: Array[Double],
      dy: Array[Double], grad: Array[Double], off: Int): Unit = {
    // forward again, keeping every block's input and pre-pool acts
    val ins = new Array[Array[Array[Double]]](m.blocks.size + 1)
    val acts = new Array[Array[Array[Double]]](m.blocks.size)
    ins(0) = deinterleave(x, m.cIn0, m.mean, m.std)
    var bIdx = 0
    while (bIdx < m.blocks.size) {
      val bl = m.blocks(bIdx)
      val nPos = ins(bIdx)(0).length - bl.k + 1
      acts(bIdx) = Array.ofDim[Double](bl.cOut, nPos)
      ins(bIdx + 1) = blockForward(bl, ins(bIdx), acts(bIdx))
      bIdx += 1
    }
    val out = ins(m.blocks.size)
    val tOut = out(0).length
    // mix backward
    val mixO = off + m.blocks.map(_.nParams).sum
    val dOut = Array.ofDim[Double](m.mix.length, tOut)
    var t = 0
    while (t < tOut) {
      val d = dy(t)
      grad(mixO + m.mix.length) += d // mixBias
      var c = 0
      while (c < m.mix.length) {
        grad(mixO + c) += d * out(c)(t)
        dOut(c)(t) = d * m.mix(c)
        c += 1
      }
      t += 1
    }
    // blocks backward, last to first
    var dCur = dOut
    bIdx = m.blocks.size - 1
    var blockO = mixO
    while (bIdx >= 0) {
      val bl = m.blocks(bIdx)
      blockO -= bl.nParams
      val in = ins(bIdx)
      val a = acts(bIdx)
      val nPos = a(0).length
      val dIn = Array.ofDim[Double](bl.cIn, in(0).length)
      val wO = blockO
      val bO = blockO + bl.cOut * bl.cIn * bl.k
      val scO = bO + bl.cOut
      val shO = scO + bl.cOut
      var o = 0
      while (o < bl.cOut) {
        var tp = 0
        while (tp < dCur(o).length) {
          val d = dCur(o)(tp)
          if (d != 0.0) {
            // pool: route to the forward's argmax (first on tie)
            val t0 = 2 * tp
            val pos = if (a(o)(t0) >= a(o)(t0 + 1)) t0 else t0 + 1
            if (a(o)(pos) > 0.0) { // ReLU gate (post-affine activation)
              // a = relu(scale·pre + shift); recompute pre from a:
              // pre = (a - shift)/scale is ill-conditioned — recompute
              // the conv sum directly instead (exact, k·cIn flops)
              var pre = bl.b(o)
              var ci = 0
              while (ci < bl.cIn) {
                var j = 0
                while (j < bl.k) {
                  pre += bl.w((o * bl.cIn + ci) * bl.k + j) * in(ci)(pos + j)
                  j += 1
                }
                ci += 1
              }
              grad(shO + o) += d
              grad(scO + o) += d * pre
              val dPre = d * bl.scale(o)
              grad(bO + o) += dPre
              ci = 0
              while (ci < bl.cIn) {
                var j = 0
                while (j < bl.k) {
                  grad(wO + (o * bl.cIn + ci) * bl.k + j) +=
                    dPre * in(ci)(pos + j)
                  dIn(ci)(pos + j) +=
                    dPre * bl.w((o * bl.cIn + ci) * bl.k + j)
                  j += 1
                }
                ci += 1
              }
            }
          }
          tp += 1
        }
        o += 1
      }
      dCur = dIn
      bIdx -= 1
    }
  }
}
