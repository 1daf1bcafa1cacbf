package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** A hard-gate LSTM trained IN-ENGINE — the recurrent half of the
  * round-12 verdict's "missing #2" boundary (the reference's AMBER
  * LSTM family, `user_tools/nnTraining2/amber/model.py:31-39`,
  * `amberModel.py`), re-expressed the same way as [[Cnn]]: the
  * architecture is a per-row pure function (forward pass = one JVM
  * kernel, served in batch by a native Catalyst expression, no UDF in
  * the batch path) and
  * training is distributed first-order optimization — breeze LBFGS on
  * the driver over a loss/gradient computed as one distributed BPTT
  * pass per evaluation ([[DetAgg.fit]]). Driver state is the
  * parameter vector (4H + 4H² + 5H + 1 doubles); no training row ever
  * reaches the driver.
  *
  * Architecture (single recurrent layer over the scalar magnitude
  * series, the in-engine boundary of the reference's stacked
  * BiLSTM+attention — those layers are TF-runtime territory, this is
  * the recurrence itself):
  *
  *   window (length T, one channel)
  *     → z-scale by the corpus-global (mean, std) stored in the model
  *     → LSTM cell, H units, PIECEWISE-LINEAR gates:
  *         i,f,o = hardSig(a) = clamp(0.25a + 0.5, 0, 1)
  *         g     = hardTanh(a) = clamp(a, -1, 1)
  *         c' = f·c + i·g;  h' = o·hardTanh(c')
  *     → dense: logit = b + Σ_u v_u·h_u(T)   (sigmoid at serve time)
  *
  * The hard gates are the quantized-LSTM variant (piecewise-linear
  * σ/tanh, standard in integer inference stacks) chosen here for a
  * second reason: no transcendentals means the whole recurrence is
  * correctly-rounded IEEE mul/add/compare, so a DuckDB recursive CTE
  * replays it bit-exactly and the ml4 oracle can gate the REAL forward
  * pass with a plain hash compare — exp/tanh would diverge by libm
  * ulps. Saturation gradients are exact too (0.25 or 0 / 1 or 0), so
  * BPTT below has no approximation anywhere.
  *
  * Exactness contract: [[forward]] (the streaming scorer's path) and
  * [[logitCol]] (the column used by batch scoring and the ml4 oracle
  * row) run the ONE kernel [[logit]] — gate pre-activation b + wx·x +
  * Σ_v wh_v·h_v (v ascending), c' = f·c + i·g, logit terms u
  * ascending — so their doubles are bit-identical; LstmSpec pins it.
  * Clamps are comparison ladders (a < lo, a > hi), never min/max
  * intrinsics: the ladder passes the datum through untouched (±0.0
  * included) and reads identically in the DuckDB replay.
  *
  * Scale slope: training cost per LBFGS iteration is one map-side
  * BPTT pass (O(rows·T·H²) flops, combiner-collapsed to one O(P)
  * vector per partition) + an O(P) driver update; batch scoring is
  * whole-stage-codegen per-row work with no shuffle. Both survive a
  * 1000-executor corpus untouched. */
object Lstm {

  /** Trained network + the input scaling it was fit under; `window` is
    * the trained input length — serving a different buffer length is a
    * fail-loud require. Weight layout is gate-major with gates
    * (i, f, g, o): `wx`/`b` index g·H+u, `wh` index (g·H+u)·H+v. */
  case class LstmModel(
      nUnits: Int,
      window: Int,
      wx: Array[Double],
      wh: Array[Double],
      b: Array[Double],
      dense: Array[Double],
      bias: Double,
      mean: Double,
      std: Double) {
    require(wx.length == 4 * nUnits && wh.length == 4 * nUnits * nUnits &&
      b.length == 4 * nUnits && dense.length == nUnits,
      "LstmModel weight shapes inconsistent")
    def nParams: Int = Lstm.nParams(nUnits)
  }

  case class Config(
      nUnits: Int = 4,
      maxIter: Int = 120,
      regParam: Double = 1e-4,
      seed: Long = 42L)

  def nParams(h: Int): Int = 4 * h + 4 * h * h + 4 * h + h + 1

  // Parameter-vector layout (shared by train/gradient/unpack):
  // [wx 4H | wh 4H² | b 4H | dense H | bias]
  private def oWx(h: Int) = 0
  private def oWh(h: Int) = 4 * h
  private def oB(h: Int) = 4 * h + 4 * h * h
  private def oDv(h: Int) = 8 * h + 4 * h * h
  private def oBias(h: Int) = 9 * h + 4 * h * h

  @inline private def hardSig(a: Double): Double =
    if (a < -2.0) 0.0 else if (a > 2.0) 1.0 else 0.25 * a + 0.5

  @inline private def hardTanh(a: Double): Double =
    if (a < -1.0) -1.0 else if (a > 1.0) 1.0 else a

  /** One hard-gate cell step over all `hN` units — the forward kernels'
    * recurrence ([[logit]], every [[LstmStack]] layer). The four gates
    * of unit u accumulate side by side, each in the contract order:
    * b + Σ_j wx·x_j (j ascending) + Σ_v wh·hp_v (v ascending), so a
    * scalar input (`xN` = 1) reads b + wx·x + Σ wh·h. Weights are
    * gate-major: gate g of unit u is row r = g·hN + u, wx at r·xN + j,
    * wh at r·hN + v. Writes (h, c) in place; `hp` is the previous
    * hidden state. */
  private[ml] def cellStep(x: Array[Double], xN: Int, hp: Array[Double],
      h: Array[Double], c: Array[Double], hN: Int,
      wx: Array[Double], wh: Array[Double], b: Array[Double]): Unit = {
    var u = 0
    while (u < hN) {
      val r0 = u; val r1 = hN + u; val r2 = 2 * hN + u; val r3 = 3 * hN + u
      var a0 = b(r0); var a1 = b(r1); var a2 = b(r2); var a3 = b(r3)
      var j = 0
      while (j < xN) {
        val xj = x(j)
        a0 += wx(r0 * xN + j) * xj; a1 += wx(r1 * xN + j) * xj
        a2 += wx(r2 * xN + j) * xj; a3 += wx(r3 * xN + j) * xj
        j += 1
      }
      var v = 0
      while (v < hN) {
        val hv = hp(v)
        a0 += wh(r0 * hN + v) * hv; a1 += wh(r1 * hN + v) * hv
        a2 += wh(r2 * hN + v) * hv; a3 += wh(r3 * hN + v) * hv
        v += 1
      }
      val cn = hardSig(a1) * c(u) + hardSig(a0) * hardTanh(a2)
      c(u) = cn
      h(u) = hardSig(a3) * hardTanh(cn)
      u += 1
    }
  }

  /** Forward pass → LOGIT (pre-sigmoid) at the trained window — the
    * replay scorer's path; [[logitCol]] runs the same [[logit]] kernel. */
  def forward(m: LstmModel, x: Array[Double]): Double = {
    require(x.length == m.window,
      s"window ${x.length} != trained window ${m.window}")
    logit(m, x)
  }

  /** The one forward kernel, over a window of any length (see the
    * object docblock for the accumulation order). */
  private def logit(m: LstmModel, x: Array[Double]): Double = {
    val hN = m.nUnits
    var h = new Array[Double](hN)
    var hp = new Array[Double](hN)
    val c = new Array[Double](hN)
    val xv = new Array[Double](1)
    var t = 0
    while (t < x.length) {
      val prev = hp; hp = h; h = prev
      xv(0) = (x(t) - m.mean) / m.std
      cellStep(xv, 1, hp, h, c, hN, m.wx, m.wh, m.b)
      t += 1
    }
    var z = m.bias
    var u = 0
    while (u < hN) { z += m.dense(u) * h(u); u += 1 }
    z
  }

  /** [[logit]] as the column's kernel: NULL for an empty window. */
  private[graft] final case class Kernel(m: LstmModel)
      extends org.apache.spark.sql.graft.ForwardKernel {
    def dataType: DataType = DoubleType
    def apply(x: Array[Double]): Any = if (x.length == 0) null else logit(m, x)
    override def toString: String = s"lstm(units=${m.nUnits}, window=${m.window})"
  }

  /** The forward pass as a native Catalyst column over an
    * `array<double>` window ([[org.apache.spark.sql.graft.ModelForward]]
    * over [[logit]] — the HOF/`aggregate` composition is a non-starter
    * here for the same reason SCALING.md round 13 measured for the conv
    * kernel: interpreted lambda dispatch per timestep). Scores any
    * window length; NULL for an empty window. */
  def logitCol(m: LstmModel, win: Column): Column =
    org.apache.spark.sql.graft.GraftSqlBridge.modelForward(win, Kernel(m))

  /** One distributed loss/gradient evaluation: a BPTT pass over
    * `(label, weight, window)` rows against the broadcast parameter
    * vector. Piecewise-linear gates make every local derivative exact:
    * hardSig' is 0.25 strictly inside (0,1) post-activation and 0 at
    * the clamps; hardTanh' is 1 strictly inside (-1,1) and 0 at the
    * clamps (the boundary points are measure-zero and get the
    * subgradient 0, same convention as ReLU in [[Cnn]]).
    * Top-level method so executor lambdas capture only arguments;
    * LstmSpec's finite-difference check drives it directly. */
  private[graft] def gradientPass(
      ds: org.apache.spark.rdd.RDD[(Double, Double, Array[Double])],
      bw: org.apache.spark.broadcast.Broadcast[Array[Double]],
      hN: Int, mean: Double, std: Double)
      : (Double, Array[Double]) = {
    val nP = nParams(hN)
    // Partition partials combined in partition-index order
    // ([[DetAgg.lossGrad]]): treeAggregate's completion-order final
    // merge made training nondeterministic in final ulps.
    val seqOp: ((Double, Array[Double]), (Double, Double, Array[Double]))
        => (Double, Array[Double]) = { case ((ls, grad), (y, wt, xRaw)) =>
        val p = bw.value
        val T = xRaw.length
        val wxO = oWx(hN); val whO = oWh(hN); val bO = oB(hN)
        val dvO = oDv(hN); val biasO = oBias(hN)
        // ---- forward, storing activations for BPTT
        val xs = new Array[Double](T)
        var i = 0
        while (i < T) { xs(i) = (xRaw(i) - mean) / std; i += 1 }
        val gI = Array.ofDim[Double](T, hN)
        val gF = Array.ofDim[Double](T, hN)
        val gG = Array.ofDim[Double](T, hN)
        val gO = Array.ofDim[Double](T, hN)
        val cS = Array.ofDim[Double](T, hN)
        val hS = Array.ofDim[Double](T, hN)
        val hp = new Array[Double](hN)
        var t = 0
        while (t < T) {
          if (t > 0) System.arraycopy(hS(t - 1), 0, hp, 0, hN)
          else java.util.Arrays.fill(hp, 0.0)
          var u = 0
          while (u < hN) {
            val pre = new Array[Double](4)
            var g = 0
            while (g < 4) {
              var acc = p(bO + g * hN + u) + p(wxO + g * hN + u) * xs(t)
              var v = 0
              while (v < hN) {
                acc += p(whO + (g * hN + u) * hN + v) * hp(v); v += 1
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
        var z = p(biasO)
        var u = 0
        while (u < hN) { z += p(dvO + u) * hS(T - 1)(u); u += 1 }
        val loss =
          if (z > 0) z + math.log1p(math.exp(-z)) - y * z
          else math.log1p(math.exp(z)) - y * z
        // Per-row weight (M13): scales the loss AND its whole gradient
        // through dz. wt = 1.0 multiplies exactly (IEEE), so the
        // unweighted path is bit-identical to the pre-weighting code.
        val dz = wt * (1.0 / (1.0 + math.exp(-z)) - y)
        // ---- backward (BPTT)
        grad(biasO) += dz
        val dh = new Array[Double](hN)
        val dc = new Array[Double](hN)
        u = 0
        while (u < hN) {
          grad(dvO + u) += dz * hS(T - 1)(u)
          dh(u) = dz * p(dvO + u)
          u += 1
        }
        t = T - 1
        val dhPrev = new Array[Double](hN)
        while (t >= 0) {
          java.util.Arrays.fill(dhPrev, 0.0)
          u = 0
          while (u < hN) {
            val cn = cS(t)(u)
            val tc = hardTanh(cn)
            val o = gO(t)(u)
            // dL/d(pre) per gate; post-activation value tells the regime
            val dO = dh(u) * tc
            val daO = if (o > 0.0 && o < 1.0) dO * 0.25 else 0.0
            var dcU = dc(u)
            if (cn > -1.0 && cn < 1.0) dcU += dh(u) * o
            val cPrev = if (t > 0) cS(t - 1)(u) else 0.0
            val fv = gF(t)(u); val iv = gI(t)(u); val gv = gG(t)(u)
            val daF = if (fv > 0.0 && fv < 1.0) dcU * cPrev * 0.25 else 0.0
            val daI = if (iv > 0.0 && iv < 1.0) dcU * gv * 0.25 else 0.0
            val daG = if (gv > -1.0 && gv < 1.0) dcU * iv else 0.0
            dc(u) = dcU * fv // flows to c_{t-1}
            // accumulate parameter grads + dh_{t-1}
            val das = Array(daI, daF, daG, daO)
            var g = 0
            while (g < 4) {
              val da = das(g)
              if (da != 0.0) {
                grad(bO + g * hN + u) += da
                grad(wxO + g * hN + u) += da * xs(t)
                var v = 0
                while (v < hN) {
                  if (t > 0) grad(whO + (g * hN + u) * hN + v) += da * hS(t - 1)(v)
                  dhPrev(v) += da * p(whO + (g * hN + u) * hN + v)
                  v += 1
                }
              }
              g += 1
            }
            u += 1
          }
          System.arraycopy(dhPrev, 0, dh, 0, hN)
          t -= 1
        }
        (ls + wt * loss, grad)
      }
    DetAgg.lossGrad(
      ds.mapPartitionsWithIndex { case (pi, it) =>
        if (it.isEmpty) Iterator.empty
        else Iterator.single(
          (pi, it.foldLeft((0.0, new Array[Double](nP)))(seqOp)))
      }, nP)
  }

  /** Distributed training through [[DetAgg.fit]], the discipline
    * every gradient family shares, one BPTT pass per evaluation.
    * L2 on wx/wh/dense (not the biases). Forget-gate bias initialized
    * to +1 (the standard LSTM trick — start with a remembering cell so
    * gradients reach early timesteps). Deterministic: seeded init.
    * Input frame: `label` (0/1 double) + `window` (`array<double>`, all
    * the same length) + the optional M13 `weightCol`.
    *
    * Expect occasional "Line search zoom failed → Resetting history"
    * log lines from breeze: the hard gates make the objective
    * piecewise-smooth, and Wolfe line searches can stall exactly on a
    * gate kink. LBFGS resets its curvature history and keeps
    * descending — LstmSpec's planted-corpus gate passes through these
    * resets; they are noise, not divergence. */
  def train(windows: DataFrame, cfg: Config = Config(),
            weightCol: Option[String] = None): LstmModel = {
    val hN = cfg.nUnits
    val nP = nParams(hN)
    val rnd = new scala.util.Random(cfg.seed)
    val init = new Array[Double](nP)
    var i = 0
    while (i < oB(hN)) { init(i) = rnd.nextGaussian() * 0.3; i += 1 }
    // forget-gate biases (+1); others stay 0
    (0 until hN).foreach(u => init(oB(hN) + hN + u) = 1.0)
    (0 until hN).foreach(u => init(oDv(hN) + u) = rnd.nextGaussian() * 0.3)
    val isWeight = Array.tabulate(nP)(i =>
      i < oB(hN) || (i >= oDv(hN) && i < oBias(hN)))
    DetAgg.fit(windows, "window", weightCol, init, isWeight,
        cfg.regParam, cfg.maxIter) { (mean, std, len) =>
      ((ds, bw) => gradientPass(ds, bw, hN, mean, std),
       sol => LstmModel(hN, len,
         wx = sol.slice(oWx(hN), oWh(hN)),
         wh = sol.slice(oWh(hN), oB(hN)),
         b = sol.slice(oB(hN), oDv(hN)),
         dense = sol.slice(oDv(hN), oBias(hN)),
         bias = sol(oBias(hN)), mean = mean, std = std))
    }
  }

  /** Batch scoring: per-row logit + probability over a window column,
    * with the serve-time window contract of [[forward]]'s require
    * ([[DetAgg.scoreChecked]]). */
  def scoreWindows(m: LstmModel, windows: DataFrame,
                   winCol: String = "window"): DataFrame =
    DetAgg.scoreChecked(windows, winCol, m.window, "window",
      s"trained window ${m.window}")(logitCol(m, _))

  /** The LSTM as a replay scorer closure — same unit contract as
    * [[Cnn.scorer]]: trains directly on the buffer's window (G), no
    * mG conversion, window length enforced by [[forward]]. */
  def scorer(m: LstmModel): Array[Double] => Double =
    (vecG: Array[Double]) => DetAgg.sigmoid(forward(m, vecG))

  /** The trained LSTM as a fully-assembled replay detector —
    * bufferSamples pinned to the trained window, normalise off (the
    * model's own (mean, std) is the only scaling). */
  def deployedLstm(m: LstmModel,
                   base: graft.streaming.NnSettings = graft.streaming.NnSettings())
      : graft.streaming.NnAlg =
    new graft.streaming.NnAlg(
      base.copy(bufferSamples = m.window, normalise = false), scorer(m))
}
