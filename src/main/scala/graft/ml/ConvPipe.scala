package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ml.ConvFront.{ConvBlock, ConvFrontModel}
import graft.ml.LstmStack.Lstm2Model

/** The COMPOSED conv→recurrence architecture — the reference's
  * `lstm_pipe` (`amber/model.py:31-39`: conv_block stack → MaxPool →
  * Bidirectional(LSTM) → LSTM) trained END-TO-END as one parameter
  * vector: gradients flow from the logistic head through the stacked
  * recurrence ([[LstmStack.rowGrad]]'s input-gradient output) into the
  * conv front-end backward ([[ConvFront.rowBackward]]). Trained by
  * [[DetAgg.fit]], the discipline every gradient family shares.
  *
  * Scoring composes the two codegen'd expressions —
  * `LstmStackLogit(ConvFrontSeq(window))` — one projection, no
  * shuffle. The stack consumes the conv output RAW (its mean/std are
  * identity); the input normalization lives in the front end.
  *
  * Parameter layout: [block₀ w|b|scale|shift | block₁ … | mix |
  * mixBias | stack block ([[LstmStack]] layout)].
  */
object ConvPipe {

  case class BlockSpec(cOut: Int, k: Int = 3)

  /** `cIn` is the INPUT channel count (1 = scalar magnitude window;
    * 3 = interleaved X/Y/Z, the rawData3D stride convention — the
    * reference's multi-feature input towers, `amber/model.py:42-49`,
    * in the composed single-tower form: the first conv block mixes
    * the channels the way `build_model` fuses per-feature inputs). */
  case class Config(
      blocks: Seq[BlockSpec] = Seq(BlockSpec(3), BlockSpec(4)),
      h1: Int = 4,
      h2: Int = 3,
      head: String = "mha",
      nHeads: Int = 2,
      bidir: Boolean = true,
      cIn: Int = 1,
      maxIter: Int = 120,
      regParam: Double = 1e-4,
      seed: Long = 42L)

  case class ConvPipeModel(front: ConvFrontModel, stack: Lstm2Model) {
    require(stack.window == front.outLen,
      s"stack window ${stack.window} != front outLen ${front.outLen}")
    require(stack.mean == 0.0 && stack.std == 1.0,
      "the stack consumes the conv output raw; scaling lives in the front")
  }

  def forward(m: ConvPipeModel, x: Array[Double]): Double =
    LstmStack.forward(m.stack, ConvFront.forward(m.front, x))

  /** One projection: conv sequence expression nested in the stacked
    * recurrence expression. */
  def logitCol(m: ConvPipeModel, win: Column): Column =
    LstmStack.logitCol(m.stack, ConvFront.seqCol(m.front, win))

  /** Fail-loud serve-length contract ([[DetAgg.scoreChecked]]). The
    * expected array length is [[ConvFront.ConvFrontModel.inputLen]]
    * (cIn0 · window — interleaved channels). */
  def scoreWindows(m: ConvPipeModel, windows: DataFrame,
                   winCol: String = "window"): DataFrame =
    DetAgg.scoreChecked(windows, winCol, m.front.inputLen, "window",
      s"trained input length ${m.front.inputLen}")(logitCol(m, _))

  def scorer(m: ConvPipeModel): Array[Double] => Double =
    (w: Array[Double]) => 1.0 / (1.0 + math.exp(-forward(m, w)))

  /** The composed model as a replay detector (same contract as
    * [[Lstm.deployedLstm]]). */
  def deployedConvPipe(m: ConvPipeModel,
      base: graft.streaming.NnSettings = graft.streaming.NnSettings())
      : graft.streaming.NnAlg =
    new graft.streaming.NnAlg(
      base.copy(bufferSamples = m.front.inputLen, normalise = false),
      scorer(m))

  /** The (fit, score) family seam — slots into
    * [[RunSequence.runWithWindows]] / nested selection like
    * [[LstmStack.lstm2Family]]. */
  def convPipeFamily(cfg: Config = Config(),
                     subtypeWeights: Map[String, Double] = Map.empty)
      : (DataFrame => ConvPipeModel,
         (ConvPipeModel, DataFrame) => DataFrame) = {
    val fit = (train0: DataFrame) => {
      val (t, w) = RunSequence.withSubtypeWeight(train0, subtypeWeights)
      train(t, cfg, w)
    }
    val score = (m: ConvPipeModel, test: DataFrame) =>
      scoreWindows(m, test)
        .select(col("eventId"), col("label"), col("p_seizure"))
    (fit, score)
  }

  // ------------------------------------------------------- param layout

  private[ml] def shapesOf(blocks: Seq[BlockSpec],
      cIn0: Int): Seq[(Int, Int, Int)] = {
    var cIn = cIn0
    blocks.map { b => val s = (cIn, b.cOut, b.k); cIn = b.cOut; s }
  }

  private[ml] def convParamCount(shapes: Seq[(Int, Int, Int)]): Int =
    shapes.map { case (ci, co, k) => co * ci * k + 3 * co }.sum +
      shapes.last._2 + 1 // mix + mixBias

  /** The shape checks of a conv front over `len`-value rows of `cIn`
    * interleaved channels: (per-channel window length, positions left
    * after the blocks). Shared with [[TowerFusion]]. */
  private[ml] def frontShape(len: Int, cIn: Int, shapes: Seq[(Int, Int, Int)],
      blocks: Seq[BlockSpec]): (Int, Int) = {
    require(cIn >= 1 && len % cIn == 0,
      s"input length $len not a multiple of $cIn channels")
    val tLen = len / cIn
    val outLen = shapes.foldLeft(tLen)((t, s) => (t - s._3 + 1) / 2)
    require(outLen >= 2,
      s"window $tLen collapses to $outLen positions through $blocks")
    (tLen, outLen)
  }

  /** L2-regularizable index ranges of a conv front's parameter block
    * at `off`: the kernels and the channel mix (conv biases and the
    * affine (scale, shift) are bias-like). Shared with [[TowerFusion]],
    * one front per tower. */
  private[ml] def convWeightRanges(shapes: Seq[(Int, Int, Int)],
      off: Int): Seq[(Int, Int)] = {
    var o = off
    val rs = shapes.map { case (ci, co, k) =>
      val r = (o, o + co * ci * k); o += co * ci * k + 3 * co; r
    }
    rs :+ ((o, o + shapes.last._2)) // mix
  }

  /** Deterministic seeded init of a conv front's parameter block at
    * `off`: Gaussian·0.3 kernels and mix, affine scale 1, zero conv
    * biases and affine shifts. */
  private[ml] def convInit(rnd: scala.util.Random,
      shapes: Seq[(Int, Int, Int)], init: Array[Double], off: Int): Unit = {
    var o = off
    shapes.foreach { case (ci, co, k) =>
      (0 until co * ci * k).foreach(j =>
        init(o + j) = rnd.nextGaussian() * 0.3)
      o += co * ci * k
      o += co // conv bias 0
      (0 until co).foreach(j => init(o + j) = 1.0) // affine scale 1
      o += co
      o += co // affine shift 0
    }
    (0 until shapes.last._2).foreach(j =>
      init(o + j) = rnd.nextGaussian() * 0.3) // mix
  }

  /** Build the front-end model from the parameter vector (blocks at
    * ascending offsets, then mix/mixBias — [[ConvFront.rowBackward]]'s
    * exact walk). */
  private[ml] def frontOf(p: Array[Double], shapes: Seq[(Int, Int, Int)],
      window: Int, mean: Double, std: Double): ConvFrontModel = {
    var o = 0
    val blocks = shapes.map { case (ci, co, k) =>
      val w = java.util.Arrays.copyOfRange(p, o, o + co * ci * k)
      o += co * ci * k
      val b = java.util.Arrays.copyOfRange(p, o, o + co); o += co
      val sc = java.util.Arrays.copyOfRange(p, o, o + co); o += co
      val sh = java.util.Arrays.copyOfRange(p, o, o + co); o += co
      ConvBlock(ci, co, k, w, b, sc, sh)
    }
    val cLast = shapes.last._2
    val mix = java.util.Arrays.copyOfRange(p, o, o + cLast)
    ConvFrontModel(window, blocks, mix, p(o + cLast), mean, std)
  }

  // ------------------------------------------------------------ training

  /** Distributed END-TO-END training through [[DetAgg.fit]], the
    * discipline every gradient family shares. L2 on the conv kernels,
    * the channel mix and the stack's weight ranges; conv biases and the
    * affine (scale, shift) are bias-like. */
  def train(windows: DataFrame, cfg: Config = Config(),
            weightCol: Option[String] = None): ConvPipeModel = {
    val shapes = shapesOf(cfg.blocks, cfg.cIn)
    val nConv = convParamCount(shapes)
    val h1N = cfg.h1; val h2N = cfg.h2
    val mha = cfg.head == "mha"
    val nH = if (mha) cfg.nHeads else 1
    val nStack = LstmStack.nParams(h1N, h2N, cfg.head, cfg.bidir, nH)
    val nP = nConv + nStack
    val wRanges = convWeightRanges(shapes, 0) ++ LstmStack
      .stackWeightRanges(h1N, h2N, cfg.head, cfg.bidir, nH)
      .map(r => (nConv + r._1, nConv + r._2))
    val isWeight = Array.tabulate(nP)(i =>
      wRanges.exists(r => i >= r._1 && i < r._2))

    val rnd = new scala.util.Random(cfg.seed)
    val init = new Array[Double](nP)
    convInit(rnd, shapes, init, 0)
    System.arraycopy(
      LstmStack.stackInit(rnd, h1N, h2N, cfg.head, cfg.bidir, nH),
      0, init, nConv, nStack)

    DetAgg.fit(windows, "window", weightCol, init, isWeight,
        cfg.regParam, cfg.maxIter) { (mean, std, len) =>
      val (tLen, outLen) = frontShape(len, cfg.cIn, shapes, cfg.blocks)
      ((ds, bw) => gradientPass(ds, bw, cfg, tLen, mean, std),
       sol => ConvPipeModel(
         frontOf(sol, shapes, tLen, mean, std),
         LstmStack.stackUnpack(sol, nConv, h1N, h2N, outLen, 0.0, 1.0,
           cfg.head, cfg.bidir, nH)))
    }
  }

  /** One composed loss/gradient evaluation (recurrence rowGrad feeding
    * the conv backward), partials combined in partition-index order.
    * `window` is the PER-CHANNEL length (raw rows are cIn·window).
    * ConvPipeSpec's finite-difference checks drive it directly. */
  private[graft] def gradientPass(
      ds: org.apache.spark.rdd.RDD[(Double, Double, Array[Double])],
      bw: org.apache.spark.broadcast.Broadcast[Array[Double]],
      cfg: Config, window: Int, mean: Double, std: Double)
      : (Double, Array[Double]) = {
    val shapes = shapesOf(cfg.blocks, cfg.cIn)
    val nConv = convParamCount(shapes)
    val mha = cfg.head == "mha"
    val nH = if (mha) cfg.nHeads else 1
    val nP = nConv +
      LstmStack.nParams(cfg.h1, cfg.h2, cfg.head, cfg.bidir, nH)
    DetAgg.lossGrad(
      ds.mapPartitionsWithIndex { case (pi, it) =>
        if (it.isEmpty) Iterator.empty
        else {
          val pv = bw.value
          val front = frontOf(pv, shapes, window, mean, std)
          val grad = new Array[Double](nP)
          var ls = 0.0
          it.foreach { case (y, wt, xRaw) =>
            val convOut = ConvFront.forward(front, xRaw)
            val dxs = new Array[Double](convOut.length)
            ls += LstmStack.rowGrad(pv, nConv, cfg.h1, cfg.h2,
              cfg.head, cfg.bidir, nH, y, wt, convOut, grad, dxs)
            ConvFront.rowBackward(front, xRaw, dxs, grad, 0)
          }
          Iterator.single((pi, (ls, grad)))
        }
      }, nP)
  }
}
