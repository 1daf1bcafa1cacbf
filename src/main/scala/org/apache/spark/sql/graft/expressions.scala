package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType}

/** Native Catalyst expressions for the hot array kernels — the tier
  * between built-in functions and Scala UDFs (SURVEY §7.3): unlike a UDF
  * they participate in whole-stage codegen (no Row boxing, no
  * serialization boundary); unlike array HOFs (CodegenFallback, lambda
  * dispatch per element) they compile to a tight Java loop.
  *
  * Lives under `org.apache.spark.sql` because the expression-extension
  * surface (`AbstractDataType` for ImplicitCastInputTypes,
  * `ExpressionUtils` for Expression↔Column bridging) is `private[sql]`
  * — the normal arrangement for out-of-tree native expressions. The
  * public API is re-exported from [[graft.plans.GraftExpressions]].
  *
  * `array_dot` is the kernel under every cosine-similarity operator (the
  * embedding near-dup and ANN paths; see [[graft.operators.Similarity]]).
  * The index-order accumulation matches `Similarity.dotUdf` and DuckDB's
  * `list_dot_product` bit-for-bit, so it is drop-in for oracle-checked
  * queries.
  *
  * Permissive-SQL semantics, by design: ragged arrays fold over the
  * common prefix (same as `dotUdf`'s min-length loop), and null ELEMENTS
  * read as 0.0 through ArrayData (a null top-level array still returns
  * null). Embedding pipelines should validate dimensions upstream —
  * this kernel will not reject a wrong-dim vector for them.
  */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "array_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** C5/C6 as a native kernel: per-sample magnitude of an interleaved
  * [x0,y0,z0,x1,...] accel array — `V2` = sqrt(x²+y²+z²), `V1` =
  * |x|+|y|+|z| (the Pebble-era approximation). This is the innermost
  * loop of every 3D scan (tidy, feature extraction, augmentation
  * verify): at 100 TB it runs per SAMPLE, so it belongs in whole-stage
  * codegen, not behind a UDF serialization boundary. The V3 offset
  * variant stays in [[graft.functions.Signal.magnitude3D]] — it takes a
  * runtime parameter and is not on the scan hot path.
  *
  * Index-order per-sample math identical to `Signal.magnitude3D`
  * (bit-for-bit: same multiply/add/sqrt sequence), so results are
  * drop-in for the oracle-checked queries. Trailing elements beyond the
  * last full (x,y,z) triple are ignored, like the `length/3` loop
  * there. Same permissive null contract as [[ArrayDot]] above, by the
  * same design: a null ELEMENT reads as 0.0 through ArrayData (only a
  * null top-level array returns null) — accel pipelines must validate
  * element nullability upstream; this kernel will not do it per sample. */
case class ArrayMag3D(child: Expression, mode: String = "V2")
    extends UnaryExpression with ImplicitCastInputTypes {

  require(mode == "V1" || mode == "V2", s"ArrayMag3D supports V1/V2, got $mode")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "array_mag3d"

  override protected def nullSafeEval(a: Any): Any = {
    val xyz = a.asInstanceOf[ArrayData]
    val n = xyz.numElements() / 3
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val x = xyz.getDouble(3 * i)
      val y = xyz.getDouble(3 * i + 1)
      val z = xyz.getDouble(3 * i + 2)
      out(i) =
        if (mode == "V1") math.abs(x) + math.abs(y) + math.abs(z)
        else math.sqrt(x * x + y * y + z * z)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val x = ctx.freshName("x"); val y = ctx.freshName("y"); val z = ctx.freshName("z")
      val elem =
        if (mode == "V1")
          s"java.lang.Math.abs($x) + java.lang.Math.abs($y) + java.lang.Math.abs($z)"
        else s"java.lang.Math.sqrt($x*$x + $y*$y + $z*$z)"
      s"""
         |int $n = $a.numElements() / 3;
         |double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $a.getDouble(3*$i);
         |  double $y = $a.getDouble(3*$i + 1);
         |  double $z = $a.getDouble(3*$i + 2);
         |  $out[$i] = $elem;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The CNN forward pass ([[graft.ml.Cnn]]: z-scale → Conv1D → ReLU →
  * global max-pool → dense logit) as ONE native expression — the
  * batch-scoring hot path and the ml3 oracle's compute.
  *
  * Why not compose it from built-ins: the natural composition
  * (`transform(sequence(...), ...)` per filter + `array_max`) routes
  * every conv position through ArrayTransform's interpreted lambda
  * dispatch — measured 1.2–1.3k rows/s vs ~300k–1.6M rows/s for this
  * kernel's codegen'd loop (SCALING.md round 13: 282× at 100k
  * rows, 1225× at 2.5M). A Scala-UDF twin of `Cnn.forward` is
  * throughput-comparable (0.7–1.1× across probe sizes — JIT handles
  * the monomorphic kernel well); the native expression is kept because
  * it stays inside whole-stage codegen (no Row boundary splitting the
  * fused stage), needs no closure serialization, and is usable from
  * SQL. At 100 TB the forward pass runs per epoch window; it must be
  * a tight loop either way — the HOF form is the one that cannot ship.
  *
  * Exactness contract: accumulation order is IDENTICAL to
  * `Cnn.forward`'s JVM loop — xs pre-scaled element-wise, j ascending
  * within a filter, `c > best` max fold seeded at 0.0 (ReLU folded in),
  * filters ascending into the logit — so column and closure scoring are
  * bit-identical (CnnSpec pins it), and with integer weights every
  * intermediate is integer-exact for the cross-engine oracle hash.
  *
  * NULL for a window shorter than the filter width (nothing to
  * convolve), matching the composed form it replaces. Null ELEMENTS
  * read as 0.0 through ArrayData — the same permissive-SQL stance as
  * [[ArrayDot]], documented rather than guarded because a per-element
  * null check would cost a branch per sample in the hot loop; signal
  * windows come from [[graft.streaming.NnBuffer.dp2vectors]]-class
  * producers that never emit null samples, and pipelines ingesting
  * untrusted arrays should validate upstream. Weights travel as
  * `Seq` (value equality keeps expression canonicalization sane) and are
  * bridged to arrays once per task via transient lazies. */
case class Conv1dMaxPoolLogit(
    child: Expression,
    nFilters: Int,
    width: Int,
    filters: Seq[Double],
    filterBias: Seq[Double],
    dense: Seq[Double],
    bias: Double,
    mean: Double,
    std: Double)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(filters.length == nFilters * width &&
    filterBias.length == nFilters && dense.length == nFilters,
    "Conv1dMaxPoolLogit weight shapes inconsistent")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true // short windows yield NULL

  override def prettyName: String = "conv1d_maxpool_logit"

  @transient private lazy val fltA = filters.toArray
  @transient private lazy val fbA = filterBias.toArray
  @transient private lazy val dvA = dense.toArray

  override protected def nullSafeEval(a: Any): Any = {
    val win = a.asInstanceOf[ArrayData]
    val n = win.numElements()
    if (n < width) null
    else {
      val xs = new Array[Double](n)
      var i = 0
      while (i < n) { xs(i) = (win.getDouble(i) - mean) / std; i += 1 }
      val L = n - width + 1
      var z = bias
      var f = 0
      while (f < nFilters) {
        var best = 0.0
        var t = 0
        while (t < L) {
          var c = fbA(f)
          var j = 0
          while (j < width) { c += fltA(f * width + j) * xs(t + j); j += 1 }
          if (c > best) best = c
          t += 1
        }
        z += dvA(f) * best
        f += 1
      }
      z
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val flt = ctx.addReferenceObj("cnnFilters", fltA, "double[]")
      val fb = ctx.addReferenceObj("cnnFilterBias", fbA, "double[]")
      val dv = ctx.addReferenceObj("cnnDense", dvA, "double[]")
      val sc = ctx.addReferenceObj("cnnScalars",
        Array(bias, mean, std), "double[]")
      val n = ctx.freshName("n"); val xs = ctx.freshName("xs")
      val i = ctx.freshName("i"); val L = ctx.freshName("L")
      val z = ctx.freshName("z"); val f = ctx.freshName("f")
      val best = ctx.freshName("best"); val t = ctx.freshName("t")
      val c = ctx.freshName("c"); val j = ctx.freshName("j")
      s"""
         |int $n = $a.numElements();
         |if ($n < $width) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $xs = new double[$n];
         |  for (int $i = 0; $i < $n; $i++) {
         |    $xs[$i] = ($a.getDouble($i) - $sc[1]) / $sc[2];
         |  }
         |  int $L = $n - $width + 1;
         |  double $z = $sc[0];
         |  for (int $f = 0; $f < $nFilters; $f++) {
         |    double $best = 0.0;
         |    for (int $t = 0; $t < $L; $t++) {
         |      double $c = $fb[$f];
         |      for (int $j = 0; $j < $width; $j++) {
         |        $c += $flt[$f * $width + $j] * $xs[$t + $j];
         |      }
         |      if ($c > $best) $best = $c;
         |    }
         |    $z += $dv[$f] * $best;
         |  }
         |  ${ev.value} = $z;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The hard-gate LSTM forward pass ([[graft.ml.Lstm]]: z-scale →
  * recurrent cell over the window → dense logit) as ONE native
  * expression — the recurrent twin of [[Conv1dMaxPoolLogit]] and the
  * ml4 oracle's compute. The reference's recurrent family is the AMBER
  * LSTM (`user_tools/nnTraining2/amber/model.py:31-39`); this is its
  * in-engine boundary, same contract as the CNN: architecture as a
  * per-row pure function, training elsewhere ([[graft.ml.Lstm.train]]).
  *
  * PIECEWISE-LINEAR gates by design (the "hard" quantized-LSTM variant,
  * standard in integer inference stacks): hardSig(a) = clamp(0.25a +
  * 0.5, 0, 1), hardTanh(x) = clamp(x, -1, 1). No transcendentals means
  * every op is a correctly-rounded IEEE mul/add/compare — which is what
  * lets a DuckDB recursive CTE replay the recurrence BIT-EXACTLY
  * (ml4's gate) where exp/tanh would diverge by libm ulps. Clamps are
  * comparison ladders (a < lo, a > hi), NEVER min/max intrinsics: the
  * ladder passes the original datum through untouched (±0.0 included)
  * and reads identically in both engines.
  *
  * Accumulation order is the cross-engine contract, mirrored by
  * `Lstm.forward` and the generated SQL: gate pre-activation
  * b + wx·x + Σ_v wh_v·h_v (v ascending), c' = f·c + i·g,
  * h' = o·hardTanh(c'), logit = bias + Σ_u dense_u·h_u (u ascending).
  * Weight layout is gate-major (i, f, g, o): wx/b index g·H+u,
  * wh index (g·H+u)·H+v. NULL for an empty window; null ELEMENTS read
  * as 0.0 through ArrayData (the [[ArrayDot]]/[[Conv1dMaxPoolLogit]]
  * permissive-SQL stance — see the conv docblock for why this is
  * documented, not guarded). */
case class LstmHardLogit(
    child: Expression,
    nUnits: Int,
    wx: Seq[Double],
    wh: Seq[Double],
    b: Seq[Double],
    dense: Seq[Double],
    bias: Double,
    mean: Double,
    std: Double)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(wx.length == 4 * nUnits && wh.length == 4 * nUnits * nUnits &&
    b.length == 4 * nUnits && dense.length == nUnits,
    "LstmHardLogit weight shapes inconsistent")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true // empty windows yield NULL

  override def prettyName: String = "lstm_hard_logit"

  @transient private lazy val wxA = wx.toArray
  @transient private lazy val whA = wh.toArray
  @transient private lazy val bA = b.toArray
  @transient private lazy val dvA = dense.toArray

  override protected def nullSafeEval(a: Any): Any = {
    val win = a.asInstanceOf[ArrayData]
    val n = win.numElements()
    if (n == 0) null
    else {
      val H = nUnits
      val h = new Array[Double](H)
      val c = new Array[Double](H)
      val hp = new Array[Double](H)
      var t = 0
      while (t < n) {
        val x = (win.getDouble(t) - mean) / std
        System.arraycopy(h, 0, hp, 0, H)
        var u = 0
        while (u < H) {
          val pre = new Array[Double](4)
          var g = 0
          while (g < 4) {
            var acc = bA(g * H + u) + wxA(g * H + u) * x
            var v = 0
            while (v < H) { acc += whA((g * H + u) * H + v) * hp(v); v += 1 }
            pre(g) = acc
            g += 1
          }
          val gi = if (pre(0) < -2.0) 0.0 else if (pre(0) > 2.0) 1.0 else 0.25 * pre(0) + 0.5
          val gf = if (pre(1) < -2.0) 0.0 else if (pre(1) > 2.0) 1.0 else 0.25 * pre(1) + 0.5
          val gg = if (pre(2) < -1.0) -1.0 else if (pre(2) > 1.0) 1.0 else pre(2)
          val go = if (pre(3) < -2.0) 0.0 else if (pre(3) > 2.0) 1.0 else 0.25 * pre(3) + 0.5
          val cn = gf * c(u) + gi * gg
          c(u) = cn
          val tc = if (cn < -1.0) -1.0 else if (cn > 1.0) 1.0 else cn
          h(u) = go * tc
          u += 1
        }
        t += 1
      }
      var z = bias
      var u = 0
      while (u < H) { z += dvA(u) * h(u); u += 1 }
      z
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val wxR = ctx.addReferenceObj("lstmWx", wxA, "double[]")
      val whR = ctx.addReferenceObj("lstmWh", whA, "double[]")
      val bR = ctx.addReferenceObj("lstmB", bA, "double[]")
      val dvR = ctx.addReferenceObj("lstmDense", dvA, "double[]")
      val sc = ctx.addReferenceObj("lstmScalars",
        Array(bias, mean, std), "double[]")
      val H = nUnits
      val n = ctx.freshName("n"); val h = ctx.freshName("h")
      val cS = ctx.freshName("c"); val hp = ctx.freshName("hp")
      val t = ctx.freshName("t"); val x = ctx.freshName("x")
      val u = ctx.freshName("u"); val pre = ctx.freshName("pre")
      val g = ctx.freshName("g"); val acc = ctx.freshName("acc")
      val v = ctx.freshName("v"); val gi = ctx.freshName("gi")
      val gf = ctx.freshName("gf"); val gg = ctx.freshName("gg")
      val go = ctx.freshName("go"); val cn = ctx.freshName("cn")
      val tc = ctx.freshName("tc"); val z = ctx.freshName("z")
      s"""
         |int $n = $a.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $h = new double[$H];
         |  double[] $cS = new double[$H];
         |  double[] $hp = new double[$H];
         |  for (int $t = 0; $t < $n; $t++) {
         |    double $x = ($a.getDouble($t) - $sc[1]) / $sc[2];
         |    System.arraycopy($h, 0, $hp, 0, $H);
         |    for (int $u = 0; $u < $H; $u++) {
         |      double[] $pre = new double[4];
         |      for (int $g = 0; $g < 4; $g++) {
         |        double $acc = $bR[$g * $H + $u] + $wxR[$g * $H + $u] * $x;
         |        for (int $v = 0; $v < $H; $v++) {
         |          $acc += $whR[($g * $H + $u) * $H + $v] * $hp[$v];
         |        }
         |        $pre[$g] = $acc;
         |      }
         |      double $gi = $pre[0] < -2.0 ? 0.0 : ($pre[0] > 2.0 ? 1.0 : 0.25 * $pre[0] + 0.5);
         |      double $gf = $pre[1] < -2.0 ? 0.0 : ($pre[1] > 2.0 ? 1.0 : 0.25 * $pre[1] + 0.5);
         |      double $gg = $pre[2] < -1.0 ? -1.0 : ($pre[2] > 1.0 ? 1.0 : $pre[2]);
         |      double $go = $pre[3] < -2.0 ? 0.0 : ($pre[3] > 2.0 ? 1.0 : 0.25 * $pre[3] + 0.5);
         |      double $cn = $gf * $cS[$u] + $gi * $gg;
         |      $cS[$u] = $cn;
         |      double $tc = $cn < -1.0 ? -1.0 : ($cn > 1.0 ? 1.0 : $cn);
         |      $h[$u] = $go * $tc;
         |    }
         |  }
         |  double $z = $sc[0];
         |  for (int $u = 0; $u < $H; $u++) $z += $dvR[$u] * $h[$u];
         |  ${ev.value} = $z;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** STACKED two-layer hard-gate LSTM + mean-pool head as ONE native
  * expression — the amber family's stacked recurrence
  * (`user_tools/nnTraining2/amber/model.py`,
  * `amber/enhanced_fusion_layer.py:14-22`) under the same bit-exact
  * discipline as [[LstmHardLogit]] (see that docblock for the hard-gate
  * and clamp-ladder rationale — all of it applies per layer here).
  * Layer 1 runs [[LstmHardLogit]]'s exact cell over the scalar series;
  * layer 2 runs the same cell over layer 1's hidden sequence (gate
  * pre-activation b + Σ_j wx·h1_j, j ascending, + Σ_v wh·h2prev_v,
  * v ascending); the head MEAN-POOLS layer 2's hidden states over time
  * (sum in t order, ONE division by T per unit) into the dense logit —
  * the pool is the oracle-preserving member of the fusion-layer family
  * (attention's softmax is transcendental). Mirrored bit-for-bit by
  * `graft.ml.LstmStack.forward` and the ml4b recursive-CTE oracle. */
case class LstmStackLogit(
    child: Expression,
    h1: Int,
    h2: Int,
    wx1: Seq[Double],
    wh1: Seq[Double],
    b1: Seq[Double],
    wx2: Seq[Double],
    wh2: Seq[Double],
    b2: Seq[Double],
    dense: Seq[Double],
    bias: Double,
    mean: Double,
    std: Double,
    attn: Boolean = false,
    attA: Seq[Double] = Seq.empty,
    attC: Double = 0.0,
    bidir: Boolean = false,
    wx1b: Seq[Double] = Seq.empty,
    wh1b: Seq[Double] = Seq.empty,
    b1b: Seq[Double] = Seq.empty,
    mha: Boolean = false,
    nHeads: Int = 1,
    attCs: Seq[Double] = Seq.empty,
    attD: Seq[Double] = Seq.empty,
    denseK: Seq[Double] = Seq.empty,
    biasK: Seq[Double] = Seq.empty,
    attDK: Seq[Double] = Seq.empty)
    extends UnaryExpression with ImplicitCastInputTypes {

  private def x2Dim: Int = if (bidir) 2 * h1 else h1

  /** K-CLASS readout mode (the reference's Dense(num_classes) head):
    * when `biasK` is non-empty, the expression emits ALL K class
    * logits as array<double> from ONE recurrence evaluation — per
    * class, the same readout as the binary head with (denseK row k,
    * biasK(k), attDK row k) in place of (dense, bias, attD). Argmax
    * serving needs no softmax (monotone per row), so K-class scoring
    * stays IEEE mul/add/compare. `dense`/`bias`/`attD` are ignored in
    * this mode. */
  private def nClasses: Int = biasK.length
  private def kMode: Boolean = nClasses > 0

  require(wx1.length == 4 * h1 && wh1.length == 4 * h1 * h1 &&
    b1.length == 4 * h1 && wx2.length == 4 * h2 * x2Dim &&
    wh2.length == 4 * h2 * h2 && b2.length == 4 * h2 &&
    dense.length == h2, "LstmStackLogit weight shapes inconsistent")
  require(!attn || attA.length == h2,
    "LstmStackLogit attention weight shape inconsistent")
  require(!(attn && mha), "LstmStackLogit: attn and mha are exclusive")
  require(!mha || (nHeads >= 1 && attA.length == nHeads * h2 &&
    attCs.length == nHeads && attD.length == nHeads * h2),
    "LstmStackLogit multi-head shapes inconsistent")
  require(!bidir || (wx1b.length == 4 * h1 && wh1b.length == 4 * h1 * h1 &&
    b1b.length == 4 * h1),
    "LstmStackLogit backward-direction weight shapes inconsistent")
  require(!kMode || (denseK.length == nClasses * h2 &&
    (if (mha) attDK.length == nClasses * nHeads * h2 else attDK.isEmpty)),
    "LstmStackLogit K-class head shapes inconsistent")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))

  override def dataType: DataType =
    if (kMode) ArrayType(DoubleType, containsNull = false) else DoubleType

  override def nullable: Boolean = true // empty windows yield NULL

  override def prettyName: String = "lstm_stack_logit"

  @transient private lazy val wx1A = wx1.toArray
  @transient private lazy val wh1A = wh1.toArray
  @transient private lazy val b1A = b1.toArray
  @transient private lazy val wx2A = wx2.toArray
  @transient private lazy val wh2A = wh2.toArray
  @transient private lazy val b2A = b2.toArray
  @transient private lazy val dvA = dense.toArray
  @transient private lazy val attAA = attA.toArray
  @transient private lazy val wx1bA = wx1b.toArray
  @transient private lazy val wh1bA = wh1b.toArray
  @transient private lazy val b1bA = b1b.toArray
  @transient private lazy val attCsA = attCs.toArray
  @transient private lazy val attDA = attD.toArray
  @transient private lazy val denseKA = denseK.toArray
  @transient private lazy val biasKA = biasK.toArray
  @transient private lazy val attDKA = attDK.toArray

  /** Interpreted head accumulation — shared by the unidirectional and
    * bidirectional eval paths. Same step/readout order as
    * `LstmStack.HeadState` (residual/mean first, then heads ascending). */
  private final class HeadAcc {
    val s = new Array[Double](h2)
    var den = 0.0
    val numM = if (mha) new Array[Double](nHeads * h2) else null
    val denM = if (mha) new Array[Double](nHeads) else null
    def step(hB: Array[Double]): Unit =
      if (attn) {
        var sc = attC
        var u = 0
        while (u < h2) { sc += attAA(u) * hB(u); u += 1 }
        val w = if (sc < -2.0) 0.0 else if (sc > 2.0) 1.0 else 0.25 * sc + 0.5
        u = 0
        while (u < h2) { s(u) += w * hB(u); u += 1 }
        den += w
      } else {
        var u = 0
        while (u < h2) { s(u) += hB(u); u += 1 }
        if (mha) {
          var k = 0
          while (k < nHeads) {
            var sc = attCsA(k)
            u = 0
            while (u < h2) { sc += attAA(k * h2 + u) * hB(u); u += 1 }
            val w = if (sc < -2.0) 0.0 else if (sc > 2.0) 1.0
                    else 0.25 * sc + 0.5
            u = 0
            while (u < h2) { numM(k * h2 + u) += w * hB(u); u += 1 }
            denM(k) += w
            k += 1
          }
        }
      }
    /** One readout with an arbitrary (bias, dense row, attD row) —
      * the binary head and every K-class row share this walk, so the
      * accumulation order is identical per class. */
    private def logitFor(n: Int, b0: Double, dv: Array[Double],
        dvOff: Int, aD: Array[Double], aDOff: Int): Double = {
      var z = b0
      var u = 0
      if (attn) {
        val denom = 1.0 + den
        while (u < h2) { z += dv(dvOff + u) * (s(u) / denom); u += 1 }
      } else {
        while (u < h2) { z += dv(dvOff + u) * (s(u) / n); u += 1 }
        if (mha) {
          var k = 0
          while (k < nHeads) {
            val denom = 1.0 + denM(k)
            u = 0
            while (u < h2) {
              z += aD(aDOff + k * h2 + u) * (numM(k * h2 + u) / denom)
              u += 1
            }
            k += 1
          }
        }
      }
      z
    }

    /** Scalar logit (binary head) or all K class logits (K-mode). */
    def result(n: Int): Any =
      if (kMode)
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array.tabulate(nClasses)(c =>
            logitFor(n, biasKA(c), denseKA, c * h2,
              attDKA, c * nHeads * h2)))
      else logitFor(n, bias, dvA, 0, attDA, 0)
  }

  override protected def nullSafeEval(a: Any): Any = {
    val win = a.asInstanceOf[ArrayData]
    val n = win.numElements()
    if (n == 0) null
    else if (bidir) evalBidir(win, n)
    else {
      val H1 = h1; val H2 = h2
      val hA = new Array[Double](H1); val cA = new Array[Double](H1)
      val hpA = new Array[Double](H1)
      val hB = new Array[Double](H2); val cB = new Array[Double](H2)
      val hpB = new Array[Double](H2)
      val hs = new HeadAcc
      var t = 0
      while (t < n) {
        val x = (win.getDouble(t) - mean) / std
        System.arraycopy(hA, 0, hpA, 0, H1)
        var u = 0
        while (u < H1) {
          val pre = new Array[Double](4)
          var g = 0
          while (g < 4) {
            var acc = b1A(g * H1 + u) + wx1A(g * H1 + u) * x
            var v = 0
            while (v < H1) { acc += wh1A((g * H1 + u) * H1 + v) * hpA(v); v += 1 }
            pre(g) = acc
            g += 1
          }
          val gi = if (pre(0) < -2.0) 0.0 else if (pre(0) > 2.0) 1.0 else 0.25 * pre(0) + 0.5
          val gf = if (pre(1) < -2.0) 0.0 else if (pre(1) > 2.0) 1.0 else 0.25 * pre(1) + 0.5
          val gg = if (pre(2) < -1.0) -1.0 else if (pre(2) > 1.0) 1.0 else pre(2)
          val go = if (pre(3) < -2.0) 0.0 else if (pre(3) > 2.0) 1.0 else 0.25 * pre(3) + 0.5
          val cn = gf * cA(u) + gi * gg
          cA(u) = cn
          val tc = if (cn < -1.0) -1.0 else if (cn > 1.0) 1.0 else cn
          hA(u) = go * tc
          u += 1
        }
        System.arraycopy(hB, 0, hpB, 0, H2)
        u = 0
        while (u < H2) {
          val pre = new Array[Double](4)
          var g = 0
          while (g < 4) {
            var acc = b2A(g * H2 + u)
            var j = 0
            while (j < H1) { acc += wx2A((g * H2 + u) * H1 + j) * hA(j); j += 1 }
            var v = 0
            while (v < H2) { acc += wh2A((g * H2 + u) * H2 + v) * hpB(v); v += 1 }
            pre(g) = acc
            g += 1
          }
          val gi = if (pre(0) < -2.0) 0.0 else if (pre(0) > 2.0) 1.0 else 0.25 * pre(0) + 0.5
          val gf = if (pre(1) < -2.0) 0.0 else if (pre(1) > 2.0) 1.0 else 0.25 * pre(1) + 0.5
          val gg = if (pre(2) < -1.0) -1.0 else if (pre(2) > 1.0) 1.0 else pre(2)
          val go = if (pre(3) < -2.0) 0.0 else if (pre(3) > 2.0) 1.0 else 0.25 * pre(3) + 0.5
          val cn = gf * cB(u) + gi * gg
          cB(u) = cn
          val tc = if (cn < -1.0) -1.0 else if (cn > 1.0) 1.0 else cn
          hB(u) = go * tc
          u += 1
        }
        hs.step(hB)
        t += 1
      }
      hs.result(n)
    }
  }

  /** Bidirectional eval: both layer-1 directions stored per original
    * time index, layer 2 over the concatenation — mirrors
    * `LstmStack.forwardBidir` bit-for-bit. */
  private def evalBidir(win: ArrayData, n: Int): Any = {
    val H1 = h1; val H2 = h2
    val xs = Array.tabulate(n)(t => (win.getDouble(t) - mean) / std)
    def dir(wx: Array[Double], wh: Array[Double], b: Array[Double],
            reverse: Boolean): Array[Array[Double]] = {
      val out = Array.ofDim[Double](n, H1)
      val h = new Array[Double](H1); val c = new Array[Double](H1)
      val hp = new Array[Double](H1)
      var k = 0
      while (k < n) {
        val t = if (reverse) n - 1 - k else k
        System.arraycopy(h, 0, hp, 0, H1)
        var u = 0
        while (u < H1) {
          val pre = new Array[Double](4)
          var g = 0
          while (g < 4) {
            var acc = b(g * H1 + u) + wx(g * H1 + u) * xs(t)
            var v = 0
            while (v < H1) { acc += wh((g * H1 + u) * H1 + v) * hp(v); v += 1 }
            pre(g) = acc
            g += 1
          }
          val gi = if (pre(0) < -2.0) 0.0 else if (pre(0) > 2.0) 1.0 else 0.25 * pre(0) + 0.5
          val gf = if (pre(1) < -2.0) 0.0 else if (pre(1) > 2.0) 1.0 else 0.25 * pre(1) + 0.5
          val gg = if (pre(2) < -1.0) -1.0 else if (pre(2) > 1.0) 1.0 else pre(2)
          val go = if (pre(3) < -2.0) 0.0 else if (pre(3) > 2.0) 1.0 else 0.25 * pre(3) + 0.5
          val cn = gf * c(u) + gi * gg
          c(u) = cn
          val tc = if (cn < -1.0) -1.0 else if (cn > 1.0) 1.0 else cn
          h(u) = go * tc
          u += 1
        }
        System.arraycopy(h, 0, out(t), 0, H1)
        k += 1
      }
      out
    }
    val hF = dir(wx1A, wh1A, b1A, reverse = false)
    val hBk = dir(wx1bA, wh1bA, b1bA, reverse = true)
    val xDim = 2 * H1
    val hB = new Array[Double](H2); val cB = new Array[Double](H2)
    val hpB = new Array[Double](H2)
    val hs = new HeadAcc
    val x2 = new Array[Double](xDim)
    var t = 0
    while (t < n) {
      System.arraycopy(hF(t), 0, x2, 0, H1)
      System.arraycopy(hBk(t), 0, x2, H1, H1)
      System.arraycopy(hB, 0, hpB, 0, H2)
      var u = 0
      while (u < H2) {
        val pre = new Array[Double](4)
        var g = 0
        while (g < 4) {
          var acc = b2A(g * H2 + u)
          var j = 0
          while (j < xDim) { acc += wx2A((g * H2 + u) * xDim + j) * x2(j); j += 1 }
          var v = 0
          while (v < H2) { acc += wh2A((g * H2 + u) * H2 + v) * hpB(v); v += 1 }
          pre(g) = acc
          g += 1
        }
        val gi = if (pre(0) < -2.0) 0.0 else if (pre(0) > 2.0) 1.0 else 0.25 * pre(0) + 0.5
        val gf = if (pre(1) < -2.0) 0.0 else if (pre(1) > 2.0) 1.0 else 0.25 * pre(1) + 0.5
        val gg = if (pre(2) < -1.0) -1.0 else if (pre(2) > 1.0) 1.0 else pre(2)
        val go = if (pre(3) < -2.0) 0.0 else if (pre(3) > 2.0) 1.0 else 0.25 * pre(3) + 0.5
        val cn = gf * cB(u) + gi * gg
        cB(u) = cn
        val tc = if (cn < -1.0) -1.0 else if (cn > 1.0) 1.0 else cn
        hB(u) = go * tc
        u += 1
      }
      hs.step(hB)
      t += 1
    }
    hs.result(n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val wx1R = ctx.addReferenceObj("ls2Wx1", wx1A, "double[]")
      val wh1R = ctx.addReferenceObj("ls2Wh1", wh1A, "double[]")
      val b1R = ctx.addReferenceObj("ls2B1", b1A, "double[]")
      val wx2R = ctx.addReferenceObj("ls2Wx2", wx2A, "double[]")
      val wh2R = ctx.addReferenceObj("ls2Wh2", wh2A, "double[]")
      val b2R = ctx.addReferenceObj("ls2B2", b2A, "double[]")
      val dvR = ctx.addReferenceObj("ls2Dense", dvA, "double[]")
      val attR = ctx.addReferenceObj("ls2AttA",
        if (attn || mha) attAA else new Array[Double](0), "double[]")
      val attCsR = ctx.addReferenceObj("ls2AttCs",
        if (mha) attCsA else new Array[Double](0), "double[]")
      val attDR = ctx.addReferenceObj("ls2AttD",
        if (mha) attDA else new Array[Double](0), "double[]")
      val wx1bR = ctx.addReferenceObj("ls2Wx1b",
        if (bidir) wx1bA else new Array[Double](0), "double[]")
      val wh1bR = ctx.addReferenceObj("ls2Wh1b",
        if (bidir) wh1bA else new Array[Double](0), "double[]")
      val b1bR = ctx.addReferenceObj("ls2B1b",
        if (bidir) b1bA else new Array[Double](0), "double[]")
      val sc = ctx.addReferenceObj("ls2Scalars",
        Array(bias, mean, std, attC), "double[]")
      val H1v = h1; val H2v = h2
      val n = ctx.freshName("n")
      val hA = ctx.freshName("hA"); val cA = ctx.freshName("cA")
      val hpA = ctx.freshName("hpA")
      val hB = ctx.freshName("hB"); val cB = ctx.freshName("cB")
      val hpB = ctx.freshName("hpB"); val sP = ctx.freshName("sP")
      val t = ctx.freshName("t"); val x = ctx.freshName("x")
      val u = ctx.freshName("u"); val pre = ctx.freshName("pre")
      val g = ctx.freshName("g"); val acc = ctx.freshName("acc")
      val v = ctx.freshName("v"); val j = ctx.freshName("j")
      val gi = ctx.freshName("gi"); val gf = ctx.freshName("gf")
      val gg = ctx.freshName("gg"); val go = ctx.freshName("go")
      val cn = ctx.freshName("cn"); val tc = ctx.freshName("tc")
      val z = ctx.freshName("z")
      val den = ctx.freshName("den")
      val numM = ctx.freshName("numM"); val denM = ctx.freshName("denM")
      val headDecls = headDeclCode(sP, den, numM, denM, H2v)
      val headStep =
        headStepCode(sc, attR, attCsR, hB, sP, den, numM, denM, H2v)
      // readout tail (RETURN-style — the body lives in its own
      // generated method, see below): scalar logit (binary) or K class
      // logits (K-mode), each class row through the SAME per-class
      // accumulation walk
      val readout =
        if (kMode) {
          val dvKR = ctx.addReferenceObj("ls2DenseK", denseKA, "double[]")
          val bKR = ctx.addReferenceObj("ls2BiasK", biasKA, "double[]")
          val aDKR = ctx.addReferenceObj("ls2AttDK",
            if (mha) attDKA else new Array[Double](0), "double[]")
          val zk = ctx.freshName("zk")
          val perClass = headLogitCode(z, dvKR, aDKR, sP, den, numM,
            denM, n, H2v, dvOff = s"__cc * $H2v",
            aDOff = s"__cc * ${nHeads * H2v}")
          s"""double[] $zk = new double[$nClasses];
             |  for (int __cc = 0; __cc < $nClasses; __cc++) {
             |    double $z = $bKR[__cc];
             |    $perClass
             |    $zk[__cc] = $z;
             |  }
             |  return new org.apache.spark.sql.catalyst.util.GenericArrayData($zk);""".stripMargin
        } else
          s"""double $z = $sc[0];
             |  ${headLogitCode(z, dvR, attDR, sP, den, numM, denM, n, H2v)}
             |  return Double.valueOf($z);""".stripMargin
      // The recurrence body compiles into its OWN method
      // (ctx.addNewFunction) — inlined at the consume site, several
      // stacked/composed expressions in one whole-stage pipeline push
      // processNext past Janino's 64 KB per-method limit and the whole
      // stage silently falls back to interpreted eval (measured 15× on
      // the three-tower fusion). The per-row boxing at the call
      // boundary is noise next to the recurrence.
      def asFunction(bodyReturn: String): String = {
        val fnName = ctx.freshName("lstmStack")
        val fn = ctx.addNewFunction(fnName,
          s"""
             |private Object $fnName(org.apache.spark.sql.catalyst.util.ArrayData $a) {
             |$bodyReturn
             |}
           """.stripMargin)
        val res = ctx.freshName("lsRes")
        val assign =
          if (kMode)
            s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $res;"
          else s"${ev.value} = ((Double) $res).doubleValue();"
        s"""
           |Object $res = $fn($a);
           |if ($res == null) {
           |  ${ev.isNull} = true;
           |} else {
           |  $assign
           |}
         """.stripMargin
      }
      if (bidir) {
        // bidirectional variant: both layer-1 directions stored per
        // original time index (xs precomputed), layer 2 over the concat
        val xsv = ctx.freshName("xs")
        val hFv = ctx.freshName("hF"); val hBkv = ctx.freshName("hBk")
        val x2v = ctx.freshName("x2")
        def dirCode(out: String, wxR: String, whR: String, bR: String,
                    rev: Boolean): String = {
          val tExpr = if (rev) s"$n - 1 - __k" else "__k"
          s"""{
             |    double[] __h = new double[$H1v];
             |    double[] __c = new double[$H1v];
             |    double[] __hp = new double[$H1v];
             |    for (int __k = 0; __k < $n; __k++) {
             |      int __t = $tExpr;
             |      System.arraycopy(__h, 0, __hp, 0, $H1v);
             |      for (int __u = 0; __u < $H1v; __u++) {
             |        double[] __pre = new double[4];
             |        for (int __g = 0; __g < 4; __g++) {
             |          double __acc = $bR[__g * $H1v + __u] + $wxR[__g * $H1v + __u] * $xsv[__t];
             |          for (int __v = 0; __v < $H1v; __v++) {
             |            __acc += $whR[(__g * $H1v + __u) * $H1v + __v] * __hp[__v];
             |          }
             |          __pre[__g] = __acc;
             |        }
             |        double __gi = __pre[0] < -2.0 ? 0.0 : (__pre[0] > 2.0 ? 1.0 : 0.25 * __pre[0] + 0.5);
             |        double __gf = __pre[1] < -2.0 ? 0.0 : (__pre[1] > 2.0 ? 1.0 : 0.25 * __pre[1] + 0.5);
             |        double __gg = __pre[2] < -1.0 ? -1.0 : (__pre[2] > 1.0 ? 1.0 : __pre[2]);
             |        double __go = __pre[3] < -2.0 ? 0.0 : (__pre[3] > 2.0 ? 1.0 : 0.25 * __pre[3] + 0.5);
             |        double __cn = __gf * __c[__u] + __gi * __gg;
             |        __c[__u] = __cn;
             |        double __tc = __cn < -1.0 ? -1.0 : (__cn > 1.0 ? 1.0 : __cn);
             |        __h[__u] = __go * __tc;
             |      }
             |      System.arraycopy(__h, 0, $out[__t], 0, $H1v);
             |    }
             |  }""".stripMargin
        }
        val xDim = 2 * H1v
        asFunction(s"""
           |int $n = $a.numElements();
           |if ($n == 0) return null;
           |{
           |  double[] $xsv = new double[$n];
           |  for (int __t = 0; __t < $n; __t++) {
           |    $xsv[__t] = ($a.getDouble(__t) - $sc[1]) / $sc[2];
           |  }
           |  double[][] $hFv = new double[$n][$H1v];
           |  double[][] $hBkv = new double[$n][$H1v];
           |  ${dirCode(hFv, wx1R, wh1R, b1R, rev = false)}
           |  ${dirCode(hBkv, wx1bR, wh1bR, b1bR, rev = true)}
           |  double[] $hB = new double[$H2v];
           |  double[] $cB = new double[$H2v];
           |  double[] $hpB = new double[$H2v];
           |  double[] $x2v = new double[$xDim];
           |  $headDecls
           |  for (int $t = 0; $t < $n; $t++) {
           |    System.arraycopy($hFv[$t], 0, $x2v, 0, $H1v);
           |    System.arraycopy($hBkv[$t], 0, $x2v, $H1v, $H1v);
           |    System.arraycopy($hB, 0, $hpB, 0, $H2v);
           |    for (int $u = 0; $u < $H2v; $u++) {
           |      double[] $pre = new double[4];
           |      for (int $g = 0; $g < 4; $g++) {
           |        double $acc = $b2R[$g * $H2v + $u];
           |        for (int $j = 0; $j < $xDim; $j++) {
           |          $acc += $wx2R[($g * $H2v + $u) * $xDim + $j] * $x2v[$j];
           |        }
           |        for (int $v = 0; $v < $H2v; $v++) {
           |          $acc += $wh2R[($g * $H2v + $u) * $H2v + $v] * $hpB[$v];
           |        }
           |        $pre[$g] = $acc;
           |      }
           |      double $gi = $pre[0] < -2.0 ? 0.0 : ($pre[0] > 2.0 ? 1.0 : 0.25 * $pre[0] + 0.5);
           |      double $gf = $pre[1] < -2.0 ? 0.0 : ($pre[1] > 2.0 ? 1.0 : 0.25 * $pre[1] + 0.5);
           |      double $gg = $pre[2] < -1.0 ? -1.0 : ($pre[2] > 1.0 ? 1.0 : $pre[2]);
           |      double $go = $pre[3] < -2.0 ? 0.0 : ($pre[3] > 2.0 ? 1.0 : 0.25 * $pre[3] + 0.5);
           |      double $cn = $gf * $cB[$u] + $gi * $gg;
           |      $cB[$u] = $cn;
           |      double $tc = $cn < -1.0 ? -1.0 : ($cn > 1.0 ? 1.0 : $cn);
           |      $hB[$u] = $go * $tc;
           |    }
           |    $headStep
           |  }
           |  $readout
           |}
         """.stripMargin)
      } else
      asFunction(s"""
         |int $n = $a.numElements();
         |if ($n == 0) return null;
         |{
         |  double[] $hA = new double[$H1v];
         |  double[] $cA = new double[$H1v];
         |  double[] $hpA = new double[$H1v];
         |  double[] $hB = new double[$H2v];
         |  double[] $cB = new double[$H2v];
         |  double[] $hpB = new double[$H2v];
         |  $headDecls
         |  for (int $t = 0; $t < $n; $t++) {
         |    double $x = ($a.getDouble($t) - $sc[1]) / $sc[2];
         |    System.arraycopy($hA, 0, $hpA, 0, $H1v);
         |    for (int $u = 0; $u < $H1v; $u++) {
         |      double[] $pre = new double[4];
         |      for (int $g = 0; $g < 4; $g++) {
         |        double $acc = $b1R[$g * $H1v + $u] + $wx1R[$g * $H1v + $u] * $x;
         |        for (int $v = 0; $v < $H1v; $v++) {
         |          $acc += $wh1R[($g * $H1v + $u) * $H1v + $v] * $hpA[$v];
         |        }
         |        $pre[$g] = $acc;
         |      }
         |      double $gi = $pre[0] < -2.0 ? 0.0 : ($pre[0] > 2.0 ? 1.0 : 0.25 * $pre[0] + 0.5);
         |      double $gf = $pre[1] < -2.0 ? 0.0 : ($pre[1] > 2.0 ? 1.0 : 0.25 * $pre[1] + 0.5);
         |      double $gg = $pre[2] < -1.0 ? -1.0 : ($pre[2] > 1.0 ? 1.0 : $pre[2]);
         |      double $go = $pre[3] < -2.0 ? 0.0 : ($pre[3] > 2.0 ? 1.0 : 0.25 * $pre[3] + 0.5);
         |      double $cn = $gf * $cA[$u] + $gi * $gg;
         |      $cA[$u] = $cn;
         |      double $tc = $cn < -1.0 ? -1.0 : ($cn > 1.0 ? 1.0 : $cn);
         |      $hA[$u] = $go * $tc;
         |    }
         |    System.arraycopy($hB, 0, $hpB, 0, $H2v);
         |    for (int $u = 0; $u < $H2v; $u++) {
         |      double[] $pre = new double[4];
         |      for (int $g = 0; $g < 4; $g++) {
         |        double $acc = $b2R[$g * $H2v + $u];
         |        for (int $j = 0; $j < $H1v; $j++) {
         |          $acc += $wx2R[($g * $H2v + $u) * $H1v + $j] * $hA[$j];
         |        }
         |        for (int $v = 0; $v < $H2v; $v++) {
         |          $acc += $wh2R[($g * $H2v + $u) * $H2v + $v] * $hpB[$v];
         |        }
         |        $pre[$g] = $acc;
         |      }
         |      double $gi = $pre[0] < -2.0 ? 0.0 : ($pre[0] > 2.0 ? 1.0 : 0.25 * $pre[0] + 0.5);
         |      double $gf = $pre[1] < -2.0 ? 0.0 : ($pre[1] > 2.0 ? 1.0 : 0.25 * $pre[1] + 0.5);
         |      double $gg = $pre[2] < -1.0 ? -1.0 : ($pre[2] > 1.0 ? 1.0 : $pre[2]);
         |      double $go = $pre[3] < -2.0 ? 0.0 : ($pre[3] > 2.0 ? 1.0 : 0.25 * $pre[3] + 0.5);
         |      double $cn = $gf * $cB[$u] + $gi * $gg;
         |      $cB[$u] = $cn;
         |      double $tc = $cn < -1.0 ? -1.0 : ($cn > 1.0 ? 1.0 : $cn);
         |      $hB[$u] = $go * $tc;
         |    }
         |    $headStep
         |  }
         |  $readout
         |}
       """.stripMargin)
    })

  // The head's accumulate/readout code is chosen at CODEGEN time —
  // `attn` is a plan constant, so only the selected branch is emitted.
  private def headDeclCode(sP: String, den: String, numM: String,
      denM: String, H2v: Int): String = {
    val base = s"double[] $sP = new double[$H2v];\n  double $den = 0.0;"
    if (mha)
      base +
        s"\n  double[] $numM = new double[${nHeads * H2v}];" +
        s"\n  double[] $denM = new double[$nHeads];"
    else base
  }

  private def headStepCode(sc: String, attR: String, attCsR: String,
      hB: String, sP: String, den: String, numM: String, denM: String,
      H2v: Int): String =
    if (attn)
      s"""{
         |      double __as = $sc[3];
         |      for (int __u = 0; __u < $H2v; __u++) __as += $attR[__u] * $hB[__u];
         |      double __aw = __as < -2.0 ? 0.0 : (__as > 2.0 ? 1.0 : 0.25 * __as + 0.5);
         |      for (int __u = 0; __u < $H2v; __u++) $sP[__u] += __aw * $hB[__u];
         |      $den += __aw;
         |    }""".stripMargin
    else if (mha)
      s"""{
         |      for (int __u = 0; __u < $H2v; __u++) $sP[__u] += $hB[__u];
         |      for (int __k = 0; __k < $nHeads; __k++) {
         |        double __as = $attCsR[__k];
         |        for (int __u = 0; __u < $H2v; __u++) __as += $attR[__k * $H2v + __u] * $hB[__u];
         |        double __aw = __as < -2.0 ? 0.0 : (__as > 2.0 ? 1.0 : 0.25 * __as + 0.5);
         |        for (int __u = 0; __u < $H2v; __u++) $numM[__k * $H2v + __u] += __aw * $hB[__u];
         |        $denM[__k] += __aw;
         |      }
         |    }""".stripMargin
    else
      s"for (int __u = 0; __u < $H2v; __u++) $sP[__u] += $hB[__u];"

  /** `dvOff`/`aDOff` are Java index-offset expressions — "0" for the
    * binary head; the per-class row offsets inside the K-mode class
    * loop. Same accumulation order either way. */
  private def headLogitCode(z: String, dvR: String, attDR: String,
      sP: String, den: String, numM: String, denM: String,
      n: String, H2v: Int, dvOff: String = "0",
      aDOff: String = "0"): String =
    if (attn)
      s"""double __dn = 1.0 + $den;
         |  for (int __u = 0; __u < $H2v; __u++) $z += $dvR[$dvOff + __u] * ($sP[__u] / __dn);""".stripMargin
    else if (mha)
      s"""for (int __u = 0; __u < $H2v; __u++) $z += $dvR[$dvOff + __u] * ($sP[__u] / $n);
         |  for (int __k = 0; __k < $nHeads; __k++) {
         |    double __dn = 1.0 + $denM[__k];
         |    for (int __u = 0; __u < $H2v; __u++) $z += $attDR[$aDOff + __k * $H2v + __u] * ($numM[__k * $H2v + __u] / __dn);
         |  }""".stripMargin
    else
      s"for (int __u = 0; __u < $H2v; __u++) $z += $dvR[$dvOff + __u] * ($sP[__u] / $n);"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The conv front-end of the composed conv→recurrence architecture
  * (`graft.ml.ConvFront` — valid 1-D conv → frozen-affine norm → ReLU →
  * max-pool(2) per block, then a 1×1 channel mix to the scalar sequence
  * the stacked LSTM consumes). Emits `array<double>`; nests inside
  * [[LstmStackLogit]] so the whole composed model is ONE projection.
  * Block structure is plan-time constant, so codegen unrolls per block
  * with the channel/tap loops inside. Accumulation order matches
  * `ConvFront.forward` exactly (b, then ci ascending × j ascending;
  * mix c ascending). Empty input → NULL; an input too short for one
  * surviving position → NULL (the serve-length guard is the caller's,
  * same contract as the recurrent expressions). */
case class ConvFrontSeq(
    child: Expression,
    shapes: Seq[(Int, Int, Int)], // (cIn, cOut, k) per block
    ws: Seq[Seq[Double]],
    bs: Seq[Seq[Double]],
    scales: Seq[Seq[Double]],
    shifts: Seq[Seq[Double]],
    mix: Seq[Double],
    mixBias: Double,
    mean: Double,
    std: Double)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(shapes.nonEmpty && shapes.head._1 >= 1,
    "ConvFrontSeq needs at least one input channel")
  require(shapes.sliding(2).forall(p => p.size < 2 || p(0)._2 == p(1)._1),
    "ConvFrontSeq channel chain inconsistent")
  require(shapes.indices.forall { i =>
    val (ci, co, k) = shapes(i)
    ws(i).length == co * ci * k && bs(i).length == co &&
      scales(i).length == co && shifts(i).length == co
  }, "ConvFrontSeq weight shapes inconsistent")
  require(mix.length == shapes.last._2, "ConvFrontSeq mix width wrong")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "conv_front_seq"

  @transient private lazy val wA = ws.map(_.toArray).toArray
  @transient private lazy val bA = bs.map(_.toArray).toArray
  @transient private lazy val scA = scales.map(_.toArray).toArray
  @transient private lazy val shA = shifts.map(_.toArray).toArray
  @transient private lazy val mixA = mix.toArray

  /** input channel count; the raw array is INTERLEAVED (sample t of
    * channel a at index t·cIn0 + a — the rawData3D convention) */
  private def cIn0: Int = shapes.head._1

  private def outLenOf(n: Int): Int =
    shapes.foldLeft(n)((t, s) => (t - s._3 + 1) / 2)

  override protected def nullSafeEval(a: Any): Any = {
    val win = a.asInstanceOf[ArrayData]
    val n = win.numElements()
    if (n == 0 || n % cIn0 != 0 || outLenOf(n / cIn0) < 1) return null
    val tLen = n / cIn0
    var cur = Array.tabulate(cIn0)(ch =>
      Array.tabulate(tLen)(t => (win.getDouble(t * cIn0 + ch) - mean) / std))
    var bi = 0
    while (bi < shapes.length) {
      val (cIn, cOut, k) = shapes(bi)
      val nPos = cur(0).length - k + 1
      val tOut = nPos / 2
      val act = Array.ofDim[Double](cOut, nPos)
      var o = 0
      while (o < cOut) {
        var t = 0
        while (t < nPos) {
          var acc = bA(bi)(o)
          var ci = 0
          while (ci < cIn) {
            var j = 0
            while (j < k) {
              acc += wA(bi)((o * cIn + ci) * k + j) * cur(ci)(t + j); j += 1
            }
            ci += 1
          }
          val nm = scA(bi)(o) * acc + shA(bi)(o)
          act(o)(t) = if (nm > 0.0) nm else 0.0
          t += 1
        }
        o += 1
      }
      val out = Array.ofDim[Double](cOut, tOut)
      o = 0
      while (o < cOut) {
        var tp = 0
        while (tp < tOut) {
          val x0 = act(o)(2 * tp); val x1 = act(o)(2 * tp + 1)
          out(o)(tp) = if (x0 >= x1) x0 else x1
          tp += 1
        }
        o += 1
      }
      cur = out
      bi += 1
    }
    val tOut = cur(0).length
    val y = new Array[Double](tOut)
    var t = 0
    while (t < tOut) {
      var acc = mixBias
      var c = 0
      while (c < mixA.length) { acc += mixA(c) * cur(c)(t); c += 1 }
      y(t) = acc
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val wR = shapes.indices.map(i =>
        ctx.addReferenceObj(s"cfW$i", wA(i), "double[]"))
      val bR = shapes.indices.map(i =>
        ctx.addReferenceObj(s"cfB$i", bA(i), "double[]"))
      val scR = shapes.indices.map(i =>
        ctx.addReferenceObj(s"cfSc$i", scA(i), "double[]"))
      val shR = shapes.indices.map(i =>
        ctx.addReferenceObj(s"cfSh$i", shA(i), "double[]"))
      val mixR = ctx.addReferenceObj("cfMix", mixA, "double[]")
      val sc = ctx.addReferenceObj("cfScalars",
        Array(mixBias, mean, std), "double[]")
      val n = ctx.freshName("n")
      val cur = ctx.freshName("cur")
      val y = ctx.freshName("y")
      val ol = ctx.freshName("ol")
      val tf = ctx.freshName("tf")
      // per-block unrolled stage: cur (cIn × tCur) -> out (cOut × tOut)
      val stages = shapes.indices.map { i =>
        val (cIn, cOut, k) = shapes(i)
        s"""{
           |  int __nPos = $cur[0].length - $k + 1;
           |  int __tOut = __nPos / 2;
           |  double[][] __act = new double[$cOut][__nPos];
           |  for (int __o = 0; __o < $cOut; __o++) {
           |    for (int __t = 0; __t < __nPos; __t++) {
           |      double __acc = ${bR(i)}[__o];
           |      for (int __ci = 0; __ci < $cIn; __ci++) {
           |        for (int __j = 0; __j < $k; __j++) {
           |          __acc += ${wR(i)}[(__o * $cIn + __ci) * $k + __j] * $cur[__ci][__t + __j];
           |        }
           |      }
           |      double __nm = ${scR(i)}[__o] * __acc + ${shR(i)}[__o];
           |      __act[__o][__t] = __nm > 0.0 ? __nm : 0.0;
           |    }
           |  }
           |  double[][] __out = new double[$cOut][__tOut];
           |  for (int __o = 0; __o < $cOut; __o++) {
           |    for (int __tp = 0; __tp < __tOut; __tp++) {
           |      double __x0 = __act[__o][2 * __tp];
           |      double __x1 = __act[__o][2 * __tp + 1];
           |      __out[__o][__tp] = __x0 >= __x1 ? __x0 : __x1;
           |    }
           |  }
           |  $cur = __out;
           |}""".stripMargin
      }.mkString("\n")
      // plan-time outLen check mirrors outLenOf
      val shrink = shapes.map(s => s"$ol = ($ol - ${s._3} + 1) / 2;")
        .mkString(" ")
      val tl = ctx.freshName("tl")
      // The whole body lives in its OWN generated method
      // (ctx.addNewFunction): inlined at the consume site, several of
      // these expressions in one whole-stage pipeline push the stage's
      // processNext past Janino's 64 KB per-method limit and Spark
      // silently falls back to INTERPRETED execution for the stage
      // (measured 15× on the three-tower fusion). As a method the code
      // is bounded per method and the call site is one line.
      val fnName = ctx.freshName("convFrontSeq")
      val fn = ctx.addNewFunction(fnName,
        s"""
           |private Object $fnName(org.apache.spark.sql.catalyst.util.ArrayData $a) {
           |  int $n = $a.numElements();
           |  int $tl = $n / $cIn0;
           |  int $ol = $tl; $shrink
           |  if ($n == 0 || $n % $cIn0 != 0 || $ol < 1) return null;
           |  double[][] $cur = new double[$cIn0][$tl];
           |  for (int __t = 0; __t < $tl; __t++) {
           |    for (int __a = 0; __a < $cIn0; __a++) {
           |      $cur[__a][__t] = ($a.getDouble(__t * $cIn0 + __a) - $sc[1]) / $sc[2];
           |    }
           |  }
           |  $stages
           |  int $tf = $cur[0].length;
           |  double[] $y = new double[$tf];
           |  for (int __t = 0; __t < $tf; __t++) {
           |    double __acc = $sc[0];
           |    for (int __c = 0; __c < ${mix.length}; __c++) {
           |      __acc += $mixR[__c] * $cur[__c][__t];
           |    }
           |    $y[__t] = __acc;
           |  }
           |  return new org.apache.spark.sql.catalyst.util.GenericArrayData($y);
           |}
         """.stripMargin)
      val res = ctx.freshName("cfRes")
      s"""
         |Object $res = $fn($a);
         |if ($res == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $res;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The T1 language-ID heuristic (`graft.operators.TextAnalysis.langId`)
  * as ONE native expression. The original column composition —
  * per-language stopword scores via length-delta `regexp_replace`
  * chains, `greatest` argmax, a `when` pick chain — defeats codegen
  * subexpression elimination (conditional branches are CSE-ineligible),
  * so every language score's five regexp_replace subtrees inline ~3×
  * each: the t1 Project's generated method measured 64,074 bytes
  * (1.4 KB from the Janino 64 KB cliff) and pipe3's Project, which
  * stacks the same tree with the quality-gate filters, went OVER the
  * cliff and ran silently interpreted — the exact WARN-only failure
  * mode the round-15 lesson documented, caught by the full-registry
  * CodegenSweep.
  *
  * Semantics are the column form's, EXACTLY: wrap as
  * `' ' + lower(text) + ' '` (UTF8String.toLowerCase — the same kernel
  * `lower()` uses), count NON-OVERLAPPING occurrences of each literal
  * stopword left-to-right (what `regexp_replace` with a quoted literal
  * removes), argmax with FIRST-declared-language tiebreak, "und" when
  * no profile scores or the input is NULL (the when-chain's
  * null-propagation produced "und", so this expression is
  * non-nullable and handles null itself). Counts are exact integers on
  * both forms (the column form's double division is an exact multiple
  * of the needle length), so the t1/pipe oracles are unchanged. */
case class LangIdExpr(
    child: Expression,
    langs: Seq[String],
    profiles: Seq[Seq[String]])
    extends UnaryExpression with ImplicitCastInputTypes {

  require(langs.length == profiles.length && langs.nonEmpty,
    "LangIdExpr needs one profile per language")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(org.apache.spark.sql.types.StringType)
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def nullable: Boolean = false
  override def prettyName: String = "lang_id"

  @transient private lazy val langU =
    langs.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray
  @transient private lazy val undU =
    org.apache.spark.unsafe.types.UTF8String.fromString("und")
  @transient private lazy val profA = profiles.map(_.toArray).toArray

  /** Public for the generated code's call site. */
  def compute(t: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    if (t == null) return undU
    val s = " " + t.toLowerCase.toString + " "
    var best = 0
    var bestLang: org.apache.spark.unsafe.types.UTF8String = undU
    var li = 0
    while (li < profA.length) {
      var score = 0
      val prof = profA(li)
      var wi = 0
      while (wi < prof.length) {
        val w = prof(wi)
        var from = 0
        var idx = s.indexOf(w, from)
        while (idx >= 0) {
          score += 1
          from = idx + w.length
          idx = s.indexOf(w, from)
        }
        wi += 1
      }
      // strict > keeps the FIRST declared language on ties (the
      // column form's foldRight pick order)
      if (score > best) { best = score; bestLang = langU(li) }
      li += 1
    }
    if (best > 0) bestLang else undU
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    compute(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("langIdExpr", this,
      classOf[LangIdExpr].getName)
    val c = child.genCode(ctx)
    ev.copy(code = c.code + code"""
         |UTF8String ${ev.value} = $ref.compute(${c.isNull} ? null : ${c.value});
         |boolean ${ev.isNull} = false;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The tower-fusion readout (`graft.ml.TowerFusion`): N pooled tower
  * vectors (each an `array<double>` child — in practice a nested
  * K-mode [[LstmStackLogit]]) concatenated to v, then the collapsed
  * EnhancedFusionLayer fused = v + A·v, the ReLU dense layer, and the
  * scalar head — as ONE native expression. Replaces the level-staged
  * projection chain (pooled / fused / ReLU columns), whose per-level
  * UnsafeRow copies measured 2.3× over the three-recurrence floor
  * (SCALING.md round-15 table); each tower child is still evaluated
  * exactly once (children evaluate once per row by construction — no
  * CollapseProject guard needed).
  *
  * Accumulation order is `TowerFusion.fusionScalar`'s, which the
  * staged column form also followed: fused(j) = v(j) + Σ_i
  * fuse(j·d+i)·v(i) (i ascending), h(r) = b1(r) + Σ_j w1(r·d+j)·
  * fused(j), z = b2 + Σ_r w2(r)·ReLU(h(r)) — so the swap is
  * bit-preserving (ml4i's oracle hash pins it). NULL if any tower
  * child is NULL (the tower expressions yield NULL on malformed
  * windows; this propagates it). A NON-null child whose length ≠ its
  * declared dim cannot come from data — dims and the tower children
  * derive from the same model object — so that case RAISES instead of
  * nulling every logit silently (a wiring bug should fail the job,
  * not zero the score column). The arithmetic lives in its own
  * generated method (the 64 KB hygiene rule). */
case class FusionDenseLogit(
    children: Seq[Expression],
    dims: Seq[Int],       // pooled dim per tower child
    fuse: Seq[Double],    // D×D row-major, D = dims.sum
    w1: Seq[Double],      // H×D
    b1: Seq[Double],      // H
    w2: Seq[Double],      // H
    b2: Double)
    extends Expression with ImplicitCastInputTypes {

  private val d = dims.sum
  require(children.nonEmpty && children.size == dims.size,
    "FusionDenseLogit needs one dim per tower child")
  require(fuse.length == d * d, s"fuse must be $d x $d: ${fuse.length}")
  require(w1.length == b1.length * d && w2.length == b1.length,
    "FusionDenseLogit dense shapes inconsistent")

  override def inputTypes: Seq[AbstractDataType] =
    Seq.fill(children.size)(ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "fusion_dense_logit"

  @transient private lazy val fuseA = fuse.toArray
  @transient private lazy val w1A = w1.toArray
  @transient private lazy val b1A = b1.toArray
  @transient private lazy val w2A = w2.toArray
  @transient private lazy val offs = dims.scanLeft(0)(_ + _).toArray

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = new Array[Double](d)
    var t = 0
    while (t < children.size) {
      val a = children(t).eval(input)
      if (a == null) return null
      val arr = a.asInstanceOf[ArrayData]
      if (arr.numElements() != dims(t))
        throw new IllegalStateException(
          s"fusion_dense_logit tower $t: length ${arr.numElements()} != " +
            s"declared dim ${dims(t)} — tower wiring out of sync with dims")
      var i = 0
      while (i < dims(t)) { v(offs(t) + i) = arr.getDouble(i); i += 1 }
      t += 1
    }
    var z = b2
    val fused = new Array[Double](d)
    var j = 0
    while (j < d) {
      var acc = v(j)
      var i = 0
      while (i < d) { acc += fuseA(j * d + i) * v(i); i += 1 }
      fused(j) = acc
      j += 1
    }
    var r = 0
    while (r < b1A.length) {
      var h = b1A(r)
      var jj = 0
      while (jj < d) { h += w1A(r * d + jj) * fused(jj); jj += 1 }
      z += w2A(r) * (if (h > 0.0) h else 0.0)
      r += 1
    }
    z
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fuseR = ctx.addReferenceObj("tflFuse", fuseA, "double[]")
    val w1R = ctx.addReferenceObj("tflW1", w1A, "double[]")
    val b1R = ctx.addReferenceObj("tflB1", b1A, "double[]")
    val w2R = ctx.addReferenceObj("tflW2", w2A, "double[]")
    val childCodes = children.map(_.genCode(ctx))
    val args = children.indices
      .map(i => s"org.apache.spark.sql.catalyst.util.ArrayData a$i")
      .mkString(", ")
    val gather = children.indices.map { t =>
      s"""if (a$t.numElements() != ${dims(t)}) throw new IllegalStateException(
         |    "fusion_dense_logit tower $t: length " + a$t.numElements() + " != declared dim ${dims(t)} — tower wiring out of sync with dims");
         |  for (int __i = 0; __i < ${dims(t)}; __i++) __v[${offs(t)} + __i] = a$t.getDouble(__i);""".stripMargin
    }.mkString("\n  ")
    val fnName = ctx.freshName("fusionDense")
    val fn = ctx.addNewFunction(fnName,
      s"""
         |private Double $fnName($args) {
         |  double[] __v = new double[$d];
         |  $gather
         |  double[] __f = new double[$d];
         |  for (int __j = 0; __j < $d; __j++) {
         |    double __acc = __v[__j];
         |    for (int __i = 0; __i < $d; __i++) __acc += $fuseR[__j * $d + __i] * __v[__i];
         |    __f[__j] = __acc;
         |  }
         |  double __z = ${b2}D;
         |  for (int __r = 0; __r < ${b1A.length}; __r++) {
         |    double __h = $b1R[__r];
         |    for (int __jj = 0; __jj < $d; __jj++) __h += $w1R[__r * $d + __jj] * __f[__jj];
         |    __z += $w2R[__r] * (__h > 0.0 ? __h : 0.0);
         |  }
         |  return Double.valueOf(__z);
         |}
       """.stripMargin)
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val res = ctx.freshName("tflRes")
    val callArgs = childCodes.map(_.value).mkString(", ")
    val anyNull = childCodes.map(c => s"${c.isNull}").mkString(" || ")
    val childBlock = childCodes.map(_.code).reduce(_ + _)
    ev.copy(code = childBlock + code"""
         |boolean ${ev.isNull} = true;
         |double ${ev.value} = 0.0;
         |if (!($anyNull)) {
         |  Double $res = $fn($callArgs);
         |  if ($res != null) {
         |    ${ev.isNull} = false;
         |    ${ev.value} = $res.doubleValue();
         |  }
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** The 2-D "image-style" CNN forward pass over a flattened spectrogram
  * (`graft.ml.SpecCnn` — the reference's spectrogram-input model class,
  * `user_tools/nnTraining2/specCnnModel.py:84-100`: per layer
  * Conv2D(3×3, same) → ReLU → MaxPool2D(2×2, same), then flatten →
  * dense logit). One native expression, the 2-D twin of
  * [[Conv1dMaxPoolLogit]]: architecture as a per-row pure function,
  * training elsewhere (`SpecCnn.train`).
  *
  * Input layout: freq-major single-channel image, pixel (f, s) at index
  * f·nSpec + s — the flattened (nFreq, nSpec) image the reference's
  * `inputShape` declares. Internally channels are planes; the readout
  * flattens (c, f, s) with c slowest, s fastest.
  *
  * "Same" conv pads (k−1)/2 zeros on each side (odd k); "same" pool
  * emits ceil(dim/2) cells, edge cells maxing over the available
  * elements only (post-ReLU values are ≥ 0, and the pool max seeds from
  * the first covered cell, so no sentinel is needed). Accumulation
  * order is the cross-engine contract, mirrored by `SpecCnn.forward`
  * and the generated ml10 SQL: conv acc = b(o) then ci, dy, dx
  * ascending; readout c, f, s ascending. With integer inputs and
  * integer weights every intermediate is an exact integer (|logit| ≪
  * 2^53) — the ml3 oracle class.
  *
  * NULL for an input whose length ≠ nFreq·nSpec (a wrong-shape image
  * has no meaningful convolution; the fail-loud serve guard lives in
  * `SpecCnn.scoreSpectrograms`, same split as the conv/recurrent
  * family). Layer dims are plan-time constants, so codegen unrolls per
  * layer; the whole body is its OWN generated method
  * (ctx.addNewFunction — the 64 KB whole-stage lesson, see
  * [[ConvFrontSeq]]). */
case class SpecCnn2dLogit(
    child: Expression,
    nFreq: Int,
    nSpec: Int,
    channels: Seq[(Int, Int)], // (cIn, cOut) per layer, 3×3 kernels
    ws: Seq[Seq[Double]],      // layer i: ((o·cIn + ci)·3 + dy)·3 + dx
    bs: Seq[Seq[Double]],      // layer i: per output channel
    dense: Seq[Double],        // over the final (c, f, s) flatten
    bias: Double,
    mean: Double,
    std: Double)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(nFreq >= 1 && nSpec >= 1, "SpecCnn2dLogit empty image")
  require(channels.nonEmpty && channels.head._1 == 1,
    "SpecCnn2dLogit consumes a single-channel image")
  require(channels.sliding(2).forall(p => p.size < 2 || p(0)._2 == p(1)._1),
    "SpecCnn2dLogit channel chain inconsistent")
  require(channels.indices.forall { i =>
    val (ci, co) = channels(i)
    ws(i).length == co * ci * 9 && bs(i).length == co
  }, "SpecCnn2dLogit weight shapes inconsistent")

  /** (H, W) after layer i pools — ceil halving per layer. */
  private def dimsAfter(i: Int): (Int, Int) =
    (0 to i).foldLeft((nFreq, nSpec))((d, _) => ((d._1 + 1) / 2, (d._2 + 1) / 2))

  private val (hOut, wOut) = dimsAfter(channels.length - 1)
  require(dense.length == channels.last._2 * hOut * wOut,
    s"SpecCnn2dLogit dense length ${dense.length} != " +
      s"${channels.last._2}*$hOut*$wOut")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "spec_cnn2d_logit"

  @transient private lazy val wA = ws.map(_.toArray).toArray
  @transient private lazy val bA = bs.map(_.toArray).toArray
  @transient private lazy val dvA = dense.toArray

  override protected def nullSafeEval(a: Any): Any = {
    val img = a.asInstanceOf[ArrayData]
    if (img.numElements() != nFreq * nSpec) return null
    var h = nFreq; var w = nSpec
    var cur = Array.tabulate(1, nFreq, nSpec)((_, f, s) =>
      (img.getDouble(f * nSpec + s) - mean) / std)
    var li = 0
    while (li < channels.length) {
      val (cIn, cOut) = channels(li)
      val act = Array.ofDim[Double](cOut, h, w)
      var o = 0
      while (o < cOut) {
        var f = 0
        while (f < h) {
          var s = 0
          while (s < w) {
            var acc = bA(li)(o)
            var ci = 0
            while (ci < cIn) {
              var dy = 0
              while (dy < 3) {
                val ff = f + dy - 1
                if (ff >= 0 && ff < h) {
                  var dx = 0
                  while (dx < 3) {
                    val ss = s + dx - 1
                    if (ss >= 0 && ss < w)
                      acc += wA(li)(((o * cIn + ci) * 3 + dy) * 3 + dx) * cur(ci)(ff)(ss)
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
      val hp = (h + 1) / 2; val wp = (w + 1) / 2
      val out = Array.ofDim[Double](cOut, hp, wp)
      o = 0
      while (o < cOut) {
        var fp = 0
        while (fp < hp) {
          var sp = 0
          while (sp < wp) {
            var best = act(o)(2 * fp)(2 * sp) // first covered cell seeds
            if (2 * sp + 1 < w && act(o)(2 * fp)(2 * sp + 1) > best)
              best = act(o)(2 * fp)(2 * sp + 1)
            if (2 * fp + 1 < h) {
              if (act(o)(2 * fp + 1)(2 * sp) > best)
                best = act(o)(2 * fp + 1)(2 * sp)
              if (2 * sp + 1 < w && act(o)(2 * fp + 1)(2 * sp + 1) > best)
                best = act(o)(2 * fp + 1)(2 * sp + 1)
            }
            out(o)(fp)(sp) = best
            sp += 1
          }
          fp += 1
        }
        o += 1
      }
      cur = out; h = hp; w = wp
      li += 1
    }
    var z = bias
    var c = 0
    var idx = 0
    while (c < channels.last._2) {
      var f = 0
      while (f < h) {
        var s = 0
        while (s < w) {
          z += dvA(idx) * cur(c)(f)(s)
          idx += 1; s += 1
        }
        f += 1
      }
      c += 1
    }
    z
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val wR = channels.indices.map(i =>
        ctx.addReferenceObj(s"sc2W$i", wA(i), "double[]"))
      val bR = channels.indices.map(i =>
        ctx.addReferenceObj(s"sc2B$i", bA(i), "double[]"))
      val dvR = ctx.addReferenceObj("sc2Dense", dvA, "double[]")
      val sc = ctx.addReferenceObj("sc2Scalars",
        Array(bias, mean, std), "double[]")
      val cur = ctx.freshName("cur")
      val z = ctx.freshName("z")
      // per-layer unrolled stage with PLAN-TIME dims (the ConvFrontSeq
      // pattern); loops inside each stage match nullSafeEval's order
      var dh = nFreq; var dw = nSpec
      val stages = channels.indices.map { i =>
        val (cIn, cOut) = channels(i)
        val h = dh; val w = dw
        dh = (dh + 1) / 2; dw = (dw + 1) / 2
        s"""{
           |  double[][][] __act = new double[$cOut][$h][$w];
           |  for (int __o = 0; __o < $cOut; __o++) {
           |    for (int __f = 0; __f < $h; __f++) {
           |      for (int __s = 0; __s < $w; __s++) {
           |        double __acc = ${bR(i)}[__o];
           |        for (int __ci = 0; __ci < $cIn; __ci++) {
           |          for (int __dy = 0; __dy < 3; __dy++) {
           |            int __ff = __f + __dy - 1;
           |            if (__ff < 0 || __ff >= $h) continue;
           |            for (int __dx = 0; __dx < 3; __dx++) {
           |              int __ss = __s + __dx - 1;
           |              if (__ss < 0 || __ss >= $w) continue;
           |              __acc += ${wR(i)}[((__o * $cIn + __ci) * 3 + __dy) * 3 + __dx] * $cur[__ci][__ff][__ss];
           |            }
           |          }
           |        }
           |        __act[__o][__f][__s] = __acc > 0.0 ? __acc : 0.0;
           |      }
           |    }
           |  }
           |  double[][][] __out = new double[$cOut][$dh][$dw];
           |  for (int __o = 0; __o < $cOut; __o++) {
           |    for (int __fp = 0; __fp < $dh; __fp++) {
           |      for (int __sp = 0; __sp < $dw; __sp++) {
           |        double __best = __act[__o][2 * __fp][2 * __sp];
           |        if (2 * __sp + 1 < $w && __act[__o][2 * __fp][2 * __sp + 1] > __best)
           |          __best = __act[__o][2 * __fp][2 * __sp + 1];
           |        if (2 * __fp + 1 < $h) {
           |          if (__act[__o][2 * __fp + 1][2 * __sp] > __best)
           |            __best = __act[__o][2 * __fp + 1][2 * __sp];
           |          if (2 * __sp + 1 < $w && __act[__o][2 * __fp + 1][2 * __sp + 1] > __best)
           |            __best = __act[__o][2 * __fp + 1][2 * __sp + 1];
           |        }
           |        __out[__o][__fp][__sp] = __best;
           |      }
           |    }
           |  }
           |  $cur = __out;
           |}""".stripMargin
      }.mkString("\n")
      val fnName = ctx.freshName("specCnn2d")
      val fn = ctx.addNewFunction(fnName,
        s"""
           |private double $fnName(org.apache.spark.sql.catalyst.util.ArrayData $a) {
           |  double[][][] $cur = new double[1][$nFreq][$nSpec];
           |  for (int __f = 0; __f < $nFreq; __f++) {
           |    for (int __s = 0; __s < $nSpec; __s++) {
           |      $cur[0][__f][__s] = ($a.getDouble(__f * $nSpec + __s) - $sc[1]) / $sc[2];
           |    }
           |  }
           |  $stages
           |  double $z = $sc[0];
           |  int __idx = 0;
           |  for (int __c = 0; __c < ${channels.last._2}; __c++) {
           |    for (int __f = 0; __f < $hOut; __f++) {
           |      for (int __s = 0; __s < $wOut; __s++) {
           |        $z += $dvR[__idx] * $cur[__c][__f][__s];
           |        __idx++;
           |      }
           |    }
           |  }
           |  return $z;
           |}
         """.stripMargin)
      s"""
         |if ($a.numElements() != ${nFreq * nSpec}) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $fn($a);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Expression↔Column bridge (the `private[sql]` side of the API). */
object GraftSqlBridge {
  import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
  import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
  import org.apache.spark.sql.types.BinaryType

  def arrayDot(a: Column, b: Column): Column =
    ExpressionUtils.column(
      ArrayDot(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def arrayMag3D(a: Column, mode: String): Column =
    ExpressionUtils.column(ArrayMag3D(ExpressionUtils.expression(a), mode))

  def conv1dLogit(win: Column, nFilters: Int, width: Int,
                  filters: Seq[Double], filterBias: Seq[Double],
                  dense: Seq[Double], bias: Double,
                  mean: Double, std: Double): Column =
    ExpressionUtils.column(Conv1dMaxPoolLogit(
      ExpressionUtils.expression(win), nFilters, width,
      filters, filterBias, dense, bias, mean, std))

  def lstmLogit(win: Column, nUnits: Int,
                wx: Seq[Double], wh: Seq[Double], b: Seq[Double],
                dense: Seq[Double], bias: Double,
                mean: Double, std: Double): Column =
    ExpressionUtils.column(LstmHardLogit(
      ExpressionUtils.expression(win), nUnits, wx, wh, b, dense,
      bias, mean, std))

  def convFrontSeq(win: Column, shapes: Seq[(Int, Int, Int)],
                   ws: Seq[Seq[Double]], bs: Seq[Seq[Double]],
                   scales: Seq[Seq[Double]], shifts: Seq[Seq[Double]],
                   mix: Seq[Double], mixBias: Double,
                   mean: Double, std: Double): Column =
    ExpressionUtils.column(ConvFrontSeq(
      ExpressionUtils.expression(win), shapes, ws, bs, scales, shifts,
      mix, mixBias, mean, std))

  def langId(text: Column, langs: Seq[String],
             profiles: Seq[Seq[String]]): Column =
    ExpressionUtils.column(LangIdExpr(
      ExpressionUtils.expression(text), langs, profiles))

  def fusionDenseLogit(towers: Seq[Column], dims: Seq[Int],
                       fuse: Seq[Double], w1: Seq[Double], b1: Seq[Double],
                       w2: Seq[Double], b2: Double): Column =
    ExpressionUtils.column(FusionDenseLogit(
      towers.map(ExpressionUtils.expression), dims, fuse, w1, b1, w2, b2))

  def specCnn2dLogit(img: Column, nFreq: Int, nSpec: Int,
                     channels: Seq[(Int, Int)],
                     ws: Seq[Seq[Double]], bs: Seq[Seq[Double]],
                     dense: Seq[Double], bias: Double,
                     mean: Double, std: Double): Column =
    ExpressionUtils.column(SpecCnn2dLogit(
      ExpressionUtils.expression(img), nFreq, nSpec, channels, ws, bs,
      dense, bias, mean, std))

  def lstmStackLogit(win: Column, h1: Int, h2: Int,
                     wx1: Seq[Double], wh1: Seq[Double], b1: Seq[Double],
                     wx2: Seq[Double], wh2: Seq[Double], b2: Seq[Double],
                     dense: Seq[Double], bias: Double,
                     mean: Double, std: Double,
                     attn: Boolean = false,
                     attA: Seq[Double] = Seq.empty,
                     attC: Double = 0.0,
                     bidir: Boolean = false,
                     wx1b: Seq[Double] = Seq.empty,
                     wh1b: Seq[Double] = Seq.empty,
                     b1b: Seq[Double] = Seq.empty,
                     mha: Boolean = false,
                     nHeads: Int = 1,
                     attCs: Seq[Double] = Seq.empty,
                     attD: Seq[Double] = Seq.empty,
                     denseK: Seq[Double] = Seq.empty,
                     biasK: Seq[Double] = Seq.empty,
                     attDK: Seq[Double] = Seq.empty): Column =
    ExpressionUtils.column(LstmStackLogit(
      ExpressionUtils.expression(win), h1, h2, wx1, wh1, b1,
      wx2, wh2, b2, dense, bias, mean, std, attn, attA, attC,
      bidir, wx1b, wh1b, b1b, mha, nHeads, attCs, attD,
      denseK, biasK, attDK))

  /** Spark's own runtime-filter Bloom aggregate (the one injected by
    * `InjectRuntimeFilter`), exposed as a Column: builds partial Bloom
    * filters executor-side and merges them by bitwise OR — one pass, no
    * driver involvement until the final single binary value. `hashedKey`
    * must be a LongType column (the runtime-filter convention is
    * `xxhash64(key)`, which normalizes every key type to a long). */
  def bloomFilterAgg(hashedKey: Column, estimatedItems: Long, numBits: Long): Column =
    ExpressionUtils.column(
      new BloomFilterAggregate(ExpressionUtils.expression(hashedKey),
        Literal(estimatedItems), Literal(numBits)).toAggregateExpression())

  /** `might_contain` over a CONSTANT serialized Bloom filter — foldable,
    * so codegen deserializes the filter once per task, and the predicate
    * is a per-row murmur3 probe inside whole-stage codegen. */
  def bloomMightContain(bloomBytes: Array[Byte], hashedKey: Column): Column =
    ExpressionUtils.column(BloomFilterMightContain(
      Literal.create(bloomBytes, BinaryType), ExpressionUtils.expression(hashedKey)))
}
