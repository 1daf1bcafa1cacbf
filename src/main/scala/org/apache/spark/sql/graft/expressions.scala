package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
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

/** A model family's forward pass as a per-row value — what
  * [[ModelForward]] holds and calls. Each family in `graft.ml` (`Cnn`,
  * `Lstm`, `LstmStack` binary and K-class, `ConvFront`, `ConvPipe`,
  * `TowerFusion`, `SpecCnn`) builds one from its trained model around
  * the SAME function its JVM `forward` runs, so the batch column and the
  * replay closure cannot drift apart. It ships to executors inside the
  * plan, hence serializable; its `toString` names the family and its
  * shapes (plan strings carry no weights). */
abstract class ForwardKernel extends Serializable {

  /** `DoubleType` for one logit; `array<double>` for K class logits or
    * a sequence. */
  def dataType: DataType

  /** The forward pass over one input of ANY length: `null` where the
    * family's column is NULL (each family states its length rule),
    * otherwise a `Double` or an `Array[Double]` matching [[dataType]]. */
  def apply(x: Array[Double]): Any

  /** The call both the interpreted and the generated path make. */
  final def eval(a: ArrayData): Any = apply(a.toDoubleArray()) match {
    case y: Array[Double] => new GenericArrayData(y)
    case r => r
  }
}

/** Every model family's forward pass as ONE native expression over an
  * `array<double>` window — the batch-scoring hot path (runseq, the
  * `scoreWindows` family) and the ml3/ml4–ml4i/ml10/a6c oracle
  * queries' compute.
  *
  * It calls the family's JVM kernel ([[ForwardKernel]]) from generated
  * code: one `eval` through `ctx.addReferenceObj`, the [[LangIdExpr]]
  * pattern. So the expression stays inside the whole-stage pipeline (no
  * Row boundary, no closure to serialize), and the generated source does
  * not depend on the model: every model of a family shares one compiled
  * class. A generated copy of a loop could bake the model's shapes in
  * as constants; a shared kernel cannot, so the kernels keep their
  * innermost loops long or fused (the conv taps run the time loop
  * innermost, the LSTM cell accumulates its four gates side by side)
  * and match the per-model generated classes they replaced. The
  * composition from built-ins (`transform(sequence(...))` +
  * `array_max`) is the form that cannot ship: its interpreted lambda
  * dispatch measured 282–1225× slower (SCALING.md round 13).
  *
  * Exactness: both paths run the family's kernel, the same function as
  * its `forward`, so column and closure scoring are bit-identical and the
  * cross-engine oracle contracts live with the kernels in `graft.ml`.
  * The column keeps each family's NULL rule (e.g. a window shorter than
  * the CNN filter, an empty recurrent window, a wrong-shape
  * spectrogram); `forward` keeps the fail-loud serve-length `require`.
  * Null ELEMENTS read as 0.0 through ArrayData — the permissive-SQL
  * stance of [[ArrayDot]], documented rather than guarded: signal
  * windows come from [[graft.streaming.NnBuffer.dp2vectors]]-class
  * producers that never emit null samples. */
case class ModelForward(child: Expression, kernel: ForwardKernel)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))

  override def dataType: DataType = kernel.dataType

  override def nullable: Boolean = true

  override def prettyName: String = "model_forward"

  override protected def nullSafeEval(a: Any): Any =
    kernel.eval(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("kernel", kernel, classOf[ForwardKernel].getName)
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("r")
      s"""
         |Object $r = $k.eval($a);
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $r;
         |}
       """.stripMargin
    })
  }

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

  /** A family's forward pass as a column ([[ModelForward]]). */
  def modelForward(win: Column, kernel: ForwardKernel): Column =
    ExpressionUtils.column(ModelForward(ExpressionUtils.expression(win), kernel))

  def langId(text: Column, langs: Seq[String],
             profiles: Seq[Seq[String]]): Column =
    ExpressionUtils.column(LangIdExpr(
      ExpressionUtils.expression(text), langs, profiles))

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
