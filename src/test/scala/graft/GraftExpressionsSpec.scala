package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ml.{Cnn, ConvFront, ConvPipe, Lstm, LstmStack, SpecCnn, TowerFusion}
import graft.plans.GraftExpressions

/** The native codegen expression tier (§7.3(b)): ArrayDot must match the
  * UDF kernel bit-for-bit, stay inside whole-stage codegen, and register
  * through both the runtime registry and SparkSessionExtensions. */
class GraftExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = {
    val rng = new scala.util.Random(11)
    (0 until 50).map(i =>
      (i.toLong, Seq.fill(64)(rng.nextGaussian()), Seq.fill(64)(rng.nextGaussian())))
  }

  test("array_dot matches the UDF kernel bit-for-bit (same fold order)") {
    val df = vecs.toDF("id", "a", "b")
    val rows = df.select(
      GraftExpressions.arrayDot(col("a"), col("b")).as("native"),
      graft.operators.Similarity.dotUdf(col("a"), col("b")).as("viaUdf"))
      .collect()
    rows.foreach { r =>
      // bit-identical, not approximately equal: both accumulate in index order
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("array_dot compiles under codegen with fallback disabled") {
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      // range-based input with array() construction: a literal Seq would
      // constant-fold into a LocalTableScan (interpreted eval), and
      // transform() HOFs are CodegenFallback and would evict the whole
      // stage from codegen — either way doGenCode would never run
      val aCols = array((0 until 64).map(j => (col("id") * j % 97).cast("double")): _*)
      val bCols = array((0 until 64).map(j => ((col("id") + j) % 89).cast("double")): _*)
      val df = spark.range(100).select(aCols.as("a"), bCols.as("b"))
        .select(GraftExpressions.arrayDot(col("a"), col("b")).as("d"))
      val total = df.agg(sum("d")).collect().head.getDouble(0)
      assert(!total.isNaN && total > 0)
      val codegenStages = df.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec
          if w.toString.contains("array_dot") => w
      }
      assert(codegenStages.nonEmpty,
        df.queryExecution.executedPlan.toString.take(1500))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("array_dot: null inputs yield null; float arrays cast implicitly") {
    val df = Seq(
      (1L, Option(Seq(1.0, 2.0)), Option(Seq(3.0, 4.0))),
      (2L, None: Option[Seq[Double]], Option(Seq(3.0, 4.0))))
      .toDF("id", "a", "b")
    val out = df.select(col("id"), GraftExpressions.arrayDot(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L) == Some(11.0) && out(2L).isEmpty)

    // array<float> embeddings cast through ImplicitCastInputTypes
    val fl = Seq((1L, Seq(1.0f, 2.0f), Seq(2.0f, 0.5f))).toDF("id", "a", "b")
    val d = fl.select(GraftExpressions.arrayDot(col("a"), col("b"))).collect().head.getDouble(0)
    assert(d == 3.0)
  }

  test("array_dot registers for SQL use (runtime + extensions)") {
    GraftExpressions.register(spark)
    val d = spark.sql("SELECT array_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(d == 11.0)
    // the extensions injector exposes the same builder
    val ext = new graft.plans.GraftExtensions
    assert(ext.isInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit])
  }

  test("array_mag3d matches Signal.magnitude3D bit-for-bit in both modes") {
    val rng = new scala.util.Random(13)
    val rows = (0 until 30).map(i =>
      (i.toLong, Seq.fill(45)(rng.nextInt(2001) - 1000.0)))
    val df = rows.toDF("id", "xyz")
    for (mode <- Seq("V1", "V2")) {
      val native = df.select(col("id"),
          GraftExpressions.arrayMag3D(col("xyz"), mode).as("m"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      rows.foreach { case (id, xyz) =>
        val expect = graft.functions.Signal.magnitude3D(xyz.toArray, mode)
        val got = native(id)
        assert(got.length == expect.length)
        expect.indices.foreach(i =>
          assert(java.lang.Double.doubleToLongBits(got(i)) ==
            java.lang.Double.doubleToLongBits(expect(i)), s"$mode mismatch at $i"))
      }
    }
  }

  test("array_mag3d compiles under codegen with fallback disabled; SQL form works") {
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val xyz = array((0 until 45).map(j => ((col("id") + j) % 89).cast("double")): _*)
      val df = spark.range(50).select(xyz.as("xyz"))
        .select(GraftExpressions.arrayDot(
          GraftExpressions.arrayMag3D(col("xyz"), "V2"),
          GraftExpressions.arrayMag3D(col("xyz"), "V1")).as("d"))
      val total = df.agg(sum("d")).collect().head.getDouble(0)
      assert(!total.isNaN && total > 0)
      val codegenStages = df.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec
          if w.toString.contains("array_mag3d") => w
      }
      assert(codegenStages.nonEmpty,
        df.queryExecution.executedPlan.toString.take(1500))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
    GraftExpressions.register(spark)
    val m = spark.sql("SELECT array_mag3d(array(3.0d, 4.0d, 0.0d)) AS m")
      .collect().head.getSeq[Double](0)
    assert(m == Seq(5.0))
    val m1 = spark.sql("SELECT array_mag3d(array(3.0d, -4.0d, 0.0d), 'V1') AS m")
      .collect().head.getSeq[Double](0)
    assert(m1 == Seq(7.0))
  }

  test("GraftFunctions.registerAll exposes the signal library to SQL") {
    graft.functions.GraftFunctions.registerAll(spark)
    val sine = Array.tabulate(125)(i =>
      100.0 * math.sin(2 * math.Pi * 5 * i / 25.0))
    val lit125 = sine.mkString("array(", "d,", "d)")
    val r = spark.sql(
      s"""SELECT osd_spec_power($lit125) AS sp, osd_roi_power($lit125) AS rp,
         |  osd_mean_line_length($lit125) AS mll,
         |  osd_std_pct(array(1000.0d, 1000.0d, 1000.0d)) AS pct,
         |  size(osd_magnitude3d(array(3.0d, 4.0d, 0.0d), 'V2')) AS nmag,
         |  array_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dot
         |""".stripMargin).collect().head
    assert(math.abs(r.getAs[Double]("sp") - graft.functions.Signal.specPower(sine)) < 1e-9)
    assert(math.abs(r.getAs[Double]("rp") - graft.functions.Signal.roiPower(sine)) < 1e-9)
    assert(r.getAs[Double]("mll") > 0)
    assert(r.getAs[Double]("pct") == 0.0) // constant signal
    assert(r.getAs[Int]("nmag") == 1)
    assert(r.getAs[Double]("dot") == 11.0)
  }

  test("Similarity.cosine (native path) agrees with plain-scala cosine") {
    val a = Array(1.0, 2.0, 3.0); val b = Array(-1.0, 0.5, 2.0)
    val expected = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val got = Seq((a.toSeq, b.toSeq)).toDF("a", "b")
      .select(graft.operators.Similarity.cosine(col("a"), col("b")))
      .collect().head.getDouble(0)
    assert(math.abs(got - expected) < 1e-15)
  }

  // ------------------------------------------------- model columns

  /** One row of the model-column table: a family's column and its
    * `forward` (the replay path) at the trained `inputLen`, plus the
    * family's column NULL rule restated from its contract. */
  private case class ModelRow(name: String, inputLen: Int,
      column: Column => Column, forward: Array[Double] => Any,
      isNull: Int => Boolean)

  private def stackModel(r: scala.util.Random, h1: Int, h2: Int,
      window: Int, head: String = "mean", bidir: Boolean = false,
      nHeads: Int = 1, mean: Double = 0.0, std: Double = 1.0)
      : LstmStack.Lstm2Model = {
    val x2 = if (bidir) 2 * h1 else h1
    def g(n: Int, sc: Double) = Array.fill(n)(r.nextGaussian() * sc)
    LstmStack.Lstm2Model(h1, h2, window,
      wx1 = g(4 * h1, 0.5), wh1 = g(4 * h1 * h1, 0.3), b1 = g(4 * h1, 0.2),
      wx2 = g(4 * h2 * x2, 0.5), wh2 = g(4 * h2 * h2, 0.3),
      b2 = g(4 * h2, 0.2), dense = g(h2, 1.0), bias = 0.1,
      mean = mean, std = std, head = head,
      attA = head match {
        case "attn" => g(h2, 0.6)
        case "mha" => g(nHeads * h2, 0.5)
        case _ => Array.emptyDoubleArray
      },
      attC = if (head == "attn") r.nextGaussian() * 0.3 else 0.0,
      bidir = bidir,
      wx1b = if (bidir) g(4 * h1, 0.5) else Array.emptyDoubleArray,
      wh1b = if (bidir) g(4 * h1 * h1, 0.3) else Array.emptyDoubleArray,
      b1b = if (bidir) g(4 * h1, 0.2) else Array.emptyDoubleArray,
      nHeads = nHeads,
      attCs = if (head == "mha") g(nHeads, 0.3) else Array.emptyDoubleArray,
      attD = if (head == "mha") g(nHeads * h2, 1.0) else Array.emptyDoubleArray)
  }

  /** A conv front over `cIn` interleaved channels; `blocks` are
    * (cOut, k) per block. */
  private def frontModel(r: scala.util.Random, cIn: Int, window: Int,
      blocks: Seq[(Int, Int)]): ConvFront.ConvFrontModel = {
    val chans = cIn +: blocks.map(_._1)
    val bl = blocks.zipWithIndex.map { case ((co, k), i) =>
      val ci = chans(i)
      ConvFront.ConvBlock(ci, co, k,
        w = Array.fill(co * ci * k)(r.nextGaussian() * 0.4),
        b = Array.fill(co)(r.nextGaussian() * 0.1),
        scale = Array.fill(co)(1.0 + r.nextGaussian() * 0.1),
        shift = Array.fill(co)(r.nextGaussian() * 0.1))
    }
    ConvFront.ConvFrontModel(window, bl,
      mix = Array.fill(blocks.last._1)(r.nextGaussian()),
      mixBias = 0.1, mean = 1.0, std = 2.5)
  }

  private def pipeModel(r: scala.util.Random, cIn: Int, window: Int)
      : ConvPipe.ConvPipeModel = {
    val f = frontModel(r, cIn, window, Seq((2, 3), (2, 3)))
    ConvPipe.ConvPipeModel(f,
      stackModel(r, 2, 2, f.outLen, head = "mha", bidir = true, nHeads = 2))
  }

  private def towerModel(r: scala.util.Random, window: Int)
      : TowerFusion.TowerFusionModel = {
    val towers = Seq.fill(3)(pipeModel(r, 3, window))
    val d = towers.map(t => TowerFusion.pooledDim(t.stack)).sum
    val h = 4
    TowerFusion.TowerFusionModel(towers,
      fuse = Array.fill(d * d)(r.nextGaussian() * 0.2),
      w1 = Array.fill(h * d)(r.nextGaussian()),
      b1 = Array.fill(h)(r.nextGaussian() * 0.1),
      w2 = Array.fill(h)(r.nextGaussian()), b2 = r.nextGaussian())
  }

  /** The conv front's NULL rule: no whole channel frames, or no
    * position left after the valid-conv + pool(2) blocks of widths `ks`. */
  private def frontNull(cIn: Int, ks: Seq[Int])(n: Int): Boolean =
    n % cIn != 0 || ks.foldLeft(n / cIn)((t, k) => (t - k + 1) / 2) < 1

  private val modelRows: Seq[ModelRow] = {
    val r = new scala.util.Random(97)
    val cnn = Cnn.CnnModel(3, 5, 32,
      filters = Array.fill(15)(r.nextGaussian()),
      filterBias = Array.fill(3)(r.nextGaussian() * 0.1),
      dense = Array.fill(3)(r.nextGaussian()),
      bias = 0.2, mean = 0.3, std = 1.7)
    val lstm = Lstm.LstmModel(3, 24,
      wx = Array.fill(12)(r.nextGaussian() * 0.5),
      wh = Array.fill(36)(r.nextGaussian() * 0.3),
      b = Array.fill(12)(r.nextGaussian() * 0.2),
      dense = Array.fill(3)(r.nextGaussian()),
      bias = 0.1, mean = 0.4, std = 1.9)
    def stackRow(name: String, m: LstmStack.Lstm2Model) =
      ModelRow(name, m.window, LstmStack.logitCol(m, _),
        LstmStack.forward(m, _), _ == 0)
    val kStack = stackModel(r, 2, 2, 16, head = "mha", nHeads = 2,
      mean = 0.2, std = 1.5)
    val kHead = LstmStack.KHead(3,
      denseK = Array.fill(3 * 2)(r.nextGaussian()),
      biasK = Array.fill(3)(r.nextGaussian() * 0.2),
      attDK = Array.fill(3 * 2 * 2)(r.nextGaussian()))
    val front3 = frontModel(r, 3, 16, Seq((2, 3)))
    val pipe1 = pipeModel(r, 1, 24)
    val pipe3 = pipeModel(r, 3, 16)
    val tower = towerModel(r, 16)
    val layers = Array(
      SpecCnn.Layer(1, 2, Array.fill(18)(r.nextGaussian()),
        Array.fill(2)(r.nextGaussian())),
      SpecCnn.Layer(2, 3, Array.fill(54)(r.nextGaussian()),
        Array.fill(3)(r.nextGaussian())))
    val spec = SpecCnn.SpecCnnModel(5, 6, layers,
      Array.fill(3 * 2 * 2)(r.nextGaussian()), r.nextGaussian(),
      mean = 0.11, std = 1.3)
    Seq(
      ModelRow("Cnn", 32, Cnn.logitCol(cnn, _), Cnn.forward(cnn, _), _ < 5),
      ModelRow("Lstm", 24, Lstm.logitCol(lstm, _), Lstm.forward(lstm, _),
        _ == 0),
      stackRow("LstmStack mean", stackModel(r, 3, 2, 20, mean = 0.5, std = 2.0)),
      stackRow("LstmStack attn", stackModel(r, 2, 2, 20, head = "attn")),
      stackRow("LstmStack mha", stackModel(r, 2, 3, 20, head = "mha",
        nHeads = 2)),
      stackRow("LstmStack bidir", stackModel(r, 2, 2, 20, bidir = true)),
      ModelRow("LstmStack K-mode", 16, LstmStack.logitsKCol(kStack, kHead, _),
        LstmStack.forwardK(kStack, kHead, _), _ == 0),
      ModelRow("ConvFront seq, 3 channels", 48, ConvFront.seqCol(front3, _),
        ConvFront.forward(front3, _), frontNull(3, Seq(3))),
      ModelRow("ConvPipe, 1 channel", 24, ConvPipe.logitCol(pipe1, _),
        ConvPipe.forward(pipe1, _), frontNull(1, Seq(3, 3))),
      ModelRow("ConvPipe, 3 channels", 48, ConvPipe.logitCol(pipe3, _),
        ConvPipe.forward(pipe3, _), frontNull(3, Seq(3, 3))),
      ModelRow("TowerFusion", 48, TowerFusion.logitCol(tower, _),
        TowerFusion.forward(tower, _), frontNull(3, Seq(3, 3))),
      ModelRow("SpecCnn", 30, SpecCnn.logitCol(spec, _),
        SpecCnn.forward(spec, _), _ != 30))
  }

  /** Windows of every length 0..2·inputLen (`id` = length), then 12 of
    * the trained length. The values are non-integer doubles computed in
    * the plan from `id`: a local relation would be evaluated at planning
    * time, and the generated path would never run. */
  private def windows(inputLen: Int) = {
    val maxLen = 2 * inputLen
    val full = array((0 until maxLen).map(j =>
      ((col("id") * 7919 + j * 104729) % 1000).cast("double") / 137.0 - 3.5): _*)
    spark.range(maxLen + 13).select(col("id"), slice(full, lit(1),
      when(col("id") <= maxLen, col("id")).otherwise(inputLen).cast("int"))
      .as("w"))
  }

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def planOf(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }

  /** A logit or K-logit/sequence value as its raw bits (None = NULL). */
  private def bits(v: Any): Option[Seq[Long]] = v match {
    case null => None
    case d: Double => Some(Seq(java.lang.Double.doubleToLongBits(d)))
    case a: Array[Double] => Some(a.toSeq.map(java.lang.Double.doubleToLongBits))
    case s: scala.collection.Seq[_] =>
      Some(s.toSeq.map(x => java.lang.Double.doubleToLongBits(x.asInstanceOf[Double])))
  }

  modelRows.foreach { row =>
    test(s"model column table: ${row.name}") {
      def run() = {
        val df = windows(row.inputLen)
          .select(col("id"), col("w"), row.column(col("w")).as("z"))
        (df.collect(), planOf(df))
      }
      val (gen, genPlan) = withConfs(
        "spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.fallback" -> "false")(run())
      val staged = genPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
          w.child.collect {
            case p: org.apache.spark.sql.execution.ProjectExec
              if p.projectList.exists(_.name == "z") => p
          }
      }.flatten
      assert(staged.nonEmpty, s"the column is not in a generated stage: $genPlan")
      val (interp, intPlan) = withConfs(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
      assert(intPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }.isEmpty, intPlan.toString)
      val interpBy = interp.map(r => r.getLong(0) -> bits(r.get(2))).toMap
      var served = 0
      gen.foreach { r =>
        val w = r.getSeq[Double](1).toArray
        val z = bits(r.get(2))
        assert(interpBy(r.getLong(0)) == z,
          s"${row.name}, length ${w.length}: generated != NO_CODEGEN")
        if (w.length == row.inputLen) {
          assert(z == bits(row.forward(w)),
            s"${row.name}, row ${r.getLong(0)}: column != forward")
          served += 1
        }
      }
      assert(served == 13)
      val nullLengths = gen.collect {
        case r if r.isNullAt(2) => r.getSeq[Double](1).length
      }.toSet
      assert(nullLengths == (0 to 2 * row.inputLen).filter(row.isNull).toSet,
        s"${row.name}: NULL lengths ${nullLengths.toSeq.sorted}")
    }
  }

  test("model_forward: a second model of the family compiles no new class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val r = new scala.util.Random(41)
    def cnn(nf: Int, w: Int) = Cnn.CnnModel(nf, w, 32,
      filters = Array.fill(nf * w)(r.nextGaussian()),
      filterBias = Array.fill(nf)(r.nextGaussian() * 0.1),
      dense = Array.fill(nf)(r.nextGaussian()),
      bias = 0.2, mean = 0.3, std = 1.7)
    def score(c: Column => Column) =
      withConfs("spark.sql.codegen.fallback" -> "false") {
        windows(32).select(col("id"), c(col("w")).as("z")).collect()
      }
    score(Cnn.logitCol(cnn(3, 5), _))
    score(LstmStack.logitCol(stackModel(r, 3, 2, 32), _))
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    score(Cnn.logitCol(cnn(4, 7), _))
    score(LstmStack.logitCol(stackModel(r, 2, 3, 32, head = "mha",
      bidir = true, nHeads = 2), _))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
      "a model's weights or shapes reached the generated source")
  }

  test("only ArrayDot and ArrayMag3D generate Java loops or methods") {
    import scala.jdk.CollectionConverters._
    val src = new java.io.File(
      "src/main/scala/org/apache/spark/sql/graft/expressions.scala")
    assert(src.isFile, s"run from the repo root: ${src.getAbsolutePath}")
    val decl = """^\s*(?:case class|abstract class|class|object|trait)\s+(\w+)""".r
    var enclosing = "<file scope>"
    val sites = java.nio.file.Files.readAllLines(src.toPath).asScala.flatMap { line =>
      decl.findFirstMatchIn(line).foreach(m => enclosing = m.group(1))
      if (line.contains("ctx.addNewFunction") || line.contains("for (int"))
        Some(enclosing)
      else None
    }.distinct
    assert(sites.nonEmpty && sites.toSet.subsetOf(Set("ArrayDot", "ArrayMag3D")),
      sites.mkString(", "))
  }

  test("spec_cnn2d_logit: INTERPRETED eval == JVM forward bit-for-bit; wrong shape null") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val rnd = new scala.util.Random(29)
    val layers = Array(
      graft.ml.SpecCnn.Layer(1, 2,
        Array.fill(18)(rnd.nextGaussian()), Array.fill(2)(rnd.nextGaussian())),
      graft.ml.SpecCnn.Layer(2, 3,
        Array.fill(54)(rnd.nextGaussian()), Array.fill(3)(rnd.nextGaussian())))
    val m = graft.ml.SpecCnn.SpecCnnModel(5, 6, layers,
      Array.fill(3 * 2 * 2)(rnd.nextGaussian()), rnd.nextGaussian(),
      mean = 0.11, std = 1.3)
    def exprOf(img: Array[Double]) =
      org.apache.spark.sql.graft.ModelForward(
        Literal.create(img.toSeq, ArrayType(DoubleType)), SpecCnn.Kernel(m))
    (0 until 15).foreach { i =>
      val img = Array.fill(30)(rnd.nextGaussian() * 3)
      val got = exprOf(img).eval(null)
      assert(got != null, s"trial $i: null for a well-shaped image")
      assert(java.lang.Double.doubleToLongBits(got.asInstanceOf[Double]) ==
        java.lang.Double.doubleToLongBits(graft.ml.SpecCnn.forward(m, img)),
        s"trial $i: interpreted eval diverges from forward")
    }
    assert(exprOf(Array.fill(29)(1.0)).eval(null) == null)
  }

  test("lang_id: native expression == the original column composition; null/tie/zh edges") {
    import graft.operators.TextAnalysis
    // the ORIGINAL greatest+when composition, restated inline as the
    // independent truth side (the form the native expression replaced)
    def langIdColumnForm(text: org.apache.spark.sql.Column) = {
      val scores = TextAnalysis.LangProfiles.map { case (l, p) =>
        (l, TextAnalysis.langScore(text, p)) }
      val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
      scores.foldRight(lit("und")) { case ((l, s), acc) =>
        when(s === best && s > 0, lit(l)).otherwise(acc)
      }
    }
    val rows = Seq(
      "The cat and the dog, that is the point of it all",
      "el que la casa y de la madre",
      "le chat et les chiens des villes",
      "der Hund und die Katze ist nicht da",
      "这是不在的了",
      // TIE case: ' la ' is in BOTH the es and fr profiles (and no
      // other), so es and fr genuinely tie and the cross-language
      // tiebreak (strict > vs the foldRight pick order → first
      // declared, es) is what's exercised
      " la la ",
      "no stopwords here whatsoever xyz",
      "",
      null)
    val df = rows.toDF("text")
    val both = df.select(
        TextAnalysis.langId(col("text")).as("native"),
        langIdColumnForm(col("text")).as("column"))
      .collect()
    both.zip(rows).foreach { case (r, t) =>
      assert(r.getString(0) == r.getString(1),
        s"'$t': native ${r.getString(0)} != column ${r.getString(1)}")
    }
    // the es/fr tie resolves to the FIRST declared language in both
    // forms (native first-strict-max == foldRight pick order)
    assert(both(5).getString(0) == "es" && both(5).getString(1) == "es")
    // null text: BOTH forms yield "und" (the when-chain null-propagates
    // to the otherwise; the native expression handles null itself)
    val nulls = both.last
    assert(nulls.getString(0) == "und" && nulls.getString(1) == "und")
  }

  test("tower fusion: INTERPRETED eval == forward == a restatement of fusion") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val rnd = new scala.util.Random(31)
    val m = towerModel(rnd, 16)
    val d = m.d
    val h = m.b1.length
    // independent restatement of the documented accumulation order
    def expected(v: Array[Double]): Double = {
      val fused = Array.tabulate(d)(j =>
        (0 until d).foldLeft(v(j))((a, i) => a + m.fuse(j * d + i) * v(i)))
      (0 until h).foldLeft(m.b2) { (z, r) =>
        val hr = (0 until d).foldLeft(m.b1(r))((a, j) => a + m.w1(r * d + j) * fused(j))
        z + m.w2(r) * (if (hr > 0.0) hr else 0.0)
      }
    }
    def exprOf(x: Array[Double]) =
      org.apache.spark.sql.graft.ModelForward(
        Literal.create(x.toSeq, ArrayType(DoubleType)), TowerFusion.Kernel(m))
    (0 until 15).foreach { i =>
      val x = Array.fill(m.inputLen)(rnd.nextGaussian() * 2)
      val v = m.towers.flatMap(t => LstmStack.forwardK(t.stack,
        TowerFusion.unitKHead(t.stack), ConvFront.forward(t.front, x))).toArray
      val want = java.lang.Double.doubleToLongBits(expected(v))
      assert(java.lang.Double.doubleToLongBits(TowerFusion.forward(m, x)) == want,
        s"trial $i: forward diverges from the restatement")
      val got = exprOf(x).eval(null)
      assert(got != null, s"trial $i")
      assert(java.lang.Double.doubleToLongBits(got.asInstanceOf[Double]) == want,
        s"trial $i: interpreted eval diverges from the restatement")
    }
  }
}
