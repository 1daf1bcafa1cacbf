package graft.ml

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Trained-model export/import — the reference's deployment-artifact
  * workflow (`user_tools/nnTraining2/convertToTFLite.py`,
  * `convertPt2Pte.py`, EXECUTORCH_EXPORT.md: train → serialize → ship
  * to the device runtime) re-expressed for the engine's own model
  * families. Each in-engine family serializes to a versioned JSON
  * artifact: [[Cnn.CnnModel]] (`graft-cnn`), [[SpecCnn.SpecCnnModel]]
  * (`graft-speccnn`), [[Lstm.LstmModel]] (`graft-lstm`),
  * [[LstmStack.Lstm2Model]] (`graft-lstm2`), [[ConvPipe.ConvPipeModel]]
  * (`graft-convpipe`), [[TowerFusion.TowerFusionModel]]
  * (`graft-towerfusion`, its towers embedded as convpipe blocks) and
  * [[Forest.ForestModel]] (`graft-forest`). The MLlib-backed families
  * (LR, MLP) already have MLlib's native parquet save/load and ride a
  * thin manifest here (`graft-model-manifest`).
  *
  * Exactness contract: weights round-trip BIT-EXACTLY. Doubles are
  * written as Java's shortest-round-trip decimal (`Double.toString`)
  * and re-parsed with `java.lang.Double.parseDouble` — the
  * correctly-rounded pair, so `load(save(m))` scores every window
  * bit-identically to `m` (ModelIoSpec pins it through each family's
  * `forward`). NaN/Inf weights are rejected at save time — they are
  * not JSON and not a deployable model.
  *
  * Format: one JSON object, `format` + `version` header first, shapes
  * as integers, weights as arrays. Loaders FAIL LOUDLY on a wrong
  * format tag, an unknown version, or inconsistent shapes (each
  * family's model constructor re-validates) — a deployment artifact
  * must never half-load. */
object ModelIo {

  private val Version = 1

  private def requireFinite(name: String, xs: Iterable[Double]): Unit =
    require(xs.forall(v => !v.isNaN && !v.isInfinite),
      s"$name contains NaN/Inf — not a deployable model")

  private def num(d: Double): JValue = JDouble(d)

  private def arr(xs: Array[Double]): JValue = JArray(xs.map(num).toList)

  private def writeStr(path: String, s: String): Unit = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** Peek an artifact's `format` tag without loading it — the dispatch
    * key for config-driven deployment ([[graft.config.ConfigBridge]]:
    * a testConfig `modelFname` names a graft artifact; its format tag
    * decides which family's loader + deployed-detector assembly runs,
    * the engine twin of the reference's keras-file-implies-class. */
  def formatOf(path: String): String = {
    val j = JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
    (j \ "format") match {
      case JString(f) => f
      case _ => sys.error(s"$path: missing format tag — not a graft model artifact")
    }
  }

  private def readJson(path: String, expectFormat: String): JValue = {
    val raw = new String(Files.readAllBytes(Paths.get(path)),
      StandardCharsets.UTF_8)
    val j = JsonMethods.parse(raw)
    checkHeader(j, path, expectFormat)
    j
  }

  /** Format + version validation at the JValue level — shared by the
    * file readers and the EMBEDDED blocks (a conv-pipe artifact carries
    * its stack inline; it must pass the same header gate). */
  private def checkHeader(j: JValue, where: String,
                          expectFormat: String): Unit = {
    val fmt = (j \ "format") match {
      case JString(s) => s
      case _ => sys.error(s"$where: missing format tag")
    }
    require(fmt == expectFormat,
      s"$where: format '$fmt', expected '$expectFormat'")
    val ver = (j \ "version") match {
      case JInt(v) => v.toInt
      case _ => sys.error(s"$where: missing version")
    }
    require(ver == Version, s"$where: unsupported version $ver")
  }

  private def dArr(j: JValue, field: String): Array[Double] =
    (j \ field) match {
      case JArray(vs) => vs.map {
        case JDouble(d) => d
        case JInt(i) => i.toDouble
        case other => sys.error(s"$field: non-numeric element $other")
      }.toArray
      case _ => sys.error(s"missing weight array '$field'")
    }

  private def dNum(j: JValue, field: String): Double =
    (j \ field) match {
      case JDouble(d) => d
      case JInt(i) => i.toDouble
      case _ => sys.error(s"missing numeric field '$field'")
    }

  private def iNum(j: JValue, field: String): Int =
    (j \ field) match {
      case JInt(i) => i.toInt
      case _ => sys.error(s"missing integer field '$field'")
    }

  // ------------------------------------------------------------------ CNN

  def saveCnn(m: Cnn.CnnModel, path: String): Unit = {
    requireFinite("filters", m.filters)
    requireFinite("filterBias", m.filterBias)
    requireFinite("dense", m.dense)
    requireFinite("scalars", Seq(m.bias, m.mean, m.std))
    val j: JValue = JObject(
      "format" -> JString("graft-cnn"),
      "version" -> JInt(Version),
      "nFilters" -> JInt(m.nFilters),
      "width" -> JInt(m.width),
      "window" -> JInt(m.window),
      "filters" -> arr(m.filters),
      "filterBias" -> arr(m.filterBias),
      "dense" -> arr(m.dense),
      "bias" -> num(m.bias),
      "mean" -> num(m.mean),
      "std" -> num(m.std))
    writeStr(path, JsonMethods.compact(JsonMethods.render(j)))
  }

  def loadCnn(path: String): Cnn.CnnModel = {
    val j = readJson(path, "graft-cnn")
    Cnn.CnnModel(
      nFilters = iNum(j, "nFilters"),
      width = iNum(j, "width"),
      window = iNum(j, "window"),
      filters = dArr(j, "filters"),
      filterBias = dArr(j, "filterBias"),
      dense = dArr(j, "dense"),
      bias = dNum(j, "bias"),
      mean = dNum(j, "mean"),
      std = dNum(j, "std"))
  }

  // ------------------------------------------------------ spectrogram CNN

  def saveSpecCnn(m: SpecCnn.SpecCnnModel, path: String): Unit = {
    m.layers.zipWithIndex.foreach { case (l, i) =>
      requireFinite(s"layer$i.w", l.w); requireFinite(s"layer$i.b", l.b)
    }
    requireFinite("dense", m.dense)
    requireFinite("scalars", Seq(m.bias, m.mean, m.std))
    val j: JValue = JObject(
      "format" -> JString("graft-speccnn"),
      "version" -> JInt(Version),
      "nFreq" -> JInt(m.nFreq),
      "nSpec" -> JInt(m.nSpec),
      "layers" -> JArray(m.layers.map(l => JObject(
        "cIn" -> JInt(l.cIn), "cOut" -> JInt(l.cOut),
        "w" -> arr(l.w), "b" -> arr(l.b)): JValue).toList),
      "dense" -> arr(m.dense),
      "bias" -> num(m.bias),
      "mean" -> num(m.mean),
      "std" -> num(m.std))
    writeStr(path, JsonMethods.compact(JsonMethods.render(j)))
  }

  def loadSpecCnn(path: String): SpecCnn.SpecCnnModel = {
    val j = readJson(path, "graft-speccnn")
    val layers = (j \ "layers") match {
      case JArray(ls) => ls.map { lj =>
        SpecCnn.Layer(iNum(lj, "cIn"), iNum(lj, "cOut"),
          dArr(lj, "w"), dArr(lj, "b"))
      }.toArray
      case _ => sys.error("missing 'layers' array")
    }
    SpecCnn.SpecCnnModel(
      nFreq = iNum(j, "nFreq"),
      nSpec = iNum(j, "nSpec"),
      layers = layers,
      dense = dArr(j, "dense"),
      bias = dNum(j, "bias"),
      mean = dNum(j, "mean"),
      std = dNum(j, "std"))
  }

  // ----------------------------------------------------------------- LSTM

  def saveLstm(m: Lstm.LstmModel, path: String): Unit = {
    requireFinite("wx", m.wx)
    requireFinite("wh", m.wh)
    requireFinite("b", m.b)
    requireFinite("dense", m.dense)
    requireFinite("scalars", Seq(m.bias, m.mean, m.std))
    val j: JValue = JObject(
      "format" -> JString("graft-lstm"),
      "version" -> JInt(Version),
      "nUnits" -> JInt(m.nUnits),
      "window" -> JInt(m.window),
      "wx" -> arr(m.wx),
      "wh" -> arr(m.wh),
      "b" -> arr(m.b),
      "dense" -> arr(m.dense),
      "bias" -> num(m.bias),
      "mean" -> num(m.mean),
      "std" -> num(m.std))
    writeStr(path, JsonMethods.compact(JsonMethods.render(j)))
  }

  def loadLstm(path: String): Lstm.LstmModel = {
    val j = readJson(path, "graft-lstm")
    Lstm.LstmModel(
      nUnits = iNum(j, "nUnits"),
      window = iNum(j, "window"),
      wx = dArr(j, "wx"),
      wh = dArr(j, "wh"),
      b = dArr(j, "b"),
      dense = dArr(j, "dense"),
      bias = dNum(j, "bias"),
      mean = dNum(j, "mean"),
      std = dNum(j, "std"))
  }

  // --------------------------------------------------------- stacked LSTM

  /** The graft-lstm2 rendering as a JValue — shared by the standalone
    * writer and the conv-pipe embedder (no sidecar files: two
    * concurrent saves of the same artifact path must not race on a
    * shared temp name). */
  private def lstm2Json(m: LstmStack.Lstm2Model): JValue = {
    requireFinite("wx1", m.wx1); requireFinite("wh1", m.wh1)
    requireFinite("b1", m.b1); requireFinite("wx2", m.wx2)
    requireFinite("wh2", m.wh2); requireFinite("b2", m.b2)
    requireFinite("dense", m.dense); requireFinite("attA", m.attA)
    requireFinite("wx1b", m.wx1b); requireFinite("wh1b", m.wh1b)
    requireFinite("b1b", m.b1b)
    requireFinite("attCs", m.attCs); requireFinite("attD", m.attD)
    requireFinite("scalars", Seq(m.bias, m.mean, m.std, m.attC))
    JObject(
      "format" -> JString("graft-lstm2"),
      "version" -> JInt(Version),
      "h1" -> JInt(m.h1),
      "h2" -> JInt(m.h2),
      "window" -> JInt(m.window),
      "wx1" -> arr(m.wx1),
      "wh1" -> arr(m.wh1),
      "b1" -> arr(m.b1),
      "wx2" -> arr(m.wx2),
      "wh2" -> arr(m.wh2),
      "b2" -> arr(m.b2),
      "dense" -> arr(m.dense),
      "bias" -> num(m.bias),
      "mean" -> num(m.mean),
      "std" -> num(m.std),
      "head" -> JString(m.head),
      "attA" -> arr(m.attA),
      "attC" -> num(m.attC),
      "bidir" -> JBool(m.bidir),
      "wx1b" -> arr(m.wx1b),
      "wh1b" -> arr(m.wh1b),
      "b1b" -> arr(m.b1b),
      "nHeads" -> JInt(m.nHeads),
      "attCs" -> arr(m.attCs),
      "attD" -> arr(m.attD))
  }

  def saveLstm2(m: LstmStack.Lstm2Model, path: String): Unit =
    writeStr(path, JsonMethods.compact(JsonMethods.render(lstm2Json(m))))

  def loadLstm2(path: String): LstmStack.Lstm2Model = {
    val j = readJson(path, "graft-lstm2")
    lstm2Of(j, path)
  }

  /** The graft-lstm2 reader at the JValue level (header re-validated —
    * shared by [[loadLstm2]] and the conv-pipe embedded-stack path). */
  private def lstm2Of(j: JValue, where: String): LstmStack.Lstm2Model = {
    checkHeader(j, where, "graft-lstm2")
    val head = (j \ "head") match {
      case JString(s) => s
      case _ => sys.error("missing head field")
    }
    LstmStack.Lstm2Model(
      h1 = iNum(j, "h1"),
      h2 = iNum(j, "h2"),
      window = iNum(j, "window"),
      wx1 = dArr(j, "wx1"),
      wh1 = dArr(j, "wh1"),
      b1 = dArr(j, "b1"),
      wx2 = dArr(j, "wx2"),
      wh2 = dArr(j, "wh2"),
      b2 = dArr(j, "b2"),
      dense = dArr(j, "dense"),
      bias = dNum(j, "bias"),
      mean = dNum(j, "mean"),
      std = dNum(j, "std"),
      head = head,
      attA = dArr(j, "attA"),
      attC = dNum(j, "attC"),
      // the bidir block arrived mid-version-1 (the r13 writer omitted
      // it); an ABSENT block reads as the unidirectional model it was —
      // a PRESENT-but-malformed one still fails loudly via dArr
      bidir = (j \ "bidir") match {
        case JBool(b) => b
        case JNothing => false
        case _ => sys.error("malformed bidir field (expected boolean)")
      },
      wx1b = if ((j \ "wx1b") == JNothing) Array.emptyDoubleArray
             else dArr(j, "wx1b"),
      wh1b = if ((j \ "wh1b") == JNothing) Array.emptyDoubleArray
             else dArr(j, "wh1b"),
      b1b = if ((j \ "b1b") == JNothing) Array.emptyDoubleArray
             else dArr(j, "b1b"),
      // the mha block arrived mid-version-1 too — same absent-default
      // rule as the bidir block above
      nHeads = if ((j \ "nHeads") == JNothing) 1 else iNum(j, "nHeads"),
      attCs = if ((j \ "attCs") == JNothing) Array.emptyDoubleArray
              else dArr(j, "attCs"),
      attD = if ((j \ "attD") == JNothing) Array.emptyDoubleArray
             else dArr(j, "attD"))
  }

  // ----------------------------------------------------- composed conv pipe

  /** The composed conv→recurrence artifact: the conv front-end's block
    * list inline + the stack block in the graft-lstm2 shape — one
    * self-contained file, same bit-exact round-trip discipline. */
  private def convPipeJson(m: ConvPipe.ConvPipeModel): JValue = {
    m.front.blocks.zipWithIndex.foreach { case (bl, i) =>
      requireFinite(s"block$i.w", bl.w); requireFinite(s"block$i.b", bl.b)
      requireFinite(s"block$i.scale", bl.scale)
      requireFinite(s"block$i.shift", bl.shift)
    }
    requireFinite("mix", m.front.mix)
    requireFinite("frontScalars",
      Seq(m.front.mixBias, m.front.mean, m.front.std))
    val blocks = JArray(m.front.blocks.map { bl =>
      JObject("cIn" -> JInt(bl.cIn), "cOut" -> JInt(bl.cOut),
        "k" -> JInt(bl.k), "w" -> arr(bl.w), "b" -> arr(bl.b),
        "scale" -> arr(bl.scale), "shift" -> arr(bl.shift))
    }.toList)
    // reuse the stack renderer for its finiteness guards + field shape
    // — embedded IN MEMORY (a sidecar temp file would race between two
    // concurrent saves of the same artifact path)
    JObject(
      "format" -> JString("graft-convpipe"),
      "version" -> JInt(Version),
      "window" -> JInt(m.front.window),
      "blocks" -> blocks,
      "mix" -> arr(m.front.mix),
      "mixBias" -> num(m.front.mixBias),
      "mean" -> num(m.front.mean),
      "std" -> num(m.front.std),
      "stack" -> lstm2Json(m.stack))
  }

  def saveConvPipe(m: ConvPipe.ConvPipeModel, path: String): Unit =
    writeStr(path, JsonMethods.compact(JsonMethods.render(convPipeJson(m))))

  def loadConvPipe(path: String): ConvPipe.ConvPipeModel =
    convPipeOf(readJson(path, "graft-convpipe"), path)

  private def convPipeOf(j: JValue, where: String): ConvPipe.ConvPipeModel = {
    checkHeader(j, where, "graft-convpipe")
    val blocks = (j \ "blocks") match {
      case JArray(bs) => bs.map { b =>
        ConvFront.ConvBlock(
          cIn = iNum(b, "cIn"), cOut = iNum(b, "cOut"), k = iNum(b, "k"),
          w = dArr(b, "w"), b = dArr(b, "b"),
          scale = dArr(b, "scale"), shift = dArr(b, "shift"))
      }
      case _ => sys.error(s"$where: missing blocks array")
    }
    val front = ConvFront.ConvFrontModel(
      window = iNum(j, "window"), blocks = blocks,
      mix = dArr(j, "mix"), mixBias = dNum(j, "mixBias"),
      mean = dNum(j, "mean"), std = dNum(j, "std"))
    // the embedded stack passes the same graft-lstm2 header + shape
    // validation as a standalone artifact — in memory, no temp file
    ConvPipe.ConvPipeModel(front, lstm2Of(j \ "stack", s"$where#stack"))
  }

  // ---------------------------------------------------------- tower fusion

  /** The N-tower fusion artifact ([[TowerFusion.TowerFusionModel]]):
    * every tower embedded as a graft-convpipe block (each re-validated
    * through the same header gate on load), plus the fusion matrix and
    * dense head — one self-contained file, bit-exact round-trip. */
  def saveTowerFusion(m: TowerFusion.TowerFusionModel, path: String): Unit = {
    requireFinite("fuse", m.fuse); requireFinite("w1", m.w1)
    requireFinite("b1", m.b1); requireFinite("w2", m.w2)
    requireFinite("b2", Seq(m.b2))
    val j: JValue = JObject(
      "format" -> JString("graft-towerfusion"),
      "version" -> JInt(Version),
      "towers" -> JArray(m.towers.map(convPipeJson).toList),
      "fuse" -> arr(m.fuse),
      "w1" -> arr(m.w1),
      "b1" -> arr(m.b1),
      "w2" -> arr(m.w2),
      "b2" -> num(m.b2))
    writeStr(path, JsonMethods.compact(JsonMethods.render(j)))
  }

  def loadTowerFusion(path: String): TowerFusion.TowerFusionModel = {
    val j = readJson(path, "graft-towerfusion")
    val towers = (j \ "towers") match {
      case JArray(ts) => ts.zipWithIndex.map { case (t, i) =>
        convPipeOf(t, s"$path#tower$i")
      }
      case _ => sys.error(s"$path: missing towers array")
    }
    TowerFusion.TowerFusionModel(
      towers = towers,
      fuse = dArr(j, "fuse"),
      w1 = dArr(j, "w1"),
      b1 = dArr(j, "b1"),
      w2 = dArr(j, "w2"),
      b2 = dNum(j, "b2"))
  }

  // --------------------------------------------------------------- forest

  private def intArr(xs: Array[Int]): JValue =
    JArray(xs.map(i => JInt(BigInt(i))).toList)

  private def intArrOf(j: JValue, field: String): Array[Int] =
    (j \ field) match {
      case JArray(vs) => vs.map {
        case JInt(i) => i.toInt
        case other => sys.error(s"$field: non-integer element $other")
      }.toArray
      case _ => sys.error(s"missing integer array '$field'")
    }

  private def treeJson(t: Forest.Tree): JValue = JObject(
    "feature" -> intArr(t.feature),
    "threshold" -> arr(t.threshold),
    "left" -> intArr(t.left),
    "right" -> intArr(t.right),
    "vote" -> arr(t.vote))

  private def treeOf(j: JValue): Forest.Tree = Forest.Tree(
    feature = intArrOf(j, "feature"),
    threshold = dArr(j, "threshold"),
    left = intArrOf(j, "left"),
    right = intArrOf(j, "right"),
    vote = dArr(j, "vote"))

  /** The random-forest artifact ([[Forest.ForestModel]]) — the engine's
    * portable rendering of rfModel.py's joblib blob: trees as
    * threshold/feature/child/vote arrays plus the named feature basis
    * the splits index into. Bit-exact round-trip; the [[Forest.Tree]]
    * constructor re-validates the node graph on load. */
  def saveForest(m: Forest.ForestModel, path: String): Unit = {
    m.trees.zipWithIndex.foreach { case (t, i) =>
      requireFinite(s"tree$i.threshold", t.threshold)
      requireFinite(s"tree$i.vote", t.vote)
    }
    val j: JValue = JObject(
      "format" -> JString("graft-forest"),
      "version" -> JInt(Version),
      "featureNames" -> JArray(m.featureNames.map(JString(_)).toList),
      "trees" -> JArray(m.trees.map(treeJson).toList))
    writeStr(path, JsonMethods.compact(JsonMethods.render(j)))
  }

  def loadForest(path: String): Forest.ForestModel = {
    val j = readJson(path, "graft-forest")
    val names = (j \ "featureNames") match {
      case JArray(ns) => ns.map {
        case JString(s) => s
        case other => sys.error(s"$path: non-string feature name $other")
      }
      case _ => sys.error(s"$path: missing featureNames")
    }
    val trees = (j \ "trees") match {
      case JArray(ts) => ts.map(treeOf)
      case _ => sys.error(s"$path: missing trees array")
    }
    Forest.ForestModel(names, trees.toArray)
  }

  // ------------------------------------------------------------- manifest

  /** The deployment manifest — the engine's analogue of the
    * reference's `nnConfig.json` model block: which model family the
    * artifact holds, the serving window contract, and the input
    * scaling contract, so a deployer can wire the detector without
    * loading the weights. */
  def manifest(modelClass: String, window: Int,
               mean: Double, std: Double,
               extra: Map[String, String] = Map.empty): String = {
    val fields: List[(String, JValue)] = List(
      "format" -> JString("graft-model-manifest"),
      "version" -> JInt(Version),
      "modelClass" -> JString(modelClass),
      "window" -> JInt(window),
      "mean" -> num(mean),
      "std" -> num(std)) ++
      extra.toList.sortBy(_._1).map { case (k, v) => k -> JString(v) }
    JsonMethods.compact(JsonMethods.render(JObject(fields: _*)))
  }

  def saveManifest(path: String, modelClass: String, window: Int,
                   mean: Double, std: Double,
                   extra: Map[String, String] = Map.empty): Unit =
    writeStr(path, manifest(modelClass, window, mean, std, extra))
}
