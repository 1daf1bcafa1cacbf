package graft.config

import java.nio.file.{Files, Path, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.operators.{EventFilterConfig, FeatureExtract}
import graft.ml.RunSequence

/** The reference's config-JSON entry point, typed.
  *
  * The reference engine's "logical plan" IS a JSON config object:
  * `libosd/configUtils.py` `loadConfig` parses a file, every tool then
  * optionally splices in a second file via the top-level `osdbCfg`
  * pointer with Python's dict-union (`configObj | osdbCfgObj`,
  * `selectData.py:137-142` — SHALLOW, top-level keys only, the
  * right/osdb side WINS on conflicts), and the merged dict's
  * `eventFilters` / `dataProcessing` / `modelConfig` sections drive
  * selection, extraction, augmentation, and model dispatch
  * (`nnConfig.json`, SURVEY §3). This object parses those SAME files
  * into the engine's typed configs:
  *
  *   - `eventFilters`  → [[graft.operators.EventFilterConfig]] (F5/F6)
  *     (+ `osdbConfig.invalidEvents` → `invalidIds`, the F4 list —
  *     `selectData.py:25-34`)
  *   - `dataProcessing` → [[DataProcessing]] → [[FeatureExtract.Config]]
  *     + [[RunSequence.Config]] knobs (window/step/highPass/historyN/
  *     augmentation flags — `extractFeatures.py`, `augmentData.py:483-`,
  *     `addFeatureHistory.py:243-245`)
  *   - `modelConfig.modelClass` → the importlib-string dispatch
  *     ([[RunSequence.NestedCandidate.forModelClass]])
  *
  * FAIL-LOUD CONTRACT (the `withKnob` convention): an unknown key in a
  * CLOSED section (top level, `eventFilters`, `dataProcessing`,
  * `osdbConfig`) raises with the offending names — a typo'd filter key
  * must not silently select everything. Exempt are the reference
  * format's documentation conventions, used throughout its shipped
  * files: keys starting with `_` (disabled alternates like
  * `_osdbFiles`), ending `_desc` (inline prose), or starting with `#`
  * (comment keys, e.g. nnConfig.json's TensorFlow note). `modelConfig`
  * and `dataFileNames` are OPEN sections by the reference's own
  * contract — `modelConfig` is the model class's private namespace
  * (each class reads its own keys via `.get`), `dataFileNames` is the
  * CSV-stage file naming the engine's lake replaces — so they parse to
  * maps without key validation.
  *
  * Scale note: config parsing is driver-side O(file) and feeds plan
  * CONSTRUCTION only — nothing here touches the data plane. The typed
  * configs it produces compile into the same pushable predicates and
  * plans the hand-built queries use.
  */
object ConfigBridge {

  /** A parsed config document: the top-level field map + where it came
    * from (for error messages). */
  final case class Doc(fields: Map[String, JValue], source: String) {
    def section(name: String): Map[String, JValue] = fields.get(name) match {
      case Some(JObject(fs)) => fs.toMap
      case Some(other) => throw new IllegalArgumentException(
        s"$source: '$name' must be an object, got ${other.getClass.getSimpleName}")
      case None => Map.empty
    }
  }

  /** Reference doc-key convention: `_`-prefixed (disabled alternates),
    * `*_desc` (prose), `#`-prefixed (comments) — present throughout the
    * shipped files, never read by any tool. */
  private def isDocKey(k: String): Boolean =
    k.startsWith("_") || k.endsWith("_desc") || k.startsWith("#")

  private def failUnknown(source: String, section: String,
                          keys: Iterable[String], known: Set[String]): Unit = {
    val unknown = keys.filterNot(k => isDocKey(k) || known(k))
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"$source: unknown ${if (section.isEmpty) "top-level" else s"'$section'"} " +
          s"key(s) ${unknown.mkString("'", "', '", "'")} — known: " +
          known.toSeq.sorted.mkString(", "))
  }

  // ------------------------------------------------------------ loading

  /** `configUtils.loadConfig`: parse one JSON file. Unlike the
    * reference (which returns None and lets the caller crash later),
    * parse errors raise HERE with the path. */
  def load(path: String): Doc = parseDoc(
    new String(Files.readAllBytes(Paths.get(path)), "UTF-8"), path)

  /** Parse from an in-memory string (tests, classpath resources). */
  def parseDoc(json: String, source: String): Doc =
    JsonMethods.parse(json) match {
      case JObject(fs) => Doc(fs.toMap, source)
      case other => throw new IllegalArgumentException(
        s"$source: config root must be a JSON object, got " +
          other.getClass.getSimpleName)
    }

  /** Load a classpath resource (the checked-in copy of the reference's
    * shipped nnConfig.json lives at `/osdb/nnConfig.json`). */
  def loadResource(resource: String): Doc = {
    val in = getClass.getResourceAsStream(resource)
    require(in != null, s"config resource not found: $resource")
    try parseDoc(new String(in.readAllBytes(), "UTF-8"), s"classpath:$resource")
    finally in.close()
  }

  /** Python's `configObj | osdbCfgObj`: SHALLOW top-level union, the
    * override side wins whole-key (a section object is REPLACED, not
    * deep-merged — pinned by ConfigBridgeSpec). */
  def merge(base: Doc, over: Doc): Doc =
    Doc(base.fields ++ over.fields, s"${base.source} | ${over.source}")

  /** `loadConfig` + the `osdbCfg` splice (`selectData.py:137-142`): if
    * the file carries a top-level `osdbCfg` file name, load it and
    * merge it OVER this file. The reference resolves the name against
    * the process cwd; a library has no meaningful cwd, so a relative
    * name resolves against the config file's own directory first and
    * falls back to cwd (documented deviation — same file layout, no
    * dependence on where the driver was launched). */
  def loadMerged(path: String): Doc = {
    val base = load(path)
    base.fields.get("osdbCfg") match {
      case None => base
      case Some(JString(name)) =>
        val p = Paths.get(name)
        val resolved: Path =
          if (p.isAbsolute) p
          else {
            val sibling = Paths.get(path).toAbsolutePath.getParent.resolve(name)
            if (Files.exists(sibling)) sibling else p
          }
        merge(base, load(resolved.toString))
      case Some(other) => throw new IllegalArgumentException(
        s"$path: 'osdbCfg' must be a file-name string, got " +
          other.getClass.getSimpleName)
    }
  }

  // ------------------------------------------------------- leaf readers

  private def str(source: String, sec: String, k: String, v: JValue): String =
    v match {
      case JString(s) => s
      case other => throw new IllegalArgumentException(
        s"$source: $sec.$k must be a string, got $other")
    }

  private def bool(source: String, sec: String, k: String, v: JValue): Boolean =
    v match {
      case JBool(b) => b
      case other => throw new IllegalArgumentException(
        s"$source: $sec.$k must be a boolean, got $other")
    }

  private def int(source: String, sec: String, k: String, v: JValue): Int =
    v match {
      case JInt(n) => n.toInt
      case JLong(n) => n.toInt
      case other => throw new IllegalArgumentException(
        s"$source: $sec.$k must be an integer, got $other")
    }

  private def dbl(source: String, sec: String, k: String, v: JValue): Double =
    v match {
      case JDouble(n) => n
      case JDecimal(n) => n.toDouble
      case JInt(n) => n.toDouble
      case JLong(n) => n.toDouble
      case other => throw new IllegalArgumentException(
        s"$source: $sec.$k must be a number, got $other")
    }

  private def strList(source: String, sec: String, k: String, v: JValue): Seq[String] =
    v match {
      case JArray(xs) => xs.map {
        case JString(s) => s
        case JInt(n) => n.toString // userId lists carry bare numbers
        case JLong(n) => n.toString
        case other => throw new IllegalArgumentException(
          s"$source: $sec.$k entries must be strings, got $other")
      }
      case other => throw new IllegalArgumentException(
        s"$source: $sec.$k must be a list, got $other")
    }

  // --------------------------------------------------------- eventFilters

  private val EventFilterKeys = Set(
    "includeUserIds", "excludeUserIds", "includeTypes", "excludeTypes",
    "includeSubTypes", "excludeSubTypes", "includeDataSources",
    "excludeDataSources", "includeText", "excludeText",
    "require3dData", "requireHrData", "requireO2SatData")

  private val OsdbConfigKeys = Set("cacheDir", "osdbFiles", "invalidEvents")

  /** `eventFilters` section + `osdbConfig.invalidEvents` →
    * [[EventFilterConfig]]. Missing keys default to "no constraint",
    * exactly the reference's `.get(..., [])` reads; unknown keys raise. */
  def eventFilters(doc: Doc): EventFilterConfig = {
    val sec = doc.section("eventFilters")
    failUnknown(doc.source, "eventFilters", sec.keys, EventFilterKeys)
    val osdb = doc.section("osdbConfig")
    failUnknown(doc.source, "osdbConfig", osdb.keys, OsdbConfigKeys)
    def sl(k: String): Seq[String] =
      sec.get(k).map(strList(doc.source, "eventFilters", k, _)).getOrElse(Nil)
    def bf(k: String): Boolean =
      sec.get(k).exists(bool(doc.source, "eventFilters", k, _))
    EventFilterConfig(
      includeUserIds = sl("includeUserIds"),
      includeTypes = sl("includeTypes"),
      includeSubTypes = sl("includeSubTypes"),
      includeDataSources = sl("includeDataSources"),
      includeText = sl("includeText"),
      excludeUserIds = sl("excludeUserIds"),
      excludeTypes = sl("excludeTypes"),
      excludeSubTypes = sl("excludeSubTypes"),
      excludeDataSources = sl("excludeDataSources"),
      excludeText = sl("excludeText"),
      require3dData = bf("require3dData"),
      requireHrData = bf("requireHrData"),
      requireO2SatData = bf("requireO2SatData"),
      invalidIds = osdb.get("invalidEvents")
        .map(strList(doc.source, "osdbConfig", "invalidEvents", _))
        .getOrElse(Nil))
  }

  // -------------------------------------------------------- dataProcessing

  /** The `dataProcessing` section, fully typed. Defaults are the
    * reference's own (each cited read site). Keys the Python runtime
    * owns (worker pools, pandas chunking) are validated for presence in
    * the known universe but have no engine meaning — Spark owns its own
    * parallelism — and are deliberately not represented here. */
  final case class DataProcessing(
      window: Int = 125,               // extractFeatures epoch samples
      step: Int = 125,
      highPassFreq: Double = 0.0,      // 0 disables (extractFeatures)
      highPassOrder: Int = 2,          // filtfilt order; engine pins 2
      historyN: Int = 0,               // addFeatureHistory.py:243-245
      oversample: String = "none",     // augmentData.py:498
      undersample: String = "none",
      noiseAugmentation: Boolean = false,
      noiseAugmentationFactor: Int = 20,
      noiseAugmentationValue: Double = 30.0,
      phaseAugmentation: Boolean = false,
      phaseAugmentationStep: Int = 1,
      phaseAugmentationFactor: Option[Int] = None,
      userAugmentation: Boolean = false,
      splitTestTrainByEvent: Boolean = true,
      accSdThreshold: Double = 0.0,
      testProp: Double = 0.3,
      validationProp: Double = 0.0,
      seizureTimeRange: Option[(Int, Int)] = None,
      features: Seq[String] = Nil,
      validateDatapoints: Boolean = false,
      simpleMagnitudeOnly: Boolean = false)

  private val DataProcessingKeys = Set(
    "window", "step", "highPassFreq", "highPassOrder",
    "addFeatureHistoryLength", "nHistory", // nHistory: back-compat alias
    "oversample", "undersample",
    "noiseAugmentation", "noiseAugmentationFactor", "noiseAugmentationValue",
    "phaseAugmentation", "phaseAugmentationStep", "phaseAugmentationFactor",
    "userAugmentation", "splitTestTrainByEvent", "accSdThreshold",
    "testProp", "validationProp", "seizureTimeRange", "features",
    "validateDatapoints", "simpleMagnitudeOnly",
    // python-runtime knobs: validated as known, no engine meaning
    "worker_count", "batch_size", "stream_chunksize", "stream_low_memory",
    "stream_dtype_map", "progress_interval", "debug")

  def dataProcessing(doc: Doc): DataProcessing = {
    val sec = doc.section("dataProcessing")
    failUnknown(doc.source, "dataProcessing", sec.keys, DataProcessingKeys)
    val src = doc.source
    // JSON null == Python None == "knob disabled, take the default":
    // every reference read is `.get(k, default)` followed by a
    // truthiness or `is not None` guard (augmentData.py:545,
    // extractFeatures.py) — the shipped deep-pytorch file carries
    // "highPassFreq": null with exactly that meaning
    def get(k: String): Option[JValue] =
      sec.get(k).filter(_ != JNull)
    def i(k: String, d: Int) = get(k).map(int(src, "dataProcessing", k, _)).getOrElse(d)
    def n(k: String, d: Double) = get(k).map(dbl(src, "dataProcessing", k, _)).getOrElse(d)
    def b(k: String, d: Boolean) = get(k).map(bool(src, "dataProcessing", k, _)).getOrElse(d)
    def s(k: String, d: String) =
      get(k).map(str(src, "dataProcessing", k, _)).getOrElse(d)
    val range = get("seizureTimeRange").map {
      case JArray(List(a, b2)) =>
        (int(src, "dataProcessing", "seizureTimeRange", a),
          int(src, "dataProcessing", "seizureTimeRange", b2))
      case other => throw new IllegalArgumentException(
        s"$src: dataProcessing.seizureTimeRange must be [lo, hi], got $other")
    }
    DataProcessing(
      window = i("window", 125),
      step = i("step", 125),
      highPassFreq = n("highPassFreq", 0.0),
      highPassOrder = i("highPassOrder", 2),
      // addFeatureHistoryLength wins over the legacy nHistory alias
      // (addFeatureHistory.py:243-245), both absent -> 0 (disabled)
      historyN = get("addFeatureHistoryLength")
        .map(int(src, "dataProcessing", "addFeatureHistoryLength", _))
        .getOrElse(i("nHistory", 0)),
      oversample = s("oversample", "none").toLowerCase,
      undersample = s("undersample", "none").toLowerCase,
      noiseAugmentation = b("noiseAugmentation", d = false),
      noiseAugmentationFactor = i("noiseAugmentationFactor", 20),
      noiseAugmentationValue = n("noiseAugmentationValue", 30.0),
      phaseAugmentation = b("phaseAugmentation", d = false),
      phaseAugmentationStep = i("phaseAugmentationStep", 1),
      phaseAugmentationFactor = get("phaseAugmentationFactor")
        .map(int(src, "dataProcessing", "phaseAugmentationFactor", _)),
      userAugmentation = b("userAugmentation", d = false),
      splitTestTrainByEvent = b("splitTestTrainByEvent", d = true),
      accSdThreshold = n("accSdThreshold", 0.0),
      testProp = n("testProp", 0.3),
      validationProp = n("validationProp", 0.0),
      seizureTimeRange = range,
      features = get("features")
        .map(strList(src, "dataProcessing", "features", _)).getOrElse(Nil),
      validateDatapoints = b("validateDatapoints", d = false),
      simpleMagnitudeOnly = b("simpleMagnitudeOnly", d = false))
  }

  // ------------------------------------------------------- typed targets

  /** `dataProcessing` → the extraction kernel config. The engine's
    * filtfilt is the reference's order-2 Butterworth
    * ([[graft.functions.Filters]]); a config asking for a different
    * order fails loudly rather than silently filtering differently. */
  def featureExtractConfig(dp: DataProcessing,
                           sampleFreq: Double = 25.0): FeatureExtract.Config = {
    require(dp.highPassOrder == 2,
      s"highPassOrder ${dp.highPassOrder}: the engine implements the " +
        "reference's order-2 Butterworth filtfilt only (Filters.scala)")
    FeatureExtract.Config(
      window = dp.window, step = dp.step,
      highPassHz = dp.highPassFreq, sampleFreq = sampleFreq)
  }

  /** `dataProcessing` → the runSequence skeleton knobs. `k` stays a
    * caller argument — the reference takes fold count from the CLI
    * (`runSequence.py:801 args['kfold']`), not the config file; same
    * for `tcAugFac` (`augmentData.py:919 args['tc_factor']`).
    *
    * `oversample` mapping: "none"/null → factor 1 (no copies). The
    * resampling modes ("random"/"smote") balance classes to a
    * DATA-DEPENDENT ratio (imblearn fit_resample,
    * `augmentData.py:562-575`) — that is [[graft.operators.Augment]]'s
    * runtime job, not a plan-time constant — so the skeleton's
    * closed-form multiplier keeps the engine default (×2, the
    * reference corpus's typical seizure:non-seizure balance point)
    * and the full pipelines apply the real samplers. */
  def runSequenceConfig(dp: DataProcessing, k: Int,
                        tcAugFac: Int = 0): RunSequence.Config =
    RunSequence.Config(
      k = k,
      oversampleFactor = if (dp.oversample == "none") 1 else 2,
      tcAugFac = tcAugFac,
      historyN = math.max(dp.historyN, 1), // historyN 0 = disabled = keep rows
      extract = featureExtractConfig(dp))

  // ---------------------------------------------------------- modelConfig

  /** `modelConfig` is the model class's OPEN namespace (each class
    * reads its own keys via `.get` — rfModel reads n_estimators,
    * the TF classes read the lr schedule, etc.), so no key validation;
    * returned raw for per-family constructors. */
  def modelConfig(doc: Doc): Map[String, JValue] = doc.section("modelConfig")

  /** The importlib dispatch string (`modelConfig.modelClass`,
    * nnConfig.json:174) — feed to
    * [[RunSequence.NestedCandidate.forModelClass]], which owns the
    * known-registry fail-loud. */
  def modelClass(doc: Doc): String =
    modelConfig(doc).get("modelClass") match {
      case Some(JString(s)) => s
      case Some(other) => throw new IllegalArgumentException(
        s"${doc.source}: modelConfig.modelClass must be a string, got $other")
      case None => throw new IllegalArgumentException(
        s"${doc.source}: modelConfig.modelClass missing — nothing to train")
    }

  /** `modelConfig.subtypeWeights` (the M13 surface,
    * `subtype_weighting.py:13-25`); absent → unweighted. */
  def subtypeWeights(doc: Doc): Map[String, Double] =
    modelConfig(doc).get("subtypeWeights") match {
      case None => Map.empty
      case Some(JObject(fs)) =>
        fs.map { case (k, v) =>
          k -> dbl(doc.source, "modelConfig.subtypeWeights", k, v) }.toMap
      case Some(other) => throw new IllegalArgumentException(
        s"${doc.source}: modelConfig.subtypeWeights must be an object, got $other")
    }

  // ---------------------------------------------------- testRunner config

  /** One `algorithms[]` entry (testConfig.json): the reference
    * instantiates `module.Class(settingsStr)` dynamically
    * (testRunner.py:126-143, injecting the entry's `name` into the
    * settings first); the engine twin is [[buildAlg]]. */
  final case class TestRunnerAlg(name: String, algClass: String,
                                 enabled: Boolean,
                                 settings: Map[String, JValue])

  final case class TestRunnerConfig(
      eventFilters: EventFilterConfig, // incl. TOP-level invalidEvents (F4)
      dataFiles: Seq[String],
      algorithms: Seq[TestRunnerAlg])

  private val TestRunnerTopKeys = Set(
    "dbDir", "dataFiles", "download", "credentialsFname", "eventFilters",
    "algorithms", "invalidEvents", "invalidEventsReasons", "osdbCfg",
    "debug", "requireHrData", "samplePeriod", "testName")

  private val AlgEntryKeys = Set("name", "alg", "enabled", "settings")

  /** The testRunner config format (`user_tools/testRunner/
    * testConfig*.json` — runTest, testRunner.py:37-147): same
    * `eventFilters` section as nnConfig (reused verbatim), top-level
    * `invalidEvents` (the F4 list lives at the top here, not under
    * osdbConfig), and the `algorithms` array. `invalidEventsReasons` is
    * curator prose; `dbDir`/`download`/`credentialsFname` are the
    * Python runtime's cache/fetch knobs — the engine's sources layer
    * owns data access. Fail-loud on unknown keys throughout. */
  def testRunnerConfig(doc: Doc): TestRunnerConfig = {
    failUnknown(doc.source, "", doc.fields.keys, TestRunnerTopKeys)
    val sec = doc.section("eventFilters")
    failUnknown(doc.source, "eventFilters", sec.keys, EventFilterKeys)
    def sl(k: String): Seq[String] =
      sec.get(k).map(strList(doc.source, "eventFilters", k, _)).getOrElse(Nil)
    def bf(k: String): Boolean =
      sec.get(k).exists(bool(doc.source, "eventFilters", k, _))
    val ef = EventFilterConfig(
      includeUserIds = sl("includeUserIds"),
      includeTypes = sl("includeTypes"),
      includeSubTypes = sl("includeSubTypes"),
      includeDataSources = sl("includeDataSources"),
      includeText = sl("includeText"),
      excludeUserIds = sl("excludeUserIds"),
      excludeTypes = sl("excludeTypes"),
      excludeSubTypes = sl("excludeSubTypes"),
      excludeDataSources = sl("excludeDataSources"),
      excludeText = sl("excludeText"),
      require3dData = bf("require3dData"),
      requireHrData = bf("requireHrData"),
      requireO2SatData = bf("requireO2SatData"),
      invalidIds = doc.fields.get("invalidEvents")
        .map(strList(doc.source, "", "invalidEvents", _)).getOrElse(Nil))
    TestRunnerConfig(ef,
      doc.fields.get("dataFiles")
        .map(strList(doc.source, "", "dataFiles", _)).getOrElse(Nil),
      algEntries(doc))
  }

  /** The `algorithms` array — shared by the testRunner and
    * testDeviceHrAlg formats (both instantiate the same
    * `module.Class(settingsStr)` entries). */
  private def algEntries(doc: Doc): Seq[TestRunnerAlg] =
    doc.fields.get("algorithms") match {
      case None => Nil
      case Some(JArray(xs)) => xs.map {
        case JObject(fs) =>
          val m = fs.toMap
          failUnknown(doc.source, "algorithms[]", m.keys, AlgEntryKeys)
          TestRunnerAlg(
            name = m.get("name").map(str(doc.source, "algorithms[]", "name", _))
              .getOrElse(throw new IllegalArgumentException(
                s"${doc.source}: algorithms[] entry missing 'name'")),
            algClass = m.get("alg").map(str(doc.source, "algorithms[]", "alg", _))
              .getOrElse(throw new IllegalArgumentException(
                s"${doc.source}: algorithms[] entry missing 'alg'")),
            enabled = m.get("enabled")
              .exists(bool(doc.source, "algorithms[]", "enabled", _)),
            settings = m.get("settings") match {
              case Some(JObject(ss)) => ss.toMap
              case None => Map.empty
              case Some(other) => throw new IllegalArgumentException(
                s"${doc.source}: algorithms[].settings must be an object, got $other")
            })
        case other => throw new IllegalArgumentException(
          s"${doc.source}: algorithms[] entries must be objects, got $other")
      }
      case Some(other) => throw new IllegalArgumentException(
        s"${doc.source}: 'algorithms' must be a list, got $other")
    }

  /** A synthetic HR trace from the testDeviceHrAlg format
    * (`testDeviceHrAlg.json`: named 30-sample hrVals lists the tool
    * drives through the HR detector farm — testDeviceHrAlg.py:52). */
  final case class HrTrace(name: String, id: Long, hrVals: Seq[Double])

  private val DeviceHrTopKeys = Set("debug", "eventHrData", "algorithms")
  private val HrTraceKeys = Set("name", "id", "hrVals")

  /** The testDeviceHrAlg config format: the SAME `algorithms` array as
    * testRunner plus `eventHrData` synthetic traces. */
  def deviceHrConfig(doc: Doc): (Seq[TestRunnerAlg], Seq[HrTrace]) = {
    failUnknown(doc.source, "", doc.fields.keys, DeviceHrTopKeys)
    val traces = doc.fields.get("eventHrData") match {
      case None => Nil
      case Some(JArray(xs)) => xs.map {
        case JObject(fs) =>
          val m = fs.toMap
          failUnknown(doc.source, "eventHrData[]", m.keys, HrTraceKeys)
          HrTrace(
            name = m.get("name").map(str(doc.source, "eventHrData[]", "name", _))
              .getOrElse(throw new IllegalArgumentException(
                s"${doc.source}: eventHrData[] entry missing 'name'")),
            id = m.get("id").map(int(doc.source, "eventHrData[]", "id", _).toLong)
              .getOrElse(throw new IllegalArgumentException(
                s"${doc.source}: eventHrData[] entry missing 'id'")),
            hrVals = m.get("hrVals") match {
              case Some(JArray(vs)) =>
                vs.map(dbl(doc.source, "eventHrData[]", "hrVals", _))
              case _ => throw new IllegalArgumentException(
                s"${doc.source}: eventHrData[].hrVals must be a list")
            })
        case other => throw new IllegalArgumentException(
          s"${doc.source}: eventHrData[] entries must be objects, got $other")
      }
      case Some(other) => throw new IllegalArgumentException(
        s"${doc.source}: 'eventHrData' must be a list, got $other")
    }
    (algEntries(doc), traces)
  }

  // --------------------------------------------------- summariser config

  /** The dataSummariser config format (`osdbCfg.json.template`,
    * summariseData.py:322 main): `dataFiles` + `invalidEvents` +
    * `skipElements` (fields tidy drops from every expanded event/
    * datapoint, libosd/tidy_db.py:66,83,105,150 — WIRED in
    * [[graft.Run.runSummarise]]: load-bearing fields raise, rendered
    * fields elide their report sections, the rest are dropped by
    * construction); `cacheDir` / `credentialsFname` are the Python
    * runtime's fetch knobs — the engine's sources layer owns data
    * access. */
  final case class SummariserConfig(
      dataFiles: Seq[String],
      invalidIds: Seq[String],
      skipElements: Seq[String])

  private val SummariserTopKeys = Set("cacheDir", "dataFiles",
    "invalidEvents", "credentialsFname", "skipElements", "osdbCfg",
    "debug")

  def summariserConfig(doc: Doc): SummariserConfig = {
    failUnknown(doc.source, "", doc.fields.keys, SummariserTopKeys)
    def sl(k: String): Seq[String] =
      doc.fields.get(k).filter(_ != JNull)
        .map(strList(doc.source, "", k, _)).getOrElse(Nil)
    SummariserConfig(sl("dataFiles"), sl("invalidEvents"), sl("skipElements"))
  }

  // per-class known-settings universes (union over every shipped
  // testConfig variant); the keys the PYTHON runtime owns are noted
  // at their read sites below
  private val OsdSettingKeys = Set("mode", "offset", "sampleFreq",
    "samplePeriod", "alarmFreqMin", "alarmFreqMax", "alarmThresh",
    "alarmRatioThresh", "warnTime", "alarmTime", "flapSettings", "name")
  private val OsdV1SettingKeys = Set("sampleFreq", "samplePeriod",
    "alarmFreqMin", "alarmFreqMax", "alarmThresh", "alarmRatioThresh",
    "warnTime", "alarmTime", "name")
  private val HrSettingKeys = Set("mode", "thresh_high", "thresh_low",
    "thresh_offset_high", "thresh_offset_low",
    "moving_average_time_window", "samplePeriod", "warnTime", "alarmTime",
    "name")
  private val NnSettingKeys = Set("modelFname", "inputFormat", "normalise",
    "sdThresh", "probThresh", "mode", "samplePeriod", "warnTime",
    "alarmTime", "bufferSeconds", "sampleFreq", "name")
  private val SpecSettingKeys = Set("modelFname", "inputFormat", "dims",
    "analysisSamp", "specSamp", "specStep", "normalise", "sdThresh",
    "probThresh", "mode", "samplePeriod", "warnTime", "alarmTime", "name")
  private val FlapKeys = Set("enabled", "flapAlarmFreqMin",
    "flapAlarmFreqMax", "flapAlarmThresh", "flapAlarmRatioThresh")
  private val DeviceSettingKeys = Set("ipAddr", "delayMs", "name")
  // amberAlg.py:33-42 reads modelFname/mode/samplePeriod/warnTime/
  // alarmTime/sdThresh (sdThresh defaults to 5.0 there, not nnAlg's
  // 0.0); inputFormat/normalise ride in from the shared base-settings
  // convention the other nn entries carry
  private val AmberSettingKeys = Set("modelFname", "mode", "inputFormat",
    "normalise", "sdThresh", "samplePeriod", "warnTime", "alarmTime",
    "bufferSeconds", "sampleFreq", "name")

  /** The `module.Class(settingsStr)` dynamic instantiation
    * (testRunner.py:126-143) as a typed registry: each reference
    * algorithm class maps to the engine detector that redesigns it,
    * with every settings key either wired or accounted for. The
    * model-bearing classes (nnAlg/specAlg) resolve `modelFname`
    * against `modelDir` as a GRAFT artifact (the engine's deployment
    * format, [[graft.ml.ModelIo]]) — the reference's .keras files are
    * TensorFlow runtime state the engine deliberately does not load;
    * its manifest + artifact round-trip is the deployment seam.
    * `inputFormat`/`mode`/`dims` describe the keras tensor layout and
    * have no engine meaning (the artifact's own shapes drive the
    * buffer); `delayMs` paces the reference's single-phone serial
    * loop, meaningless against the per-event device farm. */
  def buildAlg(a: TestRunnerAlg, modelDir: String = "."): graft.streaming.SdAlg = {
    import graft.streaming._
    val src = docInline(a)
    val sec = s"algorithms[${a.name}].settings"
    val st = a.settings
    def g(k: String): Option[JValue] = st.get(k).filter(_ != JNull)
    def num(k: String, d: Double) = g(k).map(dbl(src, sec, k, _)).getOrElse(d)
    def in(k: String, d: Int) = g(k).map(int(src, sec, k, _)).getOrElse(d)
    def bl(k: String, d: Boolean) = g(k).map(bool(src, sec, k, _)).getOrElse(d)
    def sg(k: String, d: String) = g(k).map(str(src, sec, k, _)).getOrElse(d)
    def modelPath(): String = {
      val f = sg("modelFname", "")
      require(f.nonEmpty, s"$src: $sec.modelFname missing")
      // the reference's TF/Torch/ExecuTorch runtime files are the
      // deployment seam the engine deliberately does not load — name
      // the seam BEFORE touching the filesystem, instead of a
      // file-not-found or JSON parse error downstream
      val ext = f.substring(f.lastIndexOf('.') + 1).toLowerCase
      val foreign = Set("keras", "h5", "pte", "pt", "pth", "onnx", "tflite")
      require(!foreign(ext),
        s"$src: $sec.modelFname '$f' is a .$ext runtime artifact — the " +
          "engine deploys graft artifacts (ModelIo manifest + artifact " +
          "round-trip is the deployment seam; export the trained model " +
          "with ModelIo.save* and point modelFname at the .graft file)")
      val p = Paths.get(f)
      (if (p.isAbsolute) p else Paths.get(modelDir).resolve(f)).toString
    }
    def nnBase(): NnSettings = NnSettings(
      name = Some(a.name),
      normalise = bl("normalise", d = false),
      sdThresh = num("sdThresh", 0.0),
      probThresh = num("probThresh", 0.5), // nnAlg.py:47 default 0.5
      samplePeriod = num("samplePeriod", 5.0),
      warnTime = num("warnTime", 5.0),
      alarmTime = num("alarmTime", 10.0))
    // bufferSeconds/sampleFreq describe the keras runtime's sample
    // buffer; the deployed artifact PINS bufferSamples to its trained
    // window (Cnn.deployedCnn et al), so a config asking for a
    // different length must fail loudly rather than be silently
    // ignored — same convention as highPassOrder.
    def checkBuffer(window: Int): Unit =
      g("bufferSeconds").foreach { v =>
        val want = dbl(src, sec, "bufferSeconds", v) * num("sampleFreq", 25.0)
        require(want.round.toInt == window,
          s"$src: $sec bufferSeconds*sampleFreq = ${want.round.toInt} " +
            s"samples, but the deployed artifact's trained window is " +
            s"$window — the buffer length is artifact-owned; drop " +
            "bufferSeconds or deploy a matching artifact")
      }
    // the window-model artifact at `path` as a replay detector, for the
    // `formats` the calling algorithm class deploys; `what` names them
    def windowAlg(path: String, base: => NnSettings, formats: Set[String],
                  what: String): graft.streaming.NnAlg = {
      val format = graft.ml.ModelIo.formatOf(path)
      if (!formats(format)) throw new IllegalArgumentException(
        s"$src: $path format '$format' is not $what")
      val (alg, window) = format match {
        case "graft-cnn" =>
          val m = graft.ml.ModelIo.loadCnn(path)
          (graft.ml.Cnn.deployedCnn(m, base), m.window)
        case "graft-lstm" =>
          val m = graft.ml.ModelIo.loadLstm(path)
          (graft.ml.Lstm.deployedLstm(m, base), m.window)
        case "graft-lstm2" =>
          val m = graft.ml.ModelIo.loadLstm2(path)
          (graft.ml.LstmStack.deployedLstm2(m, base), m.window)
        case "graft-convpipe" =>
          val m = graft.ml.ModelIo.loadConvPipe(path)
          (graft.ml.ConvPipe.deployedConvPipe(m, base), m.front.inputLen)
      }
      checkBuffer(window)
      alg
    }
    a.algClass.split('.').takeRight(2).mkString(".") match {
      case "osdAlg.OsdAlg" =>
        failUnknown(src, sec, st.keys, OsdSettingKeys)
        val flap = g("flapSettings") match {
          case None => None
          case Some(JObject(fs)) =>
            val fm = fs.toMap
            failUnknown(src, s"$sec.flapSettings", fm.keys, FlapKeys)
            def fnum(k: String, d: Double) =
              fm.get(k).map(dbl(src, s"$sec.flapSettings", k, _)).getOrElse(d)
            if (fm.get("enabled").exists(bool(src, s"$sec.flapSettings", "enabled", _)))
              Some(FlapSettings(
                freqMin = fnum("flapAlarmFreqMin", 2.0),
                freqMax = fnum("flapAlarmFreqMax", 4.0),
                thresh = fnum("flapAlarmThresh", 10000.0),
                ratioThresh = fnum("flapAlarmRatioThresh", 80.0)))
            else None
          case Some(other) => throw new IllegalArgumentException(
            s"$src: $sec.flapSettings must be an object, got $other")
        }
        new OsdAlg(OsdSettings(
          mode = sg("mode", "V2"),
          sampleFreq = num("sampleFreq", 25.0),
          samplePeriod = num("samplePeriod", 5.0),
          warnTime = num("warnTime", 5.0),
          alarmTime = num("alarmTime", 10.0),
          alarmThresh = num("alarmThresh", 100.0),
          alarmRatioThresh = num("alarmRatioThresh", 57.0),
          offset = num("offset", 0.0),
          alarmFreqMin = num("alarmFreqMin", 3.0),
          alarmFreqMax = num("alarmFreqMax", 8.0),
          flap = flap,
          name = Some(a.name)))
      case "osdAlg_v1.OsdAlg_v1" =>
        failUnknown(src, sec, st.keys, OsdV1SettingKeys)
        // the 'version 1' variant: |x|+|y|+|z| magnitude RECOMPUTED from
        // data3D when present (osdAlg_v1.py:48-74, the V1 mode), stored
        // magnitude only as the fallback; ratio gated on SPEC power
        // (osdAlg_v1.py:112); raw power scale (no ACCEL_SCALE_FACTOR
        // division anywhere in v1); freqCutoff = fs/2 — NOT the device's
        // 12 Hz quirk (osdAlg_v1.py:32) — and spec bins summed over
        // range(1, mNSamp) rather than [1, n/2) (osdAlg_v1.py:88-90)
        val fs = num("sampleFreq", 25.0)
        new OsdAlg(OsdSettings(
          mode = "V1",
          sampleFreq = fs,
          samplePeriod = num("samplePeriod", 5.0),
          warnTime = num("warnTime", 5.0),
          alarmTime = num("alarmTime", 10.0),
          alarmThresh = num("alarmThresh", 100.0),
          alarmRatioThresh = num("alarmRatioThresh", 57.0),
          freqCutoff = fs / 2.0,
          accelScaleFactor = 1.0,
          alarmFreqMin = num("alarmFreqMin", 3.0),
          alarmFreqMax = num("alarmFreqMax", 8.0),
          gateOnSpec = true,
          specBinsFullRange = true,
          fallbackOnZeroSum = false, // v1 has no dataSum check
                                     // (osdAlg_v1.py:63-65)
          name = Some(a.name)))
      case "hrAlg.HrAlg" =>
        failUnknown(src, sec, st.keys, HrSettingKeys)
        new HrAlg(HrSettings(
          mode = sg("mode", "MODE_SIMPLE"),
          name = Some(a.name),
          threshHigh = num("thresh_high", 150.0),
          threshLow = num("thresh_low", 40.0),
          threshOffsetHigh = num("thresh_offset_high", 30.0),
          threshOffsetLow = num("thresh_offset_low", 20.0),
          movingAverageTimeWindowSecs = num("moving_average_time_window", 60.0),
          samplePeriod = num("samplePeriod", 5.0),
          warnTime = num("warnTime", 5.0),
          alarmTime = num("alarmTime", 10.0)))
      case "nnAlg.NnAlg" =>
        failUnknown(src, sec, st.keys, NnSettingKeys)
        windowAlg(modelPath(), nnBase(),
          Set("graft-cnn", "graft-lstm", "graft-lstm2", "graft-convpipe"),
          "an nnAlg-deployable window model (graft-cnn/lstm/lstm2/convpipe)")
      case "specAlg.SpecAlg" =>
        failUnknown(src, sec, st.keys, SpecSettingKeys)
        val path = modelPath()
        graft.ml.SpecCnn.deployedSpecCnn(
          graft.ml.ModelIo.loadSpecCnn(path),
          graft.ml.SpecCnn.Config(
            specSamp = in("specSamp", 50),
            specStep = in("specStep", 5)),
          windowSamples = in("analysisSamp", 250),
          base = nnBase())
      case "deviceAlg.DeviceAlg" =>
        failUnknown(src, sec, st.keys, DeviceSettingKeys)
        val addr = sg("ipAddr", "")
        require(addr.nonEmpty, s"$src: $sec.ipAddr missing")
        new DeviceAlg(() => new HttpDeviceClient(addr), Some(a.name))
      case "amberAlg.AmberAlg" =>
        // the AMBER detector (testRunner/amberAlg.py:22-54): a keras
        // GRU/LSTM stack over (125, 2) accel+HR rows, pSeizure > 0.5
        // fixed (amberAlg.py:117), sdThresh low-movement gate
        // defaulting to 5.0 (:42). The ARCHITECTURE is in-engine as
        // the amber family (LstmStack/ConvPipe, ml4b-ml4i); the alias
        // deploys those artifacts through the same nnAlg window seam —
        // a .keras modelFname hits modelPath()'s named deployment-seam
        // raise exactly like nnAlg entries.
        failUnknown(src, sec, st.keys, AmberSettingKeys)
        val path = modelPath()
        val base = nnBase().copy(sdThresh = num("sdThresh", 5.0))
        windowAlg(path, base, Set("graft-lstm2", "graft-convpipe"),
          "an amber-family artifact (graft-lstm2/convpipe — the " +
            "LSTM-stack and conv-pipe lines amberAlg's model.py builds)")
      case other => throw new IllegalArgumentException(
        s"$src: unknown algorithm class '$other' — the reference ships " +
          "osdAlg.OsdAlg, osdAlg_v1.OsdAlg_v1, hrAlg.HrAlg, nnAlg.NnAlg, " +
          "specAlg.SpecAlg, deviceAlg.DeviceAlg, amberAlg.AmberAlg. " +
          "Declined dead legacy: svmAlg imports the REMOVED nnTraining " +
          "package (unrunnable in the snapshot), lstmAlg is an " +
          "abandoned stub (getAlarmState is a FIXME returning 0, " +
          "lstmAlg.py:58-65), jamie1 loads a joblib-pickled model " +
          "(jamie1.py — a Python-runtime artifact, the same foreign " +
          "deployment seam as .keras/.pte; its spectral path is " +
          "osdAlg's, already in-engine)")
    }
  }

  private def docInline(a: TestRunnerAlg): String = s"alg '${a.name}'"

  /** ENABLED algorithms as factories for
    * [[graft.streaming.Replay.replayBatchWith]] — disabled entries are
    * parsed structurally in [[testRunnerConfig]] but not built (their
    * settings keys validate at build time), matching the reference's
    * enabled gate (testRunner.py:131). The factories are serializable
    * closures: one fresh detector per (event, alg) group on the
    * executors, the device-farm scale shape. */
  def enabledAlgFactories(cfg: TestRunnerConfig, modelDir: String = ".")
      : Seq[() => graft.streaming.SdAlg] =
    cfg.algorithms.filter(_.enabled).map(a => () => buildAlg(a, modelDir))

  /** Top-level key validation + `randomSeed`. Sections validate lazily
    * (each accessor), the top level validates here.
    *
    * `modelType`/`modelBackend` (shipped in nnConfig_test.json) are the
    * legacy FRAMEWORK selectors — nnTrainer.py:40-57 maps them to
    * 'tensorflow' vs 'pytorch', i.e. which Python runtime executes the
    * same architecture. The engine's one runtime IS the replacement for
    * that seam; the semantic choice of architecture family rides
    * `modelConfig.modelClass` (the importlib dispatch, [[modelClass]]),
    * so the backend knobs parse structurally and select nothing. */
  private val TopKeys = Set(
    "debug", "randomSeed", "osdbCfg", "osdbConfig", "dataFileNames",
    "eventFilters", "dataProcessing", "modelConfig",
    "modelType", "modelBackend")

  def validateTop(doc: Doc): Doc = {
    failUnknown(doc.source, "", doc.fields.keys, TopKeys)
    doc
  }

  /** `runOptimisation.py`'s knob application (runOptimisation.py:49-54):
    * a swept parameter lands at the FIRST matching level of
    * top-level → `modelConfig` → `dataProcessing`. One deviation,
    * consistent with the engine-wide withKnob convention: the
    * reference writes NOTHING when the param matches no level and
    * silently re-runs the baseline config — here that raises, because
    * a typo'd sweep param re-measuring the baseline k times is the
    * exact failure mode the fail-loud contract exists for. */
  def withParam(doc: Doc, param: String, value: JValue): Doc = {
    def setIn(section: String): Option[Doc] = doc.fields.get(section) match {
      case Some(JObject(fs)) if fs.exists(_._1 == param) =>
        Some(Doc(doc.fields.updated(section,
          JObject(fs.map { case (k, v) => if (k == param) (k, value) else (k, v) })),
          doc.source))
      case _ => None
    }
    if (doc.fields.contains(param))
      Doc(doc.fields.updated(param, value), doc.source)
    else setIn("modelConfig").orElse(setIn("dataProcessing")).getOrElse(
      throw new IllegalArgumentException(
        s"${doc.source}: sweep param '$param' matches no top-level, " +
          "modelConfig, or dataProcessing key — the reference would " +
          "silently re-run the baseline here (runOptimisation.py:49-54)"))
  }

  def randomSeed(doc: Doc): Option[Long] =
    doc.fields.get("randomSeed").map {
      case JInt(n) => n.toLong
      case JLong(n) => n
      case other => throw new IllegalArgumentException(
        s"${doc.source}: randomSeed must be an integer, got $other")
    }
}
