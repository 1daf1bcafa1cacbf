package graft.functions

import scala.collection.immutable.ListMap

/** P12: the per-epoch feature vector (SURVEY §2.9) —
  * ~36 features x 4 sources (x, y, z, magnitude), mirroring
  * nnTraining2/accelFeatures.py:42-106 including its quirks:
  *
  *   - zcr is np.sum(np.diff(np.sign(d)))/(2n) — a *telescoping* sum that
  *     reduces to (sign(d_last)-sign(d_first))/(2n). Preserved verbatim;
  *     the classic rate lives in [[Signal.zeroCrossingRate]].
  *   - "Welch" with nperseg=None collapses to a single hann-windowed,
  *     mean-detrended periodogram with density scaling.
  *   - entropy is log2 with a +1e-12 guard inside the log argument.
  *   - band masks are inclusive on both edges (freq >= lo & freq <= hi).
  */
object EpochFeatures {

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit, map_keys, map_values, raise_error, try_element_at, when}

  /** The 14 named bands (nnTraining2/extractFeatures.py:162-178). */
  val FreqBands: Seq[(String, (Double, Double))] = Seq(
    "osdRoi" -> (3.0, 8.0),
    "osdSpec" -> (0.5, 12.5),
    "osdFlap" -> (2.0, 4.0),
    "seizure_main" -> (1.0, 4.0),
    "initial_clonus" -> (3.0, 5.0),
    "late_clonus" -> (1.0, 2.0),
    "1-3Hz" -> (1.0, 3.0),
    "2-4Hz" -> (2.0, 4.0),
    "3-5Hz" -> (3.0, 5.0),
    "4-6Hz" -> (4.0, 6.0),
    "5-7Hz" -> (5.0, 7.0),
    "6-8Hz" -> (6.0, 8.0),
    "7-9Hz" -> (7.0, 9.0),
    "8-10Hz" -> (8.0, 10.0))

  val Sources: Seq[String] = Seq("x", "y", "z", "magnitude")

  /** Single-segment Welch PSD, density scaling: mean-detrend, hann
    * window, one-sided |X|^2 / (fs * sum(w^2)) with interior doubling.
    * Returns (freqs, psd). */
  def welchPsd(x: Array[Double], fs: Double): (Array[Double], Array[Double]) = {
    val n = x.length
    if (n == 0) return (Array.empty, Array.empty)
    val m = Signal.mean(x)
    val w = Signal.hannWin(n)
    var wss = 0.0
    val v = new Array[Double](n)
    var i = 0
    while (i < n) { v(i) = (x(i) - m) * w(i); wss += w(i) * w(i); i += 1 }
    val (re, im) = Signal.dft(v)
    val scale = 1.0 / (fs * wss)
    val half = n / 2
    val psd = new Array[Double](half + 1)
    val freqs = new Array[Double](half + 1)
    var k = 0
    while (k <= half) {
      var p = Signal.magnitudeSq(re(k), im(k)) * scale
      if (k != 0 && !(n % 2 == 0 && k == half)) p *= 2
      psd(k) = p
      freqs(k) = k * fs / n
      k += 1
    }
    (freqs, psd)
  }

  /** The telescoping-sign "zero-crossing rate" quirk. */
  def zcrQuirk(d: Array[Double]): Double = {
    if (d.isEmpty) return 0.0
    (math.signum(d(d.length - 1)) - math.signum(d(0))) / (2.0 * d.length)
  }

  /** Per-source feature KEYS, hoisted: the kernel runs once per epoch
    * per source, and building ~36 suffixed strings there cost ~4.3M
    * string concatenations per 30k-epoch run (r19 opt round, guide
    * step 2 "per-task work"). Key ORDER here is the map's insertion
    * order — [[FeatureKeyOrder]] and the positional [[featureCols]]
    * reader depend on it, and the runtime key guard fails loudly if it
    * ever drifts. */
  private val ScalarKeyNames = Array(
    "activity_count", "mean", "std", "skewness", "kurtosis", "zcr",
    "mean_freq", "entropy")
  private case class SourceKeys(
      scalars: Array[String],                    // ScalarKeyNames order
      bands: Array[(String, String, Double, Double)]) // (total, peak, lo, hi)
  private val KeysBySource: Map[String, SourceKeys] =
    Sources.map { s =>
      s -> SourceKeys(
        ScalarKeyNames.map(f => s"${f}_$s"),
        FreqBands.map { case (b, (lo, hi)) =>
          (s"total_power_${s}_$b", s"peak_psd_${s}_$b", lo, hi)
        }.toArray)
    }.toMap

  /** Features for one source series; keys carry the `_source` suffix. */
  def sourceFeatures(name: String, d: Array[Double], fs: Double): ListMap[String, Double] = {
    val keys = KeysBySource(name)
    val vals = new Array[Double](FeaturesPerSource)
    sourceFeatureValuesInto(vals, 0, keys, d, fs)
    val out = ListMap.newBuilder[String, Double]
    var i = 0
    while (i < keys.scalars.length) { out += keys.scalars(i) -> vals(i); i += 1 }
    var b = 0
    while (b < keys.bands.length) {
      val (t, p, _, _) = keys.bands(b)
      out += t -> vals(keys.scalars.length + 2 * b)
      out += p -> vals(keys.scalars.length + 2 * b + 1)
      b += 1
    }
    out.result()
  }

  private val FeaturesPerSource = ScalarKeyNames.length + 2 * FreqBands.length

  /** The numeric kernel for one source, writing into `out` at `off` in
    * the [[FeatureKeyOrder]] per-source layout (8 scalars, then
    * (total, peak) per band). Values and IEEE evaluation order are
    * identical to the pre-r19 map-building kernel. */
  private def sourceFeatureValuesInto(out: Array[Double], off: Int,
      keys: SourceKeys, d: Array[Double], fs: Double): Unit = {
    val (freqs, psd) = welchPsd(d, fs)
    var tot = 0.0
    var k = 0
    while (k < psd.length) { tot += psd(k); k += 1 }
    var meanFreq = 0.0; var entropy = 0.0
    if (tot > 0) {
      var num = 0.0; var h = 0.0
      k = 0
      while (k < psd.length) {
        num += freqs(k) * psd(k)
        val q = psd(k) / tot
        h -= q * (math.log(q + 1e-12) / math.log(2.0))
        k += 1
      }
      meanFreq = num / tot; entropy = h
    }
    out(off) = Signal.rms(d)
    out(off + 1) = Signal.mean(d)
    out(off + 2) = Signal.std(d)
    out(off + 3) = Signal.skewness(d)
    out(off + 4) = Signal.kurtosis(d)
    out(off + 5) = zcrQuirk(d)
    out(off + 6) = meanFreq
    out(off + 7) = entropy
    var b = 0
    while (b < keys.bands.length) {
      val (_, _, lo, hi) = keys.bands(b)
      var total = 0.0; var peak = 0.0; var any = false
      k = 0
      while (k < psd.length) {
        if (freqs(k) >= lo && freqs(k) <= hi) {
          total += psd(k); if (!any || psd(k) > peak) peak = psd(k); any = true
        }
        k += 1
      }
      out(off + 8 + 2 * b) = if (any) total else 0.0
      out(off + 8 + 2 * b + 1) = if (any) peak else 0.0
      b += 1
    }
  }

  /** The full epoch feature VECTOR in [[FeatureKeyOrder]] — the
    * map-free kernel for consumers that read features positionally
    * (the fused extract+history path): same math, no per-epoch string
    * keys, no ListMap, no Catalyst map conversion. */
  def epochFeatureValues(x: Array[Double], y: Array[Double], z: Array[Double],
                         fs: Double = 25.0): Array[Double] = {
    val mag = Array.tabulate(x.length)(i =>
      math.sqrt(x(i) * x(i) + y(i) * y(i) + z(i) * z(i)))
    val all = Map("x" -> x, "y" -> y, "z" -> z, "magnitude" -> mag)
    val out = new Array[Double](Sources.length * FeaturesPerSource)
    var s = 0
    while (s < Sources.length) {
      val name = Sources(s)
      sourceFeatureValuesInto(out, s * FeaturesPerSource,
        KeysBySource(name), all(name), fs)
      s += 1
    }
    out
  }

  /** Full epoch feature vector from per-axis series. magnitude is
    * sqrt(x^2+y^2+z^2) computed here, as the reference does. */
  def epochFeatures(x: Array[Double], y: Array[Double], z: Array[Double],
                    fs: Double = 25.0): ListMap[String, Double] = {
    // ONE numeric kernel ([[epochFeatureValues]]); the map view zips the
    // fixed key order over it (same insertion order as the pre-r19
    // per-source builders, so serialized maps are unchanged)
    val vals = epochFeatureValues(x, y, z, fs)
    val out = ListMap.newBuilder[String, Double]
    var i = 0
    while (i < FeatureKeyOrder.length) {
      out += FeatureKeyOrder(i) -> vals(i)
      i += 1
    }
    out.result()
  }

  /** The features map's INSERTION order (per-source blocks, scalars
    * then band pairs) — the contract the positional [[featureCols]]
    * reader indexes into. Derived from the same hoisted key tables the
    * kernel writes from, so it cannot drift from the emitted maps. */
  val FeatureKeyOrder: Vector[String] =
    Sources.flatMap { s =>
      val keys = KeysBySource(s)
      keys.scalars.toSeq ++ keys.bands.flatMap { case (t, p, _, _) => Seq(t, p) }
    }.toVector

  /** Fail-loud projection of the features MAP column into named
    * columns, one per requested feature, in O(1) per feature.
    *
    * `element_at(map, key)` on Catalyst MapData is a LINEAR key scan —
    * projecting all 144 features that way cost O(144²) string compares
    * per epoch row and measurably dominated the composed ml2/cfg1/ml9
    * lineages (OPTIMIZATION_r19.md: the projection alone 4.5 s → 0.9 s at
    * sf0.1). The kernel emits keys in the fixed [[FeatureKeyOrder]],
    * so each feature reads positionally from map_values; the key at
    * that position is verified per row, so a renamed, missing or
    * reordered feature still breaks the pipeline loudly (same contract
    * as the old per-name null check), never silently misreads. */
  def featureCols(names: Seq[String], mapCol: Column = col("features")): Seq[Column] = {
    val ks = map_keys(mapCol)
    val vs = map_values(mapCol)
    names.map { nm =>
      val i = FeatureKeyOrder.indexOf(nm)
      require(i >= 0, s"unknown epoch feature '$nm'")
      // the value-null check restores the replaced per-name projection's
      // loudness on a present key with a NULL value (r19 ADVICE) —
      // unreachable from the kernel's non-nullable Double map encoder,
      // but this method is public and accepts an arbitrary mapCol; one
      // codegen null check per read, not a second map probe
      val v = try_element_at(vs, lit(i + 1))
      when(try_element_at(ks, lit(i + 1)) === nm && v.isNotNull, v)
        .otherwise(raise_error(lit(s"epoch features missing '$nm'")))
        .as(nm)
    }
  }

  /** Stable sorted feature-name list (the feature CSV enforces sorted
    * feature columns — extractFeatures.py:528-534). */
  val FeatureNames: Seq[String] = {
    val perSource = Seq("activity_count", "mean", "std", "skewness",
      "kurtosis", "zcr", "mean_freq", "entropy").map(f => (s: String) => s"${f}_$s") ++
      FreqBands.flatMap { case (b, _) =>
        Seq((s: String) => s"total_power_${s}_$b", (s: String) => s"peak_psd_${s}_$b")
      }
    Sources.flatMap(s => perSource.map(f => f(s))).sorted
  }
}
