package graft.operators

import org.apache.spark.sql.Dataset
import graft.functions.{EpochFeatures, Filters, Signal}
import graft.model.Osdb
import graft.operators.Flatten.FlatDp

/** The feature-extraction stage (SURVEY §3.1 / §2.5 W5 + §2.9 P8/P12/P13,
  * nnTraining2/extractFeatures.py:144-212,265-561):
  *
  *   group by event → sort by time → interpolate HR/O2 onto the 25 Hz
  *   sample timebase (P13) → optional 0.5 Hz order-2 high-pass (P8) →
  *   sliding epochs of `window` samples stepping `step` (W5) → the
  *   P12 feature vector per epoch.
  *
  * Spark shape: flatMapGroups keyed by eventId — the reference's
  * multiprocessing.Pool per-event fan-out becomes tasks-per-group; no
  * file handoffs between stages, one lineage end to end. Features are a
  * map column (select into columns via [[EpochFeatures.FeatureNames]]).
  */
object FeatureExtract {

  case class EpochRow(
      eventId: String,
      userId: String,
      typeStr: String,
      `type`: Int,
      tsSec: Long,              // time of the epoch's last sample's datapoint
      osdAlarmState: Long,
      osdSpecPower: Double,
      osdRoiPower: Double,
      hr: Double,
      o2sat: Double,
      startSample: Int,
      endSample: Int,
      features: Map[String, Double])

  case class Config(
      window: Int = 125,        // nnConfig.json dataProcessing defaults
      step: Int = 125,
      highPassHz: Double = 0.5, // 0 disables
      sampleFreq: Double = 25.0)

  /** One group's validated, sorted, axis-concatenated, filtered record:
    * the shared per-event front half of [[extract]] and
    * [[extractHist]]. Returns null for an empty group. */
  private final class EventRecord(
      val sorted: Array[FlatDp],
      val fx: Array[Double], val fy: Array[Double], val fz: Array[Double],
      val hrS: Array[Double], val o2S: Array[Double])

  private def buildRecord(it: Iterator[FlatDp], cfg: Config,
                          validate: Boolean): EventRecord = {
    val n = Osdb.SamplesPerDatapoint
    val sorted0 = it.toArray.sortBy(d => (d.tsSec, d.seq))
    val sorted =
      if (validate) Flatten.validateGroupSorted(sorted0) else sorted0
    if (sorted.isEmpty) return null
    val nDp = sorted.length
    val total = nDp * n
    // concatenate axes; absent 3D data contributes zero axes, exactly
    // like the reference's zero-filled X/Y/Z CSV columns
    val x = new Array[Double](total)
    val y = new Array[Double](total)
    val z = new Array[Double](total)
    var d = 0
    while (d < nDp) {
      val a3 = sorted(d).rawData3D
      if (a3 != null && a3.length >= 3) {
        var i = 0
        val m = math.min(n, a3.length / 3)
        while (i < m) {
          x(d * n + i) = a3(3 * i)
          y(d * n + i) = a3(3 * i + 1)
          z(d * n + i) = a3(3 * i + 2)
          i += 1
        }
      }
      d += 1
    }
    // P13: per-datapoint HR/O2 anchored at each datapoint's last
    // sample, linearly interpolated across the sample timebase
    val anchor = Array.tabulate(nDp)(i => (i * n + n - 1).toDouble)
    val hrS = Signal.interpOnto(total, anchor, sorted.map(_.hr))
    val o2S = Signal.interpOnto(total, anchor, sorted.map(_.o2sat))
    // P8 high-pass each axis over the whole event record
    val (fx, fy, fz) =
      if (cfg.highPassHz > 0) {
        val bq = Filters.butterHighPass(cfg.highPassHz, cfg.sampleFreq)
        (Filters.filtfilt(bq, x), Filters.filtfilt(bq, y), Filters.filtfilt(bq, z))
      } else (x, y, z)
    new EventRecord(sorted, fx, fy, fz, hrS, o2S)
  }

  /** `validate = true` runs the P14 continuity pass
    * ([[Flatten.validateGroupSorted]]) inside THIS group iteration —
    * `extract(validateAndFill(dps))` semantics at ONE per-event shuffle
    * instead of two (RunSequenceSpec pins the equality). The composed
    * training pipeline ([[graft.ml.RunSequence]]) always wants both;
    * standalone P14 callers keep [[Flatten.validateAndFill]]. */
  def extract(dps: Dataset[FlatDp], cfg: Config = Config(),
              validate: Boolean = false): Dataset[EpochRow] = {
    val spark = dps.sparkSession
    import spark.implicits._
    val n = Osdb.SamplesPerDatapoint
    dps.groupByKey(_.eventId).flatMapGroups { (eventId, it) =>
      val rec = buildRecord(it, cfg, validate)
      if (rec == null) Iterator.empty
      else {
        val sorted = rec.sorted
        val nDp = sorted.length
        val total = nDp * n
        // W5 sliding epochs
        (0 to total - cfg.window by cfg.step).iterator.map { start =>
          val end = start + cfg.window
          val ex = rec.fx.slice(start, end)
          val ey = rec.fy.slice(start, end)
          val ez = rec.fz.slice(start, end)
          val feats = EpochFeatures.epochFeatures(ex, ey, ez, cfg.sampleFreq)
          val lastDp = sorted(math.min((end - 1) / n, nDp - 1))
          EpochRow(eventId, lastDp.userId, lastDp.typeStr, lastDp.`type`,
            lastDp.tsSec, lastDp.osdAlarmState, lastDp.osdSpecPower,
            lastDp.osdRoiPower, rec.hrS(end - 1), rec.o2S(end - 1),
            start, end, feats)
        }
      }
    }
  }

  /** The W5+P12 epoch row with its W7 history ATTACHED, map-free:
    * `hist` holds, for each feature in [[EpochFeatures.FeatureNames]]
    * (sorted) order, the `historyN` lag values `t-0 .. t-(n-1)` followed
    * by their mean — exactly [[graft.operators.FeatureHistory.addHistory]]'s
    * derived-column order, so `array_to_vector(hist)` IS the assembled
    * training basis. */
  case class HistEpochRow(
      eventId: String,
      `type`: Int,
      tsSec: Long,
      startSample: Int,
      hist: Array[Double])

  /** FUSED P14 validate → P12 extract → W7 history, one per-event group
    * pass (r19 optimization round, guide §2.4 "remove shuffles
    * outright" + §1.2 step 1): the separate
    * `addHistory(flatEpochs(...))` form re-shuffled the epoch rows by
    * the SAME eventId key the extraction group pass had just used, then
    * paid a non-codegen WindowExec evaluating |features|×(historyN−1)
    * lag functions plus a 720-column analyzer/codegen pass per
    * execution (OPTIMIZATION_r19.md: the history stage cost ~2.5 s of which
    * ~1.5 s was plan-time even on sf0.001). Here the lag window is the
    * group iterator itself: epochs are produced in (tsSec,
    * startSample) order, so "previous row" is the previous epoch; rows
    * without full history (the first historyN−1 of each event) are not
    * emitted, exactly addHistory's deepest-lag-null drop (feature
    * values are never null). The per-feature mean accumulates in the
    * same t-0, t-1, … IEEE order as addHistory's lag-sum reduce.
    *
    * RunSequenceSpec pins this fused frame row-for-row against the
    * unfused `addHistory(flatEpochs(...))` composition. */
  def extractHist(dps: Dataset[FlatDp], cfg: Config = Config(),
                  historyN: Int = 3,
                  validate: Boolean = true): Dataset[HistEpochRow] = {
    require(historyN >= 1, s"historyN must be >= 1: $historyN")
    val spark = dps.sparkSession
    import spark.implicits._
    val n = Osdb.SamplesPerDatapoint
    // sorted-name-major hist layout: hist index of (feature j, lag k)
    // = j*(historyN+1)+k, mean at j*(historyN+1)+historyN. The kernel
    // emits values in FeatureKeyOrder; idx maps sorted position j to
    // the kernel position.
    val idx: Array[Int] = EpochFeatures.FeatureNames
      .map(EpochFeatures.FeatureKeyOrder.indexOf).toArray
    val nFeat = idx.length
    dps.groupByKey(_.eventId).flatMapGroups { (eventId, it) =>
      val rec = buildRecord(it, cfg, validate)
      if (rec == null) Iterator.empty
      else {
        val sorted = rec.sorted
        val nDp = sorted.length
        val total = nDp * n
        // ring of the last historyN epochs' value vectors (kernel order)
        val ring = new Array[Array[Double]](historyN)
        var emitted = 0
        (0 to total - cfg.window by cfg.step).iterator.flatMap { start =>
          val end = start + cfg.window
          val vals = EpochFeatures.epochFeatureValues(
            rec.fx.slice(start, end), rec.fy.slice(start, end),
            rec.fz.slice(start, end), cfg.sampleFreq)
          val slot = emitted % historyN
          ring(slot) = vals
          emitted += 1
          if (emitted < historyN) Iterator.empty
          else {
            val hist = new Array[Double]((historyN + 1) * nFeat)
            var j = 0
            while (j < nFeat) {
              val src = idx(j)
              val base = j * (historyN + 1)
              var k = 0
              var sum = 0.0
              while (k < historyN) {
                // lag k = the epoch k steps back: ring slot (slot-k)
                val v = ring((slot - k + historyN) % historyN)(src)
                hist(base + k) = v
                sum += v
                k += 1
              }
              hist(base + historyN) = sum / historyN
              j += 1
            }
            val lastDp = sorted(math.min((end - 1) / n, nDp - 1))
            Iterator.single(HistEpochRow(eventId, lastDp.`type`,
              lastDp.tsSec, start, hist))
          }
        }
      }
    }
  }
}
