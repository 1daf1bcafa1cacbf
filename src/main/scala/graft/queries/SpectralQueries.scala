package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Signal, TimeParse}
import graft.operators._
import graft.sources.SimulatedEvents
import graft.streaming.{NnBuffer, Replay, ReplayDp}

/** The P-family spectral oracled queries (p1-p13 + s12): DFT bins,
  * window sums, band/roi power, spectrum ratio, alarm state, filtfilt,
  * Welch PSD, band peaks, spectral shape, epoch features, HR interp —
  * split out of [[DomainQueries]] (round-17 registry-size split;
  * behavior and oracle hashes unchanged). */
object SpectralQueries {
  import OsdbFixture.sqlBase
  import DomainQueries._

  // --------------------------------------------------- P: spectral (oracled)

  /** P1+P3 (getFFT + |z|² magnitude quirk, `osdAlgTools.py:95-105` and
    * `:6-14`): the raw DFT bins themselves, hash-matched at the planted
    * tone bins. An integer-bin tone A·cos(2πfi/n) is orthogonal to
    * every other bin, so the UNWINDOWED spectrum (the P1 quirk: the
    * window is computed but never applied) has the exact closed form
    * |X_0| = offset·n, |X_f| = A·n/2 at the tone bin, and the P3 quirk
    * output |X_f|² = (A·n/2)². With n=125, offset=1000, A1=4(1+k%3),
    * A2=4(1+d%2): dc = 125000, |X_f1|·1000 = 250000·(1+k%3),
    * |X_f2|·1000 = 250000·(1+d%2), |X_f1|² = 62500·(1+k%3)² — all
    * integers; naive-summation error ≤ 124·ε·Σ|x| ≈ 4e-9 against a 0.5
    * rounding margin. If a window were ever (incorrectly) applied, the
    * tone's energy would leak across bins and every one of these pins
    * would shift — this entry is the direct regression gate on the
    * reference's unapplied-window quirk. */
  def p1FftBins(s: SparkSession, d: String): DataFrame = {
    val f1 = (lit(15) + (col("k") + col("d")) % 24).cast("int")
    val f2 = (lit(41) + (col("k") + col("d")) % 21).cast("int")
    OsdbFixture.toneDps(s, d)
      .withColumn("b", fftBinsUdf(col("rawData"), f1, f2))
      .select(col("e"), col("d"),
        round(col("b._1")).cast("long").as("dc_mag"),
        round(col("b._2") * 1000).cast("long").as("mag_f1_x1000"),
        round(col("b._3") * 1000).cast("long").as("mag_f2_x1000"),
        round(col("b._4")).cast("long").as("magsq_f1"))
  }

  val p1Sql: String = sqlBase +
    """SELECT e, d,
      |  CAST(125000 AS BIGINT) AS dc_mag,
      |  CAST(250000 * (1 + k % 3) AS BIGINT) AS mag_f1_x1000,
      |  CAST(250000 * (1 + d % 2) AS BIGINT) AS mag_f2_x1000,
      |  CAST(62500 * (1 + k % 3) * (1 + k % 3) AS BIGINT) AS magsq_f1
      |FROM dpx""".stripMargin

  /** P2 (window generators, `osdAlgTools.py:34-42` raisedCosine et al.):
    * coefficient sums of the real [[Signal.window]] kernels at the
    * device epoch length n=125, against their closed forms. With
    * denominator n-1 = 124, Σcos(2πi/124) over i=0..124 is one full
    * period (0) plus the repeated endpoint (1), so:
    * hann = 0.5·125 − 0.5·1 = 62; hamming = 0.54·125 − 0.46·1 = 67.04;
    * triangle = 125 − Σ|i−62.5|/62.5 = 125 − 3906.5/62.5 = 62.496;
    * rect = 125. Float error ~1e-13 against the 0.5/1000 margin. */
  def p2WindowSums(s: SparkSession, d: String): DataFrame =
    s.range(1).select(
      round(winSumUdf(lit("rect"), lit(125)) * 1000).cast("long").as("rect_x1000"),
      round(winSumUdf(lit("hann"), lit(125)) * 1000).cast("long").as("hann_x1000"),
      round(winSumUdf(lit("hamming"), lit(125)) * 1000).cast("long").as("hamming_x1000"),
      round(winSumUdf(lit("triangle"), lit(125)) * 1000).cast("long").as("triangle_x1000"))

  val p2Sql: String =
    """SELECT CAST(125000 AS BIGINT) AS rect_x1000,
      |  CAST(62000 AS BIGINT) AS hann_x1000,
      |  CAST(67040 AS BIGINT) AS hamming_x1000,
      |  CAST(62496 AS BIGINT) AS triangle_x1000""".stripMargin

  /** P4/P5 (getSpecPower / getRoiPower over planted pure-tone
    * datapoints): the real [[Signal.specPower]]/[[Signal.roiPower]] DFT
    * path, hash-matched against the closed-form integer band powers of
    * the [[OsdbFixture.toneDps]] tones (see the derivation there —
    * integer-bin tones make both powers exact integers; round() bridges
    * the ~1e-9 DFT float error). */
  def p4BandPower(s: SparkSession, d: String): DataFrame =
    OsdbFixture.toneDps(s, d)
      .select(col("e"), col("d"),
        round(specPowerUdf(col("rawData"))).cast("long").as("spec_power"),
        round(roiPowerUdf(col("rawData"))).cast("long").as("roi_power"))

  val p4Sql: String = sqlBase +
    """SELECT e, d,
      |  CAST((a1*a1 + a2*a2) * 125 // 8 AS BIGINT) AS spec_power,
      |  CAST(a1*a1 * 15625 // 100 AS BIGINT) AS roi_power
      |FROM (SELECT e, d, 4*(1 + k % 3) AS a1, 4*(1 + d % 2) AS a2 FROM dpx)""".stripMargin

  /** P6 (getSpectrumRatio over the tone fixture): the real
    * [[Signal.spectrumRatio]] — 10*roi/spec gated on specPower >
    * alarmThresh(900), else 0 — has an exact closed form on the tones:
    * spec = (A1²+A2²)·125/8 and roi = A1²·156.25, so the gated ratio is
    * 100·A1²/(A1²+A2²). Fixture spec powers are {500,1250,2000,2500,3250}
    * — none near the 900 gate, so the ~1e-9 DFT float error cannot flip
    * it. The ×1000 round() bridge keeps the one non-integer ratio
    * (A1=12,A2=8 → 69230.769…) > 0.2 away from the rounding boundary —
    * >1e5 sigma against the DFT error. */
  def p6SpectrumRatio(s: SparkSession, d: String): DataFrame =
    OsdbFixture.toneDps(s, d)
      .select(col("e"), col("d"),
        round(spectrumRatioUdf(col("rawData")) * 1000).cast("long").as("ratio_x1000"))

  val p6Sql: String = sqlBase +
    """SELECT e, d,
      |  CAST(ROUND(CASE WHEN (a1*a1 + a2*a2) * 125.0 / 8 > 900
      |       THEN 100000.0 * a1*a1 / (a1*a1 + a2*a2) ELSE 0 END) AS BIGINT)
      |    AS ratio_x1000
      |FROM (SELECT e, d, 4*(1 + k % 3) AS a1, 4*(1 + d % 2) AS a2 FROM dpx)""".stripMargin

  /** P7 (getAlarmState over the tone fixture): the real
    * [[Signal.alarmState]] — 1 iff spectrumRatio > alarmRatioThresh(57).
    * Fixture gated ratios are {0, 20, 50, 69.23, 80, 90}: the nearest to
    * the 57 threshold is 9 away, so the DFT error cannot flip a state.
    * Completes the oracled device-algorithm chain P4 → P5 → P6 → P7. */
  def p7AlarmState(s: SparkSession, d: String): DataFrame =
    OsdbFixture.toneDps(s, d)
      .select(col("e"), col("d"),
        alarmStateUdf(col("rawData")).cast("long").as("alarm_state"))

  val p7Sql: String = sqlBase +
    """SELECT e, d,
      |  CAST(CASE WHEN (a1*a1 + a2*a2) * 125.0 / 8 > 900
      |            AND 100.0 * a1*a1 / (a1*a1 + a2*a2) > 57 THEN 1 ELSE 0 END
      |       AS BIGINT) AS alarm_state
      |FROM (SELECT e, d, 4*(1 + k % 3) AS a1, 4*(1 + d % 2) AS a2 FROM dpx)""".stripMargin

  /** P8 (Butterworth high-pass filtfilt, `accelFeatures.py:22-40` /
    * `extractFeatures.py:214-261`): the real [[graft.functions.Filters]]
    * zero-phase filter over an n=1000 tone fixture, hash-matched against
    * the textbook closed form. A zero-phase order-2 high-pass passes
    * tone A·cos(wi) as A·|H(w)|²·cos(wi); the oracle states |H(w)|² from
    * the bilinear-transform biquad coefficients (the same formula the
    * Scala `butterHighPass` derives) and numerically sums the closed
    * form's RMS over the centre window [250, 750), where the filtfilt
    * startup transient has decayed to < 1e-9 of the signal. n=1000 bins
    * put f1 at 0.375-0.95 Hz — straddling the 0.5 Hz corner, so the
    * pinned gains sweep the filter's transition band rather than its
    * flat tails. graft.ToneGainSpec pins the numerics: max
    * |kernel - closedForm| = 9.0e-8 x1000-units against a worst-case
    * rounding-boundary margin of 1.1e-4 — three orders of safety. */
  def p8FiltfiltRms(s: SparkSession, d: String): DataFrame =
    OsdbFixture.toneDps(s, d, n = 1000)
      .select(col("e"), col("d"),
        round(hpRmsUdf(col("rawData")) * 1000).cast("long").as("hp_rms_x1000"))

  val p8Sql: String = sqlBase.stripSuffix("\n") +
    """,
      |hpc AS (
      |  SELECT nrm AS b0, -2.0*nrm AS b1, nrm AS b2,
      |         2.0*(wc*wc - 1.0)*nrm AS fa1,
      |         (1.0 - kk*wc + wc*wc)*nrm AS fa2
      |  FROM (SELECT wc, kk, 1.0/(1.0 + kk*wc + wc*wc) AS nrm
      |        FROM (SELECT tan(pi()*0.5/25.0) AS wc, sqrt(2.0) AS kk))),
      |tone AS (
      |  SELECT e, d, 4*(1 + k % 3) AS a1, 4*(1 + d % 2) AS a2,
      |         2*pi()*(15 + (k+d) % 24)/1000.0 AS w1,
      |         2*pi()*(41 + (k+d) % 21)/1000.0 AS w2
      |  FROM dpx),
      |gains AS (
      |  SELECT e, d, a1, a2, w1, w2,
      |    ((b0 + b1*cos(w1) + b2*cos(2*w1))*(b0 + b1*cos(w1) + b2*cos(2*w1))
      |     + (b1*sin(w1) + b2*sin(2*w1))*(b1*sin(w1) + b2*sin(2*w1)))
      |    / ((1.0 + fa1*cos(w1) + fa2*cos(2*w1))*(1.0 + fa1*cos(w1) + fa2*cos(2*w1))
      |     + (fa1*sin(w1) + fa2*sin(2*w1))*(fa1*sin(w1) + fa2*sin(2*w1))) AS g1,
      |    ((b0 + b1*cos(w2) + b2*cos(2*w2))*(b0 + b1*cos(w2) + b2*cos(2*w2))
      |     + (b1*sin(w2) + b2*sin(2*w2))*(b1*sin(w2) + b2*sin(2*w2)))
      |    / ((1.0 + fa1*cos(w2) + fa2*cos(2*w2))*(1.0 + fa1*cos(w2) + fa2*cos(2*w2))
      |     + (fa1*sin(w2) + fa2*sin(2*w2))*(fa1*sin(w2) + fa2*sin(2*w2))) AS g2
      |  FROM tone, hpc),
      |ys AS (
      |  SELECT e, d, a1*g1*cos(w1*i) + a2*g2*cos(w2*i) AS y
      |  FROM (SELECT *, unnest(range(250, 750)) AS i FROM gains))
      |SELECT e, d,
      |  CAST(ROUND(sqrt(SUM(y*y)/500.0)*1000.0) AS BIGINT) AS hp_rms_x1000
      |FROM ys GROUP BY e, d""".stripMargin

  /** P10 (band total power + peak PSD over [3, 8] Hz,
    * `accelFeatures.py:84-96`): the real [[Signal.bandPower]] DFT path
    * over the n=125 tone fixture. Only the f1 tone (3.0-7.6 Hz) lands in
    * the band, so total = peak = A1²/2 exactly — an integer after the
    * ×1000 bridge (A1 ∈ {4,8,12} → 8000/32000/72000), a 0.5-unit margin
    * against the DFT's ~1e-9 float error (ToneGainSpec). */
  def p10BandPeak(s: SparkSession, d: String): DataFrame =
    OsdbFixture.toneDps(s, d)
      .select(col("e"), col("d"), bandPowerUdf(col("rawData")).as("bp"))
      .select(col("e"), col("d"),
        round(col("bp").getItem(0) * 1000).cast("long").as("band_total_x1000"),
        round(col("bp").getItem(1) * 1000).cast("long").as("band_peak_x1000"))

  val p10Sql: String = sqlBase +
    """SELECT e, d,
      |  CAST(a1*a1*500 AS BIGINT) AS band_total_x1000,
      |  CAST(a1*a1*500 AS BIGINT) AS band_peak_x1000
      |FROM (SELECT e, d, 4*(1 + k % 3) AS a1 FROM dpx)""".stripMargin

  /** P11 (spectral centroid + Shannon entropy, `accelFeatures.py:97-104`):
    * the real [[Signal.spectralCentroid]]/[[Signal.spectralEntropy]] DFT
    * path over the n=125 tone fixture, whose one-sided PSD has exactly
    * three live bins — DC (1000² = 1e6) and the two tones (A²/2) — so
    * both statistics have closed forms:
    *   centroid = 0.2·(f1·p1 + f2·p2) / (p0 + p1 + p2)
    *   entropy  = −Σ (p/t)·ln(p/t) over the three bins
    * ToneGainSpec pins the ×1e7 bridge: kernel-vs-closed-form error
    * ~1e-10 units against boundary margins of 4.4e-4 (centroid) and
    * 8.9e-2 (entropy) — ≥6 orders of safety. */
  def p11SpectralShape(s: SparkSession, d: String): DataFrame =
    OsdbFixture.toneDps(s, d)
      .select(col("e"), col("d"),
        round(centroidUdf(col("rawData")) * 1e7).cast("long").as("centroid_x1e7"),
        round(entropyUdf(col("rawData")) * 1e7).cast("long").as("entropy_x1e7"))

  val p11Sql: String = sqlBase +
    """SELECT e, d,
      |  CAST(ROUND(1e7 * (0.2*(f1*p1 + f2*p2)/(p0 + p1 + p2))) AS BIGINT)
      |    AS centroid_x1e7,
      |  CAST(ROUND(1e7 * -((p0/t)*ln(p0/t) + (p1/t)*ln(p1/t) + (p2/t)*ln(p2/t)))
      |       AS BIGINT) AS entropy_x1e7
      |FROM (SELECT *, p0 + p1 + p2 AS t FROM
      |  (SELECT e, d, 15 + (k+d) % 24 AS f1, 41 + (k+d) % 21 AS f2,
      |          1000000.0 AS p0,
      |          (4*(1 + k % 3))*(4*(1 + k % 3))/2.0 AS p1,
      |          (4*(1 + d % 2))*(4*(1 + d % 2))/2.0 AS p2
      |   FROM dpx))""".stripMargin

  /** P12 (epoch feature vector through the real [[FeatureExtract]] over
    * 3D fixture events, window=step=125 so epoch j == datapoint j):
    * the full 144-feature vector is computed; the oracled projection is
    * the bit-exact subset — per-axis mean (one division), rms (exact
    * integer sum of squares, one division, one sqrt — both correctly
    * rounded IEEE ops) and the telescoping-sign zcr quirk — plus the
    * feature count. The Welch-PSD features (symmetric Hann window, no
    * closed form for integer-bin tones) stay golden-tested in
    * SignalSpec; this pins the epoch slicing, axis de-interleave and
    * feature plumbing end to end.
    *
    * Bench note: ~0.8-1.0 s at sf0.1 — round 5 replaced the former
    * rows-only projection (0.25 s) with REAL 144-feature extraction
    * (4 DFTs + stats per epoch), so the step up vs BENCH_r04 is the
    * upgrade, not a regression. */
  def p12EpochFeatures(s: SparkSession, d: String): DataFrame =
    FeatureExtract.extract(
        OsdbFixture.flatDps(s, d, col("e") % 80 === 0),
        FeatureExtract.Config(window = 125, step = 125, highPassHz = 0.0))
      .toDF()
      .select(
        col("eventId").as("event_id"),
        col("startSample").cast("long").as("start_s"),
        size(map_keys(col("features"))).cast("long").as("n_features"),
        col("features")("mean_x").as("mean_x"),
        col("features")("mean_y").as("mean_y"),
        col("features")("mean_z").as("mean_z"),
        col("features")("activity_count_x").as("rms_x"),
        col("features")("activity_count_y").as("rms_y"),
        col("features")("activity_count_z").as("rms_z"),
        col("features")("zcr_x").as("zcr_x"),
        col("features")("zcr_y").as("zcr_y"),
        col("features")("zcr_z").as("zcr_z"))

  val p12Sql: String = sqlBase +
    """SELECT CAST(e AS VARCHAR) AS event_id, CAST(d*125 AS BIGINT) AS start_s,
      |  CAST(144 AS BIGINT) AS n_features,
      |  CAST(SUM(vx) AS DOUBLE)/125.0 AS mean_x,
      |  CAST(SUM(vy) AS DOUBLE)/125.0 AS mean_y,
      |  CAST(SUM(vz) AS DOUBLE)/125.0 AS mean_z,
      |  sqrt(CAST(SUM(vx*vx) AS DOUBLE)/125.0) AS rms_x,
      |  sqrt(CAST(SUM(vy*vy) AS DOUBLE)/125.0) AS rms_y,
      |  sqrt(CAST(SUM(vz*vz) AS DOUBLE)/125.0) AS rms_z,
      |  (MAX(CASE WHEN i = 124 THEN CAST(SIGN(vx) AS DOUBLE) END)
      |   - MAX(CASE WHEN i = 0 THEN CAST(SIGN(vx) AS DOUBLE) END))/250.0 AS zcr_x,
      |  (MAX(CASE WHEN i = 124 THEN CAST(SIGN(vy) AS DOUBLE) END)
      |   - MAX(CASE WHEN i = 0 THEN CAST(SIGN(vy) AS DOUBLE) END))/250.0 AS zcr_y,
      |  (MAX(CASE WHEN i = 124 THEN CAST(SIGN(vz) AS DOUBLE) END)
      |   - MAX(CASE WHEN i = 0 THEN CAST(SIGN(vz) AS DOUBLE) END))/250.0 AS zcr_z
      |FROM samp3 WHERE e % 80 = 0 GROUP BY e, d""".stripMargin

  /** S12 (curated seizure-times side input, `tidy_db.py` seizureTimes
    * merge): the real [[Tidy.joinSeizureTimes]] — a broadcast left join
    * of the tiny curated (eventId → [startSec, endSec]) table onto
    * events, the side-input shape (a dim table measured in KB against a
    * fact table measured in TB; broadcast is the only sane physical
    * plan and the operator hints it explicitly). The k%4==0 slice gets
    * times derived from the fixture formulas; unmatched events keep
    * NULL seizureTimes — the left-join contract the oracle restates
    * with a CASE. */
  def s12SeizureTimes(s: SparkSession, d: String): DataFrame = {
    val ev = OsdbFixture.ev(s, d)
    val events = ev.select(col("e").cast("string").as("id"), col("type_str"))
    val times = ev.filter(col("k") % 4 === 0).select(
      col("e").as("eventId"),
      (col("wts") + 10).cast("double").as("startSec"),
      (col("wts") + 70).cast("double").as("endSec"))
    Tidy.joinSeizureTimes(events, times)
      .select(col("id"), col("type_str"),
        element_at(col("seizureTimes"), 1).as("st_start"),
        element_at(col("seizureTimes"), 2).as("st_end"))
  }

  val s12Sql: String = sqlBase +
    """SELECT CAST(e AS VARCHAR) AS id, type_str,
      |  CASE WHEN k % 4 = 0 THEN CAST(wts + 10 AS DOUBLE) END AS st_start,
      |  CASE WHEN k % 4 = 0 THEN CAST(wts + 70 AS DOUBLE) END AS st_end
      |FROM ev""".stripMargin

  /** P9 (Welch PSD, `accelFeatures.py` "welch with nperseg=None"
    * collapse): the real [[graft.functions.EpochFeatures.welchPsd]]
    * kernel — mean-detrend, symmetric Hann window, one-sided density
    * scaling — over every tone-fixture datapoint, reduced to a pinned
    * single row: per-dp the four PSD-shape statistics (total power,
    * peak bin, mean frequency, entropy) are rounded to integers at a
    * fixed scale, then summed (a sum of exact integers is
    * order-independent, so the parallel aggregation cannot move it).
    * The symmetric Hann window spreads an integer-bin tone across all
    * bins, so unlike p4/p10/p11 there is no rational closed form — the
    * pins are constants measured once on the driver testdata (the
    * e5/d5 pattern): any change to the detrend, window, scaling, or
    * band edges moves these integers and breaks the hash. Re-derive
    * with `runMain graft.tools.QueryProbe show p9_welch_psd <sfDir>` after a
    * fixture regeneration. */
  def p9WelchPsd(s: SparkSession, d: String): DataFrame =
    OsdbFixture.toneDps(s, d)
      .select(welchStatsUdf(col("rawData")).as("w"))
      .agg(count(lit(1)).as("n_dp"),
        sum(col("w").getItem(0)).as("tot_x1e3"),
        sum(col("w").getItem(1)).as("peak_x1e3"),
        sum(col("w").getItem(2)).as("meanfreq_x1e6"),
        sum(col("w").getItem(3)).as("entropy_x1e6"))

  /** Constants measured once PER SF on the driver testdata (see
    * [[p9WelchPsd]]), dispatched on the events-table row count (the
    * TextQueries d5Sql pattern — an unknown sf selects zero rows and
    * fails loudly); a failure here with no code change means the
    * fixture moved — re-pin via `graft.tools.QueryProbe show`. */
  val p9Sql: String =
    """SELECT n_dp, tot_x1e3, peak_x1e3, meanfreq_x1e6, entropy_x1e6
      |FROM (VALUES
      |  (1000,   CAST(300 AS BIGINT),   CAST(83878620 AS BIGINT),
      |   CAST(40159852 AS BIGINT),   CAST(2143639104 AS BIGINT),
      |   CAST(618295168 AS BIGINT)),
      |  (10000,  CAST(3000 AS BIGINT),  CAST(847066302 AS BIGINT),
      |   CAST(406832379 AS BIGINT),  CAST(21676584369 AS BIGINT),
      |   CAST(6175213816 AS BIGINT)),
      |  (100000, CAST(30000 AS BIGINT), CAST(8478940457 AS BIGINT),
      |   CAST(4073563494 AS BIGINT), CAST(216636040545 AS BIGINT),
      |   CAST(61744305269 AS BIGINT)))
      |  t(sf_n, n_dp, tot_x1e3, peak_x1e3, meanfreq_x1e6, entropy_x1e6)
      |WHERE sf_n = (SELECT COUNT(*) FROM events)""".stripMargin

  /** P13 (HR/O2 interpolation onto the sample timebase,
    * `nnTraining2/extractFeatures.py` hrInterp shape): the real
    * [[Signal.interpOnto]] — per event, the dp-level hr series at
    * xs = d·125 linearly interpolated onto the n_dp·125-sample 25 Hz
    * grid — hash-matched against an EXACT closed form: summing a
    * piecewise-linear interpolant over an integer grid telescopes,
    *   Σ_{t∈[x_d, x_{d+1})} interp(t) = 125·y_d + 62·(y_{d+1}−y_d)
    * (Σ_{t=0}^{124} t = 7750 = 62·125 divides exactly), and the flat
    * tail past the last knot contributes 125·y_last — all integers for
    * the fixture's integer hr values, so the oracle restates the sum
    * per event with one lead() window. round() bridges the ~1e-10
    * float-summation error against an exact-integer true value; the
    * endpoint samples out(0)/out(last) pin the flat-extension
    * contract. */
  def p13Interp(s: SparkSession, d: String): DataFrame =
    OsdbFixture.dps(s, d, arrays = false)
      .groupBy("e")
      .agg(sort_array(collect_list(struct(col("d"), col("hr")))).as("pts"))
      .select(col("e"),
        interpSumUdf(col("pts.d"), col("pts.hr")).as("r"))
      .select(col("e"),
        col("r").getItem(0).as("n_samples"),
        col("r").getItem(1).as("interp_sum"),
        col("r").getItem(2).as("y_first"),
        col("r").getItem(3).as("y_last"))

  val p13Sql: String = sqlBase +
    """SELECT e, CAST(MIN(n_dp)*125 AS BIGINT) AS n_samples,
      |  CAST(SUM(CASE WHEN y1 IS NULL THEN 125*y0
      |                ELSE 125*y0 + 62*(y1 - y0) END) AS BIGINT) AS interp_sum,
      |  CAST(MIN(CASE WHEN d = 0 THEN y0 END) AS BIGINT) AS y_first,
      |  CAST(MIN(CASE WHEN y1 IS NULL THEN y0 END) AS BIGINT) AS y_last
      |FROM (SELECT e, d, n_dp, hr AS y0,
      |        lead(hr) OVER (PARTITION BY e ORDER BY d) AS y1 FROM dpx)
      |GROUP BY e""".stripMargin

}
