package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Signal, TimeParse}
import graft.operators._
import graft.sources.SimulatedEvents
import graft.streaming.{NnBuffer, Replay, ReplayDp}

/** The OSDB DOMAIN operator inventory as oracled CORRECTNESS entries —
  * tidy, flatten/explode, signal statistics, low-motion gating, the
  * rolling NN buffer, the replay FSM, augmentation, curation dedup — each
  * driven over [[OsdbFixture]] so a DuckDB oracle can check it exactly.
  *
  * Exactness doctrine (see OsdbFixture): integer aggregates compare
  * bit-exact; single-IEEE-op projections (one division / subtraction
  * of identical operands) compare bit-exact; order-dependent float
  * accumulations (std, magnitude sums) are compared by RANK with a
  * unique tiebreak, never by value. FSM and buffer entries are real
  * cross-checks: the oracle derives the expected output analytically
  * from the fixture formulas, independently of the Scala implementation.
  */
object DomainQueries {
  import OsdbFixture.sqlBase
  // round-17 registry-size split: the lake/report/ml/spectral families
  // live in sibling files; the registry below stays the one assembly
  // point, so these wildcard imports keep its entries verbatim
  import LakeQueries._
  import ReportQueries._
  import MlQueries._
  import SpectralQueries._

  // ---------------------------------------------------------------- UDFs
  // Tight-loop UDFs over primitive arrays (container HOF lambdas are
  // interpreted and re-evaluate inputs — see round-1 notes).

  /** Exact integer sum of an integer-valued double array. A tight UDF:
    * the aggregate() HOF is CodegenFallback and pays a lambda dispatch
    * per element. */
  private[queries] val sumLongUdf = udf { (a: Seq[Double]) =>
    var s = 0L; var i = 0
    while (i < a.length) { s += a(i).toLong; i += 1 }
    s
  }
  private[queries] val dpSumL = sumLongUdf(col("rawData"))

  private[queries] val rejectLowMotionUdf =
    udf((a: Seq[Double]) => Spectrogram.rejectLowMotion(a.toArray, 10.0))
  private[queries] val mllUdf = udf((a: Seq[Double]) => Signal.meanLineLength(a.toArray))
  private[queries] val zcrUdf = udf((a: Seq[Double]) => Signal.zeroCrossingRate(a.toArray))
  private[queries] val meanUdf = udf((a: Seq[Double]) => Signal.mean(a.toArray))
  private[queries] val stdUdf = udf((a: Seq[Double]) => Signal.std(a.toArray))
  private[queries] val skewUdf = udf((a: Seq[Double]) => Signal.skewness(a.toArray))
  private[queries] val kurtUdf = udf((a: Seq[Double]) => Signal.kurtosis(a.toArray))
  private[queries] val znormArgmaxUdf = udf((a: Seq[Double]) => {
    // C15: z-normalise, return the index of the max |z| (strict >, so the
    // FIRST max wins — the tiebreak the oracle mirrors with ORDER BY i)
    val z = Signal.zNormalize(a.toArray)
    var best = 0; var bestV = -1.0; var i = 0
    while (i < z.length) {
      val v = math.abs(z(i)); if (v > bestV) { bestV = v; best = i }; i += 1
    }
    best
  })
  private[queries] val magMeanUdf = udf((xyz: Seq[Double]) =>
    Signal.mean(Signal.magnitude3D(xyz.toArray, "V2")))
  private[queries] val magV1SumUdf = udf((xyz: Seq[Double]) => {
    val m = Signal.magnitude3D(xyz.toArray, "V1")
    var s = 0.0; var i = 0
    while (i < m.length) { s += m(i); i += 1 }
    s
  })
  private[queries] val axisSumsUdf = udf((xyz: Seq[Double]) => {
    val a = xyz.toArray
    def s(ax: Int): Double = {
      val v = Signal.deinterleave(a, ax)
      var t = 0.0; var i = 0
      while (i < v.length) { t += v(i); i += 1 }
      t
    }
    (s(0), s(1), s(2))
  })
  /** One DFT per row: all four p1 projections come out of a single
    * kernel invocation (a per-bin UDF would re-run the O(n²) transform
    * once per column). */
  private[queries] val fftBinsUdf = udf { (a: Seq[Double], f1: Int, f2: Int) =>
    val (re, im) = Signal.dft(a.toArray)
    def mag(k: Int) = math.sqrt(Signal.magnitudeSq(re(k), im(k)))
    (mag(0), mag(f1), mag(f2), Signal.magnitudeSq(re(f1), im(f1)))
  }
  private[queries] val winSumUdf = udf { (name: String, n: Int) =>
    val w = Signal.window(name, n)
    var s = 0.0; var i = 0
    while (i < w.length) { s += w(i); i += 1 }
    s
  }
  private[queries] val specPowerUdf = udf((a: Seq[Double]) => Signal.specPower(a.toArray))
  private[queries] val roiPowerUdf = udf((a: Seq[Double]) => Signal.roiPower(a.toArray))
  private[queries] val spectrumRatioUdf = udf((a: Seq[Double]) => Signal.spectrumRatio(a.toArray))
  private[queries] val alarmStateUdf = udf((a: Seq[Double]) => Signal.alarmState(a.toArray))
  private[queries] val hpRmsUdf = udf { (a: Seq[Double]) =>
    // P8 probe statistic: RMS of the filtered signal over the centre
    // window [250, 750) of the n=1000 tone, where the filtfilt startup
    // transient (pole radius ~0.915/sample) has decayed below 1e-9 of
    // the signal and the zero-phase closed form holds (ToneGainSpec).
    val y = graft.functions.Filters.highPass(a.toArray)
    var s = 0.0; var i = 250
    while (i < 750) { s += y(i) * y(i); i += 1 }
    math.sqrt(s / 500.0)
  }
  private[queries] val bandPowerUdf = udf { (a: Seq[Double]) =>
    val (tot, peak) = Signal.bandPower(a.toArray, 25.0, 3.0, 8.0)
    Array(tot, peak)
  }
  private[queries] val centroidUdf = udf((a: Seq[Double]) => Signal.spectralCentroid(a.toArray, 25.0))
  private[queries] val entropyUdf = udf((a: Seq[Double]) => Signal.spectralEntropy(a.toArray))
  private[queries] val interpSumUdf = udf { (ds: Seq[Long], hrs: Seq[Double]) =>
    // P13: interpolate the per-dp hr knots (at sample index d*125) onto
    // the full 25 Hz grid, then summarize with exactly-restatable stats
    val xs = ds.map(_ * 125.0).toArray
    val n = ds.length * 125
    val out = Signal.interpOnto(n, xs, hrs.toArray)
    var s = 0.0; var i = 0
    while (i < out.length) { s += out(i); i += 1 }
    Array(n.toLong, math.round(s), out(0).toLong, out(out.length - 1).toLong)
  }
  private[queries] val welchStatsUdf = udf { (a: Seq[Double]) =>
    // P9 probe statistics: the four PSD-shape numbers of the Welch
    // kernel (total power, peak bin power, mean frequency, spectral
    // entropy), each rounded at a fixed scale so the per-dp values are
    // integers a VALUES oracle can pin after a SUM.
    val (freqs, psd) = graft.functions.EpochFeatures.welchPsd(a.toArray, 25.0)
    var tot = 0.0; var peak = 0.0; var num = 0.0
    var k = 0
    while (k < psd.length) {
      tot += psd(k); if (psd(k) > peak) peak = psd(k)
      num += freqs(k) * psd(k); k += 1
    }
    var h = 0.0
    k = 0
    while (k < psd.length) {
      val q = psd(k) / tot
      h -= q * (math.log(q + 1e-12) / math.log(2.0))
      k += 1
    }
    Array(math.round(tot * 1e3), math.round(peak * 1e3),
      math.round(num / tot * 1e6), math.round(h * 1e6))
  }

  // ------------------------------------------------------------- A: groups

  /** A1 (group-by-event collect, osdDbConnection.getEventsDf): per event,
    * the d-ordered list of datapoint magnitude sums as a string — list
    * compare without array-vs-list bridge ambiguity. */
  def a1GroupCollect(s: SparkSession, d: String): DataFrame =
    OsdbFixture.dps(s, d).filter(col("has_raw"))
      .select(col("e"), col("d"), dpSumL.as("sv"))
      .groupBy("e")
      .agg(expr("array_join(transform(array_sort(collect_list(struct(d, sv)))," +
        " p -> cast(p.sv as string)), ',')").as("dp_sums"))

  val a1Sql: String = sqlBase +
    """SELECT e, string_agg(CAST(sv AS VARCHAR), ',' ORDER BY d) AS dp_sums
      |FROM (SELECT e, d, CAST(SUM(m) AS BIGINT) AS sv FROM sampm GROUP BY e, d)
      |GROUP BY e""".stripMargin

  /** O1 (sort datapoints within event by time): first/last dp after the
    * in-group time sort. */
  def o1SortWithin(s: SparkSession, d: String): DataFrame =
    OsdbFixture.dps(s, d).filter(col("has_raw"))
      .select(col("e"), col("ts"), col("d"), dpSumL.as("sv"))
      .groupBy("e")
      .agg(expr("array_sort(collect_list(struct(ts, d, sv)))").as("arr"))
      .select(col("e"),
        element_at(col("arr"), 1).getField("sv").as("first_s"),
        element_at(col("arr"), -1).getField("sv").as("last_s"),
        size(col("arr")).cast("long").as("n"))

  val o1Sql: String = sqlBase +
    """SELECT e, first(sv ORDER BY ts, d) AS first_s,
      |       last(sv ORDER BY ts, d) AS last_s, COUNT(*) AS n
      |FROM (SELECT e, ts, d, CAST(SUM(m) AS BIGINT) AS sv
      |      FROM sampm GROUP BY e, ts, d)
      |GROUP BY e""".stripMargin

  /** J2 (explode datapoints with parent propagation — the real
    * [[Flatten.explodeDatapoints]] over nested events). */
  def j2ExplodeParent(s: SparkSession, d: String): DataFrame =
    Flatten.explodeDatapoints(OsdbFixture.nested(s, d, arrays = false))
      .groupBy("typeStr")
      .agg(count(lit(1)).as("n"), sum(col("dpIdx")).cast("long").as("d_sum"))

  val j2Sql: String = sqlBase +
    """SELECT type_str AS typeStr, COUNT(*) AS n, CAST(SUM(d) AS BIGINT) AS d_sum
      |FROM dpx GROUP BY type_str""".stripMargin

  /** A2+A3 (tidy derived fields: worst-alarm-state rollup and the 50%
    * has-data flags — the real [[Tidy.derive]] over nested events). */
  def a3HasFlags(s: SparkSession, d: String): DataFrame =
    Tidy.derive(OsdbFixture.nested(s, d, arrays = false))
      .groupBy(
        col("osdAlarmState").as("worst_state"),
        col("has3dData").as("has3d"),
        col("hasHrData").as("has_hr"),
        col("hasO2SatData").as("has_o2"))
      .agg(count(lit(1)).as("n"))

  val a3Sql: String = sqlBase +
    """SELECT worst_state, has3d, has_hr, has_o2, COUNT(*) AS n FROM (
      |  SELECT e,
      |    MAX(CASE WHEN alarm IN (1,2,3) THEN alarm ELSE 0 END) AS worst_state,
      |    2*SUM(CASE WHEN has_3d THEN 1 ELSE 0 END) >= COUNT(*) AS has3d,
      |    2*SUM(CASE WHEN hr > 0 THEN 1 ELSE 0 END) >= COUNT(*) AS has_hr,
      |    2*SUM(CASE WHEN o2 > 0 THEN 1 ELSE 0 END) >= COUNT(*) AS has_o2
      |  FROM dpx GROUP BY e)
      |GROUP BY 1, 2, 3, 4""".stripMargin

  /** A4 (event-level prediction metrics, eventLevelMetrics.py:46-88): the
    * real [[Curate.eventLevelMetrics]] with user_id as the event key. */
  def a4EventMetrics(s: SparkSession, d: String): DataFrame =
    Curate.eventLevelMetrics(
      Tables.events(s, d)
        .withColumn("label", when(col("user_id") % 3 === 0, 1).otherwise(0)),
      "user_id", "value", "label")

  val a4Sql: String =
    """SELECT event_tp, event_fp, event_tn, event_fn, n_events,
      |  n_seizure_events, n_non_seizure_events,
      |  CASE WHEN event_tp + event_fn > 0
      |       THEN CAST(event_tp AS DOUBLE) / (event_tp + event_fn)
      |       ELSE 0.0 END AS event_tpr,
      |  CASE WHEN event_fp + event_tn > 0
      |       THEN CAST(event_fp AS DOUBLE) / (event_fp + event_tn)
      |       ELSE 0.0 END AS event_fpr
      |FROM (SELECT
      |  CAST(SUM(CASE WHEN mp >= 0.5 AND lbl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS event_tp,
      |  CAST(SUM(CASE WHEN mp >= 0.5 AND lbl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS event_fp,
      |  CAST(SUM(CASE WHEN mp < 0.5 AND lbl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS event_tn,
      |  CAST(SUM(CASE WHEN mp < 0.5 AND lbl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS event_fn,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN lbl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_seizure_events,
      |  CAST(SUM(CASE WHEN lbl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_non_seizure_events
      | FROM (SELECT user_id, MAX(value) AS mp,
      |              MAX(CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END) AS lbl
      |       FROM events GROUP BY user_id))""".stripMargin

  // ------------------------------------------------------------ F: filters

  /** F7 (dataSource include/exclude through the real
    * [[EventFilters.compile]] predicate over nested events). */
  def f7SourceFilter(s: SparkSession, d: String): DataFrame =
    OsdbFixture.nested(s, d, arrays = false)
      .filter(EventFilters.compile(EventFilterConfig(
        includeDataSources = Seq("garmin", "phone"),
        excludeSubTypes = Seq("tonic"))))
      .groupBy(col("type").as("type_str"))
      .agg(count(lit(1)).as("n"))

  val f7Sql: String = sqlBase +
    """SELECT type_str, COUNT(*) AS n FROM ev
      |WHERE k % 4 IN (0, 2) AND k % 5 >= 2
      |GROUP BY type_str""".stripMargin

  /** F9 (accel-presence filter). */
  def f9AccelPresence(s: SparkSession, d: String): DataFrame =
    // presence stubs: the predicate only inspects size(rawData) > 0, so
    // generating full 125-sample arrays would be pure waste
    OsdbFixture.dps(s, d, arrays = false)
      .filter(size(col("rawData")) > 0)
      .groupBy("type_str")
      .agg(count(lit(1)).as("n"))

  val f9Sql: String = sqlBase +
    """SELECT type_str, COUNT(*) AS n FROM dpx WHERE has_raw
      |GROUP BY type_str""".stripMargin

  /** F10 (low-motion rejection, nnAlg.py:113-121): the float predicate
    * (100*std/mean < 10) vs the oracle's exact integer restatement
    * 100*(n*Σm² − S²) < S² — boundary-exact cross-check. */
  def f10LowMotion(s: SparkSession, d: String): DataFrame =
    OsdbFixture.dps(s, d).filter(col("has_raw"))
      .select(rejectLowMotionUdf(col("rawData")).as("rej"))
      .groupBy("rej")
      .agg(count(lit(1)).as("n"))

  val f10Sql: String = sqlBase +
    """SELECT rej, COUNT(*) AS n FROM (
      |  SELECT 100*(125*SUM(m*m) - SUM(m)*SUM(m)) < SUM(m)*SUM(m) AS rej
      |  FROM sampm GROUP BY e, d)
      |GROUP BY rej""".stripMargin

  // ------------------------------------------------------------ C: scalars

  /** C1 (dateStr2secs over the legacy format ladder). */
  def c1ParseSecs(s: SparkSession, d: String): DataFrame = {
    val raw = when(col("event_id") % 2 === 0,
        date_format(col("ts"), "dd-MM-yyyy HH:mm:ss"))
      .otherwise(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"))
    Tables.events(s, d)
      .withColumn("raw", raw)
      .select(col("event_id"), col("raw"),
        TimeParse.dateStr2secs(col("raw")).as("secs"))
  }

  val c1Sql: String =
    """SELECT event_id, raw,
      | epoch_us(COALESCE(try_strptime(raw, '%d-%m-%Y %H:%M:%S'),
      |                   try_strptime(raw, '%Y-%m-%dT%H:%M:%S'))) // 1000000 AS secs
      |FROM (SELECT event_id,
      |        CASE WHEN event_id % 2 = 0 THEN strftime(ts, '%d-%m-%Y %H:%M:%S')
      |             ELSE strftime(ts, '%Y-%m-%dT%H:%M:%S') END AS raw
      |      FROM events)""".stripMargin

  /** C3 (timezone normalisation: naive local wall time → UTC seconds).
    * Asia/Kolkata — fixed +05:30, no DST ambiguity in any season. */
  def c3TzNormalize(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("raw", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .select(col("event_id"),
        to_utc_timestamp(to_timestamp(col("raw"), "yyyy-MM-dd HH:mm:ss"),
          "Asia/Kolkata").cast("long").as("utc_secs"))

  val c3Sql: String =
    """SELECT event_id,
      | epoch_us(strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'),
      |   '%Y-%m-%d %H:%M:%S') AT TIME ZONE 'Asia/Kolkata') // 1000000 AS utc_secs
      |FROM events""".stripMargin

  /** C5+C6 (3D magnitude modes): V1 |x|+|y|+|z| sums exactly (integers);
    * the V2 sqrt magnitude is order-dependent float, compared by in-event
    * rank only. */
  def c5MagnitudeRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("e").orderBy(col("mag_mean").desc, col("d"))
    OsdbFixture.dps(s, d).filter(col("has_3d"))
      .select(col("e"), col("d"),
        magV1SumUdf(col("rawData3D")).cast("long").as("v1_sum"),
        magMeanUdf(col("rawData3D")).as("mag_mean"))
      .withColumn("mag_rank", row_number().over(w).cast("long"))
      .drop("mag_mean")
  }

  val c5Sql: String = sqlBase +
    """SELECT e, d, v1_sum,
      |  CAST(row_number() OVER (PARTITION BY e ORDER BY s2 DESC, d) AS BIGINT) AS mag_rank
      |FROM (SELECT e, d,
      |        CAST(SUM(ABS(vx)+ABS(vy)+ABS(vz)) AS BIGINT) AS v1_sum,
      |        SUM(sqrt(CAST(vx*vx + vy*vy + vz*vz AS DOUBLE))) AS s2
      |      FROM samp3 GROUP BY e, d)""".stripMargin

  /** C5 on the NATIVE tier (c5n): the same magnitude ranking as
    * [[c5MagnitudeRank]] but through the codegen expressions end to end
    * — `array_mag3d` for the per-sample magnitudes and `array_dot`
    * against a ones vector for the index-order sum. No UDF boundary
    * anywhere in the row pipeline; the oracle is c5's verbatim (same
    * output contract), so this pins that the native kernels are drop-in
    * bit-compatible with the Signal-library path. */
  def c5nNativeMag(s: SparkSession, d: String): DataFrame = {
    import graft.plans.GraftExpressions.{arrayDot, arrayMag3D}
    val ones = array(Seq.fill(125)(lit(1.0)): _*)
    val w = Window.partitionBy("e").orderBy(col("mag_sum").desc, col("d"))
    OsdbFixture.dps(s, d).filter(col("has_3d"))
      .select(col("e"), col("d"),
        arrayDot(arrayMag3D(col("rawData3D"), "V1"), ones).cast("long").as("v1_sum"),
        arrayDot(arrayMag3D(col("rawData3D"), "V2"), ones).as("mag_sum"))
      .withColumn("mag_rank", row_number().over(w).cast("long"))
      .drop("mag_sum")
  }

  val c5nSql: String = sqlBase +
    """SELECT e, d, v1_sum,
      |  CAST(row_number() OVER (PARTITION BY e ORDER BY s2 DESC, d) AS BIGINT) AS mag_rank
      |FROM (SELECT e, d,
      |        CAST(SUM(ABS(vx)+ABS(vy)+ABS(vz)) AS BIGINT) AS v1_sum,
      |        SUM(sqrt(CAST(vx*vx + vy*vy + vz*vz AS DOUBLE))) AS s2
      |      FROM samp3 GROUP BY e, d)""".stripMargin

  /** C7 (de-interleave stride-3 axes): per-axis integer sums. */
  def c7Deinterleave(s: SparkSession, d: String): DataFrame =
    OsdbFixture.dps(s, d).filter(col("has_3d"))
      .select(col("e"), col("d"), axisSumsUdf(col("rawData3D")).as("ax"))
      .select(col("e"), col("d"),
        col("ax._1").cast("long").as("sx"),
        col("ax._2").cast("long").as("sy"),
        col("ax._3").cast("long").as("sz"))

  val c7Sql: String = sqlBase +
    """SELECT e, d, CAST(SUM(vx) AS BIGINT) AS sx, CAST(SUM(vy) AS BIGINT) AS sy,
      |       CAST(SUM(vz) AS BIGINT) AS sz
      |FROM samp3 GROUP BY e, d""".stripMargin

  /** C8 (array truncation 125/375/10 through the real
    * [[Tidy.tidyDatapoints]]): fixture arrays are over-length (130/381/12)
    * and must come back clipped. */
  def c8Truncate(s: SparkSession, d: String): DataFrame =
    Tidy.tidyDatapoints(OsdbFixture.nested(s, d, rawLen = 130, xyzLen = 381,
        specLen = 12))
      .filter(col("k") % 2 === 0) // over-length arrays are heavy; halve
      .select(col("e_num").as("e"), posexplode(col("datapoints")).as(Seq("d", "dp")))
      .filter(col("dp.rawData").isNotNull)
      .select(col("e"), col("d").cast("long").as("d"),
        size(col("dp.rawData")).as("raw_n"),
        sumLongUdf(col("dp.rawData")).as("raw_sum"),
        coalesce(size(col("dp.rawData3D")), lit(0)).as("n3d"),
        size(col("dp.simpleSpec")).as("spec_n"))

  val c8Sql: String = sqlBase +
    """SELECT e, d, CAST(125 AS INT) AS raw_n, CAST(SUM(m) AS BIGINT) AS raw_sum,
      |  CAST(CASE WHEN has_3d THEN 375 ELSE 0 END AS INT) AS n3d,
      |  CAST(10 AS INT) AS spec_n
      |FROM sampm WHERE k % 2 = 0 GROUP BY e, d, has_3d""".stripMargin

  /** C12 (mean line length): integer |diff| sum, one division — exact. */
  def c12LineLength(s: SparkSession, d: String): DataFrame =
    OsdbFixture.dps(s, d).filter(col("has_raw"))
      .select(col("e"), col("d"), mllUdf(col("rawData")).as("mll"))

  val c12Sql: String = sqlBase +
    """SELECT e, d, CAST(SUM(ad) AS DOUBLE) / 124.0 AS mll
      |FROM (SELECT e, d, ABS(m - lag(m) OVER (PARTITION BY e, d ORDER BY i)) AS ad
      |      FROM sampm)
      |GROUP BY e, d""".stripMargin

  /** C13 (zero-crossing rate about the mean): the mean is one exact
    * division, every (x−m) subtraction has identical operands in both
    * engines, so even the float products compare bit-exact. */
  def c13ZeroCross(s: SparkSession, d: String): DataFrame =
    OsdbFixture.dps(s, d).filter(col("has_raw"))
      .select(col("e"), col("d"), zcrUdf(col("rawData")).as("zcr"))

  val c13Sql: String = sqlBase +
    """SELECT e, d,
      |  CAST(SUM(CASE WHEN (m - mn)*(pm - mn) < 0 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / 124.0 AS zcr
      |FROM (SELECT e, d, m,
      |        CAST(SUM(m) OVER (PARTITION BY e, d) AS DOUBLE) / 125.0 AS mn,
      |        lag(m) OVER (PARTITION BY e, d ORDER BY i) AS pm
      |      FROM sampm)
      |GROUP BY e, d""".stripMargin

  /** C14 (moment statistics): mean exact; std (order-dependent float)
    * compared by in-event rank. */
  def c14Moments(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("e").orderBy(col("sd").desc, col("d"))
    OsdbFixture.dps(s, d).filter(col("has_raw"))
      .select(col("e"), col("d"),
        meanUdf(col("rawData")).as("mn"),
        stdUdf(col("rawData")).as("sd"))
      .withColumn("std_rank", row_number().over(w).cast("long"))
      .drop("sd")
  }

  val c14Sql: String = sqlBase +
    """SELECT e, d, mn,
      |  CAST(row_number() OVER (PARTITION BY e ORDER BY v DESC, d) AS BIGINT) AS std_rank
      |FROM (SELECT s.e AS e, s.d AS d, g.mn AS mn,
      |        SUM((s.m - g.mn)*(s.m - g.mn)) AS v
      |      FROM sampm s
      |      JOIN (SELECT e, d, CAST(SUM(m) AS DOUBLE)/125.0 AS mn
      |            FROM sampm GROUP BY e, d) g
      |        ON s.e = g.e AND s.d = g.d
      |      GROUP BY s.e, s.d, g.mn)""".stripMargin

  /** C15 (z-normalise): index of the max |z| sample — scale-invariant, so
    * the oracle ranks |m − mean| directly; first index wins ties in both
    * engines. */
  def c15ZnormArgmax(s: SparkSession, d: String): DataFrame =
    OsdbFixture.dps(s, d).filter(col("has_raw"))
      .select(col("e"), col("d"), znormArgmaxUdf(col("rawData")).as("amax_i"))

  val c15Sql: String = sqlBase +
    """SELECT e, d, CAST(i AS INT) AS amax_i FROM (
      |  SELECT s.e AS e, s.d AS d, s.i AS i,
      |    row_number() OVER (PARTITION BY s.e, s.d
      |      ORDER BY ABS(s.m - g.mn) DESC, s.i) AS rn
      |  FROM sampm s
      |  JOIN (SELECT e, d, CAST(SUM(m) AS DOUBLE)/125.0 AS mn
      |        FROM sampm GROUP BY e, d) g
      |    ON s.e = g.e AND s.d = g.d)
      |WHERE rn = 1""".stripMargin

  /** C16 (min-max feature scaling through the real
    * [[ScaleFeatures.minMaxScale]]): min/max are exact integers, the
    * scale is one subtraction + one division of identical operands —
    * bit-exact across engines. */
  def c16MinMax(s: SparkSession, d: String): DataFrame = {
    // k-even subset: minMaxScale is two passes (eager min/max agg + map)
    // and each pass regenerates the fixture arrays
    val sums = OsdbFixture.dps(s, d, where = col("has_raw") && col("k") % 2 === 0)
      .select(col("e"), col("d"), dpSumL.as("sv"))
    ScaleFeatures.minMaxScale(sums, Seq("sv"))
      .select(col("e"), col("d"), col("sv"), col("sv_scaled"))
  }

  val c16Sql: String = sqlBase +
    """SELECT e, d, sv,
      |  CASE WHEN mx <> mn THEN (sv - mn) / CAST(mx - mn AS DOUBLE)
      |       ELSE 0.0 END AS sv_scaled
      |FROM (SELECT e, d, sv, MIN(sv) OVER () AS mn, MAX(sv) OVER () AS mx
      |      FROM (SELECT e, d, CAST(SUM(m) AS BIGINT) AS sv
      |            FROM sampm WHERE k % 2 = 0 GROUP BY e, d))""".stripMargin

  /** C18/P14 (gap-fill zero-datapoint construction through the real
    * [[Flatten.validateAndFill]]): the fixture's missing datapoints
    * ((k+d)%7==0) leave 10-second holes the validator must fill with
    * zero rows; inserted count per event has the closed form
    * max(d) - min(d) + 1 - n_present, which the oracle computes
    * independently. */
  def c18GapFill(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Flatten.validateAndFill(OsdbFixture.flatDps(s, d, col("has_raw")))
      .toDF()
      .groupBy(col("eventId").as("event_id"))
      .agg(sum(when(col("synthetic"), 1L).otherwise(0L)).as("n_synth"),
        count(lit(1)).as("n_total"))
  }

  val c18Sql: String = sqlBase +
    """SELECT CAST(e AS VARCHAR) AS event_id,
      |  CAST(MAX(d) - MIN(d) + 1 - COUNT(*) AS BIGINT) AS n_synth,
      |  CAST(MAX(d) - MIN(d) + 1 AS BIGINT) AS n_total
      |FROM dpx WHERE has_raw GROUP BY e""".stripMargin

  // ------------------------------------------------------------ W: windows

  /** W4 (keep-max curation dedup, merge_json.py:148-250): the real
    * [[Curate.keepMaxDedup]] vs an independent gaps-and-islands SQL
    * restatement of the chained-60s-cluster + priority ordering. */
  def w4MergeDedup(s: SparkSession, d: String): DataFrame =
    Curate.keepMaxDedup(OsdbFixture.ev(s, d), Seq("ub", "type_str"),
        "wts", "n_dp", "e", 3000L, Some("is_ref"))
      .select("ub", "type_str", "e", "wts", "n_dp")

  val w4Sql: String = sqlBase +
    """SELECT ub, type_str, e, wts, n_dp FROM (
      |  SELECT *, row_number() OVER (PARTITION BY ub, type_str, cid
      |    ORDER BY is_ref DESC, n_dp DESC, wts DESC, e DESC) AS rn
      |  FROM (
      |    SELECT *, SUM(CASE WHEN pw IS NULL OR wts - pw > 3000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY ub, type_str ORDER BY wts, e) AS cid
      |    FROM (SELECT *, lag(wts) OVER (PARTITION BY ub, type_str
      |                                   ORDER BY wts, e) AS pw
      |          FROM ev)))
      |WHERE rn = 1""".stripMargin

  /** W5 (sliding sample epochs through the real [[FeatureExtract]]):
    * epoch layout (count, last end) checked exactly; feature values are
    * golden-tested against simulated events (SignalSpec). */
  def w5Epochs(s: SparkSession, d: String): DataFrame =
    FeatureExtract.extract(
        OsdbFixture.flatDps(s, d, col("e") % 80 === 0 && col("has_raw")),
        FeatureExtract.Config(window = 250, step = 125, highPassHz = 0.0))
      .groupBy(col("eventId").as("event_id"))
      .agg(count(lit(1)).as("n_epochs"), max("endSample").cast("long").as("last_end"))

  val w5Sql: String = sqlBase +
    """SELECT CAST(e AS VARCHAR) AS event_id, np - 1 AS n_epochs,
      |       np * 125 AS last_end
      |FROM (SELECT e, COUNT(*) AS np FROM dpx
      |      WHERE has_raw AND e % 80 = 0 GROUP BY e)""".stripMargin

  /** W6/P15 (spectral history): slice layout checked exactly; spectral
    * content is golden-tested (SpectrogramSpec, 5 Hz sine fixture). */
  def w6Spectrogram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Spectrogram.eventSpectrogram(
        OsdbFixture.flatDps(s, d, col("e") % 80 === 0 && col("has_raw")),
        Spectrogram.Config(stepLen = 25))
      .select(col("eventId").as("event_id"),
        col("nSlices").cast("long").as("n_slices"),
        col("nBins").cast("long").as("n_bins"))
  }

  val w6Sql: String = sqlBase +
    """SELECT CAST(e AS VARCHAR) AS event_id,
      |       ((np * 125 - 126) // 25) + 1 AS n_slices,
      |       CAST(61 AS BIGINT) AS n_bins
      |FROM (SELECT e, COUNT(*) AS np FROM dpx
      |      WHERE has_raw AND e % 80 = 0 GROUP BY e)""".stripMargin

  /** W8/M8 (the 750-sample rolling NN buffer): emission schedule and the
    * window's first/last samples (single mG→G divisions, bit-exact)
    * derived independently by the oracle from the fixture formulas. */
  def w8NnBuffer(s: SparkSession, d: String): DataFrame =
    NnBuffer.dp2vectors(
        OsdbFixture.flatDps(s, d, col("has_raw")),
        bufferSamples = 750, normalise = false, sdThresh = 0.0)
      .select(col("eventId").as("event_id"), col("tsSec").as("ts_sec"),
        size(col("vec")).cast("long").as("n"),
        element_at(col("vec"), 1).as("first_g"),
        element_at(col("vec"), 750).as("last_g"))

  val w8Sql: String = sqlBase +
    """SELECT CAST(a.e AS VARCHAR) AS event_id, a.ts AS ts_sec,
      |  CAST(750 AS BIGINT) AS n,
      |  (CASE WHEN (b.k + b.d) % 11 = 0 THEN 1000
      |        ELSE 800 + (b.k*104729 + b.d*257) % 401 END) / 1000.0 AS first_g,
      |  (CASE WHEN (a.k + a.d) % 11 = 0 THEN 1000
      |        ELSE 800 + (a.k*104729 + a.d*257 + 2852) % 401 END) / 1000.0 AS last_g
      |FROM (SELECT e, k, d, ts, row_number() OVER (PARTITION BY e ORDER BY d) AS rn
      |      FROM dpx WHERE has_raw) a
      |JOIN (SELECT e, k, d, row_number() OVER (PARTITION BY e ORDER BY d) AS rn
      |      FROM dpx WHERE has_raw) b
      |  ON a.e = b.e AND b.rn = a.rn - 5""".stripMargin

  /** W10 (the alarm-count FSM through the real [[Replay.replayBatch]] +
    * HrAlg): the oracle computes the expected WARN/ALARM/decay schedule
    * analytically from the fixture's alarm-run length k%6 — a true
    * independent check of the FSM, including the 2→1 decay quirk and the
    * F11 manual-skip. */
  private def w10Dps(s: SparkSession, d: String) = {
    import s.implicits._
    OsdbFixture.ev(s, d)
      .withColumn("d", explode(expr("sequence(0L, 11L)")))
      .select(
        col("e").cast("string").as("eventId"),
        (lit(OsdbFixture.TsBase) + col("k") * 3600 + col("d") * 5).as("tsSec"),
        when(col("k") % 5 === 0 && col("d") === 1, -1.0)
          .when(col("d") >= 3 && col("d") < lit(3) + col("k") % 6, 160.0)
          .otherwise(80.0).as("hr"),
        when(col("k") % 9 === 0 && col("d") === 0, 5L).otherwise(0L)
          .as("alarmStateRecorded"),
        array().cast("array<double>").as("rawData"),
        array().cast("array<double>").as("rawData3D"),
        col("d").as("seq"))
      .as[ReplayDp]
  }

  private def replayStats(s: SparkSession, d: String, spec: String): DataFrame =
    Replay.detectionStats(Replay.replayBatch(w10Dps(s, d), Seq(spec)))
      .select(col("eventId").as("event_id"), col("alg"),
        col("detected").cast("long").as("detected"),
        col("nAlarm").as("n_alarm"), col("nWarn").as("n_warn"),
        col("nDp").as("n_dp"))

  def w10ReplayFsm(s: SparkSession, d: String): DataFrame =
    replayStats(s, d, "hr:MODE_SIMPLE")

  /** S5 (device connection through the real [[graft.streaming.DeviceAlg]]
    * wire protocol, osdAppConnection.py + deviceAlg.py): the w10 replay
    * rerun with every datapoint serialized to the GarminSD data packet,
    * pushed through the settings handshake, scored by the loopback
    * device (the engine's own HrAlg behind the wire), and the verdict
    * parsed back — so the oracle is the SAME closed-form FSM prediction
    * as w10 with the device's alg label. A dropped packet, a handshake
    * that loses a sample, or a mis-parsed verdict field all break the
    * hash against w10's closed form. One fresh device session per event
    * group: the reference's one-phone serial loop becomes a device farm
    * scaling with the executor count. */
  def s5Device(s: SparkSession, d: String): DataFrame =
    replayStats(s, d, "device:loopback:hr:MODE_SIMPLE")

  val s5Sql: String = sqlBase +
    """SELECT CAST(e AS VARCHAR) AS event_id, 'DeviceAlg' AS alg,
      |  CAST(CASE WHEN k % 6 >= 3 THEN 1 ELSE 0 END AS BIGINT) AS detected,
      |  CAST(CASE WHEN k % 6 >= 3 THEN k % 6 - 2 ELSE 0 END AS BIGINT) AS n_alarm,
      |  CAST((CASE WHEN k % 6 >= 2 THEN 1 ELSE 0 END)
      |     + (CASE WHEN k % 6 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_warn,
      |  CAST(12 - CASE WHEN k % 9 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_dp
      |FROM base""".stripMargin

  val w10Sql: String = sqlBase +
    """SELECT CAST(e AS VARCHAR) AS event_id, 'HrAlg-MODE_SIMPLE' AS alg,
      |  CAST(CASE WHEN k % 6 >= 3 THEN 1 ELSE 0 END AS BIGINT) AS detected,
      |  CAST(CASE WHEN k % 6 >= 3 THEN k % 6 - 2 ELSE 0 END AS BIGINT) AS n_alarm,
      |  CAST((CASE WHEN k % 6 >= 2 THEN 1 ELSE 0 END)
      |     + (CASE WHEN k % 6 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_warn,
      |  CAST(12 - CASE WHEN k % 9 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_dp
      |FROM base""".stripMargin

  /** CFG2 — the testRunner CONFIG entry point under the oracle gate
    * ([[graft.config.ConfigBridge.testRunnerConfig]]/[[graft.config
    * .ConfigBridge.buildAlg]], round 17): the reference's own shipped
    * `testConfig.json` (checked-in verbatim at `/osdb/testConfig.json`;
    * `user_tools/testRunner/testConfig.json`) drives the replay farm —
    * its two enabled OsdAlg entries (OSD_flap with the flapSettings
    * second band ENABLED, OSD_no_flap identical but flap-disabled) are
    * built from the FILE's settings (band 3-8 Hz, thresholds 500/57,
    * flap band 2-4 Hz at 10000/80, the entry NAME injected into the
    * detector as testRunner.py:136 does) and replayed over a planted
    * integer-bin tone fixture.
    *
    * The fixture places each event's alarm run (dps 3..3+k%6) on a
    * pure cosine at one of four DFT bins chosen to split the two
    * algorithms: bin 16 (3.2 Hz — BOTH bands), bin 12 (2.4 Hz — flap
    * band only), bin 30 (6 Hz — main band only), bin 2 (0.4 Hz —
    * neither). Amplitude 1000 puts every fired ratio at ≥ 25% margin
    * over the FILE's thresholds (main ratio 100 vs 57, flap 250 vs
    * 80, roi 156k vs 500, flap-roi 391k vs 10000) and exact-bin tones
    * leak ~1e-9 relative into the other band, so the alarm BOOLEANS
    * are float-robust and the oracle restates the detection schedule
    * in closed form: OSD_flap fires on bins {16,12,30}, OSD_no_flap
    * on {16,30}, with w10's FSM warn/alarm/decay arithmetic. A lost
    * flap branch, a band misread from the file, a name not injected,
    * or an FSM drift each break the hash. */
  /** cfg2's planted integer-bin tone fixture — exposed so
    * [[graft.Run]]'s testdata-lake mode replays the CLI over the SAME
    * datapoint stream and the spec's CLI-output ≡ cfg2-frame equality
    * is by construction. */
  def cfg2ToneDps(s: SparkSession, d: String)
      : org.apache.spark.sql.Dataset[ReplayDp] = {
    import s.implicits._
    OsdbFixture.ev(s, d)
      .withColumn("d", explode(expr("sequence(0L, 11L)")))
      .withColumn("b",
        when(col("k") % 4 === 0, 16).when(col("k") % 4 === 1, 12)
          .when(col("k") % 4 === 2, 30).otherwise(2))
      // narrow-row spread before the 125-cos tone generation below —
      // the OsdbFixture.dps repartition note (single-split scan)
      .repartition(s.sparkContext.defaultParallelism)
      .select(
        col("e").cast("string").as("eventId"),
        (lit(OsdbFixture.TsBase) + col("k") * 3600 + col("d") * 5).as("tsSec"),
        lit(80.0).as("hr"),
        lit(0L).as("alarmStateRecorded"),
        when(col("d") >= 3 && col("d") < lit(3) + col("k") % 6,
          expr("transform(sequence(0, 124), i -> 1000.0d * cos(2.0d * pi() * b * i / 125.0d))"))
          .otherwise(expr("transform(sequence(0, 124), i -> 0.0d)"))
          .as("rawData"),
        array().cast("array<double>").as("rawData3D"),
        col("d").as("seq"))
      .as[ReplayDp]
  }

  def cfg2Testrunner(s: SparkSession, d: String): DataFrame = {
    import graft.config.{ConfigBridge, ConfigTools}
    val cfg = ConfigBridge.testRunnerConfig(
      ConfigBridge.loadResource("/osdb/testConfig.json"))
    // the model-bearing entries (SpecCnn/amber) deploy via ModelIo
    // artifacts (spec-gated — ConfigBridgeSpec builds them); the
    // oracled leg drives the two spectrum-analytic OsdAlg entries
    val osd = cfg.algorithms.filter(a =>
      a.enabled && a.algClass == "osdAlg.OsdAlg")
    ConfigTools.testrunnerFrame(cfg.copy(algorithms = osd),
      cfg2ToneDps(s, d))
  }

  val cfg2Sql: String = sqlBase +
    """, algt AS (SELECT 'OSD_flap' AS alg, TRUE AS has_flap
      |           UNION ALL SELECT 'OSD_no_flap', FALSE),
      |evt AS (SELECT e, k % 6 AS r, k % 4 AS band FROM ev)
      |SELECT CAST(e AS VARCHAR) AS event_id, alg,
      |  CAST(CASE WHEN hit AND r >= 3 THEN 1 ELSE 0 END AS BIGINT) AS detected,
      |  CAST(CASE WHEN hit AND r >= 3 THEN r - 2 ELSE 0 END AS BIGINT) AS n_alarm,
      |  CAST(CASE WHEN hit THEN (CASE WHEN r >= 2 THEN 1 ELSE 0 END)
      |                        + (CASE WHEN r >= 3 THEN 1 ELSE 0 END)
      |       ELSE 0 END AS BIGINT) AS n_warn,
      |  CAST(12 AS BIGINT) AS n_dp
      |FROM (SELECT e, r, alg,
      |        band IN (0, 2) OR (has_flap AND band = 1) AS hit
      |      FROM evt, algt)""".stripMargin

  /** A6B — the testRunner detection-stats parity pivot
    * (`user_tools/testRunner/results.py:99-243` saveResults2): per
    * (algorithm, category) totals, correct counts, and the correct
    * proportion — the last testRunner output not emitted verbatim.
    * Algorithms are the real replay FSM over the w10 fixture plus the
    * reference's extra `reported` column (the event's own recorded
    * alarm state == ALARM, results.py:145-160 — realized here as the
    * A2 worst-alarm-state rollup over the fixture datapoints).
    * Categories are the reference's four type2index outputs
    * (allSeizures / falseAlarms / otherEvents / nda — nda is absent
    * from the fixture and must still emit an explicit zero row with a
    * NULL proportion, exactly like the reference's empty output file)
    * plus the TonicClonic rows it embeds in the allSeizures footer.
    * TC membership uses the repo's established matcher (subType
    * contains tonic AND clonic ⇒ fixture k%5<2 — the reference's
    * literal 'tonic-clonic' substring would match zero fixture rows).
    * `correct` = alarmed ⟺ type is Seizure; the proportion is ONE
    * integer division (IEEE-identical across engines), NULL-guarded
    * like C11. */
  def a6bDetectionPivot(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fsm = Replay.detectionStats(
        Replay.replayBatch(w10Dps(s, d), Seq("hr:MODE_SIMPLE")))
      .select(col("eventId"), col("alg"),
        (col("detected") === 1).as("alarmed"))
    val reported = OsdbFixture.dps(s, d, arrays = false)
      .groupBy(col("e").cast("string").as("eventId"))
      .agg((max(col("alarm")) === 2).as("alarmed"))
      .select(col("eventId"), lit("reported").as("alg"), col("alarmed"))
    val evMeta = OsdbFixture.ev(s, d).select(
      col("e").cast("string").as("eventId"),
      col("type_str"),
      (col("type_str") === "Seizure").as("expect"),
      (col("k") % 3 === 0 && col("k") % 5 < 2).as("is_tc"))
    val j = fsm.unionByName(reported).join(evMeta, Seq("eventId"))
      .withColumn("correct", col("alarmed") === col("expect"))
    val byType = j.withColumn("category",
      when(col("type_str") === "Seizure", "allSeizures")
        .when(col("type_str") === "False Alarm", "falseAlarms")
        .otherwise("otherEvents"))
    val tcRows = j.filter(col("is_tc"))
      .withColumn("category", lit("tcSeizures"))
    val agg = byType.unionByName(tcRows)
      .groupBy("alg", "category")
      .agg(count(lit(1)).as("nt"),
        sum(when(col("correct"), 1L).otherwise(0L)).as("nc"))
    val frame = Seq("HrAlg-MODE_SIMPLE", "reported").flatMap(a =>
      Seq("allSeizures", "falseAlarms", "otherEvents", "nda",
        "tcSeizures").map(c => (a, c))).toDF("alg", "category")
    // broadcast the aggregated (small) side — the LEFT of a left join
    // cannot be the broadcast build side
    frame.join(broadcast(agg), Seq("alg", "category"), "left")
      .select(col("alg"), col("category"),
        coalesce(col("nt"), lit(0L)).as("n_total"),
        coalesce(col("nc"), lit(0L)).as("n_correct"),
        when(coalesce(col("nt"), lit(0L)) === 0, lit(null).cast("double"))
          .otherwise(col("nc").cast("double") / col("nt"))
          .as("correct_prop"))
  }

  val a6bSql: String = sqlBase +
    """, verd AS (
      |  SELECT e, 'HrAlg-MODE_SIMPLE' AS alg, k % 6 >= 3 AS alarmed FROM ev
      |  UNION ALL
      |  SELECT e, 'reported', MAX(alarm) = 2 FROM dpx GROUP BY e),
      |evm AS (
      |  SELECT e, k % 3 = 0 AS expect,
      |    CASE k % 3 WHEN 0 THEN 'allSeizures' WHEN 1 THEN 'falseAlarms'
      |         ELSE 'otherEvents' END AS category,
      |    k % 3 = 0 AND k % 5 < 2 AS is_tc
      |  FROM ev),
      |catrows AS (
      |  SELECT v.alg, m.category, v.alarmed = m.expect AS correct
      |  FROM verd v JOIN evm m ON v.e = m.e
      |  UNION ALL
      |  SELECT v.alg, 'tcSeizures', v.alarmed = m.expect
      |  FROM verd v JOIN evm m ON v.e = m.e WHERE m.is_tc),
      |aggd AS (
      |  SELECT alg, category, COUNT(*) AS nt,
      |         CAST(SUM(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS nc
      |  FROM catrows GROUP BY 1, 2),
      |frame AS (
      |  SELECT a.alg, c.category
      |  FROM (VALUES ('HrAlg-MODE_SIMPLE'), ('reported')) a(alg)
      |  CROSS JOIN (VALUES ('allSeizures'), ('falseAlarms'),
      |              ('otherEvents'), ('nda'), ('tcSeizures')) c(category))
      |SELECT f.alg, f.category,
      |  COALESCE(nt, 0) AS n_total,
      |  COALESCE(nc, 0) AS n_correct,
      |  CASE WHEN COALESCE(nt, 0) = 0 THEN NULL
      |       ELSE CAST(nc AS DOUBLE) / nt END AS correct_prop
      |FROM frame f LEFT JOIN aggd USING (alg, category)""".stripMargin

  // --------------------------------------------------------- M: augmentation

  /** M4 (noise augmentation): per-source-event output cardinality —
    * originals plus factor copies of every 3D seizure datapoint. Noisy
    * values themselves are seeded-random; the structural contract is the
    * oracle-able part (values are unit-tested). */
  def m4NoiseAug(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Augment.noiseAugment(OsdbFixture.flatDps(s, d, col("k") % 2 === 0),
        factor = 2, sigmaMilliG = 10.0)
      .select(substring_index(col("eventId"), "-", 1).as("base_id"))
      .groupBy("base_id")
      .agg(count(lit(1)).as("n"))
  }

  val m4Sql: String = sqlBase +
    """SELECT CAST(e AS VARCHAR) AS base_id,
      |  CAST(n_dp * (CASE WHEN k % 3 = 0 AND k % 4 <> 1 THEN 3 ELSE 1 END)
      |       AS BIGINT) AS n
      |FROM ev WHERE k % 2 = 0""".stripMargin

  /** M5 (phase augmentation): shifted re-windowing is pure integer data
    * movement — each synthetic event's datapoint count and total
    * magnitude sum are exact window sums over the concatenated signal. */
  def m5PhaseAug(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Augment.phaseAugment(
        OsdbFixture.flatDps(s, d, col("has_raw")), factor = 2)
      .toDF()
      .select(col("eventId").as("event_id"), dpSumL.as("sv"))
      .groupBy("event_id")
      .agg(count(lit(1)).as("n_dps"), sum(col("sv")).as("mag_sum"))
  }

  val m5Sql: String = sqlBase +
    """, pres AS (
      |  SELECT e, k, d, dense_rank() OVER (PARTITION BY e ORDER BY d) AS rn
      |  FROM dpx WHERE has_raw),
      |npc AS (SELECT e, COUNT(*) AS np FROM pres GROUP BY e),
      |gs AS (
      |  SELECT s.e AS e, s.k AS k, (p.rn - 1)*125 + s.i AS j, s.m AS m
      |  FROM sampm s JOIN pres p ON s.e = p.e AND s.d = p.d)
      |SELECT CAST(g.e AS VARCHAR) AS event_id, MAX(n.np) AS n_dps,
      |       CAST(SUM(g.m) AS BIGINT) AS mag_sum
      |FROM gs g JOIN npc n ON g.e = n.e GROUP BY g.e
      |UNION ALL
      |SELECT CAST(g.e AS VARCHAR) || '-p1', MAX(n.np) - 1,
      |       CAST(SUM(CASE WHEN g.j >= 41 AND g.j < 41 + (n.np - 1)*125
      |                     THEN g.m ELSE 0 END) AS BIGINT)
      |FROM gs g JOIN npc n ON g.e = n.e WHERE g.k % 3 = 0 GROUP BY g.e
      |UNION ALL
      |SELECT CAST(g.e AS VARCHAR) || '-p2', MAX(n.np) - 1,
      |       CAST(SUM(CASE WHEN g.j >= 83 AND g.j < 83 + (n.np - 1)*125
      |                     THEN g.m ELSE 0 END) AS BIGINT)
      |FROM gs g JOIN npc n ON g.e = n.e WHERE g.k % 3 = 0 GROUP BY g.e""".stripMargin

  /** M6 (user augmentation): every user group is topped up to the max
    * per-user count — exact output cardinality per group. */
  def m6UserAug(s: SparkSession, d: String): DataFrame =
    Augment.userAugment(
      OsdbFixture.ev(s, d).select(col("e").cast("string").as("id"), col("ub")),
      "id", "ub")
      .groupBy("ub")
      .agg(count(lit(1)).as("n"))

  val m6Sql: String = sqlBase +
    """SELECT ub, (SELECT MAX(cnt) FROM (SELECT COUNT(*) AS cnt FROM ev GROUP BY ub)) AS n
      |FROM ev GROUP BY ub""".stripMargin

  // ------------------------------------------------------------- S: sources

  /** S13 (simulated-event generator): structural contract of the default
    * specs — ids, types, datapoint/sample cardinalities. Spectral content
    * is golden-tested analytically (SignalSpec). */
  def s13Simulated(s: SparkSession, d: String): DataFrame =
    SimulatedEvents(s)
      .groupBy(col("eventId").as("event_id"), col("typeStr").as("type_str"))
      .agg(count(lit(1)).as("n_dp"),
        max(size(col("rawData"))).cast("long").as("raw_len"),
        max(size(col("rawData3D"))).cast("long").as("len3d"))

  val s13Sql: String =
    """SELECT * FROM (VALUES
      |  ('S001', 'nda', CAST(12 AS BIGINT), CAST(125 AS BIGINT), CAST(375 AS BIGINT)),
      |  ('S002', 'nda', CAST(12 AS BIGINT), CAST(125 AS BIGINT), CAST(375 AS BIGINT)),
      |  ('S003', 'seizure', CAST(12 AS BIGINT), CAST(125 AS BIGINT), CAST(375 AS BIGINT)))
      |t(event_id, type_str, n_dp, raw_len, len3d)""".stripMargin

  /** M7 (tonic-clonic augmentation through the real
    * [[Augment.tonicClonicAugment]]): fixture events match iff
    * type == 1 (k%3==0) and subType == 'tonicClonic' (k%5<2); with
    * tcAugFac=2 each match triples. Exact per-base-id cardinality,
    * m4/m6-style. */
  def m7TcAug(s: SparkSession, d: String): DataFrame =
    Augment.tonicClonicAugment(
        OsdbFixture.ev(s, d).select(col("e").cast("string").as("id"),
          col("label").as("type"), col("sub_type").as("subType")),
        "id", tcAugFac = 2)
      .select(substring_index(col("id"), "-", 1).as("base_id"))
      .groupBy("base_id")
      .agg(count(lit(1)).as("n"))

  val m7Sql: String = sqlBase +
    """SELECT CAST(e AS VARCHAR) AS base_id,
      |  CAST(CASE WHEN k % 3 = 0 AND k % 5 < 2 THEN 3 ELSE 1 END AS BIGINT) AS n
      |FROM ev""".stripMargin

  // --------------------------------------------------------------- S: sinks

  /** Scratch dir for the sink round-trip entries: under java.io.tmpdir,
    * keyed by the Spark applicationId so two concurrent sessions running
    * the same query cannot overwrite each other's files mid-read (and no
    * absolute repo path survives a checkout relocation). A JVM shutdown
    * hook removes the whole app-scoped dir so repeated test/bench runs
    * do not accumulate scratch lakes in the container's tmpdir. */
  private[queries] val qtmpCleanupRegistered =
    new java.util.concurrent.ConcurrentHashMap[String, Boolean]()

  private[queries] def qtmp(s: SparkSession, name: String): String = {
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-qtmp-${s.sparkContext.applicationId}")
    if (qtmpCleanupRegistered.putIfAbsent(base.getAbsolutePath, true) == null)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(base)
      }))
    new java.io.File(base, name).getAbsolutePath
  }

  /** S3/S10 (flattened wide-CSV interchange, write -> read round-trip
    * through the real [[graft.sources.FlatCsv]]): per-event integer
    * invariants (dp count, magnitude sum, hr sum, ts sum) must survive
    * the 510-column projection and the array reassembly; the oracle
    * derives them from the fixture directly, so a lossy cell, a dropped
    * row, or a mis-stitched array all break the hash.
    *
    * Bench note: ~1.4-1.8 s at sf0.1 is real filesystem work — a
    * 510-column CSV is written AND read back inside the query (that IS
    * the operator under test); the cost scales with the interchange
    * volume, not with a plan defect. */
  def s3FlatCsvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = qtmp(s, "s3_flatcsv")
    graft.sources.FlatCsv.write(
      OsdbFixture.flatDps(s, d, col("e") % 40 === 0).toDF(), dir)
    graft.sources.FlatCsv.read(s, dir).toDF()
      .groupBy(col("eventId").as("event_id"))
      .agg(count(lit(1)).as("n_dp"),
        sum(sumLongUdf(col("rawData"))).as("mag_sum"),
        sum(col("hr").cast("long")).as("hr_sum"),
        sum(col("tsSec")).as("ts_sum"))
  }

  val s3Sql: String = sqlBase +
    """SELECT CAST(a.e AS VARCHAR) AS event_id, a.n_dp,
      |  COALESCE(mg.mag_sum, 0) AS mag_sum, a.hr_sum, a.ts_sum
      |FROM (SELECT e, COUNT(*) AS n_dp, CAST(SUM(hr) AS BIGINT) AS hr_sum,
      |        CAST(SUM(ts) AS BIGINT) AS ts_sum
      |      FROM dpx WHERE e % 40 = 0 GROUP BY e) a
      |LEFT JOIN (SELECT e, CAST(SUM(m) AS BIGINT) AS mag_sum
      |           FROM sampm WHERE e % 40 = 0 GROUP BY e) mg
      |  ON a.e = mg.e""".stripMargin

  /** S6 (lake upsert through the real [[graft.sources.OsdbJson
    * .upsertEvents]]): k%3==0 keys are replaced with bumped values,
    * k%5==0 adds fresh keys — the INSERT OR REPLACE contract as one
    * ranking-union query vs the oracle's direct restatement. */
  def s6Upsert(s: SparkSession, d: String): DataFrame = {
    val ev = OsdbFixture.ev(s, d)
    val existing = ev.select(col("e").cast("string").as("id"),
      col("n_dp").as("v"), col("type_str"))
    val updates = ev.filter(col("k") % 3 === 0)
      .select(col("e").cast("string").as("id"),
        (col("n_dp") + 100).as("v"), col("type_str"))
      .unionByName(ev.filter(col("k") % 5 === 0)
        .select(concat(lit("n"), col("e").cast("string")).as("id"),
          col("n_dp").as("v"), col("type_str")))
    graft.sources.OsdbJson.upsertEvents(existing, updates, "id")
  }

  val s6Sql: String = sqlBase +
    """SELECT CAST(e AS VARCHAR) AS id,
      |  CAST(CASE WHEN k % 3 = 0 THEN n_dp + 100 ELSE n_dp END AS BIGINT) AS v,
      |  type_str
      |FROM ev
      |UNION ALL
      |SELECT 'n' || CAST(e AS VARCHAR) AS id, CAST(n_dp AS BIGINT) AS v, type_str
      |FROM ev WHERE k % 5 = 0""".stripMargin

  /** S8 (JSON sink, write -> read round-trip through the real
    * [[graft.sources.OsdbJson.writeEventsJson]]): nested fixture events
    * land in the category-partitioned JSON lake and are read back with
    * the explicit event schema (category recovered from the partition
    * dirs). Per-event integer invariants — dp count, hr/alarm sums, raw
    * magnitude sum — must survive the JSON serialization of the nested
    * datapoints array; the oracle derives them from the fixture directly,
    * so a lossy double, a dropped datapoint, or a mangled partition all
    * break the hash. */
  def s8JsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = qtmp(s, "s8_json")
    val ev = OsdbFixture.nested(s, d).filter(col("e_num") % 40 === 0)
      .withColumn("category", col("dataSourceName"))
      .drop("k", "e_num", "n_dp")
    graft.sources.OsdbJson.writeEventsJson(ev, dir)
    val back = s.read.schema(graft.model.Osdb.eventSchema).json(dir)
    back.select(col("id"), col("category"), explode(col("datapoints")).as("dp"))
      .groupBy("id", "category")
      .agg(count(lit(1)).as("n_dp"),
        sum(col("dp.hr").cast("long")).as("hr_sum"),
        sum(col("dp.alarmState")).as("alarm_sum"),
        sum(when(col("dp.rawData").isNotNull, sumLongUdf(col("dp.rawData")))
          .otherwise(0L)).as("mag_sum"))
  }

  val s8Sql: String = sqlBase +
    """SELECT CAST(a.e AS VARCHAR) AS id, a.category, a.n_dp, a.hr_sum,
      |  a.alarm_sum, COALESCE(mg.mag_sum, 0) AS mag_sum
      |FROM (SELECT e, data_source AS category, COUNT(*) AS n_dp,
      |        CAST(SUM(hr) AS BIGINT) AS hr_sum,
      |        CAST(SUM(alarm) AS BIGINT) AS alarm_sum
      |      FROM dpx WHERE e % 40 = 0 GROUP BY e, data_source) a
      |LEFT JOIN (SELECT e, CAST(SUM(m) AS BIGINT) AS mag_sum
      |           FROM sampm WHERE e % 40 = 0 GROUP BY e) mg
      |  ON a.e = mg.e""".stripMargin

  /** S9 (event-index CSV sink, write -> read round-trip through the real
    * [[graft.sources.OsdbJson.writeIndexCsv]]): the fixed column list,
    * dataTime ordering and quote-everything contract — a quoted free-text
    * desc, boolean flags and a formatted timestamp all pass through the
    * CSV as strings. The oracle restates the index fields from the
    * fixture formulas; min/max of the formatted dataTime check the
    * ordering-relevant column survives byte-exact (both engines format
    * the same naive UTC timestamp). */
  def s9IndexCsv(s: SparkSession, d: String): DataFrame = {
    val dir = qtmp(s, "s9_index")
    val idx = OsdbFixture.ev(s, d).select(
      col("e").cast("string").as("id"),
      col("u").cast("string").as("userId"),
      date_format(timestamp_seconds(col("wts")), "yyyy-MM-dd HH:mm:ss").as("dataTime"),
      col("type_str").as("type"),
      col("sub_type").as("subType"),
      (col("k") % 6).as("osdAlarmState"),
      (col("k") % 4 =!= 1).as("has3dData"),
      (col("k") % 2 === 0).as("hasHrData"),
      (col("k") % 3 === 0).as("hasO2SatData"),
      concat(lit("ev "), col("e")).as("desc"))
    graft.sources.OsdbJson.writeIndexCsv(idx, dir)
    s.read.option("header", "true").csv(dir)
      .groupBy(col("has3dData"))
      .agg(count(lit(1)).as("n"),
        sum(col("id").cast("long")).as("id_sum"),
        sum(col("osdAlarmState").cast("long")).as("alarm_sum"),
        min(col("dataTime")).as("first_dt"),
        max(col("dataTime")).as("last_dt"))
  }

  val s9Sql: String = sqlBase +
    """SELECT CAST(k % 4 <> 1 AS VARCHAR) AS has3dData, COUNT(*) AS n,
      |  CAST(SUM(e) AS BIGINT) AS id_sum,
      |  CAST(SUM(k % 6) AS BIGINT) AS alarm_sum,
      |  MIN(strftime(make_timestamp(wts * 1000000), '%Y-%m-%d %H:%M:%S')) AS first_dt,
      |  MAX(strftime(make_timestamp(wts * 1000000), '%Y-%m-%d %H:%M:%S')) AS last_dt
      |FROM ev GROUP BY 1""".stripMargin

  /** S7 (MongoDB mirror sink, write -> read round-trip through the real
    * [[graft.sources.MongoSink]]): the e%30==0 nested-event slice lands
    * as mongoimport-ready Extended JSON NDJSON — event id as `_id`, a
    * synthesized TimestampType dataTime wrapped `{"$date": ISO-8601Z}`,
    * nested datapoints verbatim — and is read back through the wire
    * schema. The per-event invariants (dp count, hr/alarm sums) plus the
    * reformatted `$date` gate both directions: a broken `_id` rename, a
    * mis-wrapped or tz-shifted date, or a dropped datapoint all break
    * the hash. The oracle restates the slice from the fixture formulas —
    * both engines format the same naive UTC timestamp. */
  def s7MongoRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = qtmp(s, "s7_mongo")
    val ev = OsdbFixture.nested(s, d).filter(col("e_num") % 30 === 0)
      .withColumn("dataTime",
        timestamp_seconds(lit(1600000000L) + col("e_num") * 60))
      .drop("k", "e_num", "n_dp")
    graft.sources.MongoSink.writeEventsMongoJson(ev, dir,
      idCol = "id", dateCols = Seq("dataTime"))
    val back = graft.sources.MongoSink.readEventsMongoJson(s, dir, ev.schema,
      idCol = "id", dateCols = Seq("dataTime"))
    back.select(col("id"),
        date_format(col("dataTime"), "yyyy-MM-dd HH:mm:ss").as("dt"),
        explode(col("datapoints")).as("dp"))
      .groupBy("id", "dt")
      .agg(count(lit(1)).as("n_dp"),
        sum(col("dp.hr").cast("long")).as("hr_sum"),
        sum(col("dp.alarmState")).as("alarm_sum"))
  }

  val s7Sql: String = sqlBase +
    """SELECT CAST(e AS VARCHAR) AS id,
      |  strftime(make_timestamp((1600000000 + e * 60) * 1000000),
      |           '%Y-%m-%d %H:%M:%S') AS dt,
      |  COUNT(*) AS n_dp, CAST(SUM(hr) AS BIGINT) AS hr_sum,
      |  CAST(SUM(alarm) AS BIGINT) AS alarm_sum
      |FROM dpx WHERE e % 30 = 0 GROUP BY e""".stripMargin

  /** U3 (multi-file union through the real [[graft.sources.OsdbJson
    * .readEvents]] paths* overload): two single-file NDJSON category
    * files — the reference's one-JSON-file-per-category layout — read in
    * ONE scan, with the category recovered from each file name. The
    * staging write is the harness (coalesce(1) + rename to `<cat>.json`,
    * the layout the reference ships); the operator under test is the
    * union read + filename category extraction. */
  def u3MultifileUnion(s: SparkSession, d: String): DataFrame = {
    val base = new java.io.File(qtmp(s, "u3_union"))
    base.mkdirs()
    val ev = OsdbFixture.ev(s, d)
    def writeCat(df: DataFrame, cat: String): String = {
      val stage = new java.io.File(base, s"_stage_$cat")
      df.coalesce(1).write.mode("overwrite").json(stage.getAbsolutePath)
      val part = stage.listFiles().find(f => f.getName.startsWith("part-")
        && f.getName.endsWith(".json")).get
      val dest = new java.io.File(base, s"$cat.json")
      java.nio.file.Files.move(part.toPath, dest.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dest.getAbsolutePath
    }
    def proj(df: DataFrame) = df.select(
      col("e").cast("string").as("id"),
      col("u").cast("string").as("userId"),
      col("type_str").as("type"),
      col("sub_type").as("subType"),
      col("data_source").as("dataSourceName"))
    val pa = writeCat(proj(ev.filter(col("k") % 2 === 0)), "catA")
    val pb = writeCat(proj(ev.filter(col("k") % 2 =!= 0)), "catB")
    graft.sources.OsdbJson.readEvents(s, Seq(pa, pb),
        multiLine = false, tidy = false)
      .groupBy("category")
      .agg(count(lit(1)).as("n"), sum(col("id").cast("long")).as("id_sum"))
  }

  val u3Sql: String = sqlBase +
    """SELECT CASE WHEN k % 2 = 0 THEN 'catA' ELSE 'catB' END AS category,
      |  COUNT(*) AS n, CAST(SUM(e) AS BIGINT) AS id_sum
      |FROM ev GROUP BY 1""".stripMargin

  /** S1 (multiLine JSON-ARRAY category file through the real
    * [[graft.sources.OsdbJson.readEvents]] multiLine=true branch —
    * the reference's native one-array-per-category layout,
    * osdDbConnection.py:101-126): the k%3==0 event slice is staged as
    * NDJSON by Spark, wrapped into a single `[...]` array file by the
    * harness (driver-side string assembly of an already-coalesced
    * single part file — same bounded-harness class as u3's rename),
    * and read back through the array-parsing code path with category
    * recovered from the file name. The oracle restates the slice from
    * the fixture formulas, so a mis-parsed array element, a dropped
    * row, or a broken filename-category extraction all break the hash.
    *
    * Scale note: a multiLine JSON array file is NOT splittable — Spark
    * parses it in one task, which is inherent to the S1 layout (the
    * reference's files are single arrays). The scale layout is NDJSON
    * (S2/U3) or the parquet lake; S1 exists for ingesting the
    * reference's own files. */
  def s1MultilineArray(s: SparkSession, d: String): DataFrame = {
    val base = new java.io.File(qtmp(s, "s1_array"))
    base.mkdirs()
    val ev = OsdbFixture.ev(s, d).filter(col("k") % 3 === 0)
      .select(
        col("e").cast("string").as("id"),
        col("u").cast("string").as("userId"),
        col("type_str").as("type"),
        col("sub_type").as("subType"),
        col("data_source").as("dataSourceName"))
    val stage = new java.io.File(base, "_stage_catC")
    ev.coalesce(1).write.mode("overwrite").json(stage.getAbsolutePath)
    val part = stage.listFiles().find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(
        s"no part- file in staged JSON dir $stage; contents: " +
          stage.listFiles().map(_.getName).mkString(", ")))
    val lines = java.nio.file.Files.readAllLines(part.toPath)
    val dest = new java.io.File(base, "catC.json")
    java.nio.file.Files.write(dest.toPath,
      lines.stream().collect(java.util.stream.Collectors.joining(",\n", "[", "]"))
        .getBytes("UTF-8"))
    graft.sources.OsdbJson.readEvents(s, Seq(dest.getAbsolutePath),
        multiLine = true, tidy = false)
      .groupBy("category")
      .agg(count(lit(1)).as("n"), sum(col("id").cast("long")).as("id_sum"))
  }

  val s1Sql: String = sqlBase +
    """SELECT 'catC' AS category, COUNT(*) AS n, CAST(SUM(e) AS BIGINT) AS id_sum
      |FROM ev WHERE k % 3 = 0""".stripMargin

  /** S4 (Web API event source through the real
    * [[graft.sources.WebApi]] DSv2 connector, webApiConnection.py
    * getEvents shape): the ub==3 fixture slice is staged as the
    * transport's cached listing for the FILTERED URL
    * `events/?user=3` — and ONLY that URL, so the query passes iff the
    * `userId = '3'` filter actually pushes down to the wire (an
    * unfiltered listing fetch dies loudly on the missing cache file).
    * The oracle restates the slice from the fixture formulas; the
    * file-cache transport is the reference's own download=False replay
    * mode, not a test-only shim. Same bounded staging-harness class as
    * s1/u3. */
  def s4WebApi(s: SparkSession, d: String): DataFrame = {
    val base = new java.io.File(qtmp(s, "s4_webapi"))
    base.mkdirs()
    val apiBase = "http://osdb.fixture/api"
    val listing = OsdbFixture.ev(s, d).filter(col("ub") === 3)
      .select(
        col("e").cast("string").as("id"),
        col("ub").cast("string").as("userId"),
        col("type_str").as("type"),
        col("sub_type").as("subType"))
    val stage = new java.io.File(base, "_stage_listing")
    listing.coalesce(1).write.mode("overwrite").json(stage.getAbsolutePath)
    val part = stage.listFiles().find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(
        s"no part- file in staged JSON dir $stage; contents: " +
          stage.listFiles().map(_.getName).mkString(", ")))
    val dest = new java.io.File(base,
      graft.sources.WebApi.cacheKey(s"$apiBase/events/?user=3"))
    java.nio.file.Files.move(part.toPath, dest.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    graft.sources.WebApi.readEvents(s, Map(
        "baseUrl" -> apiBase, "transport" -> "file",
        "fixtureDir" -> base.getAbsolutePath))
      .filter(col("userId") === "3")
      .groupBy("type")
      .agg(count(lit(1)).as("n"), sum(col("id").cast("long")).as("id_sum"))
  }

  val s4Sql: String = sqlBase +
    """SELECT type_str AS type, COUNT(*) AS n, CAST(SUM(e) AS BIGINT) AS id_sum
      |FROM ev WHERE ub = 3 GROUP BY 1""".stripMargin

  /** S14 — corrupt-record quarantine through
    * [[graft.sources.OsdbJson.readEventsQuarantined]]: the k%3==1
    * fixture slice is staged as NDJSON in k-order, the harness then
    * vandalizes every 10th LINE into non-JSON (unclosed-brace prefix),
    * and the quarantined read must route exactly those lines to
    * `_corrupt_record` (schema fields null) while parsing the rest
    * normally. The oracle restates good/corrupt counts and the
    * good-row id sum from the fixture formulas via the same
    * every-10th-by-k-rank rule — a mis-parsed good line, a silently
    * swallowed bad line, or an off-by-one in PERMISSIVE routing all
    * break the hash. Same bounded staging-harness class as s1.
    *
    * Scale note: this is the plan you want at 100 TB ingest — garbage
    * accounting and quarantine are a FILTER on the one scan that was
    * happening anyway, not a second validation pass over the corpus. */
  def s14CorruptQuarantine(s: SparkSession, d: String): DataFrame = {
    val base = new java.io.File(qtmp(s, "s14_quarantine"))
    base.mkdirs()
    val ev = OsdbFixture.ev(s, d).filter(col("k") % 3 === 1).orderBy("k")
      .select(
        col("e").cast("string").as("id"),
        col("u").cast("string").as("userId"),
        col("type_str").as("type"),
        col("sub_type").as("subType"),
        col("data_source").as("dataSourceName"))
    val stage = new java.io.File(base, "_stage")
    ev.coalesce(1).write.mode("overwrite").json(stage.getAbsolutePath)
    val part = stage.listFiles().find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(
        s"no part- file in staged JSON dir $stage; contents: " +
          stage.listFiles().map(_.getName).mkString(", ")))
    val lines = java.nio.file.Files.readAllLines(part.toPath)
    val sb = new StringBuilder
    var i = 0
    lines.forEach { l =>
      i += 1
      sb.append(if (i % 10 == 0) "{corrupt " + l else l).append('\n')
    }
    val dest = new java.io.File(base, "feed.json")
    java.nio.file.Files.write(dest.toPath, sb.toString.getBytes("UTF-8"))
    graft.sources.OsdbJson.readEventsQuarantined(s, dest.getAbsolutePath)
      .agg(
        count(when(col("_corrupt_record").isNull, 1)).as("n_good"),
        count(col("_corrupt_record")).as("n_corrupt"),
        sum(when(col("_corrupt_record").isNull, col("id").cast("long")))
          .as("id_sum"))
  }

  val s14Sql: String = sqlBase +
    """SELECT COUNT(*) FILTER (WHERE rn % 10 <> 0) AS n_good,
      |       COUNT(*) FILTER (WHERE rn % 10 = 0) AS n_corrupt,
      |       CAST(SUM(e) FILTER (WHERE rn % 10 <> 0) AS BIGINT) AS id_sum
      |FROM (SELECT e, row_number() OVER (ORDER BY k) AS rn
      |      FROM ev WHERE k % 3 = 1)""".stripMargin

  /** S4B — DRF-PAGINATED listing through the same [[graft.sources
    * .WebApi]] connector (the round-10 pagination fix, oracled): the
    * ub==4 fixture slice is split across THREE chained
    * `{"count", "next", "results"}` pages — only page 1 sits at the
    * filtered listing URL; pages 2 and 3 are reachable ONLY by
    * following `next` links. The oracle restates the whole slice, so a
    * connector that stops at the first response (the reference
    * client's behavior) is missing two-thirds of its rows and breaks
    * the hash. Filter pushdown still gates the entry: only the
    * `?user=4` page chain is staged. */
  def s4bPagedListing(s: SparkSession, d: String): DataFrame = {
    val base = new java.io.File(qtmp(s, "s4b_paged"))
    base.mkdirs()
    val apiBase = "http://osdb.fixture/api"
    val listing = OsdbFixture.ev(s, d).filter(col("ub") === 4)
      .select(
        col("e").cast("string").as("id"),
        col("ub").cast("string").as("userId"),
        col("type_str").as("type"),
        col("sub_type").as("subType"))
    val stage = new java.io.File(base, "_stage_listing")
    listing.coalesce(1).write.mode("overwrite").json(stage.getAbsolutePath)
    val part = stage.listFiles().find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(
        s"no part- file in staged JSON dir $stage"))
    val lines = Vector.newBuilder[String]
    java.nio.file.Files.readAllLines(part.toPath)
      .forEach(l => if (l.nonEmpty) lines += l)
    val all = lines.result()
    val pages = all.grouped(math.max(1, (all.size + 2) / 3)).toSeq
    def pageUrl(i: Int): String =
      if (i == 0) s"$apiBase/events/?user=4"
      else s"$apiBase/events/?user=4&page=${i + 1}"
    pages.zipWithIndex.foreach { case (g, i) =>
      val next =
        if (i == pages.size - 1) "null" else "\"" + pageUrl(i + 1) + "\""
      java.nio.file.Files.write(
        new java.io.File(base,
          graft.sources.WebApi.cacheKey(pageUrl(i))).toPath,
        s"""{"count":${all.size},"next":$next,"results":[${g.mkString(",")}]}"""
          .getBytes("UTF-8"))
    }
    graft.sources.WebApi.readEvents(s, Map(
        "baseUrl" -> apiBase, "transport" -> "file",
        "fixtureDir" -> base.getAbsolutePath))
      .filter(col("userId") === "4")
      .groupBy("type")
      .agg(count(lit(1)).as("n"), sum(col("id").cast("long")).as("id_sum"))
  }

  val s4bSql: String = sqlBase +
    """SELECT type_str AS type, COUNT(*) AS n, CAST(SUM(e) AS BIGINT) AS id_sum
      |FROM ev WHERE ub = 4 GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- registry

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a1_group_collect"  -> (a1GroupCollect _),
    "o1_sort_within"    -> (o1SortWithin _),
    "j2_explode_parent" -> (j2ExplodeParent _),
    "a3_has_flags"      -> (a3HasFlags _),
    "a4_event_metrics"  -> (a4EventMetrics _),
    "f7_source_filter"  -> (f7SourceFilter _),
    "f9_accel_presence" -> (f9AccelPresence _),
    "f10_low_motion"    -> (f10LowMotion _),
    "c1_parse_secs"     -> (c1ParseSecs _),
    "c3_tz_normalize"   -> (c3TzNormalize _),
    "c5_magnitude_rank" -> (c5MagnitudeRank _),
    "c5n_native_mag"    -> (c5nNativeMag _),
    "c7_deinterleave"   -> (c7Deinterleave _),
    "c8_truncate"       -> (c8Truncate _),
    "c12_line_length"   -> (c12LineLength _),
    "c13_zero_cross"    -> (c13ZeroCross _),
    "c14_moments"       -> (c14Moments _),
    "c15_znorm_argmax"  -> (c15ZnormArgmax _),
    "c16_minmax"        -> (c16MinMax _),
    "c18_gap_fill"      -> (c18GapFill _),
    "w4_merge_dedup"    -> (w4MergeDedup _),
    "w5_epochs"         -> (w5Epochs _),
    "w6_spectrogram"    -> (w6Spectrogram _),
    "w8_nn_buffer"      -> (w8NnBuffer _),
    "w10_replay_fsm"    -> (w10ReplayFsm _),
    "a6b_detection_pivot" -> (a6bDetectionPivot _),
    "m4_noise_aug"      -> (m4NoiseAug _),
    "m5_phase_aug"      -> (m5PhaseAug _),
    "m6_user_aug"       -> (m6UserAug _),
    "m7_tc_aug"         -> (m7TcAug _),
    "s13_simulated"     -> (s13Simulated _),
    "s3_flatcsv_roundtrip" -> (s3FlatCsvRoundtrip _),
    "s6_upsert"         -> (s6Upsert _),
    "s7_mongo_roundtrip" -> (s7MongoRoundtrip _),
    "s8_json_roundtrip" -> (s8JsonRoundtrip _),
    "s9_index_csv"      -> (s9IndexCsv _),
    "u3_multifile_union" -> (u3MultifileUnion _),
    "s1_multiline_array" -> (s1MultilineArray _),
    "s4_webapi"         -> (s4WebApi _),
    "s5_device"         -> (s5Device _),
    "s14_corrupt_quarantine" -> (s14CorruptQuarantine _),
    "lake1_pruned_scan" -> (lake1PrunedScan _),
    "lake2_bucketed_join" -> (lake2BucketedJoin _),
    "lake3_compaction"  -> (lake3Compaction _),
    "lake7_orc"         -> (lake7Orc _),
    "lake8_time_travel" -> (lake8TimeTravel _),
    "lake9_vacuum"      -> (lake9Vacuum _),
    "s4b_paged_listing" -> (s4bPagedListing _),
    "rpt1_summary_index" -> (rpt1SummaryIndex _),
    "rpt2_user_summary" -> (rpt2UserSummary _),
    "ml1_auroc"         -> (ml1Auroc _),
    "ml2_run_sequence"  -> (ml2RunSequence _),
    "cfg1_config_bridge" -> (cfg1ConfigBridge _),
    "cfg2_testrunner"   -> (cfg2Testrunner _),
    "ml3_cnn_forward"   -> (ml3CnnForward _),
    "ml4_lstm_forward"  -> (ml4LstmForward _),
    "ml4b_lstm_stack"   -> (ml4bLstmStackForward _),
    "ml4c_lstm_attn"    -> (ml4cLstmAttnForward _),
    "ml4d_lstm_bidir"   -> (ml4dLstmBidirForward _),
    "ml4e_lstm_fusion"  -> (ml4eLstmFusionForward _),
    "ml4f_conv_pipe"    -> (ml4fConvPipeForward _),
    "ml4g_conv3d_pipe"  -> (ml4gConv3dPipeForward _),
    "ml4h_multiclass"   -> (ml4hMulticlassForward _),
    "ml4i_tower_fusion" -> (ml4iTowerFusion _),
    "a6c_multiclass_confusion" -> (a6cMulticlassConfusion _),
    "ml5_ensemble"      -> (ml5Ensemble _),
    "ml6_nested_kfold"  -> (ml6NestedKfold _),
    "ml7_pipeline_audit" -> (ml7Audit _),
    "ml8_rf"            -> (ml8RfForward _),
    "ml9_param_sweep"   -> (ml9ParamSweep _),
    "ml10_spec_cnn"     -> (ml10SpecCnn _),
    "rpt5_results_analysis" -> (rpt5ResultsAnalysis _),
    "rpt6_analyze_data" -> (rpt6AnalyzeData _),
    "rpt7_model_compare" -> (rpt7ModelCompare _),
    "cur1_alarm_check"  -> (cur1AlarmCheck _),
    "cur2_merge_priority" -> (cur2MergePriority _),
    "fa1_false_alarm_periods" -> (fa1FalseAlarmPeriods _),
    "dash1_new_events"  -> (dash1NewEvents _),
    "rpt3_index_shards" -> (rpt3IndexShards _),
    "viz1_dataviz_series" -> (viz1DatavizSeries _),
    "lake10_versioned_delete" -> (lake10VersionedDelete _),
    "lake4_zorder"      -> (lake4ZOrder _),
    "lake5_delete"      -> (lake5Delete _),
    "lake6_schema_evolution" -> (lake6SchemaEvolution _),
    "s12_seizure_times" -> (s12SeizureTimes _),
    "p1_fft_bins"       -> (p1FftBins _),
    "p2_window_sums"    -> (p2WindowSums _),
    "p4_band_power"     -> (p4BandPower _),
    "p6_spectrum_ratio" -> (p6SpectrumRatio _),
    "p7_alarm_state"    -> (p7AlarmState _),
    "p8_filtfilt_rms"   -> (p8FiltfiltRms _),
    "p10_band_peak"     -> (p10BandPeak _),
    "p11_spectral_shape" -> (p11SpectralShape _),
    "p12_epoch_features" -> (p12EpochFeatures _),
    "p9_welch_psd"      -> (p9WelchPsd _),
    "p13_interp"        -> (p13Interp _)
  )

  val oracles: Map[String, String] = Map(
    "a1_group_collect"  -> a1Sql,
    "o1_sort_within"    -> o1Sql,
    "j2_explode_parent" -> j2Sql,
    "a3_has_flags"      -> a3Sql,
    "a4_event_metrics"  -> a4Sql,
    "f7_source_filter"  -> f7Sql,
    "f9_accel_presence" -> f9Sql,
    "f10_low_motion"    -> f10Sql,
    "c1_parse_secs"     -> c1Sql,
    "c3_tz_normalize"   -> c3Sql,
    "c5_magnitude_rank" -> c5Sql,
    "c5n_native_mag"    -> c5nSql,
    "c7_deinterleave"   -> c7Sql,
    "c8_truncate"       -> c8Sql,
    "c12_line_length"   -> c12Sql,
    "c13_zero_cross"    -> c13Sql,
    "c14_moments"       -> c14Sql,
    "c15_znorm_argmax"  -> c15Sql,
    "c16_minmax"        -> c16Sql,
    "c18_gap_fill"      -> c18Sql,
    "w4_merge_dedup"    -> w4Sql,
    "w5_epochs"         -> w5Sql,
    "w6_spectrogram"    -> w6Sql,
    "w8_nn_buffer"      -> w8Sql,
    "w10_replay_fsm"    -> w10Sql,
    "a6b_detection_pivot" -> a6bSql,
    "m4_noise_aug"      -> m4Sql,
    "m5_phase_aug"      -> m5Sql,
    "m6_user_aug"       -> m6Sql,
    "m7_tc_aug"         -> m7Sql,
    "s13_simulated"     -> s13Sql,
    "s3_flatcsv_roundtrip" -> s3Sql,
    "s6_upsert"         -> s6Sql,
    "s7_mongo_roundtrip" -> s7Sql,
    "s8_json_roundtrip" -> s8Sql,
    "s9_index_csv"      -> s9Sql,
    "u3_multifile_union" -> u3Sql,
    "s1_multiline_array" -> s1Sql,
    "s4_webapi"         -> s4Sql,
    "s5_device"         -> s5Sql,
    "s14_corrupt_quarantine" -> s14Sql,
    "lake1_pruned_scan" -> lake1Sql,
    "lake2_bucketed_join" -> lake2Sql,
    "lake3_compaction"  -> lake3Sql,
    "lake7_orc"         -> lake7Sql,
    "lake8_time_travel" -> lake8Sql,
    "lake9_vacuum"      -> lake9Sql,
    "s4b_paged_listing" -> s4bSql,
    "rpt1_summary_index" -> rpt1Sql,
    "rpt2_user_summary" -> rpt2Sql,
    "ml1_auroc"         -> ml1Sql,
    "ml2_run_sequence"  -> ml2Sql,
    "cfg1_config_bridge" -> cfg1Sql,
    "cfg2_testrunner"   -> cfg2Sql,
    "ml3_cnn_forward"   -> ml3Sql,
    "ml4_lstm_forward"  -> ml4Sql,
    "ml4b_lstm_stack"   -> ml4bSql,
    "ml4c_lstm_attn"    -> ml4cSql,
    "ml4d_lstm_bidir"   -> ml4dSql,
    "ml4e_lstm_fusion"  -> ml4eSql,
    "ml4f_conv_pipe"    -> ml4fSql,
    "ml4g_conv3d_pipe"  -> ml4gSql,
    "ml4h_multiclass"   -> ml4hSql,
    "ml4i_tower_fusion" -> ml4iSql,
    "a6c_multiclass_confusion" -> a6cSql,
    "ml5_ensemble"      -> ml5Sql,
    "ml6_nested_kfold"  -> ml6Sql,
    "ml7_pipeline_audit" -> ml7Sql,
    "ml8_rf"            -> ml8Sql,
    "ml9_param_sweep"   -> ml9Sql,
    "ml10_spec_cnn"     -> ml10Sql,
    "rpt5_results_analysis" -> rpt5Sql,
    "rpt6_analyze_data" -> rpt6Sql,
    "rpt7_model_compare" -> rpt7Sql,
    "cur1_alarm_check"  -> cur1Sql,
    "cur2_merge_priority" -> cur2Sql,
    "fa1_false_alarm_periods" -> fa1Sql,
    "dash1_new_events"  -> dash1Sql,
    "rpt3_index_shards" -> rpt3Sql,
    "viz1_dataviz_series" -> viz1Sql,
    "lake10_versioned_delete" -> lake10Sql,
    "lake4_zorder"      -> lake4Sql,
    "lake5_delete"      -> lake5Sql,
    "lake6_schema_evolution" -> lake6Sql,
    "s12_seizure_times" -> s12Sql,
    "p1_fft_bins"       -> p1Sql,
    "p2_window_sums"    -> p2Sql,
    "p4_band_power"     -> p4Sql,
    "p6_spectrum_ratio" -> p6Sql,
    "p7_alarm_state"    -> p7Sql,
    "p8_filtfilt_rms"   -> p8Sql,
    "p10_band_peak"     -> p10Sql,
    "p11_spectral_shape" -> p11Sql,
    "p12_epoch_features" -> p12Sql,
    "p9_welch_psd"      -> p9Sql,
    "p13_interp"        -> p13Sql
  )
}
