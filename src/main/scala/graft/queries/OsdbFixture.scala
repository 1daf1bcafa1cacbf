package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Flatten.FlatDp

/** A deterministic OSDB-shaped fixture both engines can derive from the
  * driver `events` table with pure integer arithmetic — the bridge that
  * lets the DOMAIN operators (signal library, tidy, flatten, replay,
  * augment) carry DuckDB-oracled CORRECTNESS rows even though the driver
  * testdata has no nested-event table.
  *
  * Every derived value is an integer (stored as double where the domain
  * type demands), so any sum/count oracle is bit-exact, and single-IEEE-op
  * projections (one division, one subtraction) stay bit-identical across
  * engines. Float accumulations (std, magnitude sums) are only ever
  * compared by RANK with a unique tiebreak.
  *
  * Shared definition (k = event_id/20 over event_id % 20 == 0 rows):
  *   nDp        = 4 + k % 5                     (4..8 datapoints)
  *   tsSec(k,d) = 1700000000 + k*3600 + d*5
  *   hr(k,d)    = -1 if (k+d)%4 < k%5 else 60 + (k + d*7) % 60
  *                (missing fraction sweeps 0..1 by k, so the 50% has-data
  *                 flags genuinely bisect the events)
  *   o2(k,d)    = -1 if (k*2+d)%6 < k%7 else 90 + (k+d) % 10
  *   alarm(k,d) = (k+d)%9 if (k+d)%9 < 4 else 0   (worst state varies)
  *   rawData present iff (k+d) % 7 != 0; sample i of a present dp:
  *     m = 1000 + i%2                 if (k+d)%11==0   (low-motion dp)
  *         800 + (k*104729 + d*257 + i*23) % 401       otherwise
  *   rawData3D present iff k % 4 != 1; interleaved sample (i, axis a):
  *     v = ((k*7919 + d*131 + i*17 + a*29) % 2001) - 1000
  *   type = [Seizure, False Alarm, Unknown][k % 3]  (labels 1, 0, 2)
  *   subType = tonicClonic if k%5<2 else other
  *   dataSourceName = [GarminSDA, PebbleSD, PhoneApp, BangleJS][k % 4]
  *
  * The DuckDB rendering of the same definition is [[sqlBase]].
  */
object OsdbFixture {

  val TsBase = 1700000000L

  // ------------------------------------------------------------ scalar defs

  def magAt(k: Long, d: Long, i: Int): Long =
    if ((k + d) % 11 == 0) 1000 + i % 2
    else 800 + (k * 104729 + d * 257 + i * 23) % 401

  def axisAt(k: Long, d: Long, i: Int, a: Int): Long =
    ((k * 7919 + d * 131 + i * 17 + a * 29) % 2001) - 1000

  private val magUdf = udf((k: Long, d: Long, n: Int) =>
    Array.tabulate(n)(i => magAt(k, d, i).toDouble))

  private val xyzUdf = udf((k: Long, d: Long, n3: Int) =>
    Array.tabulate(n3)(j => axisAt(k, d, j / 3, j % 3).toDouble))

  // -------------------------------------------------------- pure-tone fixture

  /** Pure-tone datapoint parameters (P4/P5/P12 oracle bridge): two
    * cosines at exact integer DFT bins over n=125 samples, so the band
    * powers have INTEGER closed forms both engines can state:
    *
    *   x(i) = 1000 + A1*cos(2*pi*f1*i/125) + A2*cos(2*pi*f2*i/125)
    *   f1 = 15 + (k+d) % 24   — inside the ROI bins
    *   f2 = 41 + (k+d) % 21   — inside the spec cutoff, outside the ROI
    *   A1 = 4*(1 + k%3), A2 = 4*(1 + d%2)
    *
    * Bin geometry at (n=125, fs=25): freqRes = 0.2 Hz/bin;
    * `(3.0/0.2).toInt` = 14 and `(8.0/0.2).toInt` = 39 (0.2 rounds UP in
    * binary, so the quotients land just BELOW 15/40), giving ROI bins
    * [14, 39); spec bins are 1..62. f1/f2 stay clear of every boundary
    * bin (13,14,39,40,62,63) so the toInt edge cases cannot flip a
    * bin in or out of a band. An integer-bin tone is orthogonal to all
    * other bins, so with |X_f| = A*n/2 (and the conjugate bin 125-f >= 63
    * outside both bands):
    *
    *   specPower = (A1^2 + A2^2) * n^2/4 / n / 2 = (A1^2+A2^2) * 125/8
    *   roiPower  = A1^2 * n^2/4 / 25           = A1^2 * 15625/100
    *
    * With A = 4a both are exact integers. The DFT's float error is
    * ~1e-9 absolute (twiddle rounding over 125 fused mul-adds), so
    * `round(...)` to the nearest integer is a >1e8-sigma-safe bridge:
    * the Spark side rounds the real [[graft.functions.Signal]] output,
    * the DuckDB side emits the closed form. DC sits in bin 0, outside
    * both bands. */
  def toneF1(k: Long, d: Long): Int = (15 + (k + d) % 24).toInt
  def toneF2(k: Long, d: Long): Int = (41 + (k + d) % 21).toInt
  def toneA1(k: Long): Int = (4 * (1 + k % 3)).toInt
  def toneA2(d: Long): Int = (4 * (1 + d % 2)).toInt

  private val toneUdf = udf { (k: Long, d: Long, n: Int) =>
    val f1 = toneF1(k, d); val f2 = toneF2(k, d)
    val a1 = toneA1(k); val a2 = toneA2(d)
    Array.tabulate(n)(i =>
      1000.0 + a1 * math.cos(2 * math.Pi * f1 * i / n)
             + a2 * math.cos(2 * math.Pi * f2 * i / n))
  }

  /** One tone datapoint per fixture (k,d): (e, k, d, rawData).
    *
    * `n` is the sample count AND the tone period — f1/f2 stay integer
    * DFT *bins* of n, so at n=125 (the device epoch, P4–P7/P10/P11)
    * f1 spans 3.0–7.6 Hz and at n=1000 (the P8 filtfilt fixture, where
    * the startup transient must decay below the closed form's rounding
    * margin — see graft.ToneGainSpec) f1 spans 0.375–0.95 Hz,
    * straddling the 0.5 Hz high-pass corner. */
  def toneDps(s: SparkSession, dir: String,
              where: org.apache.spark.sql.Column = lit(true),
              n: Int = 125): DataFrame =
    ev(s, dir)
      .withColumn("d", explode(expr("sequence(0L, n_dp - 1)")))
      .filter(where)
      // spread the NARROW pre-array rows to cluster width before the
      // compute-amplifying tone generation — see [[dps]]'s repartition
      // note (the same single-split-scan bottleneck)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("e"), col("k"), col("d"),
        toneUdf(col("k"), col("d"), lit(n)).as("rawData"))

  // ------------------------------------------------------------ event level

  /** Event-level fixture rows (one per event). */
  def ev(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_id") % 20 === 0)
      .select(
        expr("event_id div 20").as("k"),
        col("user_id").as("u"),
        col("event_id").as("e"))
      .withColumn("n_dp", lit(4L) + col("k") % 5)
      .withColumn("type_str",
        when(col("k") % 3 === 0, "Seizure")
          .when(col("k") % 3 === 1, "False Alarm").otherwise("Unknown"))
      .withColumn("label",
        when(col("k") % 3 === 0, 1).when(col("k") % 3 === 1, 0).otherwise(2))
      .withColumn("sub_type",
        when(col("k") % 5 < 2, "tonicClonic").otherwise("other"))
      .withColumn("data_source",
        when(col("k") % 4 === 0, "GarminSDA").when(col("k") % 4 === 1, "PebbleSD")
          .when(col("k") % 4 === 2, "PhoneApp").otherwise("BangleJS"))
      .withColumn("ub", col("u") % 7)
      .withColumn("wts", lit(TsBase) + (col("k") * 37) % 100000)
      .withColumn("is_ref", col("k") % 10 === 0)

  // --------------------------------------------------------- datapoint level

  /** Datapoint-level fixture (arrays attached; rawData/rawData3D null when
    * absent). `rawLen`/`xyzLen` let C8 request over-length arrays that
    * Tidy must truncate. `where` filters BEFORE the array UDFs run —
    * subset queries must not pay full-fixture array generation; a typed
    * filter after `.as[FlatDp]` is opaque to Catalyst and would. When
    * `arrays` is false the array columns become 1-element presence stubs:
    * the shape queries (explode, has-data flags) keep their semantics
    * without shuffling 500 doubles per datapoint. */
  def dps(s: SparkSession, dir: String, rawLen: Int = 125, xyzLen: Int = 375,
          where: org.apache.spark.sql.Column = lit(true),
          arrays: Boolean = true): DataFrame =
    ev(s, dir)
      .withColumn("d", explode(expr("sequence(0L, n_dp - 1)")))
      .withColumn("ts", lit(TsBase) + col("k") * 3600 + col("d") * 5)
      .withColumn("hr",
        when((col("k") + col("d")) % 4 < col("k") % 5, -1.0)
          .otherwise((lit(60L) + (col("k") + col("d") * 7) % 60).cast("double")))
      .withColumn("o2",
        when((col("k") * 2 + col("d")) % 6 < col("k") % 7, -1.0)
          .otherwise((lit(90L) + (col("k") + col("d")) % 10).cast("double")))
      .withColumn("alarm",
        when((col("k") + col("d")) % 9 < 4, (col("k") + col("d")) % 9)
          .otherwise(0L))
      .withColumn("has_raw", (col("k") + col("d")) % 7 =!= 0)
      .withColumn("has_3d", col("k") % 4 =!= 1)
      .filter(where)
      // The driver tables are each ONE small parquet file (events.parquet
      // ~2 MB at sf0.1, a single row group), so every scan is a single
      // task and everything up to the first exchange — including the
      // 125/375-double array generation below and any per-row kernel a
      // query stacks on it — ran on ONE core (r19 opt round; guide §2.5
      // "input skew: one huge unsplittable file … repartition immediately
      // after the read"). Repartition the NARROW rows (no arrays yet,
      // ~150 B/row) to cluster width BEFORE the compute-amplifying array
      // columns; the explicit partition count is user-pinned, so AQE
      // does not coalesce it back to one. Scale shape: the shuffled
      // bytes are the pre-explosion fixture rows — at any scale this is
      // the standard narrow-table spread before a generator, not a
      // payload shuffle.
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("rawData",
        if (arrays) when(col("has_raw"), magUdf(col("k"), col("d"), lit(rawLen)))
        else when(col("has_raw"), array(lit(1.0))))
      .withColumn("rawData3D",
        if (arrays) when(col("has_3d"), xyzUdf(col("k"), col("d"), lit(xyzLen)))
        else when(col("has_3d"), array(lit(1.0))))

  /** Typed view for the domain operators (empty arrays for absent data,
    * exactly the FlatDp convention). Pass subsets via `where` so the
    * filter prunes before array generation. */
  def flatDps(s: SparkSession, dir: String,
              where: org.apache.spark.sql.Column = lit(true)): Dataset[FlatDp] = {
    import s.implicits._
    dps(s, dir, where = where)
      .select(
        col("e").cast("string").as("eventId"),
        col("u").cast("string").as("userId"),
        col("type_str").as("typeStr"),
        col("label").as("type"),
        col("ts").as("tsSec"),
        col("alarm").as("osdAlarmState"),
        lit(0.0).as("osdSpecPower"),
        lit(0.0).as("osdRoiPower"),
        col("hr"),
        col("o2").as("o2sat"),
        coalesce(col("rawData"), array().cast("array<double>")).as("rawData"),
        coalesce(col("rawData3D"), array().cast("array<double>")).as("rawData3D"),
        lit(false).as("synthetic"),
        col("d").as("seq"))
      .as[FlatDp]
  }

  /** Nested OSDB events (datapoints array-of-struct, d-ordered) for the
    * Tidy / explode / filter operators. Arrays are over-length on purpose
    * when `rawLen`/`xyzLen`/`specLen` exceed the C8 limits; shape-only
    * consumers pass `arrays = false` and shuffle presence stubs instead
    * of 500 doubles per datapoint. */
  def nested(s: SparkSession, dir: String, rawLen: Int = 125, xyzLen: Int = 375,
             specLen: Int = 10, arrays: Boolean = true): DataFrame =
    dps(s, dir, rawLen, xyzLen, arrays = arrays)
      .withColumn("dpst", struct(
        col("e").cast("string").as("eventId"),
        lit(null).cast("string").as("dataTime"),
        col("hr").as("hr"),
        col("o2").as("o2Sat"),
        col("alarm").as("alarmState"),
        lit(null).cast("double").as("specPower"),
        lit(null).cast("double").as("roiPower"),
        lit(null).cast("double").as("roiRatio"),
        expr(s"transform(sequence(0L, ${specLen - 1}L), j -> cast((k + j) % 50 as double))")
          .as("simpleSpec"),
        col("rawData").as("rawData"),
        col("rawData3D").as("rawData3D"),
        lit(null).cast("string").as("dataJSON")))
      .groupBy("e", "k", "u", "type_str", "sub_type", "data_source", "n_dp")
      .agg(expr("transform(array_sort(collect_list(struct(d, dpst))), p -> p.dpst)")
        .as("datapoints"))
      .select(
        col("e").cast("string").as("id"),
        col("u").cast("string").as("userId"),
        lit(null).cast("string").as("dataTime"),
        col("type_str").as("type"),
        col("sub_type").as("subType"),
        lit(null).cast("string").as("desc"),
        col("data_source").as("dataSourceName"),
        lit(null).cast("long").as("osdAlarmState"),
        col("k"), col("e").as("e_num"), col("n_dp"),
        col("datapoints"))

  // ------------------------------------------------------------- DuckDB side

  /** The same definition as DuckDB CTEs. Unreferenced CTEs are free —
    * DuckDB prunes them — so every oracle shares this one prefix:
    *   base  — (k, u, e) per fixture event
    *   ev    — event-level derived fields
    *   dpx   — datapoint-level fields (no arrays)
    *   sampm — magnitude samples (present rawData only)
    *   samp3 — 3D samples vx/vy/vz (present rawData3D only)
    */
  val sqlBase: String =
    """WITH base AS (
      |  SELECT event_id // 20 AS k, user_id AS u, event_id AS e
      |  FROM events WHERE event_id % 20 = 0),
      |ev AS (
      |  SELECT *, 4 + k % 5 AS n_dp,
      |    CASE k % 3 WHEN 0 THEN 'Seizure' WHEN 1 THEN 'False Alarm'
      |         ELSE 'Unknown' END AS type_str,
      |    CASE k % 3 WHEN 0 THEN 1 WHEN 1 THEN 0 ELSE 2 END AS label,
      |    CASE WHEN k % 5 < 2 THEN 'tonicClonic' ELSE 'other' END AS sub_type,
      |    CASE k % 4 WHEN 0 THEN 'GarminSDA' WHEN 1 THEN 'PebbleSD'
      |         WHEN 2 THEN 'PhoneApp' ELSE 'BangleJS' END AS data_source,
      |    u % 7 AS ub, 1700000000 + (k * 37) % 100000 AS wts,
      |    k % 10 = 0 AS is_ref
      |  FROM base),
      |dpx AS (
      |  SELECT *, 1700000000 + k*3600 + d*5 AS ts,
      |    CASE WHEN (k+d) % 4 < k % 5 THEN -1 ELSE 60 + (k + d*7) % 60 END AS hr,
      |    CASE WHEN (k*2+d) % 6 < k % 7 THEN -1 ELSE 90 + (k+d) % 10 END AS o2,
      |    CASE WHEN (k+d) % 9 < 4 THEN (k+d) % 9 ELSE 0 END AS alarm,
      |    (k+d) % 7 <> 0 AS has_raw,
      |    k % 4 <> 1 AS has_3d
      |  FROM (SELECT *, unnest(range(0, 4 + k % 5)) AS d FROM ev)),
      |sampm AS (
      |  SELECT *, CASE WHEN (k+d) % 11 = 0 THEN 1000 + i % 2
      |                 ELSE 800 + (k*104729 + d*257 + i*23) % 401 END AS m
      |  FROM (SELECT *, unnest(range(0, 125)) AS i FROM dpx WHERE has_raw)),
      |samp3 AS (
      |  SELECT *,
      |    ((k*7919 + d*131 + i*17) % 2001) - 1000 AS vx,
      |    ((k*7919 + d*131 + i*17 + 29) % 2001) - 1000 AS vy,
      |    ((k*7919 + d*131 + i*17 + 58) % 2001) - 1000 AS vz
      |  FROM (SELECT *, unnest(range(0, 125)) AS i FROM dpx WHERE has_3d))
      |""".stripMargin
}
