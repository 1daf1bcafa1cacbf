package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.Osdb

/** The curation "tidy" transform (libosd/tidy_db.py:49-201): legacy
  * double-encoded dataJSON expansion, array truncation, derived
  * worst-alarm-state and has-data flags — all as columnar expressions
  * (higher-order functions), no UDFs, so the whole transform stays in
  * whole-stage codegen and never materializes per-event Python objects
  * the way the reference does.
  */
object Tidy {

  /** Inner payload carried by legacy dataJSON strings (one or two levels
    * of JSON-in-JSON — libosd/dpTools.py:33-36). */
  private val dpPayloadSchema =
    "struct<dataTime string, HR double, o2Sat double, alarmState bigint, " +
      "specPower double, roiPower double, rawData array<double>, " +
      "data array<double>, data3D array<double>, dataJSON string>"

  /** Expand per-datapoint dataJSON into first-class fields where the
    * first-class field is null (extractJsonVal fallback semantics,
    * osdDbConnection.py:33-64), truncate arrays to their documented
    * lengths (tidy_db.py:70,74 — C8), and normalise.
    *
    * The outer/inner payloads are parsed AT MOST ONCE per datapoint
    * through staged transforms: Catalyst does not
    * common-subexpression-eliminate inside a `transform` lambda, so the
    * earlier single-lambda form re-ran `from_json` on the same string
    * for every referencing field (8 outer + 6 inner parses per dp).
    * Staging cut the legacy double-encoded expansion 0.89 -> 0.37 s on
    * 200k payload-bearing dps (warm min; SCALING.md round-19 closing
    * audit). Each stage
    * also keeps the old coalesce chain's LAZINESS: the outer parse runs
    * only when some consuming first-class field is null, the inner one
    * only when neither the field nor the outer payload supplied a
    * value — so a re-tidied corpus (first-class fields populated,
    * dataJSON still attached) pays zero parses, exactly like the
    * per-field form (probe `populated` mode pins this). Null-dataJSON
    * corpora (the fixture) are unaffected either way. */
  /** One tidied datapoint field: output name, the fallback chain over
    * `dp` (first-class) / `o` (outer payload) / `i` (inner payload)
    * references IN PRIORITY ORDER, and an optional truncation length
    * (C8). The named_struct AND both stage parse-guards derive from
    * this one table, so adding a payload fallback can never drift out
    * of the guards (a guard miss would silently null the fallback
    * whenever every guarded field happened to be populated). */
  private final case class DpField(out: String, chain: Seq[String],
                                   cap: Option[Int] = None) {
    require(chain.head.startsWith("dp."), s"$out: chain must lead dp.*")
    def dpName: String = chain.head.stripPrefix("dp.")
    def usesPayload: Boolean = chain.exists(r => !r.startsWith("dp."))
    def usesInner: Boolean = chain.exists(_.startsWith("i."))
    def outerRef: Option[String] = chain.find(_.startsWith("o."))
  }

  private val DpFields: Seq[DpField] = Seq(
    DpField("eventId", Seq("dp.eventId")),
    DpField("dataTime", Seq("dp.dataTime", "o.dataTime", "i.dataTime")),
    DpField("hr", Seq("dp.hr", "o.HR", "i.HR")),
    DpField("o2Sat", Seq("dp.o2Sat", "o.o2Sat", "i.o2Sat")),
    DpField("alarmState", Seq("dp.alarmState", "o.alarmState")),
    DpField("specPower", Seq("dp.specPower", "o.specPower")),
    DpField("roiPower", Seq("dp.roiPower", "o.roiPower")),
    DpField("roiRatio", Seq("dp.roiRatio")),
    DpField("simpleSpec", Seq("dp.simpleSpec"),
      cap = Some(Osdb.SimpleSpecBins)),
    DpField("rawData", Seq("dp.rawData", "o.rawData", "i.data"),
      cap = Some(Osdb.SamplesPerDatapoint)),
    DpField("rawData3D", Seq("dp.rawData3D", "i.data3D"),
      cap = Some(Osdb.Samples3D)),
    DpField("dataJSON", Seq("dp.dataJSON")))

  def tidyDatapoints(df: DataFrame): DataFrame = {
    // outer parse needed when any payload-consuming field is null (an
    // inner-only chain still needs o.dataJSON, so it counts)
    val outerGuard = DpFields.filter(_.usesPayload)
      .map(f => s"dp0.${f.dpName} IS NULL").mkString(" OR ")
    // inner parse needed when neither the first-class field nor the
    // outer payload supplied a value for some inner-consuming field
    val innerGuard = DpFields.filter(_.usesInner).map { f =>
      f.outerRef match {
        case Some(o) => s"(t0.dp.${f.dpName} IS NULL AND t0.$o IS NULL)"
        case None => s"t0.dp.${f.dpName} IS NULL"
      }
    }.mkString(" OR ")
    val entries = DpFields.map { f =>
      val refs = f.chain.map(r => s"t.$r")
      val base =
        if (refs.size == 1) refs.head
        else refs.mkString("coalesce(", ", ", ")")
      s"'${f.out}', ${f.cap.fold(base)(n => s"slice($base, 1, $n)")}"
    }.mkString(",\n  ")
    val dpExpr =
      s"""transform(
         |  transform(
         |    transform(datapoints, dp0 -> struct(
         |      dp0 as dp,
         |      CASE WHEN $outerGuard
         |           THEN from_json(dp0.dataJSON, '$dpPayloadSchema')
         |      END as o)),
         |    t0 -> struct(
         |      t0.dp as dp, t0.o as o,
         |      CASE WHEN $innerGuard
         |           THEN from_json(t0.o.dataJSON, '$dpPayloadSchema')
         |      END as i)),
         |  t -> named_struct(
         |  $entries))""".stripMargin
    df.withColumn("datapoints", expr(dpExpr))
  }

  /** A2 worst-alarm-state rollup (tidy_db.py:170-201): event state is the
    * highest of {1,2,3} present among datapoint states (manual 5 and OK 0
    * do not escalate). */
  def worstAlarmState: Column =
    coalesce(expr(
      "aggregate(filter(datapoints, dp -> dp.alarmState IN (1,2,3)), " +
        "0L, (acc, dp) -> greatest(acc, dp.alarmState))"), lit(0L))

  /** A3 has-data flags (tidy_db.py:91-146): valid-datapoint count must
    * reach 50% of the event's datapoints. */
  private def hasFlag(validPred: String): Column =
    expr(s"size(filter(datapoints, dp -> $validPred)) * 2") >=
      coalesce(expr("size(datapoints)"), lit(0)) &&
      expr("size(datapoints)") > 0

  /** Per-datapoint validity, reference-exact (tidy_db.py:120-146):
    * hr counts when `> 0` (not merely present — an hr of 0 is a
    * sensor-off reading there), o2Sat likewise; a 3D trace counts when
    * present AND its sample sum is non-zero (the reference's
    * `abs(sum3d) > 0` over the truncated window). One documented
    * deviation: the reference also requires exactly 125*3 samples — a
    * fixed-sample-rate guard its own FIXME acknowledges — which the
    * engine drops because [[tidyDatapoints]] already truncates to the
    * window and shape-only fixtures carry presence stubs. */
  def derive(df: DataFrame): DataFrame =
    // tidy REPLACES the stored event state with the recomputed worst
    // (tidyDbObj runs updateEventAlarmState on every event,
    // tidy_db.py:235 + 170-198 — the pass exists precisely because
    // stored states were wrong for some false-alarm events). The guard
    // is PRESENCE of the datapoints key, not non-emptiness: an event
    // with an EMPTY datapoints list still runs the correction (all
    // counts zero -> state 0, :186-196); only a MISSING key takes the
    // keep-stored error path (:199-201).
    df.withColumn("osdAlarmState",
        when(col("datapoints").isNotNull, worstAlarmState)
          .otherwise(col("osdAlarmState")))
      .withColumn("has3dData",
        hasFlag("dp.rawData3D IS NOT NULL AND size(dp.rawData3D) > 0 " +
          "AND aggregate(dp.rawData3D, cast(0.0 as double), " +
          "(a, x) -> a + x) != 0.0"))
      .withColumn("hasHrData",
        hasFlag("dp.hr IS NOT NULL AND dp.hr > 0"))
      .withColumn("hasO2SatData",
        hasFlag("dp.o2Sat IS NOT NULL AND dp.o2Sat > 0"))

  /** J1/S12: left-join curated seizure times (eventId -> [start,end])
    * from a small side table; broadcast — the side input is tiny. */
  def joinSeizureTimes(events: DataFrame, seizureTimes: DataFrame): DataFrame =
    events.drop("seizureTimes").join(
      broadcast(seizureTimes.select(
        col("eventId").cast("string").as("__stId"),
        array(col("startSec"), col("endSec")).as("seizureTimes"))),
      col("id") === col("__stId"), "left").drop("__stId")

  /** Full tidy pipeline: expansion → derived fields. */
  def apply(df: DataFrame): DataFrame = derive(tidyDatapoints(df))
}
