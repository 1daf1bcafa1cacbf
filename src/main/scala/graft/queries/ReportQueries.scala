package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Signal, TimeParse}
import graft.operators._
import graft.sources.SimulatedEvents
import graft.streaming.{NnBuffer, Replay, ReplayDp}

/** The REPORT/CURATION family of oracled queries (rpt1-rpt7, cur1/2,
  * fa1, dash1, viz1) — split out of [[DomainQueries]] (round-17
  * registry-size split; behavior and oracle hashes unchanged). */
object ReportQueries {
  import OsdbFixture.sqlBase
  import DomainQueries._

  /** RPT1 — the report layer's category index as a distributed
    * aggregate ([[graft.report.Summarise.indexSummary]], the
    * reference's summary_index bucketing at summariseData.py:168-180):
    * Tonic-Clonic seizures must land in BOTH tcSeizures and
    * allSeizures, the rest partition by type — the oracle restates the
    * four buckets (with the deliberate tc ⊂ all overlap) from the
    * fixture formulas, so a mis-bucketed event, a lost duplicate
    * membership, or a wrong per-event dp count breaks the hash. The
    * HTML rendering itself is ReportSpec's (byte-level SVG/structure
    * pins belong in specs, not row hashes). Shape-only fixture
    * (arrays=false): the index never needs sample arrays. */
  def rpt1SummaryIndex(s: SparkSession, d: String): DataFrame =
    graft.report.Summarise.indexSummary(
        OsdbFixture.nested(s, d, arrays = false))
      .groupBy("category")
      .agg(count(lit(1)).as("n"),
        sum(col("id").cast("long")).as("id_sum"),
        sum(col("n_dp")).as("dp_sum"))

  val rpt1Sql: String = sqlBase +
    """SELECT category, COUNT(*) AS n, CAST(SUM(e) AS BIGINT) AS id_sum,
      |  CAST(SUM(n_dp) AS BIGINT) AS dp_sum
      |FROM (
      |  SELECT 'tcSeizures' AS category, e, n_dp FROM ev
      |    WHERE k % 3 = 0 AND k % 5 < 2
      |  UNION ALL SELECT 'allSeizures', e, n_dp FROM ev WHERE k % 3 = 0
      |  UNION ALL SELECT 'falseAlarms', e, n_dp FROM ev WHERE k % 3 = 1
      |  UNION ALL SELECT 'otherEvents', e, n_dp FROM ev WHERE k % 3 = 2
      |) GROUP BY 1""".stripMargin

  /** RPT2 — the per-user summary rollup
    * ([[graft.report.Summarise.userSummary]], userSummary.template's
    * data): (user, category) event + datapoint counts, sharing rpt1's
    * bucketing (so the tc ⊂ all overlap must hold PER USER too). */
  def rpt2UserSummary(s: SparkSession, d: String): DataFrame =
    graft.report.Summarise.userSummary(
      OsdbFixture.nested(s, d, arrays = false))

  val rpt2Sql: String = sqlBase +
    """SELECT userId, category, COUNT(*) AS n, CAST(SUM(n_dp) AS BIGINT) AS dp_sum
      |FROM (
      |  SELECT CAST(u AS VARCHAR) AS userId, 'tcSeizures' AS category, n_dp
      |    FROM ev WHERE k % 3 = 0 AND k % 5 < 2
      |  UNION ALL SELECT CAST(u AS VARCHAR), 'allSeizures', n_dp
      |    FROM ev WHERE k % 3 = 0
      |  UNION ALL SELECT CAST(u AS VARCHAR), 'falseAlarms', n_dp
      |    FROM ev WHERE k % 3 = 1
      |  UNION ALL SELECT CAST(u AS VARCHAR), 'otherEvents', n_dp
      |    FROM ev WHERE k % 3 = 2
      |) GROUP BY 1, 2""".stripMargin


  /** RPT5 — the results-analysis tool under the oracle gate
    * ([[graft.report.ResultsAnalysis.analyze]]; the reference's
    * `user_tools/nnTraining2/analyzeEventResults.py:123-255`):
    * per-user TPR/FAR with sparse users folded to 'Other', per-subType
    * TPR, and the combined tonic-clonic row, over a deterministic
    * fixture "prediction" column ((e·13+7) mod 10 < 6). Rates are one
    * integer division each — bit-identical cross-engine, compared
    * raw. Thresholds 2/2 so the fixture actually exercises both the
    * named-user and 'Other' branches; the TC pattern is
    * fixture-adapted ('tonicclonic' — the engine default stays the
    * tool's 'tonic-clonic'/'combined'). */
  def rpt5ResultsAnalysis(s: SparkSession, d: String): DataFrame = {
    val res = OsdbFixture.ev(s, d).filter(col("k") % 3 =!= 2).select(
      col("e").cast("string").as("eventId"),
      col("u").as("userId"),
      when(col("k") % 3 === 0, 1).otherwise(0).as("label"),
      when((col("e") * 13 + 7) % 10 < 6, 1).otherwise(0).as("prediction"),
      col("sub_type").as("subType"))
    graft.report.ResultsAnalysis.analyze(res, seizureThreshold = 2,
      farThreshold = 2, tcPatterns = Seq("tonicclonic"))
  }

  val rpt5Sql: String = sqlBase +
    """, res5 AS (
      |  SELECT e, u, sub_type,
      |         CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END AS label,
      |         CASE WHEN (e * 13 + 7) % 10 < 6 THEN 1 ELSE 0 END AS pred
      |  FROM ev WHERE k % 3 <> 2),
      |sz5 AS (SELECT * FROM res5 WHERE label = 1),
      |szc5 AS (SELECT u, COUNT(*) AS n FROM sz5 GROUP BY u),
      |szg5 AS (SELECT CASE WHEN c.n < 2 THEN 'Other'
      |                     ELSE CAST(s.u AS VARCHAR) END AS grp, s.pred
      |         FROM sz5 s JOIN szc5 c ON s.u = c.u),
      |ns5 AS (SELECT * FROM res5 WHERE label = 0),
      |nsc5 AS (SELECT u, COUNT(*) AS n FROM ns5 GROUP BY u),
      |nsg5 AS (SELECT CASE WHEN c.n < 2 THEN 'Other'
      |                     ELSE CAST(s.u AS VARCHAR) END AS grp, s.pred
      |         FROM ns5 s JOIN nsc5 c ON s.u = c.u)
      |SELECT 'user_tpr' AS side, grp, COUNT(*) AS n_events,
      |       CAST(SUM(CASE WHEN pred = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_pred_pos,
      |       CAST(SUM(CASE WHEN pred = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_pred_neg,
      |       CAST(SUM(CASE WHEN pred = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |         / COUNT(*) AS rate
      |FROM szg5 GROUP BY grp
      |UNION ALL
      |SELECT 'user_far', grp, COUNT(*),
      |       CAST(SUM(CASE WHEN pred = 1 THEN 1 ELSE 0 END) AS BIGINT),
      |       CAST(SUM(CASE WHEN pred = 0 THEN 1 ELSE 0 END) AS BIGINT),
      |       CAST(SUM(CASE WHEN pred = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |         / COUNT(*)
      |FROM nsg5 GROUP BY grp
      |UNION ALL
      |SELECT 'subtype_tpr', sub_type, COUNT(*),
      |       CAST(SUM(CASE WHEN pred = 1 THEN 1 ELSE 0 END) AS BIGINT),
      |       CAST(SUM(CASE WHEN pred = 0 THEN 1 ELSE 0 END) AS BIGINT),
      |       CAST(SUM(CASE WHEN pred = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |         / COUNT(*)
      |FROM sz5 WHERE sub_type IS NOT NULL GROUP BY sub_type
      |UNION ALL
      |SELECT 'tc_combined', 'tc_combined', COUNT(*),
      |       CAST(COALESCE(SUM(CASE WHEN pred = 1 THEN 1 ELSE 0 END), 0)
      |         AS BIGINT),
      |       CAST(COALESCE(SUM(CASE WHEN pred = 0 THEN 1 ELSE 0 END), 0)
      |         AS BIGINT),
      |       CASE WHEN COUNT(*) > 0 THEN
      |         CAST(COALESCE(SUM(CASE WHEN pred = 1 THEN 1 ELSE 0 END), 0)
      |           AS DOUBLE) / COUNT(*)
      |       ELSE 0.0 END
      |FROM sz5
      |WHERE contains(lower(COALESCE(sub_type, '')), 'tonicclonic')""".stripMargin

  /** CUR1 — the curator's alarm-state consistency check under the
    * oracle gate ([[graft.operators.Curate.checkAlarmStates]];
    * `curator_tools/checkAlarmStates.py`): the event's stored top-level
    * state (here the fixture's d = 0 state — a plausibly-buggy
    * dashboard convention, which is exactly the bug the tool was
    * written to catch) vs the max over its datapoints; only the
    * mismatch rows come back. */
  def cur1AlarmCheck(s: SparkSession, d: String): DataFrame = {
    val dpAlarms = OsdbFixture.dps(s, d, arrays = false)
      .select(col("e").as("eventId"), col("alarm").as("alarmState"))
    val events = OsdbFixture.ev(s, d).select(
      col("e").as("eventId"),
      when(col("k") % 9 < 4, col("k") % 9).otherwise(0L).as("osdAlarmState"))
    graft.operators.Curate.checkAlarmStates(events, dpAlarms)
      .select(col("eventId").as("e"), col("stored"), col("derived"))
  }

  val cur1Sql: String = sqlBase +
    """, ca AS (
      |  SELECT e, CASE WHEN k % 9 < 4 THEN k % 9 ELSE 0 END AS stored,
      |         MAX(alarm) AS derived
      |  FROM dpx GROUP BY e, k)
      |SELECT e, stored, derived FROM ca WHERE stored <> derived""".stripMargin

  /** CUR2 — the curator's reference-priority multi-source merge under
    * the oracle gate ([[graft.operators.Curate.mergePriority]];
    * `curator_tools/merge_json.py`: the first file is the reference
    * dataset, its version of an event wins; otherwise the earliest
    * source that has it): three overlapping fixture slices with
    * source-distinct payloads so the winner is observable. */
  def cur2MergePriority(s: SparkSession, d: String): DataFrame = {
    val base = OsdbFixture.ev(s, d)
    def src(cond: org.apache.spark.sql.Column, m: Long, a: Long) =
      base.filter(cond).select(col("e"), (col("k") * m + a).as("v"))
    graft.operators.Curate.mergePriority(Seq(
        src(col("k") % 4 === 0, 3, 1),
        src(col("k") % 3 === 0, 5, 2),
        src(col("k") % 2 === 0, 7, 3)), "e")
      .select(col("e"), col("src_index").cast("long").as("src_index"),
        col("v"))
  }

  val cur2Sql: String = sqlBase +
    """, mg0 AS (SELECT e, k*3+1 AS v, 0 AS si FROM ev WHERE k % 4 = 0),
      |mg1 AS (SELECT e, k*5+2 AS v, 1 AS si FROM ev WHERE k % 3 = 0),
      |mg2 AS (SELECT e, k*7+3 AS v, 2 AS si FROM ev WHERE k % 2 = 0),
      |mgu AS (SELECT * FROM mg0 UNION ALL SELECT * FROM mg1
      |        UNION ALL SELECT * FROM mg2)
      |SELECT e, CAST(MIN(si) AS BIGINT) AS src_index,
      |       arg_min(v, si) AS v
      |FROM mgu GROUP BY e""".stripMargin

  /** FA1 — the false-alarm dashboard grouping under the oracle gate
    * (`user_tools/dataSummariser/false_alarm_analysis.py:99-121`:
    * events grouped by (type, userId, 1-day period), per-group event
    * counts — the frame behind the per-user false-alarm-rate
    * dashboard). Day buckets as integer epoch-day (wts div 86400),
    * the exact restatement of pandas' `Grouper(freq='1D')` on an
    * epoch-derived datetime. */
  def fa1FalseAlarmPeriods(s: SparkSession, d: String): DataFrame =
    OsdbFixture.ev(s, d)
      .groupBy(col("type_str").as("type"), col("u"),
        expr("wts div 86400").as("day_bucket"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("type"), col("u"), col("day_bucket"), col("n_events"))

  val fa1Sql: String = sqlBase +
    """ SELECT type_str AS type, u, wts // 86400 AS day_bucket,
      |       COUNT(*) AS n_events
      |FROM ev GROUP BY 1, 2, 3""".stripMargin

  /** DASH1 — the data dashboard under the oracle gate
    * (`user_tools/dataSummariser/dashboard.py`): the last uncovered
    * dataSummariser tool, three of its steps composed as one frame —
    *
    *   1. `getNewEventsIdsLst` (dashboard.py:51-68): incoming event ids
    *      not already in the database and not config-listed invalid —
    *      an ANTI join (F4's pattern) against the existing lake plus an
    *      anti semi-filter on the invalid list;
    *   2. `getEventsDf`'s warning filter (dashboard.py:114-116):
    *      keep Seizure/Fall events and anything whose alarm state is
    *      not WARNING (1) — warnings only survive when seizure-tagged;
    *   3. `getGroupedData` (dashboard.py:132-155): the dashboard table,
    *      count per (type, userId, 1-day period) — fa1's day-bucket
    *      restatement of pandas' `Grouper(freq='1D')`.
    *
    * Fixture slices: the "existing DB" is the k%3==0 ∪ k%7==2 slice,
    * the invalid list is k%17==3, the event alarm state is cur1's
    * stored-state formula. Scale shape: both the existing-id side and
    * the invalid side join as broadcast-able id sets (at 100 TB the
    * incoming batch anti-joins the lake's bucketed id column — F4's
    * documented plan); the day-bucket rollup is one hash aggregate. */
  def dash1NewEvents(s: SparkSession, d: String): DataFrame = {
    val ev = OsdbFixture.ev(s, d)
    val existing = ev.filter(col("k") % 3 === 0 || col("k") % 7 === 2)
      .select(col("e").as("ex_e"))
    val invalid = ev.filter(col("k") % 17 === 3).select(col("e").as("inv_e"))
    val alarmState = when(col("k") % 9 < 4, col("k") % 9).otherwise(0L)
    ev.join(existing, col("e") === col("ex_e"), "left_anti")
      .join(invalid, col("e") === col("inv_e"), "left_anti")
      .withColumn("alarm_state", alarmState)
      .filter(col("type_str") === "Seizure" || col("type_str") === "Fall" ||
        col("alarm_state") =!= 1)
      .groupBy(col("type_str").as("type"), col("u"),
        expr("wts div 86400").as("day_bucket"))
      .agg(count(lit(1)).as("n_new"))
      .select(col("type"), col("u"), col("day_bucket"), col("n_new"))
  }

  val dash1Sql: String = sqlBase +
    """, dnew AS (
      |  SELECT *, CASE WHEN k % 9 < 4 THEN k % 9 ELSE 0 END AS alarm_state
      |  FROM ev
      |  WHERE NOT (k % 3 = 0 OR k % 7 = 2) AND k % 17 <> 3)
      |SELECT type_str AS type, u, wts // 86400 AS day_bucket,
      |       COUNT(*) AS n_new
      |FROM dnew
      |WHERE type_str IN ('Seizure', 'Fall') OR alarm_state <> 1
      |GROUP BY 1, 2, 3""".stripMargin

  /** RPT6 — `analyzeData.py` parity (`user_tools/nnTraining2/
    * analyzeData.py:19-113`: per-event datapoint counts + global
    * seizure/non-seizure totals over a pipeline CSV), as ONE rollup
    * frame: per-event rows carry (type, dp count); the rollup total
    * row carries the global statistics (total events, total
    * datapoints, seizure/non-seizure event counts, avg dps/event —
    * one exact division). The reference's seizure test ('1' in the
    * type string) is the fixture's label == 1. One scan, one hash
    * aggregate — scales as a pure map-side-combined rollup. */
  def rpt6AnalyzeData(s: SparkSession, d: String): DataFrame =
    OsdbFixture.dps(s, d, arrays = false)
      .rollup(col("e"))
      .agg(
        max(col("type_str")).as("type_str"),
        count(lit(1)).as("n_dp"),
        countDistinct(col("e")).as("n_events"),
        countDistinct(when(col("label") === 1, col("e")))
          .as("n_seizure_events"),
        countDistinct(when(col("label") =!= 1, col("e")))
          .as("n_non_seizure_events"))
      .withColumn("avg_dp",
        col("n_dp").cast("double") / col("n_events"))

  val rpt6Sql: String = sqlBase +
    """SELECT e, MAX(type_str) AS type_str, COUNT(*) AS n_dp,
      |       COUNT(DISTINCT e) AS n_events,
      |       COUNT(DISTINCT CASE WHEN label = 1 THEN e END)
      |         AS n_seizure_events,
      |       COUNT(DISTINCT CASE WHEN label <> 1 THEN e END)
      |         AS n_non_seizure_events,
      |       CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT e) AS avg_dp
      |FROM dpx
      |GROUP BY ROLLUP(e)""".stripMargin

  /** RPT7 — `compare_your_models.py` parity
    * (`user_tools/nnTraining2/compare_your_models.py` +
    * `nnTrainer.calculate_selection_metric:697-751`): per candidate
    * model, (TPR, FPR) from a thresholded score over the fixture
    * events, then the selection metrics — F-beta over the
    * (sensitivity, specificity) pair for β ∈ {0.25, 0.5, 1, 2, 4}
    * (all powers of two, so β² is exact), Youden's J (TPR − FPR), and
    * the per-β winner. TPR/FPR are single exact divisions of integer
    * counts; the F-beta chain is a multiply-accumulate → ×1e6 ROUND
    * grid (the ml5 FMA discipline); the winner ranks on the INTEGER
    * grid with a model-id tiebreak, so the argmax can never flip on a
    * float ulp. One scan builds all five models' confusion counts
    * (conditional sums); the 25-row metric grid is a broadcast cross
    * join against the one-row count frame — nothing here grows with
    * the corpus except the first aggregate. */
  def rpt7ModelCompare(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val models = 0 until 5
    val betas = Seq(0.25, 0.5, 1.0, 2.0, 4.0)
    val perModel = models.flatMap { f =>
      val pred = (col("e") * 13 + (f + 1) * 29) % 97 >= 50
      Seq(
        sum(when(pred && col("label") === 1, 1L).otherwise(0L)).as(s"tp$f"),
        sum(when(pred && col("label") =!= 1, 1L).otherwise(0L)).as(s"fp$f"))
    }
    val aggCols = Seq(
      sum(when(col("label") === 1, 1L).otherwise(0L)).as("pos"),
      sum(when(col("label") =!= 1, 1L).otherwise(0L)).as("neg")) ++ perModel
    val counts = OsdbFixture.ev(s, d).agg(aggCols.head, aggCols.tail: _*)
    val mb = models.flatMap(f => betas.map(b => (f, b)))
      .toDF("model", "beta")
    def pick(prefix: String): org.apache.spark.sql.Column =
      models.tail.foldLeft(
        when(col("model") === 0, col(s"${prefix}0"))) { (acc, f) =>
        acc.when(col("model") === f, col(s"$prefix$f"))
      }
    val tpr = pick("tp").cast("double") / col("pos")
    val fpr = pick("fp").cast("double") / col("neg")
    val spec = lit(1.0) - fpr
    val bsq = col("beta") * col("beta")
    val fbeta = (lit(1.0) + bsq) * (tpr * spec) / (bsq * spec + tpr)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("beta"))
      .orderBy(col("fbeta_x1e6").desc, col("model"))
    counts.crossJoin(mb)
      .select(col("model"), col("beta"),
        tpr.as("tpr"), fpr.as("fpr"),
        round(fbeta * 1e6).cast("long").as("fbeta_x1e6"),
        (tpr - fpr).as("youden"))
      .withColumn("winner", row_number().over(w) === 1)
  }

  val rpt7Sql: String = sqlBase +
    """, fgrid AS (SELECT unnest(range(0, 5)) AS model),
      |cnt AS (
      |  SELECT f.model AS model,
      |    SUM(CASE WHEN (e*13 + (f.model+1)*29) % 97 >= 50 AND label = 1
      |        THEN 1 ELSE 0 END) AS tp,
      |    SUM(CASE WHEN (e*13 + (f.model+1)*29) % 97 >= 50 AND label <> 1
      |        THEN 1 ELSE 0 END) AS fp,
      |    SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS pos,
      |    SUM(CASE WHEN label <> 1 THEN 1 ELSE 0 END) AS neg
      |  FROM ev, fgrid f
      |  GROUP BY 1),
      |grid AS (
      |  SELECT model, beta,
      |    CAST(tp AS DOUBLE)/pos AS tpr, CAST(fp AS DOUBLE)/neg AS fpr
      |  FROM cnt, (SELECT unnest([0.25, 0.5, 1.0, 2.0, 4.0]) AS beta) b),
      |met AS (
      |  SELECT model, beta, tpr, fpr,
      |    CAST(ROUND((1.0 + beta*beta) * (tpr * (1.0 - fpr))
      |      / (beta*beta * (1.0 - fpr) + tpr) * 1000000.0) AS BIGINT)
      |      AS fbeta_x1e6,
      |    tpr - fpr AS youden
      |  FROM grid)
      |SELECT model, beta, tpr, fpr, fbeta_x1e6, youden,
      |  ROW_NUMBER() OVER (PARTITION BY beta
      |    ORDER BY fbeta_x1e6 DESC, model) = 1 AS winner
      |FROM met""".stripMargin

  private val rpt3RunId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** RPT3 — the SHARDED index itself under the oracle gate: the
    * round-11 pagination rewrite ([[graft.report.Summarise
    * .writeIndexShards]] — two-phase distributed rank, ≤pageSize rows
    * per executor-rendered page) emits per-shard metadata (category,
    * shard, n_rows, first/last event id), and the oracle restates it
    * from the fixture's bucketing with a plain ROW_NUMBER slice: a
    * mis-sized shard, a row landing on the wrong page, or a chain that
    * does not reproduce the per-category STRING id order breaks the
    * hash. pageSize = 7 forces multi-shard chains at every sf. The
    * final metadata localize is the gate instrument (O(shards) at
    * fixture scale); production callers consume the distributed
    * dataset [[graft.report.Summarise.writeIndexShards]] returns. */
  def rpt3IndexShards(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val outDir = qtmp(s, s"rpt3_${rpt3RunId.incrementAndGet()}")
    // Materialize the index rows ONCE (r20; guide §5 — OPTIMIZATION_r20.md:
    // rpt3 was 13 jobs whose task time was dominated by the UNPERSISTED idx
    // lineage re-running the whole fixture derivation for shardAssign's
    // range-SAMPLING job, the range exchange, and the offsets pass.
    // writeReport persists idx at its call site; this direct entry
    // never did). The materialized rows are tiny (one metadata row per
    // event×category); every downstream pass reads blocks. The shard
    // metadata is collected, so an inner scope frees idx and the shards
    // before the entry returns.
    val shards = graft.Scoped.query {
      val idx = graft.Tables.materialize(
          graft.report.Summarise.indexSummary(
              OsdbFixture.nested(s, d, arrays = false))
            .select(col("category"), col("id"), col("userId"),
              col("type").as("typeStr"), col("subType"), col("n_dp").as("nDp")))
        .as[graft.report.Summarise.IdxRow]
      graft.report.Summarise.writeIndexShards(idx, outDir, pageSize = 7)._1.collect()
    }
    shards.toSeq.toDF()
      .select(col("category"), col("shard"), col("nRows").as("n_rows"),
        col("loId").as("lo_id"), col("hiId").as("hi_id"))
  }

  val rpt3Sql: String = sqlBase +
    """, catev AS (
      |  SELECT 'tcSeizures' AS category, CAST(e AS VARCHAR) AS id FROM ev
      |    WHERE k % 3 = 0 AND k % 5 < 2
      |  UNION ALL SELECT 'allSeizures', CAST(e AS VARCHAR) FROM ev WHERE k % 3 = 0
      |  UNION ALL SELECT 'falseAlarms', CAST(e AS VARCHAR) FROM ev WHERE k % 3 = 1
      |  UNION ALL SELECT 'otherEvents', CAST(e AS VARCHAR) FROM ev WHERE k % 3 = 2)
      |SELECT category, CAST((rn - 1) // 7 AS BIGINT) AS shard,
      |       COUNT(*) AS n_rows, MIN(id) AS lo_id, MAX(id) AS hi_id
      |FROM (SELECT category, id,
      |        row_number() OVER (PARTITION BY category ORDER BY id) AS rn
      |      FROM catev)
      |GROUP BY 1, 2""".stripMargin

  /** VIZ1 — dataVisualiser series parity (`user_tools/dataVisualiser/
    * frequency_band_energy_plotter.py`, `skewness_kurtosis_plotter.py`,
    * `std_and_max_acceleration_plotter.py`): the three standalone
    * plotters' per-datapoint series as ONE stacked query over the
    * existing P10/C14 kernels — the series themselves, so "the chart is
    * one query away" stops being an argument and becomes a row hash.
    *
    * Exactness per series, each the established discipline for its
    * value class: `band_total_x1000` runs [[Signal.bandPower]]'s real
    * DFT over the tone fixture and answers p10's closed form (integer
    * after the ×1000 bridge); `max_accel` is an integer max over the
    * magnitude samples; `std` compares by IN-EVENT RANK (c14's trick —
    * its values space widely); skewness/kurtosis are NEARLY CONSTANT
    * across a fixture event (rank order there is float noise — measured:
    * the rank form flipped ~40 kurt pairs), so they compare as ×1e6
    * ROUND-GRID VALUES instead (round, not floor: a symmetric window's
    * true skew is 0 and the kernel's accumulation lands at ±ε, which
    * floor splits across the zero boundary — measured on 5 fixture dps), against the oracle's algebraically
    * equal central-power-sum forms (skew = √n·c3/c2^1.5,
    * kurt = n·c4/c2² − 3; paths differ by ~1e-12, six orders inside
    * the grid). The report layer renders these exact series in its
    * event pages (ReportSpec). */
  def viz1DatavizSeries(s: SparkSession, d: String): DataFrame = {
    val band = OsdbFixture.toneDps(s, d)
      .select(col("e"), col("d"), lit("band_total_x1000").as("series"),
        round(bandPowerUdf(col("rawData")).getItem(0) * 1000)
          .cast("long").as("v"))
    val stats = OsdbFixture.dps(s, d).filter(col("has_raw"))
      .select(col("e"), col("d"),
        expr("array_max(rawData)").as("mx"),
        stdUdf(col("rawData")).as("sd"),
        skewUdf(col("rawData")).as("sk"),
        kurtUdf(col("rawData")).as("ku"))
    def rankOf(c: String, name: String) = stats
      .withColumn("v", row_number().over(
        Window.partitionBy("e").orderBy(col(c).desc, col("d"))).cast("long"))
      .select(col("e"), col("d"), lit(name).as("series"), col("v"))
    def gridOf(c: String, name: String) = stats
      .select(col("e"), col("d"), lit(name).as("series"),
        round(col(c) * 1e6).cast("long").as("v"))
    band
      .unionByName(stats.select(col("e"), col("d"),
        lit("max_accel").as("series"), col("mx").cast("long").as("v")))
      .unionByName(rankOf("sd", "std_rank"))
      .unionByName(gridOf("sk", "skew_x1e6"))
      .unionByName(gridOf("ku", "kurt_x1e6"))
  }

  val viz1Sql: String = sqlBase +
    """, cm AS (
      |  SELECT s.e AS e, s.d AS d,
      |         MAX(s.m) AS mx,
      |         SUM((s.m - g.mn)*(s.m - g.mn)) AS c2,
      |         SUM((s.m - g.mn)*(s.m - g.mn)*(s.m - g.mn)) AS c3,
      |         SUM((s.m - g.mn)*(s.m - g.mn)*(s.m - g.mn)*(s.m - g.mn)) AS c4
      |  FROM sampm s
      |  JOIN (SELECT e, d, CAST(SUM(m) AS DOUBLE)/125.0 AS mn
      |        FROM sampm GROUP BY e, d) g
      |    ON s.e = g.e AND s.d = g.d
      |  GROUP BY s.e, s.d)
      |SELECT e, d, 'band_total_x1000' AS series, CAST(a1*a1*500 AS BIGINT) AS v
      |FROM (SELECT e, d, 4*(1 + k % 3) AS a1 FROM dpx)
      |UNION ALL SELECT e, d, 'max_accel', CAST(mx AS BIGINT) FROM cm
      |UNION ALL SELECT e, d, 'std_rank',
      |  CAST(row_number() OVER (PARTITION BY e ORDER BY c2 DESC, d) AS BIGINT)
      |FROM cm
      |UNION ALL SELECT e, d, 'skew_x1e6',
      |  CAST(ROUND(1e6 * (SQRT(125.0) * c3 / POW(c2, 1.5))) AS BIGINT)
      |FROM cm
      |UNION ALL SELECT e, d, 'kurt_x1e6',
      |  CAST(ROUND(1e6 * (125.0 * c4 / (c2*c2) - 3.0)) AS BIGINT)
      |FROM cm""".stripMargin


}
