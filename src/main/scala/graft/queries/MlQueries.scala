package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Signal, TimeParse}
import graft.operators._
import graft.sources.SimulatedEvents
import graft.streaming.{NnBuffer, Replay, ReplayDp}

/** The ML family of oracled queries (ml1-ml10 + cfg1 + a6c): AUROC,
  * the composed run-sequence skeleton, the config-JSON bridge, the
  * forward-pass architecture gates (CNN / LSTM ladder / conv pipes /
  * tower fusion / forest / spec-CNN), ensemble, nested k-fold,
  * pipeline audit, param sweep — split out of [[DomainQueries]]
  * (round-17 registry-size split; behavior and oracle hashes
  * unchanged). The fixed integer-weight nets and the generated-SQL
  * builders (lstm2StackSql / lstm2BidirSql / convFrontCtes) move with
  * their queries: each oracle is GENERATED from the same net object
  * the Spark plan serves, one source of truth per family. */
object MlQueries {
  import OsdbFixture.sqlBase
  import DomainQueries._

  /** ML1 — the evaluation half of the training stage
    * ([[graft.ml.Trainer.auroc]]): exact Mann-Whitney AUROC with
    * average ranks for ties, over a deterministic fixture scoring
    * (p = k mod 13 — 13 distinct scores, heavy ties, both classes in
    * every tie group). Every intermediate is integers and exact binary
    * halves, so the one final division is IEEE-identical across
    * engines; ×1e9 floor makes the hash integer. The TRAINER itself is
    * spec-gated (TrainerSpec's planted-separable corpus) — LBFGS float
    * accumulation is not a cross-engine contract, but the metric that
    * judges it is. */
  def ml1Auroc(s: SparkSession, d: String): DataFrame = {
    val scored = OsdbFixture.ev(s, d).select(
      (col("k") % 13).cast("double").as("p"),
      when(col("k") % 3 === 0, 1.0).otherwise(0.0).as("label"))
    val a = graft.ml.Trainer.auroc(scored, "p", "label")
    import s.implicits._
    Seq(math.floor(a * 1e9).toLong).toDF("auroc_x1e9")
  }

  val ml1Sql: String = sqlBase +
    // parenthesization matters: the Spark side computes floor(1e9 * a)
    // with a = num/den already divided — the SQL must divide FIRST too
    // ((1e9*num)/den has a different rounding path and can floor one
    // integer apart when 1e9*num exceeds 2^53)
    """SELECT CAST(FLOOR(1e9 * ((rsp - npos * (npos + 1) / 2.0)
      |                  / (npos * (nall - npos)))) AS BIGINT) AS auroc_x1e9
      |FROM (
      |  SELECT SUM((cumN - (n - 1) / 2.0) * npos) AS rsp,
      |         SUM(npos) AS npos, SUM(n) AS nall
      |  FROM (
      |    SELECT p, n, npos, SUM(n) OVER (ORDER BY p) AS cumN
      |    FROM (SELECT CAST(k % 13 AS DOUBLE) AS p, COUNT(*) AS n,
      |                 SUM(CASE WHEN k % 3 = 0 THEN 1.0 ELSE 0.0 END) AS npos
      |          FROM ev GROUP BY 1)))""".stripMargin

  /** ML2 — the COMPOSED runSequence lineage under the oracle gate
    * ([[graft.ml.RunSequence.skeleton]], the reference's headline
    * workflow `user_tools/nnTraining2/runSequence.py:799,995-1224` as
    * one Spark plan): select (F5) → fused flatten+validate (P14) →
    * epoch features (P12) → lag history (W7) → k-fold slices (M2) →
    * copy-augmentation plan (M3 + M7) → the F14 contamination guard,
    * all read off as (fold, stage, n_events, n_epochs) rows.
    *
    * The counts come from the REAL composed frames — the per-event
    * epoch counts are whatever the fused P14→P12→W7 lineage actually
    * emits — while the oracle restates them from the fixture's closed
    * forms: validated datapoint count = the kept-d span (interior
    * skips gap-fill back to contiguity, leading/trailing skips
    * shorten the record), epochs = validated dps (window = step =
    * 125), history drop = historyN−1 = 2 per event, augment
    * multiplier = 2 for seizures ×2 again for tonic-clonic, fold =
    * knuthHash32(id) % 3. A lost gap-fill, a mis-dropped history row,
    * a plan over/under-copy, or a fold leak (guard rows MUST be 0)
    * each break the hash.
    *
    * Selection (type ≠ Unknown ∧ u % 2 = 0) keeps both seizure and
    * false-alarm folds, both 3D-present (k%4≠1) and gap-fill
    * (k%4=1) validation branches, and TC/non-TC augment paths, at
    * ~1/3 of the fixture — the same workload class as p12 plus the
    * history window and skeleton aggregates. */
  def ml2RunSequence(s: SparkSession, d: String): DataFrame = {
    val events = OsdbFixture.ev(s, d).select(
      col("e").as("id"), col("u"),
      col("type_str").as("type"), col("sub_type").as("subType"))
    val dps = OsdbFixture.flatDps(s, d,
      where = col("k") % 3 =!= 2 && col("u") % 2 === 0)
    graft.ml.RunSequence.skeleton(
      events, dps,
      select = col("type") =!= "Unknown" && col("u") % 2 === 0,
      foldOf = Exact.knuthHash32(col("id")) % 3)
  }

  val ml2Sql: String = sqlBase +
    """, ndpp AS (
      |  SELECT e, MAX(d) - MIN(d) + 1 AS ndp2
      |  FROM dpx
      |  WHERE (k % 4 <> 1 OR (k + d) % 7 <> 0)
      |    AND k % 3 <> 2 AND u % 2 = 0
      |  GROUP BY e),
      |selml AS (
      |  SELECT ev.e, ((ev.e * 2654435761) % 4294967296) % 3 AS fold,
      |         GREATEST(ndp2 - 2, 0) AS nep,
      |         CASE WHEN ev.label = 1 AND ev.sub_type = 'tonicClonic' THEN 4
      |              WHEN ev.label = 1 THEN 2 ELSE 1 END AS mult
      |  FROM ev JOIN ndpp ON ev.e = ndpp.e
      |  WHERE ev.k % 3 <> 2 AND ev.u % 2 = 0),
      |foldsml AS (SELECT unnest(range(0, 3)) AS f)
      |SELECT f AS fold, 'train' AS stage, COUNT(*) AS n_events,
      |       CAST(SUM(nep) AS BIGINT) AS n_epochs
      |FROM selml, foldsml WHERE fold <> f GROUP BY f
      |UNION ALL
      |SELECT f, 'train_aug', CAST(SUM(mult) AS BIGINT),
      |       CAST(SUM(mult * nep) AS BIGINT)
      |FROM selml, foldsml WHERE fold <> f GROUP BY f
      |UNION ALL
      |SELECT f, 'test', COUNT(*), CAST(SUM(nep) AS BIGINT)
      |FROM selml, foldsml WHERE fold = f GROUP BY f
      |UNION ALL
      |SELECT f, 'guard', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      |FROM foldsml""".stripMargin

  /** CFG1 — the CONFIG-JSON entry point under the oracle gate
    * ([[graft.config.ConfigBridge]], the last parity surface from the
    * round-16 verdict): the reference's own shipped `nnConfig.json`
    * (checked-in verbatim at `/osdb/nnConfig.json`;
    * `user_tools/nnTraining2/nnConfig.json`) drives the ml2 skeleton
    * END TO END — `eventFilters` compiles to the F5/F6 predicate
    * (require3dData=true → k%4≠1; excludeDataSources "Phone" substring-
    * matches the fixture's PhoneApp → k%4≠2; excludeText probes the
    * null-desc path; excludeSubTypes matches nothing by content),
    * `dataProcessing` supplies window/step/highPass (125/125/0.5 —
    * the extraction kernel config), addFeatureHistoryLength=5 → the
    * W7 drop is 4 rows per event (vs ml2's 2 — a bridge that ignored
    * the file and used engine defaults breaks the hash), and
    * oversample="none" → multiplier 1 (train_aug == train, vs the
    * engine default ×2 — same tripwire). `modelConfig.modelClass`
    * resolves through [[graft.ml.RunSequence.NestedCandidate
    * .forModelClass]] and the resolved (class, basis) pair is emitted
    * as a receipt row the oracle pins as a constant — if the file's
    * modelClass changed, the Spark side would emit a different string.
    *
    * The oracle restates the config's effect from the fixture's closed
    * forms: selection k%4∉{1,2}, epochs = GREATEST(n_dp − 4, 0)
    * (historyN 5; n_dp = 4+k%5 ∈ 4..8, so the 0-epoch branch is
    * exercised at n_dp=4), fold = knuthHash32(e) % 3, guard ≡ 0. */
  /** The fixture inputs cfg1 feeds the run_sequence composition —
    * exposed so [[graft.Run]]'s testdata-lake mode drives the CLI over
    * the SAME frames and the spec's CLI-output ≡ cfg1-frame equality
    * is by construction, not coincidence. The `where` on the
    * datapoint side is a scan-level pushdown of the shipped config's
    * selection (require3dData kills k%4==1, the 'Phone' dataSource
    * exclusion kills k%4==2); skeleton's semi join makes it
    * result-neutral. */
  def cfg1Inputs(s: SparkSession, d: String)
      : (DataFrame, org.apache.spark.sql.Dataset[graft.operators.Flatten.FlatDp]) = {
    val events = OsdbFixture.ev(s, d).select(
      col("e").as("id"), col("u").as("userId"),
      col("type_str").as("type"), col("sub_type").as("subType"),
      col("data_source").as("dataSourceName"),
      lit(null).cast("string").as("desc"),
      (col("k") % 4 =!= 1).as("has3dData"),
      // honest any-datapoint flags from the fixture's closed forms
      // (not consulted by the shipped config's require*=false, but
      // real if a config flips them)
      expr("exists(sequence(0L, n_dp - 1), dd -> (k + dd) % 4 >= k % 5)")
        .as("hasHrData"),
      expr("exists(sequence(0L, n_dp - 1), dd -> (k*2 + dd) % 6 >= k % 7)")
        .as("hasO2SatData"))
    val dps = OsdbFixture.flatDps(s, d,
      where = col("k") % 4 =!= 1 && col("k") % 4 =!= 2)
    (events, dps)
  }

  def cfg1ConfigBridge(s: SparkSession, d: String): DataFrame = {
    import graft.config.{ConfigBridge, ConfigTools}
    val doc = ConfigBridge.validateTop(ConfigBridge.loadResource("/osdb/nnConfig.json"))
    val (events, dps) = cfg1Inputs(s, d)
    ConfigTools.runseqFrame(doc, events, dps,
      foldOf = Exact.knuthHash32(col("id")) % 3, k = 3)
  }

  val cfg1Sql: String = sqlBase +
    """, ndpc AS (
      |  SELECT e, MAX(d) - MIN(d) + 1 AS ndp2
      |  FROM dpx WHERE k % 4 NOT IN (1, 2)
      |  GROUP BY e),
      |selcfg AS (
      |  SELECT ev.e, ((ev.e * 2654435761) % 4294967296) % 3 AS fold,
      |         GREATEST(ndp2 - 4, 0) AS nep
      |  FROM ev JOIN ndpc ON ev.e = ndpc.e
      |  WHERE ev.k % 4 NOT IN (1, 2)),
      |foldc AS (SELECT unnest(range(0, 3)) AS f)
      |SELECT f AS fold, 'train' AS stage, COUNT(*) AS n_events,
      |       CAST(SUM(nep) AS BIGINT) AS n_epochs
      |FROM selcfg, foldc WHERE fold <> f GROUP BY f
      |UNION ALL
      |SELECT f, 'train_aug', COUNT(*), CAST(SUM(nep) AS BIGINT)
      |FROM selcfg, foldc WHERE fold <> f GROUP BY f
      |UNION ALL
      |SELECT f, 'test', COUNT(*), CAST(SUM(nep) AS BIGINT)
      |FROM selcfg, foldc WHERE fold = f GROUP BY f
      |UNION ALL
      |SELECT f, 'guard', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      |FROM foldc
      |UNION ALL
      |SELECT -1, 'model_class:rfModel.RfModel:features',
      |       CAST(0 AS BIGINT), CAST(0 AS BIGINT)""".stripMargin

  /** The ml3 network: FIXED small-integer weights (3 filters × width
    * 4) so that, over the fixture's integer magnitude samples, every
    * intermediate of the real CNN forward pass — conv sums, ReLU'd
    * max-pool, dense logit — is an exact integer (|logit| ≪ 2^53) and
    * the cross-engine compare is a plain hash. ONE source of truth:
    * [[ml3Sql]] is GENERATED from this object's weights, so the Spark
    * plan and the DuckDB restatement cannot drift. */
  private val ml3Net: graft.ml.Cnn.CnnModel = {
    val nf = 3; val w = 4
    graft.ml.Cnn.CnnModel(nf, w, window = 125,
      filters = Array.tabulate(nf * w)(i =>
        (((i / w) * 7 + (i % w) * 3) % 5 - 2).toDouble),
      filterBias = Array.tabulate(nf)(f => (f - 1).toDouble),
      dense = Array.tabulate(nf)(f => ((f * 3) % 5 - 2).toDouble),
      bias = 1.0, mean = 0.0, std = 1.0)
  }

  /** ML3 — the 1-D CNN forward pass under the oracle gate
    * ([[graft.ml.Cnn.logitCol]], the architecture boundary the
    * round-12 verdict listed as missing #2, `user_tools/nnTraining2/
    * cnnModel.py:43-76`): conv → ReLU → global max-pool → dense logit
    * over every present magnitude window, as native codegen'd column
    * expressions. The TRAINER is spec-gated (CnnSpec's
    * planted-separable corpus — LBFGS float accumulation is not a
    * cross-engine contract); the architecture the training optimizes
    * IS gated here, bit-exactly, via [[ml3Net]]'s integer weights. */
  def ml3CnnForward(s: SparkSession, d: String): DataFrame =
    OsdbFixture.dps(s, d).filter(col("has_raw"))
      .select(col("e"), col("d"),
        graft.ml.Cnn.logitCol(ml3Net, col("rawData"))
          .cast("long").as("logit"))

  val ml3Sql: String = {
    val m = ml3Net
    val pools = (0 until m.nFilters).map { f =>
      val terms = (0 until m.width).map(j =>
        s"(${m.filters(f * m.width + j).toLong})*xs[t+$j]")
        .mkString(" + ")
      s"GREATEST(0, list_max([${m.filterBias(f).toLong} + $terms " +
        s"for t in range(1, ${m.window - m.width + 2})])) AS p$f"
    }
    val dense = (0 until m.nFilters)
      .map(f => s"(${m.dense(f).toLong})*p$f").mkString(" + ")
    sqlBase +
      s""", xsml AS (
         |  SELECT e, d, list(m ORDER BY i) AS xs FROM sampm GROUP BY e, d),
         |poolml AS (SELECT e, d, ${pools.mkString(", ")} FROM xsml)
         |SELECT e, d, CAST(${m.bias.toLong} + $dense AS BIGINT) AS logit
         |FROM poolml""".stripMargin
  }

  /** The ml4 network: FIXED quarter-grid weights (H = 2 units) so
    * that, over the fixture's integer magnitude samples scaled by the
    * EXACT dyadic (m − 1000)/64, the hard-gate recurrence is pure IEEE
    * mul/add/compare with the same operation order on both engines —
    * bit-identical doubles out of a 125-step recursion, no grid bridge
    * needed. ONE source of truth: [[ml4Sql]] is GENERATED from this
    * object's weights. */
  private val ml4Net: graft.ml.Lstm.LstmModel = {
    val h = 2
    graft.ml.Lstm.LstmModel(h, window = 125,
      wx = Array.tabulate(4 * h)(j => ((j * 5) % 7 - 3) * 0.25),
      wh = Array.tabulate(4 * h * h)(j => ((j * 3) % 5 - 2) * 0.25),
      b = Array.tabulate(4 * h)(j => ((j * 2) % 3 - 1) * 0.25),
      dense = Array(1.0, -1.0),
      bias = 0.25, mean = 1000.0, std = 64.0)
  }

  /** ML4 — the hard-gate LSTM forward pass under the oracle gate
    * ([[graft.ml.Lstm.logitCol]], the RECURRENT half of the round-12
    * verdict's missing #2; the reference's AMBER LSTM family,
    * `user_tools/nnTraining2/amber/model.py:31-39`): z-scale →
    * 125-step LSTM cell → dense logit over every present magnitude
    * window, as one native codegen'd expression. The TRAINER is
    * spec-gated (LstmSpec: finite-difference BPTT check +
    * planted-separable corpus); the architecture the training
    * optimizes IS gated here via [[ml4Net]], with the oracle replaying
    * the recurrence as a DuckDB recursive CTE — feasible only because
    * the hard gates are piecewise-linear (no libm transcendentals to
    * diverge by ulps). */
  def ml4LstmForward(s: SparkSession, d: String): DataFrame =
    OsdbFixture.dps(s, d).filter(col("has_raw"))
      .select(col("e"), col("d"),
        graft.ml.Lstm.logitCol(ml4Net, col("rawData")).as("logit"))

  val ml4Sql: String = {
    val m = ml4Net
    val H = m.nUnits
    def L(d: Double): String = if (d < 0) s"($d)" else d.toString
    // gate pre-activation: b + wx*x + wh0*h0 + wh1*h1 (left-assoc,
    // matching the expression's accumulation order exactly)
    def pre(g: Int, u: Int): String = {
      val whTerms = (0 until H)
        .map(v => s"${L(m.wh((g * H + u) * H + v))}*h$v").mkString(" + ")
      s"${L(m.b(g * H + u))} + ${L(m.wx(g * H + u))}*x + $whTerms"
    }
    def sig(a: String): String =
      s"CASE WHEN $a < -2.0 THEN 0.0 WHEN $a > 2.0 THEN 1.0 ELSE 0.25*$a + 0.5 END"
    def tnh(a: String): String =
      s"CASE WHEN $a < -1.0 THEN -1.0 WHEN $a > 1.0 THEN 1.0 ELSE $a END"
    val preCols = (for (g <- 0 until 4; u <- 0 until H)
      yield s"${pre(g, u)} AS a${g}_$u").mkString(",\n      |        ")
    val gateCols = (0 until H).map { u =>
      s"${sig(s"a0_$u")} AS gi$u, ${sig(s"a1_$u")} AS gf$u, " +
        s"${tnh(s"a2_$u")} AS gg$u, ${sig(s"a3_$u")} AS go$u"
    }.mkString(",\n      |        ")
    val cnCols = (0 until H)
      .map(u => s"gf$u*c$u + gi$u*gg$u AS cn$u").mkString(", ")
    val hOut = (0 until H)
      .map(u => s"go$u * (${tnh(s"cn$u")}) AS h$u").mkString(",\n      |       ")
    val cOut = (0 until H).map(u => s"cn$u AS c$u").mkString(", ")
    val stateInit = (0 until H)
      .map(u => s"CAST(0.0 AS DOUBLE) AS h$u").mkString(", ") + ", " +
      (0 until H).map(u => s"CAST(0.0 AS DOUBLE) AS c$u").mkString(", ")
    val stateCarry = (0 until H)
      .map(u => s"s.h$u AS h$u").mkString(", ") + ", " +
      (0 until H).map(u => s"s.c$u AS c$u").mkString(", ")
    val logit = s"${L(m.bias)} + " +
      (0 until H).map(u => s"${L(m.dense(u))}*h$u").mkString(" + ")
    sqlBase.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""", edml4 AS (SELECT e, d FROM sampm WHERE i = 0),
         |lstm AS (
         |  SELECT e, d, 0 AS t, $stateInit FROM edml4
         |  UNION ALL
         |  SELECT e, d, t,
         |       $hOut,
         |       $cOut
         |  FROM (
         |    SELECT *, $cnCols FROM (
         |      SELECT *,
         |        $gateCols
         |      FROM (
         |        SELECT *,
         |        $preCols
         |        FROM (
         |          SELECT s.e AS e, s.d AS d, s.t + 1 AS t,
         |                 $stateCarry,
         |                 (p.m - 1000.0)/64.0 AS x
         |          FROM lstm s JOIN sampm p
         |            ON p.e = s.e AND p.d = s.d AND p.i = s.t
         |          WHERE s.t < ${m.window}))))
         |)
         |SELECT e, d, $logit AS logit FROM lstm WHERE t = ${m.window}""".stripMargin
  }

  /** The ml4b network: the STACKED two-layer hard-gate LSTM + mean-pool
    * head ([[graft.ml.LstmStack]] — the round-13 verdict's missing #1)
    * with FIXED quarter-grid weights, H1 = H2 = 2. Same exactness
    * reasoning as [[ml4Net]]: dyadic weights over the exact dyadic
    * (m − 1000)/64 input keep the whole two-layer recurrence AND the
    * pool accumulation pure IEEE mul/add/compare; the single division
    * s/T at the head is one op on both engines. ONE source of truth:
    * [[ml4bSql]] is GENERATED from this object's weights. */
  private val ml4bNet: graft.ml.LstmStack.Lstm2Model = {
    val h1 = 2; val h2 = 2
    graft.ml.LstmStack.Lstm2Model(h1, h2, window = 125,
      wx1 = Array.tabulate(4 * h1)(j => ((j * 5) % 7 - 3) * 0.25),
      wh1 = Array.tabulate(4 * h1 * h1)(j => ((j * 3) % 5 - 2) * 0.25),
      b1 = Array.tabulate(4 * h1)(j => ((j * 2) % 3 - 1) * 0.25),
      wx2 = Array.tabulate(4 * h2 * h1)(j => ((j * 7) % 5 - 2) * 0.25),
      wh2 = Array.tabulate(4 * h2 * h2)(j => ((j * 3) % 7 - 3) * 0.25),
      b2 = Array.tabulate(4 * h2)(j => ((j * 5) % 3 - 1) * 0.25),
      dense = Array(1.0, -1.0),
      bias = 0.25, mean = 1000.0, std = 64.0)
  }

  /** ML4B — the STACKED LSTM forward pass under the oracle gate
    * ([[graft.ml.LstmStack.logitCol]]): z-scale → layer-1 hard-gate
    * recurrence → layer-2 recurrence over layer 1's hidden sequence →
    * mean-pool over time → dense logit, as one native codegen'd
    * expression. The TRAINER is spec-gated (LstmStackSpec: two-layer
    * BPTT == finite differences + planted corpus); the architecture is
    * gated HERE via [[ml4bNet]], the oracle replaying BOTH layers plus
    * the pool sums as one DuckDB recursive CTE — 10 state columns per
    * (e, d) row, bit-exact because nothing transcendental ever runs. */
  def ml4bLstmStackForward(s: SparkSession, d: String): DataFrame =
    OsdbFixture.dps(s, d).filter(col("has_raw"))
      .select(col("e"), col("d"),
        graft.ml.LstmStack.logitCol(ml4bNet, col("rawData")).as("logit"))

  /** Shared generator for the stacked-LSTM recursive-CTE oracles (ml4b
    * mean head / ml4c attention head): BOTH layers' states, the head
    * accumulators (pool sums; plus the attention denominator), replayed
    * step-by-step with the expression's exact accumulation order.
    * `edCte`/`cteName` keep the two oracles' CTE names distinct so the
    * prefix stays shared. */
  private def lstm2StackSql(m: graft.ml.LstmStack.Lstm2Model,
                            edCte: String, cteName: String): String = {
    val attn = m.head == "attn"
    if (m.bidir) return lstm2BidirSql(m, edCte, cteName)
    // the mha head is rendered only by the bidirectional generator
    // (ml4e's config); a unidir-mha oracle would need its head columns
    // added here — fail loudly rather than emit the mean-head SQL
    require(m.head != "mha",
      "lstm2StackSql: mha head not implemented for the unidir renderer")
    val H1 = m.h1; val H2 = m.h2
    def L(d: Double): String = if (d < 0) s"($d)" else d.toString
    def sig(a: String): String =
      s"CASE WHEN $a < -2.0 THEN 0.0 WHEN $a > 2.0 THEN 1.0 ELSE 0.25*$a + 0.5 END"
    def tnh(a: String): String =
      s"CASE WHEN $a < -1.0 THEN -1.0 WHEN $a > 1.0 THEN 1.0 ELSE $a END"
    // layer-1 pre: b + wx*x + wh0*h1_0 + wh1*h1_1 (left-assoc = the
    // expression's accumulation order)
    def pre1(g: Int, u: Int): String = {
      val whTerms = (0 until H1)
        .map(v => s"${L(m.wh1((g * H1 + u) * H1 + v))}*h1_$v").mkString(" + ")
      s"${L(m.b1(g * H1 + u))} + ${L(m.wx1(g * H1 + u))}*x + $whTerms"
    }
    // layer-2 pre: b2 + wx2 terms over h1n_j (j ascending) + wh2 terms
    // over the CARRIED h2_v (v ascending)
    def pre2(g: Int, u: Int): String = {
      val wxTerms = (0 until H1)
        .map(j => s"${L(m.wx2((g * H2 + u) * H1 + j))}*h1n_$j").mkString(" + ")
      val whTerms = (0 until H2)
        .map(v => s"${L(m.wh2((g * H2 + u) * H2 + v))}*h2_$v").mkString(" + ")
      s"${L(m.b2(g * H2 + u))} + $wxTerms + $whTerms"
    }
    val pre1Cols = (for (g <- 0 until 4; u <- 0 until H1)
      yield s"${pre1(g, u)} AS a1${g}_$u").mkString(",\n        ")
    val gate1Cols = (0 until H1).map { u =>
      s"${sig(s"a10_$u")} AS i1$u, ${sig(s"a11_$u")} AS f1$u, " +
        s"${tnh(s"a12_$u")} AS g1$u, ${sig(s"a13_$u")} AS o1$u"
    }.mkString(",\n        ")
    val cn1Cols = (0 until H1)
      .map(u => s"f1$u*c1_$u + i1$u*g1$u AS cn1_$u").mkString(", ")
    val h1nCols = (0 until H1)
      .map(u => s"o1$u * (${tnh(s"cn1_$u")}) AS h1n_$u").mkString(", ")
    val pre2Cols = (for (g <- 0 until 4; u <- 0 until H2)
      yield s"${pre2(g, u)} AS a2${g}_$u").mkString(",\n        ")
    val gate2Cols = (0 until H2).map { u =>
      s"${sig(s"a20_$u")} AS i2$u, ${sig(s"a21_$u")} AS f2$u, " +
        s"${tnh(s"a22_$u")} AS g2$u, ${sig(s"a23_$u")} AS o2$u"
    }.mkString(",\n        ")
    val cn2Cols = (0 until H2)
      .map(u => s"f2$u*c2_$u + i2$u*g2$u AS cn2_$u").mkString(", ")
    val h2nCols = (0 until H2)
      .map(u => s"o2$u * (${tnh(s"cn2_$u")}) AS h2n_$u").mkString(", ")
    // head accumulators: s_u = Σ h2 (mean) or Σ w·h2 (attn, + den = Σ w)
    val headState = (0 until H2).map(u => s"s_$u") ++
      (if (attn) Seq("den") else Seq.empty)
    val headOut =
      if (attn)
        (0 until H2).map(u => s"s_$u + wat*h2n_$u AS s_$u")
          .mkString(", ") + ", den + wat AS den"
      else (0 until H2).map(u => s"s_$u + h2n_$u AS s_$u").mkString(", ")
    val outCols =
      (0 until H1).map(u => s"h1n_$u AS h1_$u").mkString(", ") + ",\n       " +
      (0 until H1).map(u => s"cn1_$u AS c1_$u").mkString(", ") + ",\n       " +
      (0 until H2).map(u => s"h2n_$u AS h2_$u").mkString(", ") + ",\n       " +
      (0 until H2).map(u => s"cn2_$u AS c2_$u").mkString(", ") + ",\n       " +
      headOut
    val stateInit =
      ((0 until H1).map(u => s"CAST(0.0 AS DOUBLE) AS h1_$u") ++
        (0 until H1).map(u => s"CAST(0.0 AS DOUBLE) AS c1_$u") ++
        (0 until H2).map(u => s"CAST(0.0 AS DOUBLE) AS h2_$u") ++
        (0 until H2).map(u => s"CAST(0.0 AS DOUBLE) AS c2_$u") ++
        headState.map(s => s"CAST(0.0 AS DOUBLE) AS $s")).mkString(", ")
    val stateCarry =
      ((0 until H1).map(u => s"s.h1_$u AS h1_$u") ++
        (0 until H1).map(u => s"s.c1_$u AS c1_$u") ++
        (0 until H2).map(u => s"s.h2_$u AS h2_$u") ++
        (0 until H2).map(u => s"s.c2_$u AS c2_$u") ++
        headState.map(s => s"s.$s AS $s")).mkString(", ")
    // attention weight of the NEW h2 state: hardSig(attC + Σ a_u·h2n_u),
    // left-assoc ascending — the expression's accumulation order
    val watLevel =
      if (attn) {
        val score = s"${L(m.attC)} + " + (0 until H2)
          .map(u => s"${L(m.attA(u))}*h2n_$u").mkString(" + ")
        s"SELECT *, ${sig(s"($score)")} AS wat FROM (\n    "
      } else ""
    val watClose = if (attn) ")" else ""
    val logit =
      if (attn)
        s"${L(m.bias)} + " + (0 until H2)
          .map(u => s"${L(m.dense(u))}*(s_$u/(1.0 + den))").mkString(" + ")
      else
        s"${L(m.bias)} + " + (0 until H2)
          .map(u => s"${L(m.dense(u))}*(s_$u/${m.window}.0)").mkString(" + ")
    sqlBase.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""", $edCte AS (SELECT e, d FROM sampm WHERE i = 0),
         |$cteName AS (
         |  SELECT e, d, 0 AS t, $stateInit FROM $edCte
         |  UNION ALL
         |  SELECT e, d, t,
         |       $outCols
         |  FROM (
         |    ${watLevel}SELECT *, $h2nCols FROM (
         |      SELECT *, $cn2Cols FROM (
         |        SELECT *,
         |        $gate2Cols
         |        FROM (
         |          SELECT *,
         |        $pre2Cols
         |          FROM (
         |            SELECT *, $h1nCols FROM (
         |              SELECT *, $cn1Cols FROM (
         |                SELECT *,
         |        $gate1Cols
         |                FROM (
         |                  SELECT *,
         |        $pre1Cols
         |                  FROM (
         |                    SELECT s.e AS e, s.d AS d, s.t + 1 AS t,
         |                           $stateCarry,
         |                           (p.m - 1000.0)/64.0 AS x
         |                    FROM $cteName s JOIN sampm p
         |                      ON p.e = s.e AND p.d = s.d AND p.i = s.t
         |                    WHERE s.t < ${m.window})))))))))$watClose
         |)
         |SELECT e, d, $logit AS logit FROM $cteName WHERE t = ${m.window}""".stripMargin
  }

  /** The BIDIRECTIONAL rendering: layer 1 becomes TWO recursive CTEs
    * (forward over samples 0..W-1; backward over W-1..0, its own
    * weights), joined per original timestep into the layer-2 + head
    * recursion — layer 2's input at step t is [h1fwd(t); h1bwd(t)],
    * where the backward state for original time t-1 (0-based) is the
    * backward CTE's row W-t+1 (it has processed samples W-1 down to
    * t-1 by then). Same clamp-ladder discipline throughout.
    *
    * The per-timestep concat CTE MUST be `AS MATERIALIZED`: DuckDB
    * inlines single-reference CTEs, and this one is referenced from
    * the layer-2 recursion's RECURSIVE part — inlined, BOTH layer-1
    * recursions re-execute on every one of the W layer-2 iterations
    * (measured 207 s vs 2.1 s at sf0.001, a W× blow-up that would
    * time out the driver's gate at sf0.1). */
  /** `src`/`xExpr` parameterize the recurrence's INPUT: default is the
    * raw fixture samples with the inline scaling; the composed
    * conv→recurrence oracle (ml4f) passes its conv-output CTE and
    * `p.y`. `prefixCtes` is inserted (as ", name AS (...)" text) before
    * the recursions — the conv chain goes there, and its OUTPUT CTE
    * must be AS MATERIALIZED (both layer-1 recursions reference it
    * from their recursive parts — the ml4d inlining lesson). */
  /** `kHead`: when present, the final SELECT emits ALL K class logits
    * (each class row through the same readout walk as the binary
    * head — [[graft.ml.LstmStack.KHead]]) plus the first-max argmax
    * `pred` as a CASE ladder; `confusion` further rolls the rows up to
    * the (label, pred, n) confusion matrix (the A6 tie-in). */
  private def lstm2BidirSql(m: graft.ml.LstmStack.Lstm2Model,
                            edCte: String, cteName: String,
                            src: String = "sampm",
                            xExpr: String = "(p.m - 1000.0)/64.0",
                            prefixCtes: String = "",
                            kHead: Option[graft.ml.LstmStack.KHead] = None,
                            confusion: Boolean = false,
                            bodyOnly: Boolean = false): String = {
    val attn = m.head == "attn"
    val H1 = m.h1; val H2 = m.h2
    val W = m.window
    def L(d: Double): String = if (d < 0) s"($d)" else d.toString
    def sig(a: String): String =
      s"CASE WHEN $a < -2.0 THEN 0.0 WHEN $a > 2.0 THEN 1.0 ELSE 0.25*$a + 0.5 END"
    def tnh(a: String): String =
      s"CASE WHEN $a < -1.0 THEN -1.0 WHEN $a > 1.0 THEN 1.0 ELSE $a END"

    // one layer-1 direction as a recursive CTE: states per processing
    // step; `sampleIdx` maps the step counter to the sample index
    def l1Cte(name: String, wx: Array[Double], wh: Array[Double],
              b: Array[Double], sampleIdx: String): String = {
      def pre(g: Int, u: Int): String = {
        val whTerms = (0 until H1)
          .map(v => s"${L(wh((g * H1 + u) * H1 + v))}*h1_$v").mkString(" + ")
        s"${L(b(g * H1 + u))} + ${L(wx(g * H1 + u))}*x + $whTerms"
      }
      val preCols = (for (g <- 0 until 4; u <- 0 until H1)
        yield s"${pre(g, u)} AS a1${g}_$u").mkString(",\n        ")
      val gateCols = (0 until H1).map { u =>
        s"${sig(s"a10_$u")} AS i1$u, ${sig(s"a11_$u")} AS f1$u, " +
          s"${tnh(s"a12_$u")} AS g1$u, ${sig(s"a13_$u")} AS o1$u"
      }.mkString(",\n        ")
      val cnCols = (0 until H1)
        .map(u => s"f1$u*c1_$u + i1$u*g1$u AS cn1_$u").mkString(", ")
      val hnCols = (0 until H1)
        .map(u => s"o1$u * (${tnh(s"cn1_$u")}) AS h1n_$u").mkString(", ")
      val outCols = (0 until H1).map(u => s"h1n_$u AS h1_$u").mkString(", ") +
        ", " + (0 until H1).map(u => s"cn1_$u AS c1_$u").mkString(", ")
      val init = ((0 until H1).map(u => s"CAST(0.0 AS DOUBLE) AS h1_$u") ++
        (0 until H1).map(u => s"CAST(0.0 AS DOUBLE) AS c1_$u")).mkString(", ")
      val carry = ((0 until H1).map(u => s"s.h1_$u AS h1_$u") ++
        (0 until H1).map(u => s"s.c1_$u AS c1_$u")).mkString(", ")
      s"""$name AS (
         |  SELECT e, d, 0 AS t, $init FROM $edCte
         |  UNION ALL
         |  SELECT e, d, t, $outCols
         |  FROM (
         |    SELECT *, $hnCols FROM (
         |      SELECT *, $cnCols FROM (
         |        SELECT *,
         |        $gateCols
         |        FROM (
         |          SELECT *,
         |        $preCols
         |          FROM (
         |            SELECT s.e AS e, s.d AS d, s.t + 1 AS t, $carry,
         |                   $xExpr AS x
         |            FROM $name s JOIN $src p
         |              ON p.e = s.e AND p.d = s.d AND p.i = $sampleIdx
         |            WHERE s.t < $W)))))
         |)""".stripMargin
    }

    // layer-2 pre over the concat [hf; hb] + carried h2 (left-assoc:
    // b2, wx2 terms j ascending over 2H1, wh2 terms v ascending)
    val xDim = 2 * H1
    def inName(j: Int): String = if (j < H1) s"hf_$j" else s"hb_${j - H1}"
    def pre2(g: Int, u: Int): String = {
      val wxTerms = (0 until xDim)
        .map(j => s"${L(m.wx2((g * H2 + u) * xDim + j))}*${inName(j)}")
        .mkString(" + ")
      val whTerms = (0 until H2)
        .map(v => s"${L(m.wh2((g * H2 + u) * H2 + v))}*h2_$v").mkString(" + ")
      s"${L(m.b2(g * H2 + u))} + $wxTerms + $whTerms"
    }
    val pre2Cols = (for (g <- 0 until 4; u <- 0 until H2)
      yield s"${pre2(g, u)} AS a2${g}_$u").mkString(",\n        ")
    val gate2Cols = (0 until H2).map { u =>
      s"${sig(s"a20_$u")} AS i2$u, ${sig(s"a21_$u")} AS f2$u, " +
        s"${tnh(s"a22_$u")} AS g2$u, ${sig(s"a23_$u")} AS o2$u"
    }.mkString(",\n        ")
    val cn2Cols = (0 until H2)
      .map(u => s"f2$u*c2_$u + i2$u*g2$u AS cn2_$u").mkString(", ")
    val h2nCols = (0 until H2)
      .map(u => s"o2$u * (${tnh(s"cn2_$u")}) AS h2n_$u").mkString(", ")
    val mhaH = m.head == "mha"
    val nH = m.nHeads
    val headState = (0 until H2).map(u => s"s_$u") ++
      (if (attn) Seq("den") else Seq.empty) ++
      (if (mhaH)
         (for (k <- 0 until nH; u <- 0 until H2) yield s"n${k}_$u") ++
           (0 until nH).map(k => s"dn$k")
       else Seq.empty)
    val headOut =
      if (attn)
        (0 until H2).map(u => s"s_$u + wat*h2n_$u AS s_$u")
          .mkString(", ") + ", den + wat AS den"
      else if (mhaH)
        ((0 until H2).map(u => s"s_$u + h2n_$u AS s_$u") ++
          (for (k <- 0 until nH; u <- 0 until H2)
            yield s"n${k}_$u + wat$k*h2n_$u AS n${k}_$u") ++
          (0 until nH).map(k => s"dn$k + wat$k AS dn$k")).mkString(", ")
      else (0 until H2).map(u => s"s_$u + h2n_$u AS s_$u").mkString(", ")
    val outCols =
      (0 until H2).map(u => s"h2n_$u AS h2_$u").mkString(", ") + ",\n       " +
      (0 until H2).map(u => s"cn2_$u AS c2_$u").mkString(", ") + ",\n       " +
      headOut
    val stateInit =
      ((0 until H2).map(u => s"CAST(0.0 AS DOUBLE) AS h2_$u") ++
        (0 until H2).map(u => s"CAST(0.0 AS DOUBLE) AS c2_$u") ++
        headState.map(x => s"CAST(0.0 AS DOUBLE) AS $x")).mkString(", ")
    val stateCarry =
      ((0 until H2).map(u => s"s.h2_$u AS h2_$u") ++
        (0 until H2).map(u => s"s.c2_$u AS c2_$u") ++
        headState.map(x => s"s.$x AS $x")).mkString(", ")
    val inCarry =
      ((0 until H1).map(j => s"q.hf_$j AS hf_$j") ++
        (0 until H1).map(j => s"q.hb_$j AS hb_$j")).mkString(", ")
    val watLevel =
      if (attn) {
        val score = s"${L(m.attC)} + " + (0 until H2)
          .map(u => s"${L(m.attA(u))}*h2n_$u").mkString(" + ")
        s"SELECT *, ${sig(s"($score)")} AS wat FROM (\n    "
      } else if (mhaH) {
        // every head's weight depends only on the NEW h2 state, so one
        // SELECT level emits all of them
        val wats = (0 until nH).map { k =>
          val score = s"${L(m.attCs(k))} + " + (0 until H2)
            .map(u => s"${L(m.attA(k * H2 + u))}*h2n_$u").mkString(" + ")
          s"${sig(s"($score)")} AS wat$k"
        }.mkString(", ")
        s"SELECT *, $wats FROM (\n    "
      } else ""
    val watClose = if (attn || mhaH) ")" else ""
    // one readout with an arbitrary (bias, dense row, attD row) — the
    // binary logit and every K-class row share this walk (the exact
    // order LstmStack.HeadState.logitFor replays)
    def readout(b0: Double, dv: Int => Double,
                aD: (Int, Int) => Double): String =
      if (attn)
        s"${L(b0)} + " + (0 until H2)
          .map(u => s"${L(dv(u))}*(s_$u/(1.0 + den))").mkString(" + ")
      else if (mhaH)
        s"${L(b0)} + " +
          ((0 until H2).map(u => s"${L(dv(u))}*(s_$u/$W.0)") ++
            (for (k <- 0 until nH; u <- 0 until H2)
              yield s"${L(aD(k, u))}*(n${k}_$u/(1.0 + dn$k))"))
            .mkString(" + ")
      else
        s"${L(b0)} + " + (0 until H2)
          .map(u => s"${L(dv(u))}*(s_$u/$W.0)").mkString(" + ")
    val logit = readout(m.bias, m.dense, (k, u) => m.attD(k * H2 + u))
    val fSel = (0 until H1).map(u => s"f.h1_$u AS hf_$u").mkString(", ")
    val bSel = (0 until H1).map(u => s"bb.h1_$u AS hb_$u").mkString(", ")
    val body = prefixCtes +
      s""", $edCte AS (SELECT e, d FROM $src WHERE i = 0),
         |${l1Cte(cteName + "f", m.wx1, m.wh1, m.b1, "s.t")},
         |${l1Cte(cteName + "b", m.wx1b, m.wh1b, m.b1b, s"$W - 1 - s.t")},
         |${cteName}in AS MATERIALIZED (
         |  SELECT f.e AS e, f.d AS d, f.t AS t, $fSel, $bSel
         |  FROM ${cteName}f f JOIN ${cteName}b bb
         |    ON bb.e = f.e AND bb.d = f.d AND bb.t = $W - f.t + 1
         |  WHERE f.t >= 1),
         |$cteName AS (
         |  SELECT e, d, 0 AS t, $stateInit FROM $edCte
         |  UNION ALL
         |  SELECT e, d, t,
         |       $outCols
         |  FROM (
         |    ${watLevel}SELECT *, $h2nCols FROM (
         |      SELECT *, $cn2Cols FROM (
         |        SELECT *,
         |        $gate2Cols
         |        FROM (
         |          SELECT *,
         |        $pre2Cols
         |          FROM (
         |            SELECT s.e AS e, s.d AS d, s.t + 1 AS t,
         |                   $stateCarry,
         |                   $inCarry
         |            FROM $cteName s JOIN ${cteName}in q
         |              ON q.e = s.e AND q.d = s.d AND q.t = s.t + 1
         |            WHERE s.t < $W)))))$watClose
         |)""".stripMargin
    if (bodyOnly) body
    else sqlBase.replaceFirst("WITH ", "WITH RECURSIVE ") + body + "\n" +
      finalSelect(cteName, W, logit, readout, kHead, confusion)
  }

  /** The bidir renderer's tail: binary logit, K-class logits + argmax
    * pred, or the (label, pred, n) confusion rollup. The pred ladder is
    * FIRST-max (class c wins iff >= every later class) — byte-for-byte
    * the comparison order of [[graft.ml.LstmStack.argmaxCol]]. */
  private def finalSelect(cteName: String, W: Int, logit: String,
      readout: (Double, Int => Double, (Int, Int) => Double) => String,
      kHead: Option[graft.ml.LstmStack.KHead],
      confusion: Boolean): String = kHead match {
    case None =>
      s"SELECT e, d, $logit AS logit FROM $cteName WHERE t = $W"
    case Some(kh) =>
      val K = kh.nClasses
      val logitCols = (0 until K).map { c =>
        val e = readout(kh.biasK(c),
          u => kh.denseK(c * (kh.denseK.length / K) + u),
          (k, u) => kh.attDK(
            c * (kh.attDK.length / K) + k * (kh.denseK.length / K) + u))
        s"$e AS logit_$c"
      }.mkString(",\n       ")
      def pred(c: Int): String =
        if (c == K - 1) c.toString
        else s"CASE WHEN " +
          (c + 1 until K).map(d => s"logit_$c >= logit_$d")
            .mkString(" AND ") + s" THEN $c ELSE ${pred(c + 1)} END"
      val predSel =
        s"""SELECT e, d, ${(0 until K).map(c => s"logit_$c").mkString(", ")},
           |       ${pred(0)} AS pred
           |FROM (SELECT e, d,
           |       $logitCols
           |      FROM $cteName WHERE t = $W)""".stripMargin
      if (!confusion) predSel
      else
        s"""SELECT x.label AS label, q.pred AS pred, COUNT(*) AS n
           |FROM ($predSel) q
           |JOIN (SELECT DISTINCT e, d, label FROM dpx) x
           |  ON x.e = q.e AND x.d = q.d
           |GROUP BY 1, 2""".stripMargin
  }

  val ml4bSql: String = lstm2StackSql(ml4bNet, "edml4b", "lstm2")

  /** The ml4c network: [[ml4bNet]] with the ADD-ONE-SMOOTHED HARD
    * ATTENTION head ([[graft.ml.LstmStack]] `head = "attn"` — the
    * oracle-preserving analog of the amber fusion attention,
    * `amber/enhanced_fusion_layer.py`): per-step w_t = hardSig(attC +
    * a·h2(t)), pooled = Σ w·h2 / (1 + Σ w). Quarter-grid attention
    * params keep every op dyadic-rational; the single division per unit
    * at the head is one IEEE op on both engines. */
  private val ml4cNet: graft.ml.LstmStack.Lstm2Model =
    ml4bNet.copy(head = "attn", attA = Array(0.5, -0.25), attC = 0.25)

  /** ML4C — the attention-pooled stacked LSTM forward pass under the
    * oracle gate: same two-layer recurrence as ml4b, head replaced by
    * hard attention; the oracle's recursive CTE gains the attention
    * weight column and the (numerator, denominator) accumulators —
    * 11 state columns × 125 steps, still bit-exact (nothing
    * transcendental). LstmStackSpec gates the TRAINING side of this
    * head (two-layer BPTT + attention calculus == finite differences). */
  def ml4cLstmAttnForward(s: SparkSession, d: String): DataFrame =
    OsdbFixture.dps(s, d).filter(col("has_raw"))
      .select(col("e"), col("d"),
        graft.ml.LstmStack.logitCol(ml4cNet, col("rawData")).as("logit"))

  val ml4cSql: String = lstm2StackSql(ml4cNet, "edml4c", "lstm2c")

  /** The ml4d network: the FULL amber shape in dyadic-grid form —
    * BIDIRECTIONAL layer 1 (separate backward-direction weights),
    * stacked layer 2 over the [fwd; bwd] concat, hard-attention head.
    * `wx2` spans the doubled input width. */
  private val ml4dNet: graft.ml.LstmStack.Lstm2Model = {
    val h1 = 2; val h2 = 2
    graft.ml.LstmStack.Lstm2Model(h1, h2, window = 125,
      wx1 = ml4bNet.wx1, wh1 = ml4bNet.wh1, b1 = ml4bNet.b1,
      wx2 = Array.tabulate(4 * h2 * 2 * h1)(j => ((j * 7) % 5 - 2) * 0.25),
      wh2 = ml4bNet.wh2, b2 = ml4bNet.b2,
      dense = Array(1.0, -1.0), bias = 0.25, mean = 1000.0, std = 64.0,
      head = "attn", attA = Array(0.5, -0.25), attC = 0.25,
      bidir = true,
      wx1b = Array.tabulate(4 * h1)(j => ((j * 3) % 7 - 3) * 0.25),
      wh1b = Array.tabulate(4 * h1 * h1)(j => ((j * 5) % 5 - 2) * 0.25),
      b1b = Array.tabulate(4 * h1)(j => ((j * 7) % 3 - 1) * 0.25))
  }

  /** ML4D — the bidirectional stacked attention-pooled LSTM forward
    * pass under the oracle gate: the COMPLETE amber architecture shape
    * (Bidirectional(LSTM) → LSTM → attention fusion → dense) in its
    * oracle-preserving hard-gate form. The oracle runs THREE recursive
    * CTEs — forward layer-1, backward layer-1 (walking the samples in
    * reverse), and the layer-2 + attention recursion over their joined
    * per-timestep concatenation — all bit-exact. */
  def ml4dLstmBidirForward(s: SparkSession, d: String): DataFrame =
    OsdbFixture.dps(s, d).filter(col("has_raw"))
      .select(col("e"), col("d"),
        graft.ml.LstmStack.logitCol(ml4dNet, col("rawData")).as("logit"))

  val ml4dSql: String = lstm2StackSql(ml4dNet, "edml4d", "lstm2d")

  /** The ml4e network: ml4d's bidirectional stack with the
    * MULTI-HEAD + RESIDUAL fusion head ([[graft.ml.LstmStack]]
    * `head = "mha"` — the oracle-preserving analog of the reference's
    * EnhancedFusionLayer, `amber/enhanced_fusion_layer.py:14-22`:
    * `Add()([inputs, MultiHeadAttention()(inputs, inputs)])`): two
    * hard-attention heads pool the h2 sequence independently, each
    * read out by its own quarter-grid slice, plus the residual mean
    * pool read out by `dense`. */
  private val ml4eNet: graft.ml.LstmStack.Lstm2Model = {
    val h2 = 2; val nH = 2
    ml4dNet.copy(head = "mha", nHeads = nH,
      attA = Array.tabulate(nH * h2)(j => ((j * 3) % 7 - 3) * 0.25),
      attC = 0.0,
      attCs = Array.tabulate(nH)(k => (k * 2 - 1) * 0.25),
      attD = Array.tabulate(nH * h2)(j => ((j * 5) % 7 - 3) * 0.25))
  }

  /** ML4E — the multi-head + residual fusion readout under the oracle
    * gate: ml4d's bidirectional stack, head replaced by the mha
    * fusion. The oracle's layer-2 recursion carries the residual pool
    * sums PLUS per-head (numerator, denominator) accumulator columns;
    * every op stays piecewise-linear, so the whole
    * Bidirectional(LSTM) → LSTM → multi-head attention ⊕ residual →
    * dense line is bit-exact across engines. */
  def ml4eLstmFusionForward(s: SparkSession, d: String): DataFrame =
    OsdbFixture.dps(s, d).filter(col("has_raw"))
      .select(col("e"), col("d"),
        graft.ml.LstmStack.logitCol(ml4eNet, col("rawData")).as("logit"))

  val ml4eSql: String = lstm2StackSql(ml4eNet, "edml4e", "lstm2e")

  /** The conv front-end ([[graft.ml.ConvFront]]) as NON-recursive CTE
    * text feeding the recurrence oracles: normalize → per block
    * (LEAD taps → conv+affine+ReLU activations → pair-MAX pool with a
    * halved index) → the 1×1 channel mix. Term order matches the
    * engine's accumulation exactly (b, then ci-major × j-minor taps,
    * left-assoc; affine outside; mix c-ascending). The OUTPUT CTE is
    * `AS MATERIALIZED` — both layer-1 recursions reference it from
    * their recursive parts (the ml4d inlining lesson). */
  private def convFrontCtes(cf: graft.ml.ConvFront.ConvFrontModel,
                            outName: String): String = {
    def L(d: Double): String = if (d < 0) s"($d)" else d.toString
    val sb = new StringBuilder
    // input: the scalar magnitude stream (sampm.m) for a 1-channel
    // front; the X/Y/Z axis streams (samp3.vx/vy/vz — the engine's
    // rawData3D de-interleave, channel a = stride-slice a) for cIn0=3
    val chanSel = cf.cIn0 match {
      case 1 => s"(m - ${L(cf.mean)})/${L(cf.std)} AS v0 FROM sampm"
      case 3 => Seq("vx", "vy", "vz").zipWithIndex.map { case (c, a) =>
        s"($c - ${L(cf.mean)})/${L(cf.std)} AS v$a"
      }.mkString(", ") + " FROM samp3"
      case n => sys.error(s"convFrontCtes: no fixture stream for $n channels")
    }
    sb.append(s", ${outName}n AS (SELECT e, d, i, " +
      s"$chanSel WHERE i < ${cf.window})")
    var src = s"${outName}n"
    var valCols: Seq[String] = (0 until cf.cIn0).map(a => s"v$a")
    var tIn = cf.window
    cf.blocks.zipWithIndex.foreach { case (bl, bi) =>
      val k = bl.k
      val nPos = tIn - k + 1
      val leadCols = (0 until bl.cIn).flatMap { ci =>
        val c = valCols(ci)
        (1 until k).map(j =>
          s"LEAD($c, $j) OVER (PARTITION BY e, d ORDER BY i) AS ${c}_$j")
      }.mkString(", ")
      sb.append(s", ${outName}l$bi AS (SELECT e, d, i, " +
        valCols.mkString(", ") +
        (if (leadCols.nonEmpty) ", " + leadCols else "") + s" FROM $src)")
      def tap(ci: Int, j: Int): String =
        if (j == 0) valCols(ci) else s"${valCols(ci)}_$j"
      val actCols = (0 until bl.cOut).map { o =>
        val terms = (for (ci <- 0 until bl.cIn; j <- 0 until k)
          yield s"${L(bl.w((o * bl.cIn + ci) * k + j))}*${tap(ci, j)}")
          .mkString(" + ")
        val n = s"${L(bl.scale(o))}*(${L(bl.b(o))} + $terms) + " +
          L(bl.shift(o))
        s"CASE WHEN ($n) > 0.0 THEN ($n) ELSE 0.0 END AS a$o"
      }.mkString(", ")
      sb.append(s", ${outName}a$bi AS (SELECT e, d, i, $actCols " +
        s"FROM ${outName}l$bi WHERE i < $nPos)")
      val tOut = nPos / 2
      val poolCols = (0 until bl.cOut).map(o => s"MAX(a$o) AS a$o")
        .mkString(", ")
      sb.append(s", ${outName}p$bi AS (SELECT e, d, i // 2 AS i, " +
        s"$poolCols FROM ${outName}a$bi WHERE i < ${2 * tOut} " +
        s"GROUP BY e, d, i // 2)")
      src = s"${outName}p$bi"
      valCols = (0 until bl.cOut).map(o => s"a$o")
      tIn = tOut
    }
    val mixExpr = s"${L(cf.mixBias)} + " + cf.mix.zipWithIndex
      .map { case (w, c) => s"${L(w)}*a$c" }.mkString(" + ")
    sb.append(s", $outName AS MATERIALIZED " +
      s"(SELECT e, d, i, $mixExpr AS y FROM $src)")
    sb.toString
  }

  /** The ml4f pipe: the COMPLETE lstm_pipe line in dyadic-grid form —
    * two conv blocks (1→2→2 channels, k=3, affine+ReLU+pool) feeding
    * [[ml4eNet]]'s bidirectional multi-head-fusion stack over the
    * pooled 29-step sequence (125 → 61 → 29). The stack consumes the
    * conv output raw; the front end owns the input scaling. */
  private val ml4fPipe: graft.ml.ConvPipe.ConvPipeModel = {
    import graft.ml.ConvFront.{ConvBlock, ConvFrontModel}
    val b0 = ConvBlock(1, 2, 3,
      w = Array.tabulate(6)(j => ((j * 3) % 5 - 2) * 0.25),
      b = Array.tabulate(2)(o => (o * 2 - 1) * 0.25),
      scale = Array(1.25, 0.75),
      shift = Array(0.25, -0.25))
    val b1 = ConvBlock(2, 2, 3,
      w = Array.tabulate(12)(j => ((j * 5) % 7 - 3) * 0.25),
      b = Array.tabulate(2)(o => (1 - o * 2) * 0.25),
      scale = Array(0.75, 1.25),
      shift = Array(-0.25, 0.25))
    val front = ConvFrontModel(125, Seq(b0, b1),
      mix = Array(0.75, -0.5), mixBias = 0.25,
      mean = 1000.0, std = 64.0)
    graft.ml.ConvPipe.ConvPipeModel(front,
      ml4eNet.copy(window = front.outLen, mean = 0.0, std = 1.0))
  }

  /** ML4F — the composed conv→recurrence forward pass under the oracle
    * gate: Conv1D blocks → Bidirectional(LSTM) → LSTM → multi-head
    * attention ⊕ residual → dense, the reference's complete lstm_pipe +
    * fusion line, as ONE projection of one model column (the ConvPipe
    * kernel: conv front → stack). The oracle chains the conv CTEs (window taps,
    * piecewise-linear activations, pair-max pooling) into the
    * three-recursion bidirectional oracle — bit-exact throughout
    * because every op is IEEE mul/add/compare. */
  def ml4fConvPipeForward(s: SparkSession, d: String): DataFrame =
    OsdbFixture.dps(s, d).filter(col("has_raw"))
      .select(col("e"), col("d"),
        graft.ml.ConvPipe.logitCol(ml4fPipe, col("rawData")).as("logit"))

  val ml4fSql: String = lstm2BidirSql(ml4fPipe.stack, "edml4f", "lstm2g",
    src = "cfout", xExpr = "p.y",
    prefixCtes = convFrontCtes(ml4fPipe.front, "cfout"))

  /** The ml4g pipe: the MULTI-CHANNEL composed line — the reference's
    * multi-feature input towers (`amber/model.py:42-49`: one input per
    * feature, fused before the dense head) in the composed
    * single-projection form: the first conv block takes the THREE
    * de-interleaved X/Y/Z axis channels (cIn = 3 — C7's stride slice
    * of rawData3D) and mixes them exactly where `build_model` fuses
    * per-feature inputs, then the ml4f chain (second block →
    * bidirectional multi-head-fusion stack over the pooled 29-step
    * sequence). Axis values are ±1000 integers; /256 (a power of two)
    * keeps the channel scaling exact. */
  private val ml4gPipe: graft.ml.ConvPipe.ConvPipeModel = {
    import graft.ml.ConvFront.{ConvBlock, ConvFrontModel}
    val b0 = ConvBlock(3, 2, 3,
      w = Array.tabulate(18)(j => ((j * 7) % 9 - 4) * 0.25),
      b = Array.tabulate(2)(o => (o * 2 - 1) * 0.25),
      scale = Array(0.75, 1.25),
      shift = Array(0.25, -0.25))
    val b1 = ConvBlock(2, 2, 3,
      w = Array.tabulate(12)(j => ((j * 5) % 9 - 4) * 0.25),
      b = Array.tabulate(2)(o => (1 - o * 2) * 0.25),
      scale = Array(1.25, 0.75),
      shift = Array(-0.25, 0.25))
    val front = ConvFrontModel(125, Seq(b0, b1),
      mix = Array(-0.5, 0.75), mixBias = -0.25,
      mean = 0.0, std = 256.0)
    graft.ml.ConvPipe.ConvPipeModel(front,
      ml4eNet.copy(window = front.outLen, mean = 0.0, std = 1.0))
  }

  /** ML4G — the multi-channel composed conv→recurrence forward pass
    * under the oracle gate: 3-channel Conv1D (X/Y/Z de-interleaved
    * from the interleaved rawData3D) → conv block → Bidirectional
    * (LSTM) → LSTM → multi-head attention ⊕ residual → dense, as ONE
    * projection of one model column (the ConvPipe kernel) over the raw
    * interleaved array. The oracle's first conv CTE reads the three
    * axis streams (samp3.vx/vy/vz) as three value columns; everything
    * downstream is the ml4f chain — bit-exact throughout (IEEE
    * mul/add/compare only). */
  def ml4gConv3dPipeForward(s: SparkSession, d: String): DataFrame =
    OsdbFixture.dps(s, d).filter(col("has_3d"))
      .select(col("e"), col("d"),
        graft.ml.ConvPipe.logitCol(ml4gPipe, col("rawData3D")).as("logit"))

  val ml4gSql: String = lstm2BidirSql(ml4gPipe.stack, "edml4g", "lstm2i",
    src = "cf3out", xExpr = "p.y",
    prefixCtes = convFrontCtes(ml4gPipe.front, "cf3out"))

  /** The ml4h K-class head: the reference's `Dense(num_classes,
    * softmax)` readout (`amber/model.py:66` — C4's type2id has THREE
    * classes: Seizure 1, False Alarm 0, Unknown 2) over [[ml4eNet]]'s
    * bidirectional multi-head stack, in argmax-serving form (softmax
    * is monotone per row, so no transcendental ever runs). Quarter-grid
    * per-class readout rows. */
  private val ml4hKHead: graft.ml.LstmStack.KHead = {
    val h2 = 2; val nH = 2; val K = 3
    graft.ml.LstmStack.KHead(K,
      denseK = Array.tabulate(K * h2)(j => ((j * 5) % 7 - 3) * 0.25),
      biasK = Array.tabulate(K)(c => (c - 1) * 0.25),
      attDK = Array.tabulate(K * nH * h2)(j => ((j * 3) % 7 - 3) * 0.25))
  }

  /** ML4H — the MULTI-CLASS forward pass under the oracle gate: one
    * codegen'd expression emits all K class logits from ONE recurrence
    * evaluation; `pred` is the first-max argmax ladder. The oracle
    * replays the same bidirectional recursion and reads each class
    * through the identical per-class readout walk — bit-exact, so the
    * K logit columns hash-match raw and the integer pred column is
    * derivation-identical. */
  def ml4hMulticlassForward(s: SparkSession, d: String): DataFrame = {
    val logits = graft.ml.LstmStack.logitsKCol(
      ml4eNet, ml4hKHead, col("rawData"))
    val ls = (0 until 3).map(c =>
      element_at(col("__lk"), c + 1).as(s"logit_$c"))
    OsdbFixture.dps(s, d).filter(col("has_raw"))
      .withColumn("__lk", logits)
      .select(col("e") +: col("d") +: ls: _*)
      .withColumn("pred", graft.ml.LstmStack.argmaxCol(
        (0 until 3).map(c => col(s"logit_$c"))))
  }

  val ml4hSql: String = lstm2BidirSql(ml4eNet, "edml4h", "lstm2k",
    kHead = Some(ml4hKHead))

  /** A6C — the K-class confusion matrix (the A6 detection-stats tie-in
    * for the multi-class head): fixture label × first-max pred →
    * counts, ONE scan (label rides the same rows the logits are
    * computed on — no join). Integer output; same recursion as ml4h
    * underneath. */
  def a6cMulticlassConfusion(s: SparkSession, d: String): DataFrame = {
    val logits = graft.ml.LstmStack.logitsKCol(
      ml4eNet, ml4hKHead, col("rawData"))
    OsdbFixture.dps(s, d).filter(col("has_raw"))
      .withColumn("__lk", logits)
      .withColumn("pred", graft.ml.LstmStack.argmaxCol(
        (0 until 3).map(c => element_at(col("__lk"), c + 1))))
      .groupBy(col("label"), col("pred"))
      .agg(count(lit(1)).as("n"))
  }

  val a6cSql: String = lstm2BidirSql(ml4eNet, "edml4h", "lstm2k",
    kHead = Some(ml4hKHead), confusion = true)

  /** The ml4i model: the N-TOWER fusion of `build_model`
    * (`amber/model.py:42-66` + `enhanced_fusion_layer.py:14-22`) —
    * three composed conv→recurrence towers, one per input feature
    * (axis-selective first-block weights over the same interleaved
    * rawData3D: tower a's block-0 kernel is zero on every channel but
    * a), each pooled to its head-input vector; fusion = v + A·v (the
    * single-token EnhancedFusionLayer collapsed to its linear form),
    * then a ReLU dense layer and the scalar readout. All quarter/
    * eighth-grid dyadic weights; the final value goes on the ×1e6
    * ROUND grid (long fusion dot products — the ml5 FMA discipline). */
  private val ml4iModel: graft.ml.TowerFusion.TowerFusionModel = {
    import graft.ml.ConvFront.{ConvBlock, ConvFrontModel}
    val towers = (0 until 3).map { a =>
      val b0 = ConvBlock(3, 2, 3,
        w = Array.tabulate(18) { idx =>
          val ci = (idx / 3) % 3
          if (ci == a) ((idx * 7) % 9 - 4) * 0.25 else 0.0
        },
        b = Array.tabulate(2)(o => (o * 2 - 1) * 0.25),
        scale = Array(0.75, 1.25),
        shift = Array(0.25, -0.25))
      val b1 = ConvBlock(2, 2, 3,
        w = Array.tabulate(12)(j => ((j * (3 + a)) % 9 - 4) * 0.25),
        b = Array.tabulate(2)(o => (1 - o * 2) * 0.25),
        scale = Array(1.25, 0.75),
        shift = Array(-0.25, 0.25))
      val front = ConvFrontModel(125, Seq(b0, b1),
        mix = Array(0.75, -0.5), mixBias = 0.25,
        mean = 0.0, std = 256.0)
      graft.ml.ConvPipe.ConvPipeModel(front,
        ml4eNet.copy(window = front.outLen, mean = 0.0, std = 1.0,
          b1 = Array.tabulate(8)(j => ((j * (2 + a)) % 3 - 1) * 0.25)))
    }
    val d = towers.map(t =>
      graft.ml.TowerFusion.pooledDim(t.stack)).sum // 3 × 6 = 18
    graft.ml.TowerFusion.TowerFusionModel(
      towers,
      fuse = Array.tabulate(d * d)(j => ((j * 5) % 9 - 4) * 0.125),
      w1 = Array.tabulate(4 * d)(j => ((j * 7) % 9 - 4) * 0.25),
      b1 = Array.tabulate(4)(r => (r - 2) * 0.25),
      w2 = Array.tabulate(4)(r => ((r * 3) % 5 - 2) * 0.5),
      b2 = 0.25)
  }

  /** ML4I — the N-tower fused forward pass under the oracle gate:
    * one model column whose kernel runs the three towers (each a
    * K-mode recurrence over its axis) and the fusion arithmetic,
    * scan → project, no shuffle. The oracle chains THREE
    * conv-CTE + three-recursion blocks and states the fusion
    * arithmetic over the joined per-tower pooled components. */
  def ml4iTowerFusion(s: SparkSession, d: String): DataFrame =
    graft.ml.TowerFusion.withLogit(ml4iModel,
        OsdbFixture.dps(s, d).filter(col("has_3d")), "rawData3D")
      .select(col("e"), col("d"),
        round(col("logit") * 1e6).cast("long").as("z_x1e6"))

  val ml4iSql: String = {
    def L(x: Double): String = if (x < 0) s"($x)" else x.toString
    val m = ml4iModel
    val bodies = m.towers.zipWithIndex.map { case (t, ti) =>
      lstm2BidirSql(t.stack, s"edtf$ti", s"tf$ti",
        src = s"tf${ti}c", xExpr = "p.y",
        prefixCtes = convFrontCtes(t.front, s"tf${ti}c"),
        bodyOnly = true)
    }.mkString("")
    val vExprs: Seq[String] = m.towers.zipWithIndex.flatMap { case (t, ti) =>
      val h2 = t.stack.h2; val nH = t.stack.nHeads
      val w = t.stack.window
      val a = s"q$ti"
      (0 until h2).map(u => s"$a.s_$u/$w.0") ++
        (for (k <- 0 until nH; u <- 0 until h2)
          yield s"$a.n${k}_$u/(1.0 + $a.dn$k)")
    }
    val vCols = vExprs.zipWithIndex
      .map { case (e, i) => s"$e AS v$i" }.mkString(",\n         ")
    val fusedCols = (0 until m.d).map { j =>
      (0 until m.d).foldLeft(s"v$j")((acc, i) =>
        s"$acc + ${L(m.fuse(j * m.d + i))}*v$i") + s" AS f$j"
    }.mkString(",\n       ")
    val zExpr = m.b1.indices.foldLeft(L(m.b2)) { (acc, r) =>
      val h = (0 until m.d).foldLeft(L(m.b1(r)))((a2, j) =>
        s"$a2 + ${L(m.w1(r * m.d + j))}*f$j")
      s"$acc + ${L(m.w2(r))}*(CASE WHEN ($h) > 0.0 THEN ($h) ELSE 0.0 END)"
    }
    val joins = (1 until m.towers.size).map { ti =>
      s"JOIN (SELECT * FROM tf$ti WHERE t = ${m.towers(ti).stack.window}) " +
        s"q$ti ON q$ti.e = q0.e AND q$ti.d = q0.d"
    }.mkString("\n      ")
    sqlBase.replaceFirst("WITH ", "WITH RECURSIVE ") + bodies +
      s"""
         |SELECT e, d, CAST(ROUND(($zExpr) * 1000000.0) AS BIGINT) AS z_x1e6
         |FROM (
         |  SELECT e, d,
         |       $fusedCols
         |  FROM (
         |    SELECT q0.e AS e, q0.d AS d,
         |         $vCols
         |    FROM (SELECT * FROM tf0 WHERE t = ${m.towers.head.stack.window}) q0
         |      $joins))""".stripMargin
  }

  private val ml5K = 5
  private val ml5Q = 0.6

  /** ML5 — the k-fold ensemble combiner under the oracle gate
    * ([[graft.ml.Ensemble]], the reference's tunable-sensitivity
    * predictor, `user_tools/nnTraining2/ensemblePredictor.py:28-87`):
    * per event, five synthetic fold scores (integer fixture
    * arithmetic), combined by BOTH the Harrell-Davis quantile and the
    * reference's simple linear-interpolation quantile at q = 0.6. The
    * beta-mass weights are computed ONCE on the driver and embedded as
    * shortest-round-trip literals in both plans (one source of truth).
    * The combined score compares on the ×1e6 ROUND grid (the viz1
    * discipline), NOT as raw doubles: the weighted sum is a
    * multiply-accumulate chain, and DuckDB's compiled a·b+c can
    * contract to FMA where Java never does — measured 1-ulp diffs
    * (~1e-12 absolute at these magnitudes, six orders inside the
    * grid). The ml4 recurrence dodges this because its per-step values
    * round through clamp COMPARISONS, not a long dot product. */
  def ml5Ensemble(s: SparkSession, d: String): DataFrame = {
    val scores = array((0 until ml5K).map(f =>
      ((col("e") * 13 + (f + 1) * 29) % 97).cast("double")): _*)
    OsdbFixture.ev(s, d).select(col("e"),
      round(graft.ml.Ensemble.harrellDavisCol(scores, ml5K, ml5Q) * 1e6)
        .cast("long").as("p_hd_x1e6"),
      round(graft.ml.Ensemble.simpleQuantileCol(scores, ml5K, ml5Q) * 1e6)
        .cast("long").as("p_q_x1e6"))
  }

  val ml5Sql: String = {
    val w = graft.ml.Ensemble.hdWeights(ml5K, ml5Q)
    val elems = (0 until ml5K)
      .map(f => s"CAST((e*13 + ${(f + 1) * 29}) % 97 AS DOUBLE)")
      .mkString(", ")
    val hd = (1 until ml5K).foldLeft(s"${w(0)}*s[1]") { (acc, i) =>
      s"$acc + ${w(i)}*s[${i + 1}]"
    }
    val pos = (ml5K - 1) * ml5Q
    val lo = math.floor(pos).toInt
    val frac = pos - lo
    val sq =
      if (frac == 0.0 || lo + 1 >= ml5K) s"s[${lo + 1}]*1.0"
      else s"s[${lo + 1}]*${1 - frac} + s[${lo + 2}]*$frac"
    sqlBase +
      s""", ml5s AS (SELECT e, list_sort([$elems]) AS s FROM ev)
         |SELECT e, CAST(round(($hd) * 1000000.0) AS BIGINT) AS p_hd_x1e6,
         |       CAST(round(($sq) * 1000000.0) AS BIGINT) AS p_q_x1e6
         |FROM ml5s""".stripMargin
  }

  /** ML6 — the NESTED k-fold skeleton under the oracle gate
    * ([[graft.ml.RunSequence.nestedSkeleton]]; the reference's
    * nestedKfold splitter, `user_tools/nnTraining2/splitData.py` +
    * NESTED_KFOLD_README.md): outer 2-fold × inner 3-fold slice
    * counts over the fixture events with label ≠ 2, knuth-hash fold
    * assignment on both levels (caller-owned, restated verbatim by the
    * oracle), explicit zero rows, inner_fold = −1 for the outer
    * stages, and the duplicate-id guard emitted as data. */
  def ml6NestedKfold(s: SparkSession, d: String): DataFrame = {
    val ev = OsdbFixture.ev(s, d)
      .select(col("e").cast("string").as("id"), col("e"), col("k"))
    graft.ml.RunSequence.nestedSkeleton(
      ev,
      col("k") % 3 =!= 2,
      ((col("e") * 2654435761L) % 4294967296L) % 2,
      ((col("e") * 2246822519L) % 4294967296L) % 3,
      outerK = 2, innerK = 3)
  }

  val ml6Sql: String = sqlBase +
    """, nev AS (
      |  SELECT e, ((e * 2654435761) % 4294967296) % 2 AS ofold,
      |         ((e * 2246822519) % 4294967296) % 3 AS ifold
      |  FROM ev WHERE k % 3 <> 2),
      |ofr AS (SELECT unnest(range(0, 2)) AS onf),
      |ifr AS (SELECT unnest(range(0, 3)) AS inf)
      |SELECT onf AS outer_fold, inf AS inner_fold,
      |       'inner_train' AS stage,
      |       (SELECT COUNT(*) FROM nev WHERE ofold <> onf AND ifold <> inf)
      |         AS n_events
      |FROM ofr, ifr
      |UNION ALL
      |SELECT onf, inf, 'inner_val',
      |       (SELECT COUNT(*) FROM nev WHERE ofold <> onf AND ifold = inf)
      |FROM ofr, ifr
      |UNION ALL
      |SELECT onf, CAST(-1 AS BIGINT), 'outer_train',
      |       (SELECT COUNT(*) FROM nev WHERE ofold <> onf)
      |FROM ofr
      |UNION ALL
      |SELECT onf, CAST(-1 AS BIGINT), 'outer_test',
      |       (SELECT COUNT(*) FROM nev WHERE ofold = onf)
      |FROM ofr
      |UNION ALL
      |SELECT onf, CAST(-1 AS BIGINT), 'guard',
      |       (SELECT COUNT(*) FROM nev t1 JOIN nev t2 ON t1.e = t2.e
      |        WHERE t1.ofold <> onf AND t2.ofold = onf)
      |FROM ofr""".stripMargin

  /** ML7 — the pipeline audit under the oracle gate
    * ([[graft.ml.RunSequence.auditFrame]]; the reference's
    * `user_tools/nnTraining2/auditDataProcessing.py`): per-stage
    * seizure/non-seizure class counts over ml2's select + fold hash —
    * `selected` (fold −1), per-fold `train`/`train_aug`/`test`. The
    * augmented counts reuse ml2's multiplicity closed form (seizure
    * ×2 oversample, tonic-clonic seizures ×4 after the TC copy of the
    * oversampled rows). */
  def ml7Audit(s: SparkSession, d: String): DataFrame = {
    val ev = OsdbFixture.ev(s, d).select(
      col("e").cast("string").as("id"),
      col("type_str").as("type"),
      col("sub_type").as("subType"),
      col("e"), col("k"), col("u"))
    graft.ml.RunSequence.auditFrame(ev,
      col("k") % 3 =!= 2 && col("u") % 2 === 0,
      ((col("e") * 2654435761L) % 4294967296L) % 3)
  }

  val ml7Sql: String = sqlBase +
    """, aud AS (
      |  SELECT e, ((e * 2654435761) % 4294967296) % 3 AS fold,
      |         CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END AS sz,
      |         CASE WHEN k % 3 = 0 AND k % 5 < 2 THEN 4
      |              WHEN k % 3 = 0 THEN 2 ELSE 1 END AS mult
      |  FROM ev WHERE k % 3 <> 2 AND u % 2 = 0),
      |audf AS (SELECT unnest(range(0, 3)) AS f)
      |SELECT CAST(-1 AS BIGINT) AS fold, 'selected' AS stage,
      |       (SELECT COUNT(*) FROM aud WHERE sz = 1) AS n_seizure,
      |       (SELECT COUNT(*) FROM aud WHERE sz = 0) AS n_other
      |UNION ALL
      |SELECT f, 'train',
      |       (SELECT COUNT(*) FROM aud WHERE fold <> f AND sz = 1),
      |       (SELECT COUNT(*) FROM aud WHERE fold <> f AND sz = 0)
      |FROM audf
      |UNION ALL
      |SELECT f, 'train_aug',
      |       (SELECT CAST(COALESCE(SUM(mult), 0) AS BIGINT)
      |        FROM aud WHERE fold <> f AND sz = 1),
      |       (SELECT COUNT(*) FROM aud WHERE fold <> f AND sz = 0)
      |FROM audf
      |UNION ALL
      |SELECT f, 'test',
      |       (SELECT COUNT(*) FROM aud WHERE fold = f AND sz = 1),
      |       (SELECT COUNT(*) FROM aud WHERE fold = f AND sz = 0)
      |FROM audf""".stripMargin

  /** The ml8 forest: FIXED integer thresholds and integer leaf votes
    * over four integer-exact window features, so the whole forest
    * output — compare-and-descend only, no arithmetic beyond the final
    * vote sum — is an exact integer and the cross-engine compare is a
    * plain hash with ZERO FMA hazard (unlike the ml4/ml5 grid
    * bridges). Feature basis over a present rawData window:
    * f_max / f_min / f_sum (Σm) / f_above (#{m > 1000}) — all exact
    * integers on the fixture. ONE source of truth: [[ml8Sql]]'s nested
    * CASE ladders are GENERATED from this object's node arrays.
    * Thresholds bisect the fixture (m ∈ [800, 1200], Σm ≈ 125 000,
    * low-motion dps pin f_max = 1001 / f_above = 62), so every branch
    * of every tree is exercised. */
  private val ml8Net: graft.ml.Forest.ForestModel = {
    import graft.ml.Forest.Tree
    // feature ids: 0 = f_max, 1 = f_min, 2 = f_sum, 3 = f_above
    val t0 = Tree(
      feature = Array(2, 0, 3, -1, -1, -1, -1),
      threshold = Array(125000.0, 1150.0, 62.0, 0, 0, 0, 0),
      left = Array(1, 3, 5, 0, 0, 0, 0),
      right = Array(2, 4, 6, 0, 0, 0, 0),
      vote = Array(0, 0, 0, 0.0, 1.0, 2.0, 3.0))
    val t1 = Tree(
      feature = Array(3, 1, 2, -1, -1, -1, -1),
      threshold = Array(60.0, 820.0, 126000.0, 0, 0, 0, 0),
      left = Array(1, 3, 5, 0, 0, 0, 0),
      right = Array(2, 4, 6, 0, 0, 0, 0),
      vote = Array(0, 0, 0, 2.0, 0.0, 1.0, 3.0))
    val t2 = Tree(
      feature = Array(0, -1, 1, -1, -1),
      threshold = Array(1180.0, 0, 810.0, 0, 0),
      left = Array(1, 0, 3, 0, 0),
      right = Array(2, 0, 4, 0, 0),
      vote = Array(0, 1.0, 0, 0.0, 2.0))
    graft.ml.Forest.ForestModel(
      Seq("f_max", "f_min", "f_sum", "f_above"), Array(t0, t1, t2))
  }

  /** ML8 — the random-forest forward pass under the oracle gate
    * ([[graft.ml.Forest.voteSumCol]]; the reference's shipping DEFAULT
    * modelClass, `user_tools/nnTraining2/rfModel.py` via
    * `nnConfig.json:174`): four integer window features → three fixed
    * decision trees as pure Catalyst comparison ladders → the summed
    * vote, per present magnitude window. The TRAINER
    * ([[graft.ml.Forest.train]], MLlib RandomForestClassifier through
    * the Trainer seam) is spec-gated (ForestSpec: planted-separable
    * corpus, MLlib-vs-flattened forward parity, ModelIo round-trip,
    * replay deployment); the SCORING PATH the training produces is
    * gated here bit-exactly via [[ml8Net]]. */
  def ml8RfForward(s: SparkSession, d: String): DataFrame =
    OsdbFixture.dps(s, d).filter(col("has_raw"))
      .select(col("e"), col("d"),
        array_max(col("rawData")).as("f0"),
        array_min(col("rawData")).as("f1"),
        aggregate(col("rawData"), lit(0.0), (a, x) => a + x).as("f2"),
        size(filter(col("rawData"), x => x > 1000)).cast("double").as("f3"))
      .select(col("e"), col("d"),
        graft.ml.Forest.voteSumCol(ml8Net,
          Seq(col("f0"), col("f1"), col("f2"), col("f3")))
          .cast("long").as("votes"))

  val ml8Sql: String = {
    def caseOf(t: graft.ml.Forest.Tree, i: Int): String =
      if (t.feature(i) < 0) t.vote(i).toLong.toString
      else s"(CASE WHEN f${t.feature(i)} <= ${t.threshold(i).toLong} " +
        s"THEN ${caseOf(t, t.left(i))} ELSE ${caseOf(t, t.right(i))} END)"
    val votes = ml8Net.trees.map(caseOf(_, 0)).mkString(" + ")
    sqlBase +
      s""", featrf AS (
         |  SELECT e, d, MAX(m) AS f0, MIN(m) AS f1, SUM(m) AS f2,
         |         SUM(CASE WHEN m > 1000 THEN 1 ELSE 0 END) AS f3
         |  FROM sampm GROUP BY e, d)
         |SELECT e, d, CAST($votes AS BIGINT) AS votes FROM featrf""".stripMargin
  }

  /** The ml9 sweep grid — one knob changed per run, baseline first
    * (the reference sweeps each param independently against one shared
    * baseline, `runOptimisation.py:41-55`). ONE source of truth: the
    * query's `sweeps` argument AND [[ml9Sql]]'s per-run constants both
    * derive from this list through [[graft.ml.RunSequence.withKnob]]. */
  private val ml9Sweeps: Seq[(String, Long)] =
    Seq("oversampleFactor" -> 3L, "tcAugFac" -> 2L, "historyN" -> 2L)

  /** ML9 — the `runOptimisation.py` parameter-sweep harness under the
    * oracle gate ([[graft.ml.RunSequence.paramSweep]],
    * `user_tools/nnTraining2/runOptimisation.py:8-80`): baseline run +
    * one re-run per swept knob, each emitting the ml2 skeleton's
    * (fold, stage, n_events, n_epochs) summary, collected into one
    * comparison frame keyed by (param, value). The counts come from
    * the REAL re-composed frames per config — a knob that silently
    * failed to propagate (augment multiplier, history drop) breaks
    * exactly its run's rows. Extraction MEMOIZATION (one
    * materialization for all four runs here, since none touch
    * window/step) is pinned by RunSequenceSpec's receipt test. */
  def ml9ParamSweep(s: SparkSession, d: String): DataFrame = {
    val events = OsdbFixture.ev(s, d).select(
      col("e").as("id"), col("u"),
      col("type_str").as("type"), col("sub_type").as("subType"))
    val dps = OsdbFixture.flatDps(s, d,
      where = col("k") % 3 =!= 2 && col("u") % 2 === 0)
    graft.ml.RunSequence.paramSweep(
      events, dps,
      select = col("type") =!= "Unknown" && col("u") % 2 === 0,
      foldOf = Exact.knuthHash32(col("id")) % 3,
      sweeps = ml9Sweeps.map { case (p, v) => p -> Seq(v) })
  }

  val ml9Sql: String = {
    val base = graft.ml.RunSequence.Config()
    val runs = ("baseline", -1L, base) +: ml9Sweeps.map { case (p, v) =>
      (p, v, graft.ml.RunSequence.withKnob(base, p, v))
    }
    val blocks = runs.zipWithIndex.map { case ((p, v, cfg), i) =>
      val o = cfg.oversampleFactor
      val tcM = o * (1 + cfg.tcAugFac)
      val nep = s"GREATEST(ndp2 - ${cfg.historyN - 1}, 0)"
      val mult = s"CASE WHEN label = 1 AND sub_type = 'tonicClonic' " +
        s"THEN $tcM WHEN label = 1 THEN $o ELSE 1 END"
      // only the first block names the output columns
      val as = if (i == 0)
        (" AS param", " AS value", " AS fold", " AS stage",
          " AS n_events", " AS n_epochs")
      else ("", "", "", "", "", "")
      s"""SELECT '$p'${as._1}, CAST($v AS BIGINT)${as._2}, f${as._3},
         |       'train'${as._4}, COUNT(*)${as._5},
         |       CAST(SUM($nep) AS BIGINT)${as._6}
         |FROM selswp, foldswp WHERE fold <> f GROUP BY f
         |UNION ALL
         |SELECT '$p', CAST($v AS BIGINT), f, 'train_aug',
         |       CAST(SUM($mult) AS BIGINT),
         |       CAST(SUM(($mult) * ($nep)) AS BIGINT)
         |FROM selswp, foldswp WHERE fold <> f GROUP BY f
         |UNION ALL
         |SELECT '$p', CAST($v AS BIGINT), f, 'test', COUNT(*),
         |       CAST(SUM($nep) AS BIGINT)
         |FROM selswp, foldswp WHERE fold = f GROUP BY f
         |UNION ALL
         |SELECT '$p', CAST($v AS BIGINT), f, 'guard',
         |       CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         |FROM foldswp""".stripMargin
    }
    sqlBase +
      s""", ndpswp AS (
         |  SELECT e, MAX(d) - MIN(d) + 1 AS ndp2
         |  FROM dpx
         |  WHERE (k % 4 <> 1 OR (k + d) % 7 <> 0)
         |    AND k % 3 <> 2 AND u % 2 = 0
         |  GROUP BY e),
         |selswp AS (
         |  SELECT ev.e, ((ev.e * 2654435761) % 4294967296) % 3 AS fold,
         |         ndp2, ev.label, ev.sub_type
         |  FROM ev JOIN ndpswp ON ev.e = ndpswp.e
         |  WHERE ev.k % 3 <> 2 AND ev.u % 2 = 0),
         |foldswp AS (SELECT unnest(range(0, 3)) AS f)
         |${blocks.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** The ml10 network: FIXED small-integer weights over a 6×5 image so
    * that every intermediate of the real 2-D CNN forward — same-padded
    * 3×3 convs, ReLU, same-pool maxes, dense logit — is an exact
    * integer (|logit| ≪ 2^53) and the cross-engine compare is a plain
    * hash (the ml3 oracle class: mul/add/compare only). Two layers
    * (1→2→2 channels) so the stack, the channel chain, AND the odd-dim
    * same-pool edges (6×5 → 3×3 → 2×2) are all exercised. ONE source
    * of truth: [[ml10Sql]]'s staged per-cell CTEs are GENERATED from
    * this object's weights. */
  private val ml10Net: graft.ml.SpecCnn.SpecCnnModel = {
    import graft.ml.SpecCnn.{Layer, SpecCnnModel}
    val l0 = Layer(1, 2,
      w = Array.tabulate(2 * 1 * 9)(i => ((i * 5) % 7 - 3).toDouble),
      b = Array.tabulate(2)(o => (o - 1).toDouble))
    val l1 = Layer(2, 2,
      w = Array.tabulate(2 * 2 * 9)(i => ((i * 3) % 5 - 2).toDouble),
      b = Array.tabulate(2)(o => (1 - o).toDouble))
    SpecCnnModel(6, 5, Array(l0, l1),
      dense = Array.tabulate(2 * 2 * 2)(i => ((i * 7) % 5 - 2).toDouble),
      bias = 1.0, mean = 0.0, std = 1.0)
  }

  /** ML10 — the spectrogram-model 2-D CNN forward pass under the
    * oracle gate ([[graft.ml.SpecCnn.logitCol]]; the reference's
    * `specCnnModel.py` makeModel, the last nnModel subclass): the
    * fixture window's first 30 magnitude samples read as a 6×5
    * freq-major image → conv(3×3 same)→ReLU→maxpool(2×2 same), twice →
    * dense logit, as ONE native codegen'd expression. The SPECTROGRAM
    * extraction is spec-gated ([[graft.ml.SpecCnn.specImage]] —
    * SpecCnnSpec's layout/DC/sine-bin tests; DFT magnitudes are
    * transcendental, not a cross-engine hash contract), and the
    * TRAINER is spec-gated (finite-difference gradient + planted
    * corpus); the architecture both produce and consume IS gated here
    * bit-exactly via [[ml10Net]]'s integer weights. */
  def ml10SpecCnn(s: SparkSession, d: String): DataFrame =
    OsdbFixture.dps(s, d).filter(col("has_raw"))
      .select(col("e"), col("d"),
        graft.ml.SpecCnn.logitCol(ml10Net, slice(col("rawData"), 1, 30))
          .cast("long").as("logit"))

  val ml10Sql: String = {
    val m = ml10Net
    // plan-time dims per level: 6×5 → 3×3 → 2×2
    val dims = Seq((6, 5), (3, 3), (2, 2))
    def wv(l: Int, o: Int, ci: Int, dy: Int, dx: Int): Long =
      m.layers(l).w(((o * m.layers(l).cIn + ci) * 3 + dy) * 3 + dx).toLong
    // conv cell (o, f, s) of layer l over input refs `in(ci, ff, ss)`
    def convCell(l: Int, o: Int, f: Int, s: Int,
                 in: (Int, Int, Int) => String): String = {
      val (h, w) = dims(l)
      val terms = for {
        ci <- 0 until m.layers(l).cIn
        dy <- 0 until 3
        ff = f + dy - 1
        if ff >= 0 && ff < h
        dx <- 0 until 3
        ss = s + dx - 1
        if ss >= 0 && ss < w
      } yield s"(${wv(l, o, ci, dy, dx)})*${in(ci, ff, ss)}"
      s"GREATEST(0, ${m.layers(l).b(o).toLong} + ${terms.mkString(" + ")})"
    }
    // pool cell (o, fp, sp) at level l+1 over act refs `a(o, f, s)`
    def poolCell(l: Int, o: Int, fp: Int, sp: Int,
                 a: (Int, Int, Int) => String): String = {
      val (h, w) = dims(l)
      val cells = for {
        f <- Seq(2 * fp, 2 * fp + 1) if f < h
        s <- Seq(2 * sp, 2 * sp + 1) if s < w
      } yield a(o, f, s)
      if (cells.size == 1) cells.head else s"GREATEST(${cells.mkString(", ")})"
    }
    def grid(l: Int): Seq[(Int, Int, Int)] = for {
      o <- 0 until m.layers(l).cOut
      f <- 0 until dims(l)._1
      s <- 0 until dims(l)._2
    } yield (o, f, s)
    def pgrid(l: Int): Seq[(Int, Int, Int)] = for {
      o <- 0 until m.layers(l).cOut
      f <- 0 until dims(l + 1)._1
      s <- 0 until dims(l + 1)._2
    } yield (o, f, s)
    val a0 = grid(0).map { case (o, f, s) =>
      s"${convCell(0, o, f, s, (_, ff, ss) => s"xs[${ff * 5 + ss + 1}]")} AS a${o}_${f}_$s"
    }
    val p0 = pgrid(0).map { case (o, fp, sp) =>
      s"${poolCell(0, o, fp, sp, (oo, f, s) => s"a${oo}_${f}_$s")} AS p${o}_${fp}_$sp"
    }
    val a1 = grid(1).map { case (o, f, s) =>
      s"${convCell(1, o, f, s, (ci, ff, ss) => s"p${ci}_${ff}_$ss")} AS b${o}_${f}_$s"
    }
    val p1 = pgrid(1).map { case (o, fp, sp) =>
      s"${poolCell(1, o, fp, sp, (oo, f, s) => s"b${oo}_${f}_$s")} AS q${o}_${fp}_$sp"
    }
    val dense = (for {
      c <- 0 until 2; f <- 0 until 2; s <- 0 until 2
    } yield s"(${m.dense(((c * 2) + f) * 2 + s).toLong})*q${c}_${f}_$s")
      .mkString(" + ")
    sqlBase +
      s""", xs10 AS (
         |  SELECT e, d, list(m ORDER BY i) AS xs FROM sampm
         |  WHERE i < 30 GROUP BY e, d),
         |c10a AS (SELECT e, d, ${a0.mkString(",\n         ")} FROM xs10),
         |c10p AS (SELECT e, d, ${p0.mkString(",\n         ")} FROM c10a),
         |c10b AS (SELECT e, d, ${a1.mkString(",\n         ")} FROM c10p),
         |c10q AS (SELECT e, d, ${p1.mkString(",\n         ")} FROM c10b)
         |SELECT e, d, CAST(${m.bias.toLong} + $dense AS BIGINT) AS logit
         |FROM c10q""".stripMargin
  }

}
