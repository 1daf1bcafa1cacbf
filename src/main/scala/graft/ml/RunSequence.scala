package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}

import graft.Scoped.{Materialize, overlap}
import graft.functions.EpochFeatures
import graft.operators.{Augment, Curate, FeatureExtract, FeatureHistory}
import graft.operators.Flatten.FlatDp

/** §3.1 runSequence — the reference's headline training workflow
  * (`user_tools/nnTraining2/runSequence.py:799,995-1224`) as ONE Spark
  * lineage, per fold, with no file handoffs:
  *
  *   select (F5) → flatten+validate (P14) → k-fold split (M2) →
  *   copy augmentation (M3 oversample + M7 tonic-clonic) → epoch
  *   features (P12) → lag history (W7) → train (LBFGS logistic) →
  *   held-out event-level metrics (A4) + epoch AUROC (ml1).
  *
  * Where the reference re-runs each stage per fold through CSV
  * handoffs, the engine lifts everything fold-INVARIANT out of the
  * loop — the composition is not just "no files", it is strictly less
  * work:
  *
  *   - validate + extract run ONCE for all folds (feature extraction
  *     is a pure per-event function; fold membership cannot change
  *     it), FUSED into a single per-event shuffle
  *     ([[FeatureExtract.extract]] `validate = true`).
  *   - copy augmentation REPLICATES computed feature rows instead of
  *     recomputing them: the plan is built at EVENT level (one row per
  *     original-or-synthetic id) and joined onto the epoch rows — a
  *     copy's features are bit-identical to its source's by
  *     definition, so the k-fold loop never pays the Welch/DFT kernel
  *     twice for the same signal. Signal-mutating augmentation (M4
  *     noise, M5 phase) genuinely changes the data and would extend
  *     the plan with recomputed epochs for the synthetic dps only.
  *   - the plan itself is fold-invariant: M3/M7 are per-row generators
  *     (explode(sequence), no cross-row state), so the full-table plan
  *     filtered to `fold != f` IS fold f's plan (RunSequenceSpec pins
  *     the equality against per-fold augment calls).
  *
  * Per-fold work is then: slice, join-replicate, LBFGS, score — the
  * only O(k·data) cost is the k training passes the statistics demand.
  * At 100 TB every stage keeps its operator's scale shape: the select
  * is a pushable predicate + semi join, extraction is the per-event
  * flatMapGroups, the plan join is an equi join on eventId
  * (co-partitioned with the epochs' grouping key), and training is
  * MLlib's treeAggregate gradient passes with driver state = one
  * coefficient vector.
  *
  * The F14 contamination guard is load-bearing, not decorative: fold
  * membership is decided per SOURCE event, synthetic ids inherit their
  * source's fold through the plan, and [[run]] fails loudly if any
  * training id (original or synthetic) reaches the fold's test slice.
  * [[skeleton]] emits the same check as oracle-gated rows.
  */
object RunSequence {

  /** Knobs mirror nnConfig.json's dataProcessing + augmentation
    * sections; defaults are the reference's (oversample ×2, one extra
    * tonic-clonic copy, 3-deep feature history). */
  case class Config(
      k: Int = 3,
      oversampleFactor: Int = 2,
      tcAugFac: Int = 1,
      historyN: Int = 3,
      extract: FeatureExtract.Config = FeatureExtract.Config(),
      maxIter: Int = 50,
      regParam: Double = 0.01)

  /** Per-fold outcome: the held-out A4 confusion cells + ml1 AUROC and
    * the trained model itself (deployable through [[Trainer]]'s seam
    * when trained on the P12 basis; the history basis is the
    * reference's training CSV shape and is evaluated in-engine).
    * Generic in the model family — the reference's runSequence swaps
    * network architectures through one config knob
    * (`nnConfig.json`'s modelClass), and [[runWith]] is that knob. */
  case class FoldResult[M](
      fold: Int,
      nTrainEvents: Long,
      nTrainAugEvents: Long,
      nTestEvents: Long,
      heldOutAuroc: Double,
      eventTp: Long,
      eventFp: Long,
      eventTn: Long,
      eventFn: Long,
      model: M)

  /** C4 type→id as a Column (flattenData.py:13-27; the Column twin of
    * [[graft.operators.Flatten.type2id]]). */
  private def typeIdCol(t: Column): Column = {
    val lt = lower(coalesce(t, lit("")))
    when(lt.contains("seizure"), 1)
      .when(lt.contains("false alarm") || lt.contains("nda"), 0)
      .otherwise(2)
  }

  /** F5 select + M2 fold assignment over the EVENT table:
    * (srcId, type, subType, fold). `foldOf` must evaluate to 0..k-1 on
    * the events frame (the caller owns the hash so the oracle can
    * restate it — [[graft.operators.Splits.kFold]] for production,
    * knuthHash32 for the DuckDB-gated query). */
  def selectedEvents(events: DataFrame, select: Column,
                     foldOf: Column): DataFrame =
    events.filter(select).select(
      col("id").cast("string").as("srcId"),
      typeIdCol(col("type")).as("type"),
      col("subType"),
      foldOf.cast("long").as("fold"))

  /** The fold-invariant copy-augmentation plan: one row per training
    * event id (synthetic or original) with its source id and the
    * source's fold. M3 oversamples seizures ×`oversampleFactor`, M7
    * adds `tcAugFac` copies per tonic-clonic row — both per-row
    * generators, so slicing the full plan by fold equals building the
    * plan per fold. */
  def augmentPlan(ev: DataFrame, cfg: Config): DataFrame = {
    val base = ev.select(col("srcId").as("id"), col("srcId"),
      col("type"), col("subType"), col("fold"))
    val over = Augment.oversample(base, "id", cfg.oversampleFactor,
      col("type") === 1)
    Augment.tonicClonicAugment(over, "id", cfg.tcAugFac)
      .select(col("id"), col("srcId"), col("fold"))
  }

  /** P14→P12→W7 for the selected events, ONCE for all folds, FUSED
    * into one group pass ([[FeatureExtract.extractHist]] — r19: the
    * addHistory(flatEpochs(...)) composition re-shuffled by the same
    * eventId key and paid a 720-column WindowExec plan per execution;
    * see the extractHist docblock for the equivalence argument and
    * RunSequenceSpec for the row-for-row pin). Raw shape: (eventId,
    * type, tsSec, startSample, hist) with hist in the
    * FeatureNames-major (lags, mean) layout. */
  private[graft] def histEpochsRaw(ev: DataFrame, dps: Dataset[FlatDp],
                                   cfg: Config): DataFrame = {
    val sel = dps.join(ev.select(col("srcId")),
        dps("eventId") === col("srcId"), "left_semi")
      .as[FlatDp](dps.encoder)
    FeatureExtract.extractHist(sel, cfg.extract, cfg.historyN).toDF()
  }

  /** [[histEpochsRaw]] projected to the legacy NAMED-column frame:
    * (eventId, type, tsSec, startSample, <P12 cols>, <lag/mean cols>)
    * — the pre-r19 `addHistory(flatEpochs(...))` shape, kept for
    * callers that read features by name. The hot composed paths
    * ([[skeleton]], [[assembledHistoryBase]]) consume the raw frame
    * directly and never build this 724-column projection. */
  def historyEpochs(ev: DataFrame, dps: Dataset[FlatDp],
                    cfg: Config): DataFrame = {
    val raw = histEpochsRaw(ev, dps, cfg)
    val n = cfg.historyN
    val names = EpochFeatures.FeatureNames
    val flatCols = names.zipWithIndex.map { case (nm, j) =>
      element_at(col("hist"), j * (n + 1) + 1).as(nm)
    }
    val histCols = names.zipWithIndex.flatMap { case (nm, j) =>
      val base = j * (n + 1)
      (0 until n).map(k =>
        element_at(col("hist"), base + k + 1).as(s"${nm}_t-$k")) :+
        element_at(col("hist"), base + n + 1).as(s"${nm}_mean")
    }
    raw.select(Seq(col("eventId"), col("type"), col("tsSec"),
      col("startSample")) ++ flatCols ++ histCols: _*)
  }

  /** The pre-history half of [[historyEpochs]] — fused P14 validate +
    * P12 extract, flattened to fail-loud feature columns. Split out so
    * [[paramSweep]] can MEMOIZE it: the extraction depends only on the
    * selected events and `extract` (window/step/filter knobs), not on
    * historyN / augmentation / fold count, so sweep values that leave
    * `extract` untouched share ONE materialization (the reference's
    * copy-baseline-files-unless-window/step skip list,
    * `runOptimisation.py:72-75`). */
  def flatEpochs(ev: DataFrame, dps: Dataset[FlatDp],
                 extract: FeatureExtract.Config): DataFrame = {
    // J3 semi join: only selected events pay validation + extraction
    val sel = dps.join(ev.select(col("srcId")),
        dps("eventId") === col("srcId"), "left_semi")
      .as[FlatDp](dps.encoder)
    val epochs = FeatureExtract.extract(sel, extract, validate = true)
    // positional fail-loud map projection — the per-name element_at
    // scan was O(|features|²) per row and dominated this lineage
    // (EpochFeatures.featureCols docblock; OPTIMIZATION_r19.md numbers)
    val featCols = EpochFeatures.featureCols(EpochFeatures.FeatureNames)
    epochs.toDF().select(
      Seq(col("eventId"), col("type"), col("tsSec"),
        col("startSample")) ++ featCols: _*)
  }

  /** The deterministic relational skeleton the ml2 oracle gates —
    * (fold, stage, n_events, n_epochs) for stages `train` (fold's
    * pre-augmentation training events), `train_aug` (after the M3/M7
    * plan), `test` (held-out slice), and `guard` (F14: training ids
    * reaching the test slice — MUST be 0). Counts are read off the
    * REAL composed frames (actual plan rows, actual epoch rows after
    * the fused P14→P12→W7 lineage), not restated formulas; the DuckDB
    * oracle restates them from the fixture's closed forms, so a lost
    * gap-fill, a mis-dropped history row, or a plan over/under-copy
    * breaks the hash.
    *
    * Scale shape: the heavy lineage collapses to ONE O(events) frame
    * (per-event epoch counts) materialized once; the 3k+1 skeleton
    * branches then aggregate that tiny frame, so fold count never
    * multiplies the extraction cost. */
  def skeleton(events: DataFrame, dps: Dataset[FlatDp], select: Column,
               foldOf: Column, cfg: Config = Config()): DataFrame = {
    val ev = selectedEvents(events, select, foldOf)
    // the raw fused frame: evW only counts rows per event, so the
    // 724-column named projection would be pure plan weight here. The
    // returned frame is built from driver rows, so evW's blocks are
    // released as soon as the skeleton's collects return.
    Materialize.scoped { s =>
      skeletonFromEvW(ev, s(evWFrame(ev, histEpochsRaw(ev, dps, cfg))), cfg)
    }
  }

  /** The per-event epoch-count frame (srcId, fold, nEp) — the single
    * materialization of the extract+history lineage, pinned by the
    * caller's [[Materialize.scoped]] block. The sweep memoizes it per
    * (extract config, historyN): it depends on nothing else, and three
    * of ml9's four runs share it. */
  private def evWFrame(ev: DataFrame, hist: DataFrame): DataFrame = {
    val perEvent = hist.groupBy(col("eventId"))
      .agg(count(lit(1)).as("nEp"))
    // left join: an event whose epochs all fell to the history filter
    // still counts as an event in the fold slices (nEp = 0)
    ev.join(perEvent, ev("srcId") === perEvent("eventId"), "left")
      .select(col("srcId"), col("fold"),
        coalesce(col("nEp"), lit(0L)).as("nEp"))
  }

  /** Per-fold (n_events, n_epochs) counts of one source frame plus the
    * grand totals — the collected form of [[foldCountsOf]]'s ONE
    * per-fold aggregate (r20). O(k) rows by construction (k ≤ folds),
    * the documented gate-instrument collect class. */
  private[graft] case class FoldCounts(ne: Map[Long, Long],
                                       nep: Map[Long, Long],
                                       totNe: Long, totNep: Long) {
    /** Fail loud when a fold in 0..k-1 holds no events: its complement
      * would train on everything and it would test on nothing. `what`
      * names the folds ("fold(s)", "outer fold(s)"), `flag` the CLI
      * option that sets k. */
    def requireOccupied(k: Int, what: String, flag: String): Unit = {
      val missing = (0L until k.toLong).filterNot(ne.contains)
      require(missing.isEmpty,
        s"$what ${missing.mkString(",")} have no events under $flag $k " +
          "— too few selected events, or a degenerate id distribution " +
          "for this k; pick a smaller or different k")
    }
  }

  /** THE fold validator: every k-fold path (skeleton, audit, sweep, fold
    * loop, both nested fold columns) reads its fold column through this
    * one function, and only it decides what a valid fold column is.
    * ONE groupBy(fold) aggregate over `src` (columns fold, nEp — nEp is
    * the per-row long the second count sums: epochs per event, the
    * seizure flag in the audit, 0 where only events count), collected —
    * O(k) rows. Off the same rows it fails loud on a NULL fold and on a
    * fold outside 0..k-1, naming the fold column `name` (foldOf,
    * outerFoldOf, innerFoldOf). An out-of-range or null fold — a
    * negative hash, a `% k` without pmod, a nullable id — otherwise sits
    * in EVERY training slice and NO test slice: the F14 guard stays 0
    * and every metric is silently computed on wrong splits. An empty
    * `src` passes (callers fail loudly on their own terms). Because a
    * null fold always throws, no row can fall silently out of the
    * totals: they are Σ over the per-fold longs, exact. */
  private def foldCountsOf(src: DataFrame, k: Int,
                           name: String = "foldOf"): FoldCounts = {
    val rows = src.groupBy(col("fold"))
      .agg(count(lit(1)).as("ne"), sum("nEp").as("nep")).collect()
    val nullNe = rows.filter(_.isNullAt(0)).map(_.getLong(1)).sum
    require(nullNe == 0L,
      s"$name evaluated to NULL on $nullNe rows " +
        s"— every fold value must land in 0..${k - 1}")
    val fs = rows.map(_.getLong(0))
    if (fs.nonEmpty)
      require(fs.min >= 0 && fs.max < k,
        s"$name out of range 0..${k - 1}: saw [${fs.min}, ${fs.max}]")
    def nepOf(r: org.apache.spark.sql.Row) =
      if (r.isNullAt(2)) 0L else r.getLong(2)
    FoldCounts(
      rows.map(r => r.getLong(0) -> r.getLong(1)).toMap,
      rows.map(r => r.getLong(0) -> nepOf(r)).toMap,
      rows.map(_.getLong(1)).sum,
      rows.map(nepOf).sum)
  }

  /** The k-fold bookkeeping round, shared by [[skeletonFromEvW]] and
    * [[foldLoop]]: three O(k)-row aggregates collected together in one
    * [[overlap]] round (guide §2.6: independent jobs back-fill each
    * other's task tails, on a cluster as locally) — `events` (fold,
    * nEp) by fold, `plan` (id, fold, nEp) by fold, both through
    * [[foldCountsOf]], and the F14 leak pairs by test fold: a plan id
    * that is a test-slice id of ANOTHER fold (`tests`: id, fold) leaks
    * into that fold's training slice, so the matched pairs with
    * trFold ≠ teFold are counted by teFold (one exchange, not a
    * crossJoin(folds) k-fanout). `evCounts` skips the events aggregate
    * when the caller already holds it (the sweep's memoized evW
    * counts). Returns (events, plan, leaks by test fold). */
  private def foldBookkeeping(events: DataFrame, plan: DataFrame,
                              tests: DataFrame, k: Int,
                              evCounts: Option[FoldCounts] = None)
      : (FoldCounts, FoldCounts, Map[Long, Long]) = {
    val leaks = plan.select(col("id"), col("fold").as("trFold"))
      .join(tests.select(col("id").as("tid"), col("fold").as("teFold")),
        col("id") === col("tid"))
      .filter(col("trFold") =!= col("teFold"))
      .groupBy(col("teFold")).agg(count(lit(1)))
    val Seq(evC: FoldCounts, planC: FoldCounts,
            leak: Map[Long, Long] @unchecked) = overlap(Seq[() => Any](
      () => evCounts.getOrElse(foldCountsOf(events, k)),
      () => foldCountsOf(plan, k),
      () => leaks.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap))
    (evC, planC, leak)
  }

  /** The skeleton's output schema — pinned so the driver-assembled
    * frame matches the old aggregate plan's column names and types. */
  private val skeletonSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("fold",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("stage",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("n_events",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("n_epochs",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** The 3k+1 skeleton aggregations over the tiny materialized evW frame
    * — the seam [[paramSweep]] re-enters per swept config with its
    * memoized extraction AND memoized evW (and, r20, its memoized
    * per-evW [[FoldCounts]] via `evCounts`).
    *
    * r20 opt round: the r19 form returned a 16-branch union plan of
    * per-fold aggregates; the execution cost was not the data (the
    * aggregates are O(k) rows over materialized frames) but the DRIVER —
    * Catalyst analysis of the big union tree plus one serialized
    * `.head()` guard job per skeleton (OPTIMIZATION_r20.md §Skeleton:
    * ml9's wall was
    * dominated by 0.6-0.7 s no-job planning gaps and ~150 ms-spaced
    * tiny jobs). The three aggregates each skeleton actually needs
    * (evW by fold, the augment plan by fold, the F14 overlap counts by
    * test fold) are collected in the one bookkeeping round
    * ([[foldBookkeeping]]), and the slice rows are assembled on the
    * driver with the IDENTICAL exact long arithmetic (train = total −
    * own fold, zero rows for empty folds, guard zero-filled). Same
    * counts off the same real distributed frames; only the k-row
    * complement/zero-fill bookkeeping moved out of Catalyst. The fold
    * validation rides the evW aggregate itself ([[foldCountsOf]]); a
    * violation throws before any slice row is assembled. */
  private[graft] def skeletonFromEvW(ev: DataFrame, evW: DataFrame,
                                     cfg: Config,
                                     evCounts: Option[FoldCounts] = None): DataFrame = {
    val spark = ev.sparkSession
    val planW = augmentPlan(ev, cfg).join(
        evW.select(col("srcId").as("psrc"), col("nEp")),
        col("srcId") === col("psrc"))
      .select(col("id"), col("fold"), col("nEp"))
    val (evC, augC, over) = foldBookkeeping(evW, planW,
      evW.select(col("srcId").as("id"), col("fold")), cfg.k, evCounts)
    // driver-side assembly: identical exact long arithmetic as the old
    // aggregate plan (train = Σ_g − own(f)), identical explicit-zero
    // discipline (every fold 0..k-1 emits a row per stage), identical
    // stage block order (train, train_aug, test, guard)
    def g(m: Map[Long, Long], f: Long) = m.getOrElse(f, 0L)
    val fs = 0L.until(cfg.k.toLong)
    val rows: Seq[org.apache.spark.sql.Row] =
      fs.map(f => org.apache.spark.sql.Row(f, "train",
        evC.totNe - g(evC.ne, f), evC.totNep - g(evC.nep, f))) ++
      fs.map(f => org.apache.spark.sql.Row(f, "train_aug",
        augC.totNe - g(augC.ne, f), augC.totNep - g(augC.nep, f))) ++
      fs.map(f => org.apache.spark.sql.Row(f, "test",
        g(evC.ne, f), g(evC.nep, f))) ++
      fs.map(f => org.apache.spark.sql.Row(f, "guard", g(over, f), 0L))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), skeletonSchema)
  }

  // ----------------------------------------------------- parameter sweep

  /** Set one named config knob — the sweep's param surface, mirroring
    * `runOptimisation.py`'s params_to_vary (model knobs like
    * n_estimators live in the model family; the DATA-PROCESSING knobs
    * the sweep memoizes around are these). Fail-loud on an unknown
    * name: a typo'd sweep param must not silently re-run the
    * baseline. */
  def withKnob(cfg: Config, param: String, v: Long): Config =
    param match {
      case "oversampleFactor" => cfg.copy(oversampleFactor = v.toInt)
      case "tcAugFac" => cfg.copy(tcAugFac = v.toInt)
      case "historyN" => cfg.copy(historyN = v.toInt)
      case "k" => cfg.copy(k = v.toInt)
      case "window" =>
        cfg.copy(extract = cfg.extract.copy(window = v.toInt))
      case "step" =>
        cfg.copy(extract = cfg.extract.copy(step = v.toInt))
      case other => throw new IllegalArgumentException(
        s"unknown sweep param '$other' (oversampleFactor, tcAugFac, " +
          "historyN, k, window, step)")
    }

  /** The `runOptimisation.py` parameter-sweep harness
    * (`user_tools/nnTraining2/runOptimisation.py:8-80`): run the
    * baseline config, then re-run the sequence once per (param, value)
    * with that single knob changed, and collect every run's per-fold
    * summary into ONE comparison frame —
    * (param, value, fold, stage, n_events, n_epochs), `param =
    * 'baseline'` / `value = -1` for the baseline row block (the
    * reference records value=None; −1 keeps the frame integer-typed).
    *
    * The reference's memoization — it copies the baseline's extracted
    * data files into each sweep directory UNLESS the param is in the
    * re-extract list (window/step/highPassOrder,
    * runOptimisation.py:72-75) — is held STRUCTURALLY here: the fused
    * validate+extract lineage ([[flatEpochs]]) is keyed by its
    * [[FeatureExtract.Config]] and materialized once per DISTINCT config;
    * augmentation knobs re-enter [[skeletonFromEvW]] over the shared
    * materializations. Returns the frame plus TWO memoization
    * receipts the spec pins: the distinct extract configs and the
    * distinct (extract, historyN) evW frames actually materialized.
    *
    * Scale shape: one heavy extraction per distinct (window, step, …)
    * value — exactly the reruns the statistics demand — and per run
    * only the O(events) skeleton aggregates. The returned frame is the
    * O(runs × folds × stages) SUMMARY, materialized eagerly so every
    * cached lineage (selection, per-config extractions) is released
    * before returning — a long-lived session running many sweeps must
    * not accumulate pinned block-manager partitions. (The summary
    * collect is the documented O(small) gate-instrument class, like
    * rpt3 — never data rows.)
    *
    * `k` is NOT sweepable here, fail-loud: the fold column is the
    * caller's opaque expression, evaluated once against the baseline
    * split — a k re-run would leave folds ≥ k empty and events from
    * folds the new k cannot reach in every train slice and no test
    * slice, a silently-wrong comparison frame. Sweeping the fold count
    * is [[runNested]]'s territory (where both fold expressions are
    * explicit). The fold column itself goes through the one fold
    * validator ([[foldCountsOf]]: no null, nothing outside 0..k-1) on
    * the pinned selection, before any extraction. */
  def paramSweepWithStats(events: DataFrame, dps: Dataset[FlatDp],
                          select: Column, foldOf: Column,
                          base: Config = Config(),
                          sweeps: Seq[(String, Seq[Long])])
      : (DataFrame, Seq[FeatureExtract.Config],
         Seq[(FeatureExtract.Config, Int)]) = {
    require(sweeps.forall(_._2.nonEmpty), "a swept param needs values")
    require(sweeps.forall(_._1 != "k"),
      "'k' is not sweepable through paramSweep: the fold column is " +
        "evaluated once against the baseline k, so a k re-run would " +
        "compare silently-wrong splits (see the docblock)")
    val spark = events.sparkSession
    // EAGER LOCAL CHECKPOINTS, not persists (r19 opt round; the
    // Materialize policy): the sweep is plan-time bound, not data bound
    // — ml9 benched the same at sf0.001 and sf0.1 because every one of
    // the 4 runs' skeleton frames re-embedded (and re-analyzed) the FULL
    // extraction lineage through the persisted frames' logical plans (a
    // persist caches blocks but keeps the logical tree). A flat
    // LogicalRDD per memoized frame makes the per-run skeletons analyze
    // O(skeleton) trees, not O(lineage) — the r10 BPE plan-time lesson
    // applied to the sweep. Legal here because the sweep COLLECTS its
    // summary before the scope releases the frames.
    Materialize.scoped { s =>
      val ev = s(selectedEvents(events, select, foldOf))
      // the one fold validator, before any extraction
      foldCountsOf(ev.select(col("fold"), lit(0L).as("nEp")), base.k)
      // The evW frame only needs the per-event SURVIVOR COUNT of the
      // history stage, and addHistory's drop depends solely on row
      // position within the event (deepest lag null ⇔ first historyN−1
      // rows) plus feature non-nullness — and every feature here is
      // non-null by flatEpochs' fail-loud positional projection
      // (featureCols raises on a null value). Running the REAL
      // addHistory over ONE feature column therefore drops exactly the
      // same rows as over all 144, while the window plan carries
      // (n+1) derived columns instead of 144·(n+1) — the 432-column
      // analysis/codegen weight was ml9's largest remaining driver gap
      // (OPTIMIZATION_r20.md: 0.65 s no-job before the evW
      // materializations).
      // RunSequenceSpec pins the count equivalence.
      def histCountFrame(flat: DataFrame, h: Int): DataFrame =
        FeatureHistory.addHistory(
          flat.select(col("eventId"), col("tsSec"), col("startSample"),
            col(EpochFeatures.FeatureNames.head)),
          EpochFeatures.FeatureNames.take(1), h)
      // Pre-materialize the memoized frames with INDEPENDENT jobs
      // OVERLAPPED (r20; guide §2.6 — actions are only sequential
      // because the driver calls them sequentially): one extraction per
      // distinct extract config, then one evW per distinct (extract,
      // historyN) — evW depends ONLY on those two, augmentation knobs
      // reshape the aggregation multipliers, never the counts frame
      // (the reference's skip-if-exists applied to the history stage,
      // not just extraction) — then each evW's per-fold aggregate
      // (r20), which runs sharing the frame share with its fold
      // validation. The run loop below only READS these immutable
      // maps. Same idle-tail win on a real cluster (§2.6's back-fill),
      // not a local-mode trick.
      val runSpecs = ("baseline", -1L, base) +:
        sweeps.flatMap { case (p, vs) =>
          vs.map(v => (p, v, withKnob(base, p, v)))
        }
      val extracts = runSpecs.map(_._3.extract).distinct
      val flat = extracts.zip(overlap(extracts.map(ec =>
        () => s(flatEpochs(ev, dps, ec))))).toMap
      val combos = runSpecs.map(r => (r._3.extract, r._3.historyN)).distinct
      val evW = combos.zip(overlap(combos.map { case (ec, h) =>
        () => s(evWFrame(ev, histCountFrame(flat(ec), h)))
      })).toMap
      val evWCounts = combos.zip(overlap(combos.map(key =>
        () => foldCountsOf(evW(key), base.k)))).toMap
      // the runs' skeleton aggregates are independent of each other —
      // overlap them too (§2.6); each run is 2-3 tiny O(k)-row
      // collects over already-materialized frames. Results come back in
      // the runs' declared order, so the output frame is unchanged.
      val runs = overlap(runSpecs.map { case (p, v, cfg) => () =>
        val key = (cfg.extract, cfg.historyN)
        skeletonFromEvW(ev, evW(key), cfg, Some(evWCounts(key)))
          .select(lit(p).as("param"), lit(v).as("value"),
            col("fold"), col("stage"), col("n_events"), col("n_epochs"))
      })
      val out = runs.reduce(_.unionByName(_))
      val rows = out.collect().toSeq // the tiny summary, see docblock
      (spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), out.schema),
        extracts,
        combos) // the history-stage memoization receipt
    }
  }

  /** [[paramSweepWithStats]] without the receipt — the ml9 query
    * surface. */
  def paramSweep(events: DataFrame, dps: Dataset[FlatDp], select: Column,
                 foldOf: Column, base: Config = Config(),
                 sweeps: Seq[(String, Seq[Long])]): DataFrame =
    paramSweepWithStats(events, dps, select, foldOf, base, sweeps)._1

  /** Per-outer-fold nested-validation outcome: which candidate family
    * the inner CV chose, every candidate's inner mean AUROC, and the
    * winner's single evaluation on the untouched outer test slice. */
  case class NestedResult[M](
      outerFold: Int,
      chosen: String,
      innerMeanAuroc: Map[String, Double],
      outer: FoldResult[M])

  /** The deterministic relational skeleton of NESTED k-fold — the ml6
    * oracle's frame, (outer_fold, inner_fold, stage, n_events) for
    * stages `inner_train` / `inner_val` (the model-selection splits
    * inside each outer-train slice), `outer_train` / `outer_test`
    * (inner_fold = −1), and `guard` (event ids appearing in BOTH an
    * outer fold's train and test slices — 0 unless the fold hash is
    * non-functional, e.g. duplicated event ids). The reference's
    * nestedKfold splitter (`user_tools/nnTraining2/splitData.py`,
    * NESTED_KFOLD_README.md) materializes these slices as
    * `outerfold{i}/fold{j}/` directory trees; here they are one
    * relational frame the oracle restates from the fixture's closed
    * forms. Both fold hashes are caller-owned Columns so the oracle
    * can restate them. */
  def nestedSkeleton(events: DataFrame, select: Column,
                     outerFoldOf: Column, innerFoldOf: Column,
                     outerK: Int, innerK: Int): DataFrame = {
    val spark = events.sparkSession
    Materialize.scoped { s =>
      val ev = s.persist(events.filter(select).select(
          col("id").cast("string").as("srcId"),
          outerFoldOf.cast("long").as("ofold"),
          innerFoldOf.cast("long").as("ifold")))
      ev.count()
      // r19 opt round: ONE per-(ofold, ifold) CELL aggregate over ev
      // (≤ outerK·innerK rows) carries every count instead of a
      // crossJoin(folds) event-table blow-up per stage. r20: the stage
      // slices over that tiny cell frame are assembled on the DRIVER —
      // the r19 form still returned a 5-branch union of cell-frame
      // crossJoins whose Catalyst analysis and AQE stage-jobs, not the
      // data, dominated the query (the skeletonFromEvW finding). The
      // two aggregates (cells, guard pairs) are collected CONCURRENTLY
      // (§2.6) and the sums are the identical exact long arithmetic.
      val perCell = ev.groupBy(col("ofold"), col("ifold"))
        .agg(count(lit(1)).as("cnt"))
      // guard as data: ids in both slices of the same outer fold — a
      // row pair (a, b) with one srcId and a.ofold ≠ b.ofold lands in
      // exactly outer fold b.ofold's guard (test row b's fold IS of,
      // train row a's is not), so group the srcId self-join by b.ofold
      // instead of fanning the id lists out by the fold grid
      val guardAgg = ev.select(col("srcId"), col("ofold").as("aOf"))
        .join(ev.select(col("srcId"), col("ofold").as("bOf")), "srcId")
        .filter(col("aOf") =!= col("bOf"))
        .groupBy(col("bOf")).agg(count(lit(1)).as("ne"))
      val Seq(cells: Seq[(Option[Long], Option[Long], Long)] @unchecked,
              guardMap: Map[Long, Long] @unchecked) = overlap(Seq[() => Any](
        () => perCell.collect().map { r =>
          (if (r.isNullAt(0)) None else Some(r.getLong(0)),
           if (r.isNullAt(1)) None else Some(r.getLong(1)),
           r.getLong(2))
        }.toSeq,
        () => guardAgg.collect().collect {
          case r if !r.isNullAt(0) => r.getLong(0) -> r.getLong(1)
        }.toMap))
      // driver-side slice sums, replicating the old filters' SQL
      // three-valued logic exactly: a NULL fold key makes the
      // comparison NULL, so the cell contributes to no slice that
      // compares that key (inner stages compare both keys; outer
      // stages only ofold). Out-of-range folds still contribute to the
      // ≠ sums, as they did through the crossJoin filters.
      def sumCells(p: (Option[Long], Option[Long], Long) => Boolean): Long =
        cells.collect { case c if p(c._1, c._2, c._3) => c._3 }.sum
      val ofs = 0L.until(outerK.toLong)
      val infs = 0L.until(innerK.toLong)
      val rows: Seq[org.apache.spark.sql.Row] =
        (for (of <- ofs; inf <- infs) yield org.apache.spark.sql.Row(
          of, inf, "inner_train",
          sumCells((o, i, _) => o.exists(_ != of) && i.exists(_ != inf)))) ++
        (for (of <- ofs; inf <- infs) yield org.apache.spark.sql.Row(
          of, inf, "inner_val",
          sumCells((o, i, _) => o.exists(_ != of) && i.contains(inf)))) ++
        ofs.map(of => org.apache.spark.sql.Row(of, -1L, "outer_train",
          sumCells((o, _, _) => o.exists(_ != of)))) ++
        ofs.map(of => org.apache.spark.sql.Row(of, -1L, "outer_test",
          sumCells((o, _, _) => o.contains(of)))) ++
        ofs.map(of => org.apache.spark.sql.Row(of, -1L, "guard",
          guardMap.getOrElse(of, 0L)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("outer_fold",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("inner_fold",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("stage",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("n_events",
          org.apache.spark.sql.types.LongType, nullable = false)))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    }
  }

  /** The pipeline AUDIT frame — the reference's
    * `auditDataProcessing.py` (event-count consistency + seizure vs
    * non-seizure class balance at every processing stage, train/test
    * separation) as one relational frame: (fold, stage, n_seizure,
    * n_other) for `selected` (fold = −1, the post-F5 corpus), and
    * per-fold `train` / `train_aug` / `test`. Class drift between
    * stages (a lost seizure event, an over-copied class) breaks the
    * ml7 oracle hash; the train/test-separation half of the audit is
    * [[skeleton]]'s guard stage and [[foldLoop]]'s fail-loud F14
    * check. Cheap by construction: event-level counts only — the
    * heavy epoch lineage is ml2's gate, not this one's. */
  def auditFrame(events: DataFrame, select: Column, foldOf: Column,
                 cfg: Config = Config()): DataFrame = {
    val spark = events.sparkSession
    Materialize.scoped { s =>
      val ev = s.persist(selectedEvents(events, select, foldOf))
      ev.count()
      val planT = augmentPlan(ev, cfg)
        .join(ev.select(col("srcId").as("psrc"), col("type")),
          col("srcId") === col("psrc"))
        .select(col("id"), col("fold"), col("type"))
      // r19 opt round: one per-fold class aggregate per source frame
      // (the skeletonFromEvW complement shape) instead of a
      // crossJoin(folds) event-table blow-up per stage. r20: the two
      // O(k)-row aggregates are collected CONCURRENTLY (§2.6) and the
      // stage rows assembled on the driver with the identical exact
      // long arithmetic — the r19 form's 4-branch union of tiny
      // aggregates was Catalyst-analysis and stage-job bound, not data
      // bound (the skeletonFromEvW finding). Both aggregates go through
      // the one fold validator, [[foldCountsOf]], with the seizure flag
      // as its summed column: n_seizure is its nep and n_other = ne −
      // nep (type is never null — typeIdCol maps every value to 0/1/2).
      def seizures(src: DataFrame) = foldCountsOf(src.select(col("fold"),
        when(col("type") === 1, 1L).otherwise(0L).as("nEp")), cfg.k)
      val Seq(evC, augC) =
        overlap(Seq(() => seizures(ev), () => seizures(planT)))
      def row(f: Long, stage: String, ne: Long, nsz: Long) =
        org.apache.spark.sql.Row(f, stage, nsz, ne - nsz)
      def g(m: Map[Long, Long], f: Long) = m.getOrElse(f, 0L)
      val fs = 0L.until(cfg.k.toLong)
      val rows: Seq[org.apache.spark.sql.Row] =
        row(-1L, "selected", evC.totNe, evC.totNep) +:
        (fs.map(f => row(f, "train",
          evC.totNe - g(evC.ne, f), evC.totNep - g(evC.nep, f))) ++
         fs.map(f => row(f, "train_aug",
          augC.totNe - g(augC.ne, f), augC.totNep - g(augC.nep, f))) ++
         fs.map(f => row(f, "test", g(evC.ne, f), g(evC.nep, f))))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("fold",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("stage",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("n_seizure",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_other",
          org.apache.spark.sql.types.LongType, nullable = false)))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    }
  }

  /** A nested-selection candidate: a model family plus the BASIS it
    * consumes — `"features"` (the P12+W7 history vectors) or
    * `"window"` (raw M8 buffers). Model types are ERASED so families
    * with different model classes (MLP vs CNN vs LSTM) can compete in
    * ONE inner CV — the reference's model-selection surface spans both
    * bases (`user_tools/nnTraining2/MODEL_SELECTION_GUIDE.md`,
    * nnConfig's modelClass lists the feature-CSV families next to the
    * conv/recurrent ones). Build with [[NestedCandidate.features]] /
    * [[NestedCandidate.windows]]; the typed family tuples
    * ([[mlpFamily]], [[cnnFamily]], [[lstmFamily]]) slot straight in. */
  final case class NestedCandidate private (
      name: String,
      basis: String,
      fit: DataFrame => Any,
      score: (Any, DataFrame) => DataFrame)

  object NestedCandidate {
    private def erase[M](name: String, basis: String,
        family: (DataFrame => M, (M, DataFrame) => DataFrame)): NestedCandidate =
      NestedCandidate(name, basis,
        family._1.asInstanceOf[DataFrame => Any],
        (m, df) => family._2(m.asInstanceOf[M], df))

    /** A candidate trained on the P12+W7 feature-history basis. */
    def features[M](name: String)(
        family: (DataFrame => M, (M, DataFrame) => DataFrame)): NestedCandidate =
      erase(name, "features", family)

    /** A candidate trained on the raw-window basis (M8 buffers). */
    def windows[M](name: String)(
        family: (DataFrame => M, (M, DataFrame) => DataFrame)): NestedCandidate =
      erase(name, "window", family)

    /** A candidate trained on the SPECTROGRAM basis (the reference's
      * `specCnnModel.py` input: per-window spectral-history images,
      * [[SpecCnn.specImage]] over the M8 buffers). */
    def spectrogram[M](name: String)(
        family: (DataFrame => M, (M, DataFrame) => DataFrame)): NestedCandidate =
      erase(name, "spectrogram", family)

    /** The reference's modelClass DISPATCH (`nnTrainer.create_model`,
      * nnTrainer.py:255-281: importlib on nnConfig's "modelClass"
      * string) as a total fail-loud registry: each reference class
      * name resolves to the engine family that redesigns it AND the
      * basis it consumes — so a config-driven caller can assemble a
      * nested-selection grid from the exact strings nnConfig.json
      * carries. The deepEpi auto-convert quirk (nnTrainer.py:264-267
      * rewrites the TF name to the torch class) is mirrored by both
      * names resolving to the same family. `windowSamples` sizes the
      * spectrogram geometry (must match the runNestedBases
      * bufferSamples, like [[specFamily]]); configs stay the engine
      * families' defaults — per-family knobs belong to the typed
      * constructors, exactly as nnConfig's modelConfig block belongs
      * to the class it configures. */
    def forModelClass(modelClass: String,
                      subtypeWeights: Map[String, Double] = Map.empty,
                      windowSamples: Int = 750): NestedCandidate = {
      // the reference accepts a FULL module path and splits on dots —
      // module '.'.join(parts[:-1]), class parts[-1]
      // (nnTrainer.load_model_class, nnTrainer.py:269-274: the shipped
      // deep-pytorch config carries
      // 'user_tools.nnTraining2.deepEpiCnnModel.DeepEpiCnnModel') —
      // so the registry keys on the LEAF module + class pair
      val parts = modelClass.split('.')
      require(parts.length >= 2,
        s"modelClass '$modelClass' must be a module path and class " +
          "name, e.g. 'mod.submod.ClassName' (nnTrainer.py:270-271)")
      parts.takeRight(2).mkString(".") match {
        case "rfModel.RfModel" => // the shipping default (nnConfig.json:174)
          features(modelClass)(rfFamily(subtypeWeights = subtypeWeights))
        case "nnModel.NnModel" => // the base class trains the MLP skeleton
          features(modelClass)(mlpFamily())
        case "cnnModel.CnnModel" =>
          windows(modelClass)(cnnFamily(subtypeWeights = subtypeWeights))
        case "amberModel.AmberModel" => // the full amber stack (bidir + mha)
          windows(modelClass)(LstmStack.lstm2Family(
            LstmStack.Config(head = "mha", bidir = true),
            subtypeWeights))
        case "deepEpiCnnModel.DeepEpiCnnModel" |
             "deepEpiCnnModel_torch.DeepEpiCnnModelPyTorch" =>
          windows(modelClass)(ConvPipe.convPipeFamily(
            subtypeWeights = subtypeWeights))
        case "specCnnModel.SpecCnnModel" =>
          spectrogram(modelClass)(specFamily(
            windowSamples = windowSamples, subtypeWeights = subtypeWeights))
        case other =>
          throw new IllegalArgumentException(
            s"unknown modelClass '$other' — the reference's registry is " +
              "rfModel.RfModel, nnModel.NnModel, cnnModel.CnnModel, " +
              "amberModel.AmberModel, deepEpiCnnModel.DeepEpiCnnModel, " +
              "deepEpiCnnModel_torch.DeepEpiCnnModelPyTorch, " +
              "specCnnModel.SpecCnnModel")
      }
    }
  }

  /** NESTED k-fold validation — the reference's answer to
    * selection-time leakage (NESTED_KFOLD_README.md: validation data
    * that steers model selection must never be the data the final
    * number is quoted on). Per outer fold o: every candidate family
    * runs a full inner k-fold CV on the outer-train slice ONLY
    * ([[runWith]] with the inner fold column); the candidate with the
    * best inner mean AUROC (ties broken by name, deterministic) is
    * retrained on the complete outer-train slice and evaluated exactly
    * once on outer fold o — a slice no selection decision ever saw.
    *
    * Scale shape: outerK × |candidates| inner runs, each of which is
    * [[runWith]]'s one-materialization lineage over the outer-train
    * subset; nothing here adds a shuffle beyond what runWith already
    * plans. Single-basis (features) typed convenience over
    * [[runNestedBases]]. */
  def runNested[M](events: DataFrame, dps: Dataset[FlatDp], select: Column,
                   outerFoldOf: Column, innerFoldOf: Column,
                   outerK: Int, cfg: Config = Config())(
                   candidates: Seq[(String, (DataFrame => M, (M, DataFrame) => DataFrame))])
      : Seq[NestedResult[M]] =
    runNestedBases(events, dps, select, outerFoldOf, innerFoldOf, outerK,
      cfg)(candidates.map { case (n, fam) => NestedCandidate.features(n)(fam) })
      .map(_.asInstanceOf[NestedResult[M]])

  /** BASIS-POLYMORPHIC nested k-fold: candidates declare which basis
    * they consume, and the inner CV arbitrates ACROSS bases — e.g. a
    * features-basis MLP against a raw-window CNN/LSTM, the reference's
    * full modelClass selection surface. Each basis in use is extracted
    * and persisted exactly ONCE for the whole nested run (the
    * extraction-invariance argument from the features path applies to
    * the window basis verbatim: M8 buffer construction is a pure
    * per-event function, invariant to candidate and to both fold
    * assignments); per (outer fold × basis) the fold column attaches
    * with one cheap join. Cost = the one-off second extraction when
    * both bases are in play + outerK × |candidates| × innerK training
    * passes — training, not extraction, stays the dominant term.
    *
    * Fold-column contract (fail-loud, not silent, checked by
    * [[foldCountsOf]] before any extraction): `outerFoldOf` must
    * evaluate into 0..outerK-1 and `innerFoldOf` into 0..cfg.k-1 on
    * every selected event, never NULL, and every outer fold must hold
    * events. An out-of-range or null inner fold would otherwise leave
    * those events in EVERY inner training slice and no validation
    * slice, silently skewing candidate selection; a null outer fold
    * would put its events in every outer training slice, never tested
    * and never in an inner CV. */
  def runNestedBases(events: DataFrame, dps: Dataset[FlatDp], select: Column,
                     outerFoldOf: Column, innerFoldOf: Column,
                     outerK: Int, cfg: Config = Config(),
                     bufferSamples: Int = 750,
                     specCfg: SpecCnn.Config = SpecCnn.Config())(
                     candidates: Seq[NestedCandidate])
      : Seq[NestedResult[Any]] = {
    require(candidates.nonEmpty, "nested selection over zero candidates")
    require(outerK >= 2, s"outerK must be >= 2: $outerK")
    val badBasis = candidates.filterNot(c =>
      c.basis == "features" || c.basis == "window" || c.basis == "spectrogram")
    require(badBasis.isEmpty,
      s"unknown candidate basis: ${badBasis.map(c => s"${c.name}=${c.basis}").mkString(", ")}")
    require(candidates.map(_.name).distinct.size == candidates.size,
      s"duplicate candidate names: ${candidates.map(_.name).mkString(", ")}")
    // The bases (features, window, spectrogram) are invariant to
    // EVERYTHING the nested loop varies — candidate, inner fold, outer
    // fold, and even the outer-train slicing (slices are subsets of
    // the selected corpus) — so each basis in use is extracted exactly
    // ONCE; every train/score frame below is a projection/join over
    // these persisted frames. Every persist below pins into a scope
    // before its first count, so a validation require or a
    // basis-extraction failure strands no MEMORY_AND_DISK blocks
    Materialize.scoped { s =>
      val evAll = s.persist(events.filter(select).select(
        col("id").cast("string").as("srcId"),
        typeIdCol(col("type")).as("type"),
        col("subType"),
        outerFoldOf.cast("long").as("ofold"),
        innerFoldOf.cast("long").as("ifold")))
      evAll.count()
      // both fold columns through the one fold validator, concurrently;
      // then no outer fold may be empty (its complement would train on
      // everything, and it would test on nothing) — all before any
      // extraction or fit
      def foldsOf(c: String, k: Int, name: String) = () => foldCountsOf(
        evAll.select(col(c).as("fold"), lit(0L).as("nEp")), k, name)
      val Seq(outerC, _) = overlap(Seq(foldsOf("ofold", outerK, "outerFoldOf"),
        foldsOf("ifold", cfg.k, "innerFoldOf")))
      require(outerC.totNe > 0, "nested selection over an empty selected corpus")
      outerC.requireOccupied(outerK, "outer fold(s)", "--nestedKfold")
      val inUse = candidates.map(_.basis).distinct
      // the spectrogram basis DERIVES from the window basis: when both
      // are in play, build spec from the PERSISTED window frame so the
      // P14-validate + M8 extraction over the datapoint corpus runs
      // once, not once per basis (the "extracted exactly ONCE" claim
      // taken literally at the shared-lineage level)
      val windowBase: Option[DataFrame] =
        if (inUse.contains("window") || inUse.contains("spectrogram")) {
          val w = assembledWindowBase(evAll, dps, bufferSamples)
          Some(if (inUse.contains("window")) s.persist(w) else w)
        } else None
      val bases: Map[String, DataFrame] = inUse.map { basis =>
        val base = basis match {
          case "features" => s.persist(assembledHistoryBase(evAll, dps, cfg))
          case "window" => windowBase.get
          case _ => s.persist(specBaseFrom(windowBase.get, specCfg))
        }
        basis -> base
      }.toMap
      bases.values.foreach(_.count())
      def withFold(basis: String, evSlice: DataFrame): DataFrame = {
        val base = bases(basis)
        base.join(evSlice.select(col("srcId"), col("fold")),
            base("eventId") === col("srcId"))
          .select(col("eventId"), col("fold"), col("label"), col(basis))
      }
      (0 until outerK).map { o =>
        // the inner slices and the outer split are freed per outer fold
        val innerMean = Materialize.scoped { si =>
          val innerEv = si.persist(evAll.filter(col("ofold") =!= o)
            .select(col("srcId"), col("type"), col("subType"),
              col("ifold").as("fold")))
          innerEv.count()
          val innerAssembled = inUse.map(basis =>
            basis -> si.persist(withFold(basis, innerEv))).toMap
          innerAssembled.values.foreach(_.count())
          candidates.map { c =>
            val rs = foldLoop(innerEv, innerAssembled(c.basis), cfg, c.basis,
              c.fit, c.score)
            c.name -> rs.map(_.heldOutAuroc).sum / rs.size
          }.toMap
        }
        val chosen = innerMean.maxBy { case (n, a) => (a, n) }._1
        val winner = candidates.find(_.name == chosen).get
        // winner retrains on the FULL outer-train slice, scores outer
        // fold o once: the outer split as a 2-way fold column over the
        // SAME persisted basis, run only on the test fold
        val outerRun = Materialize.scoped { so =>
          val outerEv = so.persist(evAll.select(col("srcId"), col("type"),
              col("subType"),
              when(col("ofold") === o, 1L).otherwise(0L).as("fold")))
          outerEv.count()
          val outerAssembled = so.persist(withFold(winner.basis, outerEv))
          outerAssembled.count()
          foldLoop(outerEv, outerAssembled, cfg.copy(k = 2), winner.basis,
            winner.fit, winner.score, Seq(1)).head
        }
        NestedResult[Any](o, chosen, innerMean, outerRun.copy(fold = o))
      }
    }
  }

  /** The P12+W7 feature-history basis assembled to (eventId, label,
    * features) — fold-free, so loops over fold ASSIGNMENTS (inner vs
    * outer, per-o 2-way splits) share one materialization and attach
    * their fold column with a cheap join. */
  private def assembledHistoryBase(ev: DataFrame, dps: Dataset[FlatDp],
                                   cfg: Config): DataFrame =
    // hist is ALREADY the assembled vector layout (FeatureNames-major
    // lags+mean — the extractHist contract), so the basis is one
    // array_to_vector over the fused frame instead of a 576-column
    // array() projection
    histEpochsRaw(ev, dps, cfg).select(
      col("eventId"),
      when(col("type") === 1, 1.0).otherwise(0.0).as("label"),
      array_to_vector(col("hist")).as("features"))

  /** The RAW-WINDOW basis assembled to (eventId, label, window) —
    * fold-free like [[assembledHistoryBase]]: P14 validate → M8 sliding
    * buffers, a pure per-event function invariant to fold assignments,
    * so nested loops attach fold columns to ONE materialization.
    * (The per-window rows of an event all carry its event-level label —
    * the same convention as [[runWithWindows]].) */
  private def assembledWindowBase(ev: DataFrame, dps: Dataset[FlatDp],
                                  bufferSamples: Int): DataFrame = {
    val sel = dps.join(ev.select(col("srcId")),
        dps("eventId") === col("srcId"), "left_semi")
      .as[FlatDp](dps.encoder)
    val vdf = graft.streaming.NnBuffer.dp2vectors(
      graft.operators.Flatten.validateAndFill(sel), bufferSamples).toDF()
    vdf.join(ev.select(col("srcId").as("wsrc"), col("type")),
        vdf("eventId") === col("wsrc"))
      .select(col("eventId"),
        when(col("type") === 1, 1.0).otherwise(0.0).as("label"),
        col("vec").as("window"))
  }

  /** The SPECTROGRAM basis assembled to (eventId, label, spectrogram) —
    * a raw-window frame mapped through the pure per-window
    * [[SpecCnn.specImage]] (the reference's accData2vector →
    * generateSpectralHistoryFromAccelLst chain, specCnnModel.py:215-235).
    * Fold-free and extraction-invariant exactly like the other two
    * bases; DERIVES from the window basis, so when both are in play the
    * nested run feeds it the PERSISTED window frame and the heavy
    * P14+M8 extraction is shared (the DFT map is the only added
    * cost). */
  private def specBaseFrom(windowBase: DataFrame,
                           specCfg: SpecCnn.Config): DataFrame = {
    val spark = windowBase.sparkSession
    import spark.implicits._
    windowBase.select(col("eventId"), col("label"), col("window"))
      .as[(String, Double, Array[Double])]
      .map { case (e, l, w) => (e, l,
        SpecCnn.specImage(w, specCfg.specSamp, specCfg.specStep, specCfg.zeroTol)) }
      .toDF("eventId", "label", "spectrogram")
  }

  /** [[assembledHistoryBase]] with the caller's fold column joined on
    * — [[runWith]]'s single-assignment shape. */
  private def assembledHistory(ev: DataFrame, dps: Dataset[FlatDp],
                               cfg: Config): DataFrame =
    assembledHistoryBase(ev, dps, cfg)
      .join(ev.select(col("srcId"), col("fold")),
        col("eventId") === col("srcId"))
      .select(col("eventId"), col("fold"), col("label"), col("features"))

  /** MLlib probability scoring, ONE home: transform, take the class-1
    * probability as p_seizure — shared by every MLlib-backed family
    * (LR, weighted LR, random forest) so the extraction convention
    * cannot drift between them. */
  private def probScore(m: org.apache.spark.ml.Model[_],
                        test: DataFrame): DataFrame =
    m.transform(test)
      .select(col("eventId"), col("label"),
        element_at(vector_to_array(col("probability")), 2)
          .as("p_seizure"))

  /** The full composed run with the DEFAULT model family (LBFGS
    * logistic regression) — see [[runWith]] for the seam itself. */
  def run(events: DataFrame, dps: Dataset[FlatDp], select: Column,
          foldOf: Column, cfg: Config = Config())
      : Seq[FoldResult[org.apache.spark.ml.classification.LogisticRegressionModel]] =
    runWith(events, dps, select, foldOf, cfg)(
      train => Trainer.trainLogistic(train, cfg.maxIter, cfg.regParam),
      (m, test) => probScore(m, test))

  /** The MLP family for [[runWith]] — [[Trainer.trainMlp]] fit on the
    * fold's training slice, its stored (mean, std) z-scaling replayed
    * on the held-out slice at score time (the train/serve scaling
    * contract [[Trainer.scorerMlp]] documents). */
  def mlpFamily(hidden: Seq[Int] = Seq(64, 32, 16), maxIter: Int = 100)
      : (DataFrame => Trainer.MlpModel,
         (Trainer.MlpModel, DataFrame) => DataFrame) = {
    val fit = (train: DataFrame) => Trainer.trainMlp(train, hidden, maxIter)
    val score = (m: Trainer.MlpModel, test: DataFrame) =>
      Trainer.scoreMlpFrame(m, test) // ONE home for the scaling replay
    (fit, score)
  }

  /** The full composed run: everything [[skeleton]] stages, plus the
    * per-fold training pass and held-out evaluation — the reference's
    * runSequence loop with the file handoffs replaced by one persisted
    * lineage and the model architecture swapped through `fit`/`score`
    * exactly like the reference's modelClass knob (nnConfig.json →
    * `cnnModel.py` vs `deepEpiCnnModel_torch.py`). The selected events
    * are pinned and filled first, and the assembled basis is pinned
    * lazily in this call's scope; [[foldLoop]]'s one bookkeeping round
    * fills it while it collects every fold's counts and guards, then
    * runs the k folds concurrently, each on its own pinned training
    * slice. `fit` sees the fold's (eventId, label, subType, features)
    * training frame; `score` must return (eventId,
    * label, p_seizure) for the held-out slice. Fails loudly, before any
    * fit, on an out-of-range or null fold, on a fold with no events,
    * and on fold contamination (F14). `fit` and `score` run on
    * concurrent threads, one fold each. */
  def runWith[M](events: DataFrame, dps: Dataset[FlatDp], select: Column,
                 foldOf: Column, cfg: Config = Config())(
                 fit: DataFrame => M,
                 score: (M, DataFrame) => DataFrame): Seq[FoldResult[M]] = {
    Materialize.scoped { s =>
      val ev = s.persist(selectedEvents(events, select, foldOf))
      ev.count()
      val assembled = s.persist(assembledHistory(ev, dps, cfg))
      foldLoop(ev, assembled, cfg, "features", fit, score)
    }
  }

  /** The RAW-WINDOW basis run — the reference's convolutional
    * modelClass path (`deepEpiCnnModel_torch.py` trains on M8
    * dp2vector buffers, not the P12 CSV): select → P14 validate → M8
    * sliding buffers ([[graft.streaming.NnBuffer.dp2vectors]]) →
    * per-fold fit/score through the same seam, guards, concurrent
    * folds and A4/ml1 metrics as [[runWith]]. `fit` sees (eventId,
    * label, subType, window: array<double>); [[cnnFamily]] is the
    * intended occupant.
    * `bufferSamples` is the trained input length (nnConfig.json's
    * analysisPeriod × sampleFreq). */
  def runWithWindows[M](events: DataFrame, dps: Dataset[FlatDp],
                        select: Column, foldOf: Column,
                        cfg: Config = Config(), bufferSamples: Int = 750)(
                        fit: DataFrame => M,
                        score: (M, DataFrame) => DataFrame): Seq[FoldResult[M]] = {
    Materialize.scoped { s =>
      val ev = s.persist(selectedEvents(events, select, foldOf))
      ev.count()
      // ONE definition of the window-basis assembly (shared with the
      // nested path) + the fold join — two inline copies had already
      // started to drift risk onto the label/validate conventions
      val assembled = s.persist(assembledWindowBase(ev, dps, bufferSamples)
        .join(ev.select(col("srcId"), col("fold")),
          col("eventId") === col("srcId"))
        .select(col("eventId"), col("fold"), col("label"), col("window")))
      foldLoop(ev, assembled, cfg, "window", fit, score)
    }
  }

  /** The fold's training frame with the M13 weight column attached
    * when `subtypeWeights` is non-empty — the shared plumbing of the
    * weighted family constructors below and of
    * [[LstmStack.lstm2Family]]/[[ConvPipe.convPipeFamily]].
    * [[foldLoop]] carries `subType` into every training frame for
    * exactly this. */
  private[ml] def withSubtypeWeight(train: DataFrame,
      subtypeWeights: Map[String, Double]): (DataFrame, Option[String]) =
    if (subtypeWeights.isEmpty) (train, None)
    else {
      val w = "__m13_w"
      (train.withColumn(w, Trainer.subtypeWeightCol(subtypeWeights)), Some(w))
    }

  /** The CNN family for [[runWithWindows]] — [[Cnn.train]] per fold on
    * the raw-window slice, [[Cnn.scoreWindows]]' codegen'd forward pass
    * on the held-out slice (the model's stored (mean, std) applies
    * inside [[Cnn.logitCol]], the same train/serve scaling contract as
    * [[mlpFamily]]). `subtypeWeights` is the reference's nnConfig knob
    * (M13) applied inside the composed run — an empty map trains
    * bit-identically to the unweighted path. */
  def cnnFamily(cnnCfg: Cnn.Config = Cnn.Config(),
                subtypeWeights: Map[String, Double] = Map.empty)
      : (DataFrame => Cnn.CnnModel,
         (Cnn.CnnModel, DataFrame) => DataFrame) = {
    val fit = (train: DataFrame) => {
      val (t, w) = withSubtypeWeight(train, subtypeWeights)
      Cnn.train(t, cnnCfg, w)
    }
    val score = (m: Cnn.CnnModel, test: DataFrame) =>
      Cnn.scoreWindows(m, test)
        .select(col("eventId"), col("label"), col("p_seizure"))
    (fit, score)
  }

  /** The LSTM family for [[runWithWindows]] — the recurrent
    * modelClass (the reference's AMBER path, `user_tools/nnTraining2/
    * amber/model.py`): [[Lstm.train]] per fold on the raw-window
    * slice, [[Lstm.scoreWindows]]' codegen'd forward pass on the
    * held-out slice; same train/serve scaling contract and M13 knob as
    * [[cnnFamily]]. */
  def lstmFamily(lstmCfg: Lstm.Config = Lstm.Config(),
                 subtypeWeights: Map[String, Double] = Map.empty)
      : (DataFrame => Lstm.LstmModel,
         (Lstm.LstmModel, DataFrame) => DataFrame) = {
    val fit = (train: DataFrame) => {
      val (t, w) = withSubtypeWeight(train, subtypeWeights)
      Lstm.train(t, lstmCfg, w)
    }
    val score = (m: Lstm.LstmModel, test: DataFrame) =>
      Lstm.scoreWindows(m, test)
        .select(col("eventId"), col("label"), col("p_seizure"))
    (fit, score)
  }

  /** The SPECTROGRAM-CNN family for the spectrogram basis — the
    * reference's `specCnnModel.py` modelClass: [[SpecCnn.train]] per
    * fold on the spectrogram slice, [[SpecCnn.scoreSpectrograms]]'
    * codegen'd 2-D forward on the held-out slice; same train/serve
    * scaling contract and M13 knob as [[cnnFamily]]. `windowSamples`
    * must match the basis's bufferSamples — the image geometry
    * ([[SpecCnn.imageDims]]) derives from it, and a mismatch fails
    * loudly in training's shape require, never silently. */
  def specFamily(specCfg: SpecCnn.Config = SpecCnn.Config(),
                 windowSamples: Int = 750,
                 subtypeWeights: Map[String, Double] = Map.empty)
      : (DataFrame => SpecCnn.SpecCnnModel,
         (SpecCnn.SpecCnnModel, DataFrame) => DataFrame) = {
    val (nFreq, nSpec) = SpecCnn.imageDims(
      windowSamples, specCfg.specSamp, specCfg.specStep)
    val fit = (train: DataFrame) => {
      val (t, w) = withSubtypeWeight(train, subtypeWeights)
      SpecCnn.train(t, nFreq, nSpec, specCfg, w)
    }
    val score = (m: SpecCnn.SpecCnnModel, test: DataFrame) =>
      SpecCnn.scoreSpectrograms(m, test)
        .select(col("eventId"), col("label"), col("p_seizure"))
    (fit, score)
  }

  /** The RANDOM-FOREST family for [[runWith]] — the reference's
    * shipping DEFAULT modelClass (`nnConfig.json:174` sets
    * `"modelClass": "rfModel.RfModel"`; `runOptimisation.py:29` reads
    * its kfold summary as the sweep baseline): MLlib
    * [[org.apache.spark.ml.classification.RandomForestClassifier]] per
    * fold on the feature basis through [[Forest.train]], `transform`'s
    * class-1 probability on the held-out slice. The M13
    * `subtypeWeights` knob rides MLlib's weightCol — sklearn's
    * `class_weight` dict is per-row weight keyed on the label, the
    * same semantics stated per row (rfModel.py:66-77). */
  def rfFamily(rfCfg: Forest.Config = Forest.Config(),
               subtypeWeights: Map[String, Double] = Map.empty)
      : (DataFrame => org.apache.spark.ml.classification.RandomForestClassificationModel,
         (org.apache.spark.ml.classification.RandomForestClassificationModel, DataFrame) => DataFrame) = {
    val fit = (train: DataFrame) => {
      val (t, w) = withSubtypeWeight(train, subtypeWeights)
      Forest.train(t, rfCfg, w)
    }
    val score = (m: org.apache.spark.ml.classification.RandomForestClassificationModel,
                 test: DataFrame) => probScore(m, test)
    (fit, score)
  }

  /** The weighted-LR family — [[Trainer.trainLogisticWeighted]] through
    * the same seam ([[run]]'s default family with the M13 knob). */
  def logisticWeightedFamily(subtypeWeights: Map[String, Double],
                             maxIter: Int = 50, regParam: Double = 0.01)
      : (DataFrame => org.apache.spark.ml.classification.LogisticRegressionModel,
         (org.apache.spark.ml.classification.LogisticRegressionModel, DataFrame) => DataFrame) = {
    val fit = (train: DataFrame) =>
      Trainer.trainLogisticWeighted(train, subtypeWeights, maxIter, regParam)
    val score = (m: org.apache.spark.ml.classification.LogisticRegressionModel,
                 test: DataFrame) => probScore(m, test)
    (fit, score)
  }

  /** The shared per-fold loop over a caller-pinned basis frame
    * `assembled` (eventId, fold, label, `dataCol`). `dataCol` is the
    * basis column the model family consumes ("features" vector, raw
    * "window" array, or flattened "spectrogram" image); everything else
    * is basis-independent.
    *
    * One bookkeeping round, then the folds. The fold-invariant
    * [[augmentPlan]] is pinned once, lazily. [[foldBookkeeping]] — the
    * round [[skeletonFromEvW]] runs too — collects `ev` by fold, the
    * plan by fold, and the F14 leak pairs by test fold (plan ids that
    * are test-slice ids of another fold, taken from `assembled`) before
    * any fit. The plan and leak aggregates scan all of the plan and of
    * `assembled`, so this round also fills both lazy pins; neither gets
    * a count of its own. The `ev` aggregate is the one fold validator
    * ([[foldCountsOf]]: no null, nothing outside 0..k-1), then every
    * fold 0..k-1 must hold events and no fold may leak, so an empty
    * fold fails here instead of in MLlib's "empty dataset". With null
    * folds ruled out, each fold's training counts are the exact long
    * complements `total − own fold`, equal to counting the slices.
    *
    * The folds then run concurrently through [[overlap]], each in its
    * own [[Materialize.scoped]] block: it pins its copy-replicated
    * training slice (basis ⋈ plan ⋈ subType) once before `fit`, so a
    * model that makes many passes reads the pinned rows instead of
    * re-running the joins and their broadcasts on every pass. The pin
    * keeps the join's partition layout, so partition-seeded training
    * (the forest's bagging) sees the same rows as on the unpinned
    * frame. Each fold then scores its held-out slice into an eagerly
    * pinned frame and reads the ml1 AUROC and the A4 event metrics off
    * it concurrently. A failing fold's exception reaches the caller
    * unwrapped, and every fold's scope releases its frames, on failure
    * too. */
  private def foldLoop[M](ev: DataFrame, assembled: DataFrame,
                          cfg: Config, dataCol: String,
                          fit: DataFrame => M,
                          score: (M, DataFrame) => DataFrame,
                          foldsToRun: Seq[Int] = Seq.empty): Seq[FoldResult[M]] = {
    val folds = if (foldsToRun.nonEmpty) foldsToRun else 0 until cfg.k
    Materialize.scoped { s =>
      val plan = s.persist(augmentPlan(ev, cfg))
      // the test ids come from `assembled`, so the round fills its pin
      val (evC, planC, leak) = foldBookkeeping(
        ev.select(col("fold"), lit(0L).as("nEp")),
        plan.withColumn("nEp", lit(0L)),
        assembled.select(col("eventId").as("id"), col("fold")).distinct(),
        cfg.k)
      evC.requireOccupied(cfg.k, "fold(s)", "--kfold")
      // F14 guard: no training id (original or synthetic) may reach the
      // held-out slice — fail loud, never a silent metric skew
      folds.foreach { f =>
        val n = leak.getOrElse(f.toLong, 0L)
        require(n == 0, s"fold $f: $n training ids leak into the test slice")
      }
      overlap(folds.map { f => () =>
        Materialize.scoped { sf =>
          // subType rides into the training frame (from the fold's event
          // slice, keyed by source id) so weighted families can apply the
          // M13 subtypeWeights knob — the reference passes it through
          // nnConfig into this exact loop
          val train = sf(assembled.join(
              plan.filter(col("fold") =!= f)
                .select(col("id").as("augId"), col("srcId")),
              assembled("eventId") === col("srcId"))
            .join(ev.select(col("srcId").as("stSrc"), col("subType")),
              col("srcId") === col("stSrc"), "left")
            .select(col("augId").as("eventId"), col("label"),
              col("subType"), col(dataCol)))
          val model = fit(train)
          val scored = sf(score(model, assembled.filter(col("fold") === f)))
          val Seq(auroc: Double, m: Row) = overlap(Seq[() => Any](
            () => Trainer.auroc(scored),
            () => Curate.eventLevelMetrics(
              scored, "eventId", "p_seizure", "label").head()))
          FoldResult(f,
            nTrainEvents = evC.totNe - evC.ne.getOrElse(f.toLong, 0L),
            nTrainAugEvents = planC.totNe - planC.ne.getOrElse(f.toLong, 0L),
            nTestEvents = m.getAs[Long]("n_events"),
            heldOutAuroc = auroc,
            eventTp = m.getAs[Long]("event_tp"),
            eventFp = m.getAs[Long]("event_fp"),
            eventTn = m.getAs[Long]("event_tn"),
            eventFn = m.getAs[Long]("event_fn"),
            model = model)
        }
      })
    }
  }
}
