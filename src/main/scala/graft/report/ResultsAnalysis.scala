package graft.report

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Post-hoc results analysis — the reference's
  * `user_tools/nnTraining2/analyzeEventResults.py` as relational
  * rollups over an event-level results frame (eventId, userId, label
  * 0/1, prediction 0/1, subType):
  *
  *   - `analyze_by_user` (:123-209): per-user TPR over seizures and
  *     FAR over non-seizures, with SPARSE users folded into an 'Other'
  *     group (fewer than `seizureThreshold` seizures / `farThreshold`
  *     non-seizures) and null users as 'Unknown' — grouping BEFORE
  *     thresholding would leak tiny cohorts into the table, which is
  *     exactly what the tool exists to prevent;
  *   - `analyze_by_seizure_type` (:209-255): per-subType TPR over
  *     seizures (null subtypes dropped, the tool's `pd.notna` filter)
  *     plus the combined Tonic-Clonic/Combined row (case-insensitive
  *     substring match, the tool's regex).
  *
  * One output frame, `side` discriminated: `user_tpr`, `user_far`,
  * `subtype_tpr`, `tc_combined`. Every rate is ONE integer division
  * (hits / group size — note fp/(fp+tn) == predicted-positive /
  * group-size on the non-seizure slice, same shape as TPR), so the
  * doubles are bit-identical cross-engine and the rpt5 oracle compares
  * them raw.
  *
  * Scale shape: one pass over the results. Rows collapse to cell
  * counts per (key, label, userId, subType, prediction); a window over
  * (key, label, userId) gives each cell its user's count; each cell then
  * lands in its user, subtype and TC groups, and one grouped aggregate
  * over (key, side, grp) sums them. Both aggregations are map-side
  * combinable and the window sorts cells, not rows, so at 100 TB of
  * results there are three shuffles over O(cells) rows, nothing
  * row-expanding. [[analyzeEach]] rolls several algorithms up in that
  * same pass. */
object ResultsAnalysis {

  /** The reference's TC-row pattern (`Tonic-Clonic|Combined`,
    * case-insensitive). Fixture-shaped corpora can pass their own
    * substrings; the DEFAULT is the tool's. */
  val TcPatterns: Seq[String] = Seq("tonic-clonic", "combined")

  private val NoKey = "__ra_key"

  def analyze(results: DataFrame,
              seizureThreshold: Long = 3,
              farThreshold: Long = 100,
              tcPatterns: Seq[String] = TcPatterns): DataFrame =
    analyzeEach(results.withColumn(NoKey, lit("")), NoKey, Seq(""),
      seizureThreshold, farThreshold, tcPatterns).drop(NoKey)

  /** [[analyze]] for every value of `keyCol` in `keys` at once, with
    * `keyCol` as the last output column: the rows of key `k` equal
    * `analyze(results.filter(keyCol === k))` with `keyCol` added. Every
    * key gets its `tc_combined` row, also one with no results rows;
    * rows whose key is not in `keys` are left out. */
  def analyzeEach(results: DataFrame, keyCol: String, keys: Seq[String],
                  seizureThreshold: Long = 3,
                  farThreshold: Long = 100,
                  tcPatterns: Seq[String] = TcPatterns): DataFrame = {
    require(tcPatterns.nonEmpty, "need at least one TC pattern")
    val spark = results.sparkSession
    import spark.implicits._
    val key = col(keyCol).cast("string")
    val cells = results.filter(key.isin(keys: _*))
      .groupBy(key.as("__key"), col("label"), col("userId"), col("subType"),
        col("prediction"))
      .agg(count(lit(1)).as("n"))
      .withColumn("__n", sum(col("n")).over(
        Window.partitionBy(col("__key"), col("label"), col("userId"))))
    // a cell's user group on its side: 'Unknown' for a null user,
    // 'Other' for a user with fewer than `thresh` rows of that label
    def userGrp(thresh: Long): Column =
      when(col("userId").isNull, "Unknown")
        .when(col("__n") < thresh, "Other")
        .otherwise(col("userId").cast("string"))
    val isTc: Column = tcPatterns
      .map(p => lower(coalesce(col("subType"), lit(""))).contains(p))
      .reduce(_ || _)
    def to(side: String, grp: Column) =
      struct(lit(side).as("side"), grp.as("grp"))
    val seizure = col("label") === 1
    val groups = array(
      when(seizure, to("user_tpr", userGrp(seizureThreshold)))
        .when(col("label") === 0, to("user_far", userGrp(farThreshold))),
      // null subtypes drop out (the tool's `pd.notna` filter)
      when(seizure && col("subType").isNotNull, to("subtype_tpr", col("subType"))),
      when(seizure && isTc, to("tc_combined", lit("tc_combined"))))
    val placed = cells
      .select(col("__key"), explode(groups).as("g"), col("n"),
        when(col("prediction") === 1, col("n")).otherwise(0L).as("pos"),
        when(col("prediction") === 0, col("n")).otherwise(0L).as("neg"))
      .filter(col("g").isNotNull)
      .select(col("__key"), col("g.side").as("side"), col("g.grp").as("grp"),
        col("n"), col("pos"), col("neg"))
    // a zero TC row per key: the tool prints it even on an empty TC
    // slice, and the rate guards the zero count (its `if (tp+fn) > 0`)
    val tcZero = keys.toDF("__key")
      .select(col("__key"), lit("tc_combined").as("side"),
        lit("tc_combined").as("grp"), lit(0L).as("n"), lit(0L).as("pos"),
        lit(0L).as("neg"))
    placed.unionByName(tcZero)
      .groupBy(col("__key"), col("side"), col("grp"))
      .agg(sum(col("n")).as("n_events"), sum(col("pos")).as("n_pred_pos"),
        sum(col("neg")).as("n_pred_neg"))
      .select(col("side"), col("grp"), col("n_events"), col("n_pred_pos"),
        col("n_pred_neg"),
        when(col("n_events") > 0,
          col("n_pred_pos").cast("double") / col("n_events"))
          .otherwise(0.0).as("rate"),
        col("__key").as(keyCol))
  }
}
