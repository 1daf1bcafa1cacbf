package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

import graft.report.ResultsAnalysis

/** The six-scan definition [[ResultsAnalysis.analyze]] had before it
  * became one grouped pass, kept as the oracle the one-pass form must
  * equal row for row: per user side, a label slice joined to its
  * per-user counts; the subtype rollup; a global aggregate for the TC
  * row; the four unioned. */
object ResultsAnalysisOracle {

  def analyze(results: DataFrame, seizureThreshold: Long = 3,
              farThreshold: Long = 100,
              tcPatterns: Seq[String] = ResultsAnalysis.TcPatterns): DataFrame = {
    def userSide(label: Int, thresh: Long, sideName: String): DataFrame = {
      val sub = results.filter(col("label") === label)
      val counts = sub.groupBy(col("userId")).agg(count(lit(1)).as("__n"))
      sub.join(counts, Seq("userId"), "left")
        .withColumn("grp",
          when(col("userId").isNull, "Unknown")
            .when(col("__n") < thresh, "Other")
            .otherwise(col("userId").cast("string")))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("prediction") === 1, 1L).otherwise(0L)).as("n_pred_pos"),
          sum(when(col("prediction") === 0, 1L).otherwise(0L)).as("n_pred_neg"))
        .select(lit(sideName).as("side"), col("grp"),
          col("n_events"), col("n_pred_pos"), col("n_pred_neg"),
          (col("n_pred_pos").cast("double") / col("n_events")).as("rate"))
    }
    val seizures = results.filter(col("label") === 1)
    val bySubtype = seizures.filter(col("subType").isNotNull)
      .groupBy(col("subType"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("prediction") === 1, 1L).otherwise(0L)).as("n_pred_pos"),
        sum(when(col("prediction") === 0, 1L).otherwise(0L)).as("n_pred_neg"))
      .select(lit("subtype_tpr").as("side"), col("subType").as("grp"),
        col("n_events"), col("n_pred_pos"), col("n_pred_neg"),
        (col("n_pred_pos").cast("double") / col("n_events")).as("rate"))
    val isTc: Column = tcPatterns
      .map(p => lower(coalesce(col("subType"), lit(""))).contains(p))
      .reduce(_ || _)
    val tcRow = seizures.filter(isTc)
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("prediction") === 1, 1L).otherwise(0L)).as("n_pred_pos"),
        sum(when(col("prediction") === 0, 1L).otherwise(0L)).as("n_pred_neg"))
      .select(lit("tc_combined").as("side"), lit("tc_combined").as("grp"),
        col("n_events"),
        coalesce(col("n_pred_pos"), lit(0L)).as("n_pred_pos"),
        coalesce(col("n_pred_neg"), lit(0L)).as("n_pred_neg"),
        when(col("n_events") > 0,
          coalesce(col("n_pred_pos"), lit(0L)).cast("double") / col("n_events"))
          .otherwise(0.0).as("rate"))
    userSide(1, seizureThreshold, "user_tpr")
      .unionByName(userSide(0, farThreshold, "user_far"))
      .unionByName(bySubtype)
      .unionByName(tcRow)
  }

  /** The oracle per key, as the testrunner tool used to run it: one
    * [[analyze]] per key over that key's rows, `keyCol` appended. */
  def analyzeEach(results: DataFrame, keyCol: String, keys: Seq[String],
                  seizureThreshold: Long = 3, farThreshold: Long = 100): DataFrame =
    keys.map { k =>
      analyze(results.filter(col(keyCol) === k), seizureThreshold, farThreshold)
        .withColumn(keyCol, lit(k))
    }.reduce(_.unionByName(_))

  /** A frame's rows as sorted strings, columns in frame order. */
  def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
}

/** analyzeEventResults.py parity ([[graft.report.ResultsAnalysis]]):
  * the branches the rpt5 fixture can't reach — null users fold to
  * 'Unknown' (before any threshold), the reference's default
  * Tonic-Clonic/Combined pattern, empty-TC zero row, null-subtype
  * drop — plus the grouping/rate arithmetic on a hand-checked frame,
  * and the one-pass form against [[ResultsAnalysisOracle]]. */
class ResultsAnalysisSpec extends SparkSpec {

  private def frame(rows: Seq[(String, java.lang.Long, Int, Int, String)]) = {
    import spark.implicits._
    rows.toDF("eventId", "userId", "label", "prediction", "subType")
  }

  test("user sides: thresholds fold sparse users to Other; null user is Unknown") {
    val rows = Seq[(String, java.lang.Long, Int, Int, String)](
      // user 1: 3 seizures (2 detected), user 2: 1 seizure (sparse)
      ("e1", 1L, 1, 1, "Tonic-Clonic"), ("e2", 1L, 1, 1, "other"),
      ("e3", 1L, 1, 0, "other"), ("e4", 2L, 1, 0, "other"),
      // null user seizure
      ("e5", null, 1, 1, "other"),
      // non-seizures: user 1 has 2 (1 false alarm), user 2 has 1
      ("e6", 1L, 0, 1, null), ("e7", 1L, 0, 0, null), ("e8", 2L, 0, 0, null))
    val out = ResultsAnalysis.analyze(frame(rows),
        seizureThreshold = 2, farThreshold = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(out(("user_tpr", "1")) == (3L, 2L, 1L, 2.0 / 3))
    assert(out(("user_tpr", "Other")) == (1L, 0L, 1L, 0.0))
    assert(out(("user_tpr", "Unknown")) == (1L, 1L, 0L, 1.0))
    assert(out(("user_far", "1")) == (2L, 1L, 1L, 0.5))
    assert(out(("user_far", "Other")) == (1L, 0L, 1L, 0.0))
    // subtype table DROPS the null-subtype rows (pd.notna filter)
    assert(!out.keys.exists { case (s, g) => s == "subtype_tpr" && g == null })
    assert(out(("subtype_tpr", "Tonic-Clonic")) == (1L, 1L, 0L, 1.0))
    // reference default pattern matches 'Tonic-Clonic' case-insensitively
    assert(out(("tc_combined", "tc_combined")) == (1L, 1L, 0L, 1.0))
  }

  test("'Combined' subtype matches the default TC pattern; empty TC slice emits a zero row") {
    val rows = Seq[(String, java.lang.Long, Int, Int, String)](
      ("e1", 1L, 1, 1, "Combined tonic"), ("e2", 1L, 1, 0, "focal"))
    val out = ResultsAnalysis.analyze(frame(rows)).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(out(("tc_combined", "tc_combined")) == (1L, 1L))

    val none = Seq[(String, java.lang.Long, Int, Int, String)](
      ("e1", 1L, 1, 1, "focal"))
    val z = ResultsAnalysis.analyze(frame(none)).collect()
      .filter(_.getString(0) == "tc_combined").head
    assert(z.getLong(2) == 0 && z.getDouble(5) == 0.0)
  }

  // users at, under and over each threshold (seizure 2, FAR 3), null
  // users on both sides, null and TC subtypes, one null prediction
  private val edgeRows = Seq[(String, java.lang.Long, Int, Int, String)](
    ("s1", 1L, 1, 1, "Tonic-Clonic"), ("s2", 1L, 1, 0, null),
    ("s3", 2L, 1, 1, "focal"),
    ("s4", 3L, 1, 0, "COMBINED x"), ("s5", 3L, 1, 1, "focal"), ("s6", 3L, 1, 1, null),
    ("s7", null, 1, 1, null), ("s8", null, 1, 0, "focal"),
    ("f1", 1L, 0, 1, null), ("f2", 1L, 0, 0, "x"), ("f3", 1L, 0, 0, null),
    ("f4", 2L, 0, 1, null), ("f5", 2L, 0, 0, null),
    ("f6", null, 0, 1, null), ("f7", 4L, 0, 0, null), ("f8", 4L, 0, 0, null),
    ("f9", 4L, 0, 0, null), ("f10", 4L, 0, 1, null))

  test("one-pass analyze equals the six-scan definition on threshold and null edges") {
    import spark.implicits._
    val withNullPred = frame(edgeRows).unionByName(
      Seq(("n1", java.lang.Long.valueOf(2L), 1, Option.empty[Int], "focal"))
        .toDF("eventId", "userId", "label", "prediction", "subType"))
    for ((df, st, ft) <- Seq((frame(edgeRows), 2L, 3L), (withNullPred, 2L, 3L),
                              (frame(edgeRows), 3L, 100L))) {
      val got = ResultsAnalysisOracle.rows(ResultsAnalysis.analyze(df, st, ft))
      assert(got == ResultsAnalysisOracle.rows(ResultsAnalysisOracle.analyze(df, st, ft)))
    }
    // exactly at the threshold a user keeps its own group
    val out = ResultsAnalysis.analyze(frame(edgeRows), 2, 3).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out(("user_tpr", "1")) == 2 && out(("user_tpr", "Other")) == 1)
    assert(out(("user_far", "1")) == 3 && out(("user_far", "4")) == 4)
    assert(out(("user_far", "Other")) == 2 && out(("user_far", "Unknown")) == 1)
  }

  test("one-pass analyze: empty TC slice and empty input equal the six-scan zero row") {
    val noTc = edgeRows.filterNot { case (_, _, _, _, st) =>
      st != null && (st.toLowerCase.contains("tonic-clonic") || st.toLowerCase.contains("combined"))
    }
    val empty = frame(edgeRows).limit(0)
    for (df <- Seq(frame(noTc), empty)) {
      val got = ResultsAnalysisOracle.rows(ResultsAnalysis.analyze(df))
      assert(got == ResultsAnalysisOracle.rows(ResultsAnalysisOracle.analyze(df)))
      assert(got.exists(_.startsWith("tc_combined|tc_combined|0|0|0|0.0")), got)
    }
  }

  test("analyzeEach equals the per-key definition; a key with no rows keeps its TC row") {
    import spark.implicits._
    val keyed = frame(edgeRows).withColumn("alg",
        when(col("eventId").isin("s1", "s4", "f2", "f7"), "b").otherwise("a"))
      .unionByName(Seq(("z1", java.lang.Long.valueOf(9L), 1, 1, "focal", "not_enabled"))
        .toDF("eventId", "userId", "label", "prediction", "subType", "alg"))
    val keys = Seq("a", "b", "ghost")
    val got = ResultsAnalysis.analyzeEach(keyed, "alg", keys, 2, 3)
    assert(got.columns.toSeq == Seq("side", "grp", "n_events", "n_pred_pos",
      "n_pred_neg", "rate", "alg"))
    assert(ResultsAnalysisOracle.rows(got) ==
      ResultsAnalysisOracle.rows(ResultsAnalysisOracle.analyzeEach(keyed, "alg", keys, 2, 3)))
    assert(got.filter(col("alg") === "ghost").collect().map(_.toSeq.take(6)).toSeq ==
      Seq(Seq("tc_combined", "tc_combined", 0L, 0L, 0L, 0.0)))
    assert(got.filter(col("alg") === "not_enabled").isEmpty)
  }

  test("the optimized plan scans the results once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ra_").resolve("r").toString
    frame(edgeRows).write.parquet(dir)
    def scans(df: DataFrame) = df.queryExecution.optimizedPlan.collectLeaves()
      .count(_.isInstanceOf[LogicalRelation])
    val in = spark.read.parquet(dir)
    assert(scans(ResultsAnalysisOracle.analyze(in)) == 6)
    assert(scans(ResultsAnalysis.analyze(in)) == 1)
    assert(scans(ResultsAnalysis.analyzeEach(in.withColumn("alg", lit("a")), "alg",
      Seq("a", "b"))) == 1)
  }
}
