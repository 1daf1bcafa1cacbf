package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthetic N× scale-up of a driver testdata dir (SCALING.md probe).
  *
  * `runMain graft.tools.ScaleGen <srcDir> <outDir> [factor] [tables]`
  *
  * `tables` (optional, comma-separated) restricts the regen to named
  * tables — a 100x documents-only regen takes seconds where the full
  * eight-table expansion (lineitem x 8 partitions at 60M rows) takes
  * many minutes. Key spans still derive from the source tables, so a
  * partial regen keeps FK arithmetic consistent with a later full one.
  *
  * Each fact table is unioned `factor` times with entity keys shifted by
  * copy-index × key-range, so FK relationships hold across copies
  * (orders.o_custkey shifts with customer.c_custkey, lineitem's three FKs
  * with their parents, events.user_id brings in `factor`× new users at the
  * same per-user event density — the "more users, busier fleet" scale-up,
  * not "denser history per user"). Dimensions (region, nation) keep their
  * real-world cardinality. Copy 0 is the identity, so the source data is a
  * subset of the output.
  *
  * Two tables get a deliberate per-copy perturbation so the scale-up does
  * not manufacture pathological duplicates the source has none of:
  *   - documents: copies i>0 prefix the text with "c<i> " — otherwise the
  *     dedup queries (d1-d4) would see every doc in a 10-way exact-dup
  *     group and their candidate-pair counts would grow O(factor²) from
  *     the DATA, corrupting the scaling exponent of the ALGORITHM.
  *   - embeddings: copies i>0 add i·1e-4 to every component — avoids
  *     exact ties in top-k ordering while keeping the cosine geometry.
  *
  * events.ts is copied through in whatever physical rendition the
  * source carries (originally TIMESTAMP(NANOS)-as-int64, TIMESTAMP
  * (MICROS) since the round-9 regen) — [[graft.Tables.load]] is
  * schema-adaptive either way (SchemaDriftSpec). Timestamps are NOT
  * shifted: a 10× fleet in the same month means 10× rows per time
  * bucket, which is the aggregation pressure the probe wants to
  * measure.
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleGen <srcDir> <outDir> [factor]")
    val srcDir = args(0)
    val outDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet) else None
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Session.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def raw(name: String): DataFrame = spark.read.parquet(s"$srcDir/$name.parquet")

    /** Cross with copies 0..factor-1 and apply per-copy column shifts.
      * The source files are single-digit MB, so a raw read is ONE input
      * partition and the whole factor× explode would run in one task
      * (at factor=100 that is a 60 M-row expansion single-threaded —
      * measured 10+ min on lineitem alone); repartitioning the source
      * first spreads the expansion across the local cores. */
    def scaled(df: DataFrame)(shift: (DataFrame, org.apache.spark.sql.Column) => DataFrame): DataFrame = {
      val withCopy = df.repartition(cpus)
        .withColumn("__c", explode(lit((0 until factor).toArray)))
      shift(withCopy, col("__c").cast("long")).drop("__c")
    }

    def write(df: => DataFrame, name: String, parts: Int): Unit =
      if (wanted(name)) {
        df.repartition(parts).write.mode("overwrite")
          .parquet(s"$outDir/$name.parquet")
        System.err.println(s"[scalegen] wrote $name x$factor")
      } else System.err.println(s"[scalegen] skipped $name")

    // key ranges derive from the source so the tool works at any sf
    def span(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    val events = raw("events")
    val eSpan = span(events, "event_id")
    val uSpan = span(events, "user_id")
    write(scaled(events) { (df, c) =>
      df.withColumn("event_id", col("event_id") + c * eSpan)
        .withColumn("user_id", col("user_id") + c * uSpan)
    }, "events", factor * 4)

    val docs = raw("documents")
    val dSpan = span(docs, "doc_id")
    write(scaled(docs) { (df, c) =>
      df.withColumn("doc_id", col("doc_id") + c * dSpan)
        .withColumn("text",
          when(c === 0, col("text"))
            .otherwise(concat(lit("c"), c.cast("string"), lit(" "), col("text"))))
        .withColumn("n_chars",
          when(c === 0, col("n_chars")).otherwise(col("n_chars") + 3))
    }, "documents", factor)

    val emb = raw("embeddings")
    val vSpan = span(emb, "vec_id")
    write(scaled(emb) { (df, c) =>
      df.withColumn("vec_id", col("vec_id") + c * vSpan)
        .withColumn("embedding",
          transform(col("embedding"),
            x => (x + (c * lit(1e-4)).cast("float")).cast("float")))
    }, "embeddings", factor)

    val cust = raw("customer")
    val cSpan = span(cust, "c_custkey")
    write(scaled(cust) { (df, c) =>
      df.withColumn("c_custkey", col("c_custkey") + c * cSpan)
    }, "customer", factor)

    val supp = raw("supplier")
    val sSpan = span(supp, "s_suppkey")
    write(scaled(supp) { (df, c) =>
      df.withColumn("s_suppkey", col("s_suppkey") + c * sSpan)
    }, "supplier", factor)

    val part = raw("part")
    val pSpan = span(part, "p_partkey")
    write(scaled(part) { (df, c) =>
      df.withColumn("p_partkey", col("p_partkey") + c * pSpan)
    }, "part", factor)

    val orders = raw("orders")
    val oSpan = span(orders, "o_orderkey")
    write(scaled(orders) { (df, c) =>
      df.withColumn("o_orderkey", col("o_orderkey") + c * oSpan)
        .withColumn("o_custkey", col("o_custkey") + c * cSpan)
    }, "orders", factor * 2)

    write(scaled(raw("lineitem")) { (df, c) =>
      df.withColumn("l_orderkey", col("l_orderkey") + c * oSpan)
        .withColumn("l_partkey", col("l_partkey") + c * pSpan)
        .withColumn("l_suppkey", col("l_suppkey") + c * sSpan)
    }, "lineitem", factor * 8)

    // dimensions keep real-world cardinality
    write(raw("region"), "region", 1)
    write(raw("nation"), "nation", 1)

    spark.stop()
  }
}
