package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._

/** Degenerate-input battery: every operator family either returns an
  * EMPTY result of the right shape or fails LOUDLY with its documented
  * message on an empty corpus — never an NPE from a null aggregate or a
  * silent wrong answer. A 100 TB pipeline's first dry-run partition or
  * filtered-to-nothing batch hits exactly these paths. */
class EmptyInputSpec extends SparkSpec {

  import spark.implicits._

  private lazy val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private lazy val noVecs =
    Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")

  test("dedup family: empty corpus -> empty result, right columns") {
    assert(Dedup.exactDedup(noDocs, "doc_id", "text").count() == 0)
    assert(Dedup.exactDupGroups(noDocs, "doc_id", "text").count() == 0)
    assert(Dedup.ngramJaccardPairs(noDocs, "doc_id", "text", lit(1),
      n = 2, minJaccard = 0.5).count() == 0)
    val span = Dedup.duplicateSpanRemoval(noDocs, "doc_id", "text", n = 20)
    assert(span.count() == 0 &&
      span.columns.toSeq == Seq("doc_id", "n_tok", "n_removed", "clean_text"))
    assert(Dedup.minHashCandidates(noDocs, "doc_id", "text").count() == 0)
    assert(Dedup.simHashCandidates(noDocs, "doc_id", "text").count() == 0)
    // cluster resolution over no edges: no labels, no convergence error
    assert(Dedup.dupClusters(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")).count() == 0)
  }

  test("similarity family: empty corpus -> empty result; semDedup keeps nothing") {
    assert(Similarity.bruteForceKnn(noVecs, "vec_id", "embedding", k = 3)
      .count() == 0)
    assert(Similarity.lshKnn(noVecs, "vec_id", "embedding", dim = 4, k = 3)
      .count() == 0)
    val sem = Similarity.semDedupKept(
      Seq.empty[(Long, Int, Seq[Double])].toDF("vec_id", "cluster", "embedding"),
      "vec_id", "embedding", "cluster", tau = 0.95)
    assert(sem.count() == 0 &&
      sem.columns.toSeq == Seq("vec_id", "cluster", "kept"))
  }

  test("trainers fail loudly on corpora too small to train") {
    // KMeans: fewer vectors than seeds is a stated require
    val e1 = intercept[IllegalArgumentException](
      KMeans.lloyd(noVecs, "vec_id", "embedding", k = 2))
    assert(e1.getMessage.contains("need >= 2 seeds"))
    // BPE: an empty corpus has no pair to merge
    val e2 = intercept[IllegalArgumentException](
      Bpe.train(noDocs, "text", numMerges = 1))
    assert(e2.getMessage.contains("corpus exhausted"))
    // Z-order: no rows -> no bounds
    val dir = java.nio.file.Files.createTempDirectory("zempty").toFile
    val e3 = intercept[IllegalArgumentException](
      graft.sources.LakeMaintenance.writeZOrdered(
        Seq.empty[(Long, Long)].toDF("a", "b"),
        new java.io.File(dir, "z").getAbsolutePath, col("a"), col("b"), 4))
    assert(e3.getMessage.contains("empty input"))
  }

  test("gradient families: an empty or zero-length training set fails with one message") {
    import graft.ml._
    val trainers: Seq[(String, String, DataFrame => Any)] = Seq(
      ("Cnn", "window", df => Cnn.train(df)),
      ("Lstm", "window", df => Lstm.train(df)),
      ("LstmStack", "window", df => LstmStack.train(df)),
      ("ConvPipe", "window", df => ConvPipe.train(df)),
      ("TowerFusion", "window", df => TowerFusion.train(df)),
      ("SpecCnn", "spectrogram", df => SpecCnn.train(df, 25, 4)))
    val sets = Seq("empty" -> Seq.empty[Seq[Double]],
      "zero-length" -> Seq(Seq.empty[Double], Seq.empty[Double]))
    for ((family, dataCol, train) <- trainers; (set, rows) <- sets) {
      val df = rows.map(r => (1.0, r)).toDF("label", dataCol)
      val e = intercept[IllegalArgumentException](train(df))
      assert(e.getMessage.contains(
        "at least one sample and a positive finite weight sum"),
        s"$family, $set training set: ${e.getMessage}")
    }
  }

  test("text analysis and packing: empty corpus -> empty, not null aggregates") {
    assert(TextAnalysis.repetitionStats(noDocs, "doc_id", "text").count() == 0)
    assert(Decontaminate.overlapCounts(noDocs, noDocs, "doc_id", "text",
      n = 3).count() == 0)
    val packed = Pack.tokenPack(
      Seq.empty[(Long, Long)].toDF("doc_id", "n_tok"),
      "doc_id", "n_tok", seqLen = 16)
    assert(packed.count() == 0)
    val lm = TextAnalysis.bigramLmScores(noDocs, "doc_id", "text")
    assert(lm.count() == 0 &&
      lm.columns.toSeq == Seq("doc_id", "n_bigrams", "novel_bigrams", "avg_p"))
  }

  test("graph family: empty edge lists -> empty ranks/counts, right columns") {
    val noEdges = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    val noNodes = Seq.empty[Long].toDF("node")
    val pr = Graph.pageRank(noEdges, noNodes)
    assert(pr.count() == 0 && pr.columns.toSeq == Seq("node", "pr"))
    val tri = Graph.triangleCounts(Seq.empty[(Long, Long)].toDF("u", "v"))
    assert(tri.count() == 0 && tri.columns.toSeq == Seq("node", "triangles"))
  }

  test("ema: empty input -> empty; single row -> seed value unchanged") {
    val e0 = FeatureHistory.ema(
      Seq.empty[(Long, Long, Double)].toDF("k", "t", "x"),
      keyCols = Seq("k"), orderCols = Seq("t"), valueCol = "x", alpha = 0.25)
    assert(e0.count() == 0 && e0.columns.toSeq == Seq("k", "n", "ema"))
    val e1 = FeatureHistory.ema(
      Seq((1L, 1L, 42.0)).toDF("k", "t", "x"),
      keyCols = Seq("k"), orderCols = Seq("t"), valueCol = "x", alpha = 0.25)
    assert(e1.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq == Seq((1L, 1L, 42.0)))
  }

  test("ema: out-of-range alpha fails loudly") {
    val df = Seq((1L, 1L, 1.0)).toDF("k", "t", "x")
    val e = intercept[IllegalArgumentException](
      FeatureHistory.ema(df, Seq("k"), Seq("t"), "x", alpha = 1.5))
    assert(e.getMessage.contains("alpha"))
  }

  test("round-10 additions: empty inputs stay shaped or loud") {
    // derived-knob ANN on an empty corpus: the trainer's stated loud
    // failure, reached through the nlist-derivation path
    val eEmpty = intercept[IllegalArgumentException](
      Similarity.ivfKnn(noVecs, "vec_id", "embedding", dim = 4, k = 3))
    assert(eEmpty.getMessage.contains("non-zero vector"))
    // negative knobs are caller bugs, never derive sentinels
    val eNeg = intercept[IllegalArgumentException](
      Similarity.ivfKnn(noVecs, "vec_id", "embedding", dim = 4, k = 3,
        nlist = -2))
    assert(eNeg.getMessage.contains("nlist"))
    val eNegK = intercept[IllegalArgumentException](
      KMeans.lloyd(noVecs, "vec_id", "embedding", k = -1))
    assert(eNegK.getMessage.contains("derive"))
    // report over zero datapoints: no pages, no shards — but the
    // bounded TOC still exists, names every category with count 0, and
    // links nothing (there are no shard-0 pages to dangle to)
    val out = java.nio.file.Files.createTempDirectory("emptyreport").toString
    val noNested = Seq.empty[(String, String, String, String, String, Long)]
      .toDF("id", "userId", "type", "subType", "dataSourceName", "n_dp")
    val noDps = spark.emptyDataset[graft.operators.Flatten.FlatDp]
    assert(graft.report.Summarise.writeReport(noNested, noDps, out).count() == 0)
    val toc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "index.html")), "UTF-8")
    graft.report.Summarise.CategoryOrder.foreach(c => assert(toc.contains(c)))
    assert(!toc.contains("index_"), "empty report must not link shard pages")
    assert(!new java.io.File(out, "users_0.html").exists())
    // vacuum with no retained versions is a stated mistake
    val lakeDir = java.nio.file.Files.createTempDirectory("emptyvac").toString
    val eVac = intercept[IllegalArgumentException](
      graft.sources.LakeMaintenance.vacuum(spark, lakeDir, Seq.empty))
    assert(eVac.getMessage.contains("at least one"))
  }

  test("ema: hand-computed fold matches (alpha = 1/2, out-of-order input)") {
    // rows arrive unordered; fold must follow t: 1,2,3 -> 1.0, 2.0, 3.0
    // ema = ((1.0*0.5 + 2.0*0.5) = 1.5)*0.5 + 3.0*0.5 = 2.25
    val r = FeatureHistory.ema(
      Seq((1L, 3L, 3.0), (1L, 1L, 1.0), (1L, 2L, 2.0)).toDF("k", "t", "x"),
      keyCols = Seq("k"), orderCols = Seq("t"), valueCol = "x", alpha = 0.5)
      .collect()
    assert(r.length == 1 && r(0).getLong(1) == 3L && r(0).getDouble(2) == 2.25)
  }
}
