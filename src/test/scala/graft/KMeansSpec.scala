package graft

import graft.operators.KMeans
import org.apache.spark.sql.functions._

class KMeansSpec extends SparkSpec {

  /** Three well-separated planted blobs around integer anchors: k-means
    * with k=3 must recover the planting exactly (perturbations are two
    * quantization steps; anchors are 200 steps apart). */
  private lazy val blobs = {
    import spark.implicits._
    val anchors = Seq(Array(0.0, 0.0), Array(2.0, 0.0), Array(0.0, 2.0))
    (0 until 30).map { i =>
      val a = anchors(i % 3)
      // +-2/1024 jitter, deterministic by index
      val jit = (i / 3 % 5 - 2) / 1024.0
      (i.toLong, Array((a(0) + jit).toFloat, (a(1) - jit).toFloat), i % 3)
    }.toDF("vec_id", "embedding", "planted")
  }

  test("lloyd recovers well-separated planted blobs (k=3)") {
    val out = KMeans.lloyd(blobs, "vec_id", "embedding", k = 3, iters = 2)
      .join(blobs.select("vec_id", "planted"), "vec_id")
      .collect()
    // cluster labels are a permutation of planted labels: every planted
    // blob maps to exactly one cluster id and vice versa
    val mapping = out.map(r => r.getAs[Int]("planted") -> r.getAs[Int]("cluster"))
      .distinct
    assert(mapping.length == 3, s"planted->cluster not a bijection: ${mapping.toSeq}")
    assert(mapping.map(_._2).distinct.length == 3)
  }

  test("empty cluster keeps its seed centroid; ties break to lowest index") {
    import spark.implicits._
    // seeds are vec_ids 0 and 1; both carry IDENTICAL vectors, so every
    // row is equidistant to both seeds on round 1 -> all assign to
    // cluster 0 (lowest index), cluster 1 goes empty and must keep its
    // seed centroid without error on the round-2 update.
    val df = Seq(
      (0L, Array(1.0f, 1.0f)), (1L, Array(1.0f, 1.0f)),
      (2L, Array(1.0f, 1.0f)), (3L, Array(1.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = KMeans.lloyd(df, "vec_id", "embedding", k = 2, iters = 2).collect()
    assert(out.length == 4)
    assert(out.forall(_.getAs[Int]("cluster") == 0))
  }

  test("iters=1 equals seed-nearest assignment") {
    val one = KMeans.lloyd(blobs, "vec_id", "embedding", k = 3, iters = 1)
    // seeds are vec_ids 0,1,2 = the three anchors (jitter 0 at i<3 ->
    // (0/3 % 5 - 2) = -2 jitter actually; still blob-faithful) — every
    // row must land with its planted anchor's seed
    val joined = one.join(blobs.select("vec_id", "planted"), "vec_id").collect()
    assert(joined.forall(r => r.getAs[Int]("cluster") == r.getAs[Int]("planted")))
  }

  test("unspecified knobs derive ceil(sqrt(N)): lloyd k and ivfKnn nlist") {
    import graft.operators.Similarity
    // the derivation itself (the measured nlist/k ∝ √N law)
    assert(Similarity.sqrtKnob(500) == 23)   // 22² = 484 < 500
    assert(Similarity.sqrtKnob(484) == 22)
    assert(Similarity.sqrtKnob(1) == 1 && Similarity.sqrtKnob(0) == 1)

    // lloyd with k unspecified == lloyd with k = ceil(√30) = 6 explicit
    val derived = KMeans.lloyd(blobs, "vec_id", "embedding", iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val explicit = KMeans.lloyd(blobs, "vec_id", "embedding", k = 6, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(derived == explicit, "derived-k lloyd diverges from explicit ceil(√N)")

    // ivfKnn with nlist unspecified == explicit ceil(√30) = 6; the
    // default nprobe 4 still fits, so results must be identical.
    // (Separate non-zero fixture: blobs plants an exact zero vector,
    // and ivfKnn's cosine contract requires non-zero norms.)
    import spark.implicits._
    val vecs = (0 until 30).map(i =>
      (i.toLong, Array((1.0 + i % 7 / 8.0).toFloat, (i % 5 / 4.0).toFloat)))
      .toDF("vec_id", "embedding")
    val dIvf = Similarity.ivfKnn(vecs, "vec_id", "embedding", dim = 2, k = 2)
      .collect().map(_.toSeq).toSet
    val eIvf = Similarity.ivfKnn(vecs, "vec_id", "embedding", dim = 2, k = 2,
        nlist = 6).collect().map(_.toSeq).toSet
    assert(dIvf == eIvf, "derived-nlist ivfKnn diverges from explicit ceil(√N)")

    // a corpus smaller than the default nprobe clamps instead of dying
    val tiny = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.8f, 0.2f))).toDF("vec_id", "embedding")
    assert(Similarity.ivfKnn(tiny, "vec_id", "embedding", dim = 2, k = 1)
      .count() > 0)
  }

  test("derived-knob recall holds the e7 design floor on the planted fixture") {
    import graft.operators.Similarity
    // the e5/e7 recall gates pin FIXED knobs; this is the DERIVED path's
    // gate: nlist = 0 → ceil(√500) = 23 lists on the sf0.01 planted-
    // cluster embeddings, and recall@3 vs brute force must sit in the
    // ≥ 0.90 design band the e7 docblock claims (SCALING.md round 11
    // measured the same law at 10×/100×, where brute force can only be
    // sampled)
    val emb = graft.queries.TextQueries
      .e7PlantedEmbeddings(spark, "/root/testdata/sf0.01")
    val bf = Similarity.bruteForceKnn(emb, "vec_id", "embedding", k = 3)
      .select("vec_id", "neighbor_id").cache()
    val nBf = bf.count()
    val ivf = Similarity.ivfKnn(emb, "vec_id", "embedding", dim = 64, k = 3)
      .select("vec_id", "neighbor_id")
    val recall = ivf.join(bf, Seq("vec_id", "neighbor_id"))
      .count().toDouble / nBf
    bf.unpersist()
    assert(recall >= 0.90,
      f"derived-knob ivf recall $recall%.3f below the 0.90 e7 design floor")
  }

  test("rejects non-power-of-two quantScale and k > corpus") {
    import spark.implicits._
    val df = Seq((0L, Array(1.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      KMeans.lloyd(df, "vec_id", "embedding", k = 1, quantScale = 1000)
    }
    intercept[IllegalArgumentException] {
      KMeans.lloyd(df, "vec_id", "embedding", k = 5)
    }
  }
}
