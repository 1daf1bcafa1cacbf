package graft

import org.apache.spark.sql.functions._
import graft.operators.{Decontaminate, Dedup, Multimodal, Similarity, TextAnalysis}

class TextOpsSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en"),
      (2L, "the quick brown fox jumps over the lazy cat", "en"),  // near-dup of 1
      (3L, "THE  quick brown fox jumps over the lazy dog ", "en"), // exact dup of 1 mod case/ws
      (4L, "der hund ist nicht der beste und die katze", "de"),
      (5L, "completely different words entirely unrelated text here", "en"),
      (6L, "le chat et le chien et les oiseaux des bois", "fr"))
      .toDF("doc_id", "text", "lang")
  }

  test("exact dedup collapses case/whitespace variants (fingerprint)") {
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 4L, 5L, 6L)) // 3 deduped into 1
    val groups = Dedup.exactDupGroups(docs, "doc_id", "text")
    val g = groups.filter(col("n_docs") > 1).collect()
    assert(g.length == 1 && g(0).getAs[Long]("canonical_id") == 1L
      && g(0).getAs[Long]("n_docs") == 2L)
  }

  test("minhash LSH finds the near-dup pair and skips unrelated docs") {
    val cands = Dedup.minHashCandidates(docs, "doc_id", "text",
        minEstJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 3L))) // exact dup: est jaccard 1.0
    assert(cands.contains((1L, 2L)) || cands.contains((2L, 3L))) // near-dup
    assert(!cands.exists { case (a, b) => Set(a, b).contains(5L) })
  }

  test("minhash est_jaccard is 1.0 for identical shingle sets") {
    val j = Dedup.minHashCandidates(docs, "doc_id", "text", minEstJaccard = 0.9)
      .filter(col("id_a") === 1 && col("id_b") === 3)
      .select("est_jaccard").collect()
    assert(j.length == 1 && j(0).getDouble(0) == 1.0)
  }

  test("simhash: identical-modulo-normalization docs collide; hamming blocking works") {
    val sims = docs.select(col("doc_id"), Dedup.simHash(lower(col("text"))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(java.lang.Long.bitCount(sims(1L) ^ sims(2L)) <
      java.lang.Long.bitCount(sims(1L) ^ sims(5L)))
    val pairs = Dedup.simHashCandidates(docs, "doc_id", "text", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((1L, 3L)))
  }

  test("dupClusters: transitive chains merge, separate clusters stay apart") {
    import spark.implicits._
    // chain 1-2-3 (transitive via 2), star 10-{11,12}, pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L), (20L, 21L))
      .toDF("id_a", "id_b")
    val comp = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // a long path needs diameter rounds — exercise several iterations
    val path = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val pc = Dedup.dupClusters(path).collect().map(_.getLong(1)).distinct
    assert(pc.toSeq == Seq(0L))
  }

  test("dupClusters: diameter-120 chain converges in O(log n) rounds, not O(diameter)") {
    import spark.implicits._
    // A path graph of diameter 120 — six times the old silent cap of
    // 20 rounds. Alternating stars must resolve it in ~2·log2(121)
    // rounds, and every node must land in component 0.
    val deep = (0L until 120L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) = Dedup.dupClustersWithRounds(deep)
    val comps = labels.collect().map(_.getLong(1)).distinct
    assert(comps.toSeq == Seq(0L), s"expected one component rooted at 0, got ${comps.toSeq}")
    assert(rounds <= 14, s"star rounds should be ~8 for diameter 120, took $rounds")
    // same chain with ids scrambled by a fixed bijection — the min sits
    // interior and plateau segments' local minima sit at far ends, the
    // adversarial case where plain min-label propagation (even with a
    // comp:=comp(comp) shortcut) crawls one hop per round
    val perm = (0L to 120L).map(i => i -> ((i * 67L) % 121L)).toMap
    val scrambled = (0L until 120L).map(i => (perm(i), perm(i + 1))).toDF("id_a", "id_b")
    val (l2, r2) = Dedup.dupClustersWithRounds(scrambled)
    assert(l2.collect().map(_.getLong(1)).distinct.toSeq == Seq(0L))
    assert(r2 <= 14, s"scrambled chain took $r2 rounds")
  }

  test("dupClusters: fails loudly instead of returning unconverged labels") {
    import spark.implicits._
    val deep = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = Scoped.cachedPartitions(spark)
    val e = intercept[IllegalStateException] {
      Dedup.dupClustersWithRounds(deep, maxIter = 2)
    }
    assert(e.getMessage.contains("unconverged component ids"))
    // the failed run releases e0 and its rounds
    val after = Scoped.cachedPartitions(spark)
    assert(after <= before, s"cached partitions grew: $before -> $after")
  }

  test("ngram jaccard: near-dup pair scores high, unrelated low") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", col("lang"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) > 0.5)          // one token differs
    assert(pairs.get((1L, 5L)).forall(_ < 0.1))
  }

  test("langId picks the profile language; quality features are sane") {
    val out = docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("g"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en" && out(4L) == "de" && out(6L) == "fr")
    val q = docs.filter(col("doc_id") === 1).select(
      TextAnalysis.nTokens(col("text")),
      TextAnalysis.meanTokenLen(col("text")),
      TextAnalysis.stopwordRatio(col("text"))).head()
    assert(q.getInt(0) == 9)
    assert(math.abs(q.getDouble(1) - 35.0 / 9) < 1e-12)
    assert(math.abs(q.getDouble(2) - 2.0 / 9) < 1e-12) // two "the"
  }

  test("token n-grams and BPE-ish counting") {
    val bi = docs.filter(col("doc_id") === 5)
      .select(TextAnalysis.tokenNgrams(col("text"), 2)).head().getSeq[String](0)
    assert(bi.head == "completely different" && bi.length == 6)
    import spark.implicits._
    val b = Seq("hello, world42!").toDF("t")
      .select(TextAnalysis.bpeishTokenCount(col("t"))).head().getInt(0)
    // hello , world 42 ! -> 5
    assert(b == 5)
  }

  test("brute-force knn ranks an exact duplicate vector first") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),   // dup of 0
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val knn = Similarity.bruteForceKnn(vecs, "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(knn((0L, 1)) == 1L) // identical vector is rank 1
    assert(knn((0L, 2)) == 2L) // then the 0.9 one
    assert(knn((3L, 1)) == 2L) // y-axis vector's closest non-orthogonal
  }

  test("LSH ANN recovers most brute-force neighbors (recall on clustered data)") {
    import spark.implicits._
    // two tight clusters: LSH must find within-cluster neighbors
    val rng = new scala.util.Random(7)
    val mk = (c: Array[Float]) => c.map(v => v + rng.nextFloat() * 0.01f)
    val base = Array.fill(8)(0.0f)
    val cA = base.updated(0, 1.0f); val cB = base.updated(4, 1.0f)
    val vecs = ((0 until 10).map(i => (i.toLong, mk(cA))) ++
      (10 until 20).map(i => (i.toLong, mk(cB)))).toDF("vec_id", "embedding")
    val bf = Similarity.bruteForceKnn(vecs, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Similarity.lshKnn(vecs, "vec_id", "embedding", dim = 8, k = 3,
      bits = 6, tables = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (bf & lsh).size.toDouble / bf.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("IVF ANN recovers brute-force neighbors and stays deterministic (E4)") {
    import spark.implicits._
    // three tight clusters; with nlist=4 / nprobe=2 each query probes its
    // own list (and one more), so within-cluster neighbors must surface
    val rng = new scala.util.Random(11)
    val mk = (c: Array[Float]) => c.map(v => v + rng.nextFloat() * 0.01f)
    val base = Array.fill(8)(0.0f)
    val cs = Seq(base.updated(0, 1.0f), base.updated(3, 1.0f), base.updated(6, 1.0f))
    val vecs = (0 until 30).map(i => (i.toLong, mk(cs(i % 3)))).toDF("vec_id", "embedding")
    val bf = Similarity.bruteForceKnn(vecs, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def ivf() = Similarity.ivfKnn(vecs, "vec_id", "embedding", dim = 8, k = 3,
        nlist = 4, nprobe = 2, sampleSize = 30)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val first = ivf()
    val recall = (bf & first.map(t => (t._1, t._3))).size.toDouble / bf.size
    assert(recall >= 0.9, s"recall $recall")
    // seeded training + fixed iterations: bit-identical across runs
    assert(ivf() == first, "ivfKnn must be deterministic run-to-run")
  }

  test("IVF-PQ keeps cluster neighbors under compression and stays deterministic (E9)") {
    import spark.implicits._
    // Same clustered fixture as E4. Exact-rank recall is the WRONG
    // invariant for PQ: near-identical cluster members share a code, so
    // their ADC scores tie and the within-cluster order collapses to
    // the nid tiebreak — by design (the code is the resolution). The
    // guarantee compression must keep is CLUSTER membership: every
    // top-k neighbor of a query comes from the query's own cluster.
    val rng = new scala.util.Random(11)
    val mk = (c: Array[Float]) => c.map(v => v + rng.nextFloat() * 0.01f)
    val base = Array.fill(8)(0.0f)
    val cs = Seq(base.updated(0, 1.0f), base.updated(3, 1.0f), base.updated(6, 1.0f))
    val vecs = (0 until 30).map(i => (i.toLong, mk(cs(i % 3)))).toDF("vec_id", "embedding")
    def pq() = Similarity.ivfPqKnn(vecs, "vec_id", "embedding", dim = 8, k = 3,
        nlist = 4, nprobe = 2, m = 2, ksub = 8, sampleSize = 30)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val first = pq()
    assert(first.nonEmpty)
    val crossCluster = first.filter { case (q, _, n) => q % 3 != n % 3 }
    assert(crossCluster.isEmpty,
      s"compression leaked cross-cluster neighbors: $crossCluster")
    // every query found a full k within its own cluster (9 candidates each)
    assert(first.size == 30 * 3, s"expected 90 result rows, got ${first.size}")
    assert(pq() == first, "ivfPqKnn must be deterministic run-to-run")
  }

  test("multimodal: size-aware repartition + batch decode keeps every row once") {
    import spark.implicits._
    val media = docs.select(col("doc_id").as("id"),
      struct(lit("image").as("mediaType"), lit(8).as("width"), lit(8).as("height"),
        lit(0).as("sampleRateHz"), lit(0L).as("durationMs"),
        lit("fake").as("codec")).as("meta"),
      encode(col("text"), "UTF-8").as("payload")).as[Multimodal.MediaRow]
    val feats = Multimodal.extractFeatures(
      Multimodal.repartitionBySize(media, 4)).collect()
    assert(feats.map(_.id).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    val f1 = feats.find(_.id == 1L).get
    assert(f1.nBytes == 43L && f1.histogram.sum == 43L)
    assert(f1.meanIntensity > 0 && f1.stdIntensity > 0)
    // frame sampling: 1 row -> n frames
    val frames = Multimodal.sampleFrames(media, stride = 10)
    assert(frames.groupBy("id").count().collect()
      .forall(r => r.getLong(1) >= 4))
  }

  test("multimodal: resize re-encodes every payload at the target geometry (X3)") {
    import spark.implicits._
    val media = docs.select(col("doc_id").as("id"),
      struct(lit("image").as("mediaType"), lit(8).as("width"), lit(8).as("height"),
        lit(0).as("sampleRateHz"), lit(0L).as("durationMs"),
        lit("fake").as("codec")).as("meta"),
      encode(col("text"), "UTF-8").as("payload")).as[Multimodal.MediaRow]
    val out = Multimodal.resizeMedia(media, 16).collect()
    assert(out.length == media.count())
    out.foreach { r =>
      assert(r.payload.length == 16 && r.meta.width == 16 && r.meta.height == 1)
    }
    // resampled bytes come from the source stream (nearest-index rebin):
    // a constant payload resizes to the same constant
    val const = Seq(Multimodal.MediaRow(9L,
      Multimodal.MediaMeta("image", 8, 8, 0, 0L, "fake"),
      Array.fill(40)(65.toByte))).toDS()
    val cOut = Multimodal.resizeMedia(const, 16).collect().head
    assert(cOut.payload.forall(_ == 65.toByte))
  }

  test("multimodal: ImageIoCodec decodes a real PNG through the batched stages") {
    import spark.implicits._
    // build a real 4x2 PNG in memory: left half black, right half white
    def png(): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(4, 2,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 2; x <- 0 until 4)
        img.setRGB(x, y, if (x < 2) 0x000000 else 0xFFFFFF)
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", buf)
      buf.toByteArray
    }
    val media = Seq(Multimodal.MediaRow(1L,
      Multimodal.MediaMeta("image", 4, 2, 0, 0L, "png"), png())).toDS()
    // decode path: REC.601 luminance of the real raster — 4 black (0.0)
    // and 4 white (255.0) pixels — through the same mapPartitions stage
    val f = Multimodal.extractFeatures(
      Multimodal.repartitionBySize(media, 2), Multimodal.ImageIoCodec)
      .collect().head
    assert(math.abs(f.meanIntensity - 127.5) < 1e-9 && f.histogram(0) == 4L &&
      f.histogram(15) == 4L,
      s"luminance decode wrong: mean=${f.meanIntensity}")
    // resize path (X3's shape): re-encoded payload is itself a real,
    // decodable PNG at the target geometry with the resampled pixels
    val resized = Multimodal.resizeMedia(media, 4, Multimodal.ImageIoCodec)
      .collect().head
    assert(resized.meta.width == 4 && resized.meta.height == 1)
    // nearest-index rebin over the row-major flattened raster
    // [0,0,255,255, 0,0,255,255] at stride 2 picks indices 0,2,4,6
    val back = Multimodal.ImageIoCodec.decode(resized.payload)
    assert(back.length == 4 &&
      back.zip(Seq(0.0, 255.0, 0.0, 255.0))
        .forall { case (a, b) => math.abs(a - b) < 1e-9 },
      s"resized PNG round-trip wrong: ${back.toSeq}")
    // an undecodable payload fails loudly, not as garbage features
    val junk = Seq(Multimodal.MediaRow(2L,
      Multimodal.MediaMeta("image", 0, 0, 0, 0L, "?"),
      Array[Byte](1, 2, 3))).toDS()
    val e = intercept[org.apache.spark.SparkException](
      Multimodal.extractFeatures(junk, Multimodal.ImageIoCodec).collect())
    assert(e.getMessage != null)
    // MID-RANGE grayscale must round-trip exactly: setRGB/getRGB on
    // TYPE_BYTE_GRAY gamma-shifts every mid value (10 collapses to 0) —
    // the codec reads/writes raster samples verbatim instead
    val mids = Array(0.0, 10.0, 100.0, 200.0, 255.0)
    val rt = Multimodal.ImageIoCodec.decode(Multimodal.ImageIoCodec.encode(mids))
    assert(rt.toSeq == mids.toSeq, s"gray mid-values shifted: ${rt.toSeq}")
  }

  test("multimodal: WavCodec round-trips real PCM WAV through the frame-sample stage") {
    import spark.implicits._
    // a 100-sample ramp encoded as a REAL 16-bit mono RIFF/WAV container
    val ramp = Array.tabulate(100)(i => (i - 50) / 64.0)
    val wav = Multimodal.WavCodec.encode(ramp)
    // RIFF magic proves a genuine container, not raw PCM
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    val back = Multimodal.WavCodec.decode(wav)
    assert(back.length == 100 &&
      back.zip(ramp).forall { case (a, b) => math.abs(a - b) <= 1.0 / 32767 },
      "16-bit PCM round trip exceeded quantization error")
    // through the same distributed stage the fake codec uses: video/audio
    // frame sampling — every 10th decoded sample, executor-side
    val media = Seq(Multimodal.MediaRow(1L,
      Multimodal.MediaMeta("audio", 0, 0, 16000, 0L, "wav"), wav)).toDS()
    val frames = Multimodal.sampleFrames(media, stride = 10, Multimodal.WavCodec)
      .collect().map(r => (r.getInt(1), r.getDouble(2)))
    assert(frames.length == 10)
    frames.foreach { case (idx, v) =>
      assert(math.abs(v - ramp(idx * 10)) <= 1.0 / 32767) }
  }

  test("multimodal: COMMITTED binary fixtures run x2/x3's exact stages under the real codecs") {
    import spark.implicits._
    // fixtures produced OUTSIDE this codebase (python zlib/wave) and
    // committed — interop proof, not a self-round-trip: the codecs must
    // decode foreign containers, not just their own encodings. FakeCodec
    // stays the SQL-replayed oracle side (x1-x3 unchanged).
    def fixture(name: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/fixtures/$name")
      require(in != null, s"missing committed fixture $name")
      try in.readAllBytes() finally in.close()
    }
    // gray4x2.png: 8-bit grayscale, row-major [0,60,120,255,10,100,200,30]
    val pngPixels = Seq(0.0, 60.0, 120.0, 255.0, 10.0, 100.0, 200.0, 30.0)
    val png = fixture("gray4x2.png")
    assert(Multimodal.ImageIoCodec.decode(png).toSeq == pngPixels,
      "foreign PNG decode != committed pixel values")
    val imgMedia = Seq(Multimodal.MediaRow(1L,
      Multimodal.MediaMeta("image", 4, 2, 0, 0L, "png"), png)).toDS()
    // X2's stage (frame sampling, stride 3 -> indices 0,3,6)
    val frames = Multimodal.sampleFrames(imgMedia, stride = 3,
        Multimodal.ImageIoCodec)
      .collect().map(r => (r.getInt(1), r.getDouble(2))).sortBy(_._1)
    assert(frames.toSeq == Seq((0, 0.0), (1, 255.0), (2, 200.0)))
    // X3's stage (resize to 4 -> nearest-index rebin picks 0,2,4,6),
    // re-encoded output is itself a decodable PNG
    val resized = Multimodal.resizeMedia(imgMedia, 4,
      Multimodal.ImageIoCodec).collect().head
    assert(Multimodal.ImageIoCodec.decode(resized.payload).toSeq ==
      Seq(0.0, 120.0, 10.0, 200.0))
    // ramp100.wav: 16-bit PCM mono, sample i = 100*i - 5000
    val wav = fixture("ramp100.wav")
    val wavMedia = Seq(Multimodal.MediaRow(2L,
      Multimodal.MediaMeta("audio", 0, 0, 16000, 0L, "wav"), wav)).toDS()
    val audio = Multimodal.sampleFrames(wavMedia, stride = 10,
        Multimodal.WavCodec)
      .collect().map(r => (r.getInt(1), r.getDouble(2))).sortBy(_._1)
    assert(audio.length == 10)
    audio.foreach { case (idx, v) =>
      val want = (100.0 * (idx * 10) - 5000.0) / 32767.0
      assert(math.abs(v - want) <= 1.0 / 32767,
        s"foreign WAV sample $idx: got $v want $want")
    }
  }

  test("redact scrubs URLs before emails (no half-redacted URL query strings)") {
    import spark.implicits._
    val r = Seq("visit https://a.b/c?u=x@y.zz and mail q@r.ss please")
      .toDF("t").select(TextAnalysis.redact(col("t"))).head().getString(0)
    // the email inside the URL must vanish WITH the URL, not leave
    // "https://a.b/c?u=<EMAIL>" behind
    assert(r == "visit <URL> and mail <EMAIL> please", r)
    val counts = Seq("a@b.cc c@d.ee https://x.yy none")
      .toDF("t").select(TextAnalysis.countEmails(col("t")),
        TextAnalysis.countUrls(col("t"))).head()
    assert(counts.getInt(0) == 2 && counts.getInt(1) == 1)
  }

  test("prefixSum matches a sequential scan across many partitions (Pack)") {
    import spark.implicits._
    // adversarial ids: inserted unsorted, weights vary, more partitions
    // than natural clustering — the two-pass offsets must still line up
    val rows = (0 until 997).map(i => ((i * 7919L) % 1997L, (i % 13) + 1L))
    var acc = 0L
    val seq = rows.sortBy(_._1).map { case (id, w) =>
      val s = acc; acc += w; (id, w, s)
    }
    val got = graft.operators.Pack
      .prefixSum(rows.toDS(), parts = 17)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == seq, s"prefix sums diverge: ${got.take(5).toSeq} vs ${seq.take(5)}")
  }

  test("decontaminate: shared n-grams flag exactly the overlapping train docs") {
    import spark.implicits._
    val evalDocs = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "one two three four five six seven")).toDF("doc_id", "text")
    val train = Seq(
      // shares the 5-gram "alpha beta gamma delta epsilon" (and one more)
      (1L, "prefix alpha beta gamma delta epsilon zeta suffix"),
      // shares "one two three four five" only
      (2L, "one two three four five nine ten"),
      // word overlap but no 5-gram overlap
      (3L, "alpha beta gamma other words here entirely"),
      // disjoint vocabulary
      (4L, "red green blue yellow purple orange cyan")).toDF("doc_id", "text")
    val hits = Decontaminate.overlapCounts(train, evalDocs, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 (8 tokens) has 4 distinct 5-gram shingles: prefix-delta,
    // alpha-epsilon, beta-zeta, gamma-suffix; the middle two appear in
    // eval doc 100 (whose shingles are alpha-epsilon and beta-zeta)
    assert(hits(1L) == 2L, s"doc 1 expected 2 shared shingles, got $hits")
    assert(hits(2L) == 1L, s"doc 2 expected 1 shared shingle, got $hits")
    assert(!hits.contains(3L) && !hits.contains(4L),
      s"clean docs must be absent from overlap counts: $hits")
  }

  test("decontaminate: clean corpus yields zero rows; short docs never flag") {
    import spark.implicits._
    val evalDocs = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "completely different words all the way through"),
      (2L, "alpha beta gamma delta")) // 4 tokens: no 5-gram exists
      .toDF("doc_id", "text")
    assert(Decontaminate.overlapCounts(train, evalDocs, "doc_id", "text", n = 5)
      .count() == 0L)
  }

  test("t10 repetition filter: degenerate loop rejects, varied text passes") {
    import spark.implicits._
    // doc 1: "spam ham " * 20 -> 39 bigrams, only 2 distinct -> 94%
    //        duplicate mass, far past the 20% threshold
    // doc 2: all-distinct tokens -> zero duplicate n-grams
    // doc 3: 2 tokens -> excluded by the >= 3 token contract
    val docs = Seq(
      (1L, Seq.fill(20)("spam ham").mkString(" ")),
      (2L, (1 to 40).map(i => s"tok$i").mkString(" ")),
      (3L, "too short")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!out.contains(3L), "2-token doc must be excluded")
    assert(out(1L).getAs[Int]("reject") == 1, "degenerate loop must reject")
    assert(out(1L).getAs[Int]("d2") == 2)
    assert(out(1L).getAs[Int]("n2") == 39)
    assert(out(2L).getAs[Int]("reject") == 0, "varied text must pass")
    assert(out(2L).getAs[Int]("d2") == out(2L).getAs[Int]("n2"))
  }

  test("duplicateSpanRemoval: first occurrence wins, covered tokens go, short docs excluded") {
    import spark.implicits._
    // n=3 windows. doc 1 owns "a b c"; doc 2 repeats it mid-text; doc 3
    // repeats a SPAN of 4 tokens ("a b c d" ⊃ two windows) from doc 1;
    // doc 4 is too short for any window; doc 5 duplicates doc 1 entirely.
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "x y a b c z w"),
      (3L, "q a b c d r s"),
      (4L, "p q"),
      (5L, "a b c d e f")).toDF("doc_id", "text")
    val out = Dedup.duplicateSpanRemoval(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(!out.contains(4L), "doc shorter than n has no window")
    assert(out(1L) == ((6, 0, "a b c d e f")), "winner doc untouched")
    // doc 2: window "a b c" at pos 2 duplicates doc 1's pos 0 -> tokens
    // 2..4 removed, neighbors kept
    assert(out(2L) == ((7, 3, "x y z w")))
    // doc 3: windows "a b c"(1) and "b c d"(2) both duplicate doc 1 ->
    // coverage 1..4 (the windowed over-mark is contiguous, not 2n)
    assert(out(3L) == ((7, 4, "q r s")))
    // doc 5: every window duplicates doc 1 -> all tokens removed,
    // empty doc REPORTED (n_removed==n_tok), not silently dropped
    assert(out(5L) == ((6, 6, "")))
  }

  test("Bpe.train: hand-computed merges, overlap counting, greedy parity, tie-breaks") {
    import spark.implicits._
    import graft.operators.Bpe
    // corpus: aaa(f2), aa(f1). R1: (a,a) counts OVERLAPPING -> 2*2+1=5
    // beats (a,</w>)=3. Greedy apply: aaa->[aa,a,</w>] (parity: only the
    // even-offset pair of the 3-run merges). R2: (aa,a)=2 ties
    // (a,</w>)=2 -> lhs 'a' < 'aa' wins. R3: (aa,a</w>)=2 beats
    // (aa,</w>)=1.
    val docs = Seq((1L, "aaa aa"), (2L, "aaa")).toDF("doc_id", "text")
    val m = Bpe.train(docs, "text", numMerges = 3)
    val merges = m.merges.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.toSeq == Seq(
      (1, "a", "a", 5L), (2, "a", "</w>", 2L), (3, "aa", "a</w>", 2L)))
    val vocab = m.vocabSeqs.collect()
      .map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(vocab("aaa") == Seq("aaa</w>") && vocab("aa") == Seq("aa", "</w>"))
  }

  test("Bpe.train: even-run parity merges pairwise; rhs tie-break is lexicographic") {
    import spark.implicits._
    import graft.operators.Bpe
    // aaaa: R1 (a,a)=3 (overlapping); apply -> [aa,aa,</w>] (both
    // even-offset pairs of the 4-run). R2: (aa,aa)=1 ties (aa,</w>)=1
    // -> rhs '</w>' < 'aa' wins.
    val m = Bpe.train(Seq((1L, "aaaa")).toDF("doc_id", "text"), "text", 2)
    val merges = m.merges.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.toSeq == Seq((1, "a", "a", 3L), (2, "aa", "</w>", 1L)))
    assert(m.vocabSeqs.collect().head.getSeq[String](2) == Seq("aa", "aa</w>"))
  }

  test("Bpe.train: local and distributed paths learn identical merges and vocab") {
    import spark.implicits._
    import graft.operators.Bpe
    // nontrivial corpus with repeated runs, shared prefixes/suffixes and
    // deliberate frequency ties so the (count DESC, lhs ASC, rhs ASC)
    // tie-break order is actually exercised on both paths
    val rnd = new scala.util.Random(42)
    val syll = Vector("ab", "ba", "aab", "bb", "a", "cab", "abc")
    val docs = (1L to 40L).map { id =>
      val words = (0 until 12).map(_ =>
        (0 until (1 + rnd.nextInt(3))).map(_ => syll(rnd.nextInt(syll.size))).mkString)
      (id, words.mkString(" "))
    }.toDF("doc_id", "text")
    val (lm, dm, lv, dv, finalRound) = Scoped.query {
      val local = Bpe.train(docs, "text", numMerges = 25)
      val dist = Bpe.train(docs, "text", numMerges = 25, localVocabBytes = 0L)
      // storage hygiene: the per-round localCheckpoints and the cached
      // base are already freed; only the final round's materialization
      // survives training, pinned into the query scope (the local path
      // pins nothing: its vocab is a local relation)
      val pinned = Scoped.current.pinned
      assert(pinned.size == 1, s"expected the final round pinned, got ${pinned.size} frames")
      val rddId = pinned.head.queryExecution.logical match {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }
      assert(spark.sparkContext.getPersistentRDDs.contains(rddId),
        "the final round held no blocks during the query")
      def vocab(m: Bpe.BpeModel) = m.vocabSeqs.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2))).sortBy(_._1).toSeq
      (local.merges.orderBy("rank").collect().map(_.toSeq).toSeq,
        dist.merges.orderBy("rank").collect().map(_.toSeq).toSeq,
        vocab(local), vocab(dist), rddId)
    }
    assert(lm == dm, "merge tables diverge between paths")
    assert(lv == dv, "final vocab sequences diverge between paths")
    // the query scope frees the final round too — Dataset.unpersist on
    // vocabSeqs alone cannot (it is a no-op on checkpoint storage)
    assert(!spark.sparkContext.getPersistentRDDs.contains(finalRound),
      "closing the query left the final round's blocks")
  }

  test("Bpe.tokenCountsBySource: vocab hits via broadcast, out-of-vocab fallback") {
    import spark.implicits._
    import graft.operators.Bpe
    val train = Seq((1L, "aaa aa"), (2L, "aaa")).toDF("doc_id", "text")
    val model = Bpe.train(train, "text", 3)
    // apply to a corpus with an out-of-vocab word: "zz" -> chars+1 = 3
    val apply = Seq(("s1", "aaa aa"), ("s2", "aaa zz")).toDF("source", "text")
    val out = Bpe.tokenCountsBySource(apply, "text", "source", model)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out("s1") == ((2L, 3L)))  // aaa=1 tok + aa=2 toks
    assert(out("s2") == ((2L, 4L)))  // aaa=1 + zz fallback 3
  }

  test("ivfPqRefineKnn: with full probes and full shortlist, refine equals brute force") {
    import spark.implicits._
    // the refine law: when the shortlist covers every candidate, the
    // exact re-rank must reproduce brute-force top-k exactly — scores
    // included (same dot/(n*n) expression tree). ADC alone cannot pass
    // this on near-identical vectors (shared 4-bit codes tie).
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 24L).map { i =>
      val base = Array.tabulate(8)(j => math.sin(i * 0.7 + j).abs + 0.1)
      (i, base.map(x => x + rnd.nextDouble() * 1e-3).toSeq)
    }.toDF("vec_id", "embedding")
    val refined = Similarity.ivfPqRefineKnn(vecs, "vec_id", "embedding",
        dim = 8, k = 3, kShortlist = 23, nlist = 2, nprobe = 2,
        m = 4, ksub = 8, sampleSize = 24)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e12)))
    val bf = Similarity.bruteForceKnn(vecs, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e12)))
    assert(refined.sortBy(r => (r._1, r._2)).toSeq ==
      bf.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("semDedupKept: cluster-scoped keep-first; zero vectors and cross-cluster twins kept") {
    import spark.implicits._
    val vecs = Seq(
      // cluster 0: 1 and 2 identical -> 2 dropped; 3 orthogonal -> kept
      (1L, 0, Seq(1.0, 0.0)),
      (2L, 0, Seq(2.0, 0.0)),   // same direction as 1 (cos == 1 to it)
      (3L, 0, Seq(0.0, 1.0)),
      // cluster 1: identical twin of vec 1 — boundary straddle, kept BY DESIGN
      (4L, 1, Seq(1.0, 0.0)),
      // zero vector: cosine undefined, never paired, kept
      (5L, 0, Seq(0.0, 0.0)),
      // chain non-transitivity: 6~7 close, 7~8 close, 6~8 not
      (6L, 2, Seq(1.0, 0.0)),
      (7L, 2, Seq(1.0, 0.32)),  // cos(6,7)=0.952, cos(7,8)=0.966, cos(6,8)=0.841
      (8L, 2, Seq(0.9, 0.59))
    ).toDF("vec_id", "cluster", "embedding")
    val kept = Similarity.semDedupKept(vecs, "vec_id", "embedding",
        "cluster", tau = 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(kept == Map(1L -> true, 2L -> false, 3L -> true, 4L -> true,
      5L -> true, 6L -> true, 7L -> false, 8L -> false))
    // 8 drops because of 7 (first-occurrence rule, no closure): had the
    // rule been closure-aware, 8 would survive 6 (cos 0.84 < tau)
  }
}
