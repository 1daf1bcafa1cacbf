package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>). Baseline: brute-force cosine top-k with a broadcast
  * corpus side. Scale path: random-hyperplane LSH bucketing so the join
  * shuffles on compact bucket signatures instead of forming n^2 pairs.
  */
object Similarity {

  /** Dot product of two double arrays for the typed mapPartitions hot
    * path (bruteForceKnn streams primitive arrays against a broadcast
    * corpus — no Column machinery there). Column pipelines use the
    * native codegen [[dot]] below instead. */
  val dotUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (a: Seq[Double], b: Seq[Double]) =>
      var s = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }

  /** Column-pipeline dot/cosine delegate to the native codegen
    * expression ([[graft.plans.GraftExpressions.ArrayDot]]): whole-stage
    * codegen'd tight loop, with implicit float→double input casts —
    * strictly better than the interpreted zip_with/aggregate HOF form
    * this replaced. */
  def dot(a: Column, b: Column): Column = graft.plans.GraftExpressions.arrayDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Brute-force top-k: the corpus side — `corpus` when given, else the
    * query set itself (self-kNN) — is collected once and broadcast as
    * primitive arrays; each task streams its query rows against it with
    * a bounded top-k buffer and emits exactly k rows per query — no
    * n^2-row pair materialization, no shuffle of the big side, no
    * per-pair boxing. Only the corpus side must fit on the driver /
    * in a broadcast, and `maxCorpusRows` enforces that: at 100 TB the
    * query side streams from parquet and a *reference* corpus rides the
    * broadcast; a corpus beyond the bound fails fast with a pointer to
    * [[lshKnn]], the distributed path, instead of OOMing the driver.
    *
    * An explicit `corpus` must expose the same `idCol`/`vecCol` column
    * names as `vectors`. Self-matches (same id) are excluded only in
    * self-kNN mode — with a distinct corpus, id equality no longer
    * implies "same vector", so every corpus row is a legal neighbor.
    *
    * Ranking is total: (score desc, neighbor id asc) with the dot
    * product folded in index order (oracle-exact).
    *
    * NOTE: the corpus side is materialized EAGERLY (a take() Spark job
    * runs at call time to enforce `maxCorpusRows`), so this is not a
    * lazily-composable DataFrame transform — call it when the corpus is
    * ready, not while assembling a deferred plan. */
  def bruteForceKnn(vectors: DataFrame, idCol: String, vecCol: String,
                    k: Int, corpus: Option[DataFrame] = None,
                    maxCorpusRows: Int = 1000000): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    def typed(df: DataFrame) = df.select(col(idCol).cast("long").as("id"),
      asDouble(col(vecCol)).as("v")).as[(Long, Array[Double])]
    // spread the QUERY side (r20; guide §2.5 — the r19 narrow-spread
    // pattern): the corpus is broadcast, so the whole O(N·|corpus|)
    // scoring loop runs in the query side's tasks — which was ONE task
    // on the single-split driver table. Narrow rows (id + vector), one
    // pass, compute-amplifying kernel: exactly the class the fixture
    // spread measured ×3-5 on.
    val base = graft.Tables.spread(
      vectors.select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("v"))).as[(Long, Array[Double])]
    val selfMode = corpus.isEmpty
    val corpusRows = typed(corpus.getOrElse(vectors)).take(maxCorpusRows + 1)
    require(corpusRows.length <= maxCorpusRows,
      s"bruteForceKnn corpus exceeds maxCorpusRows=$maxCorpusRows; " +
        "use lshKnn (bucketed, distributed) for corpus-scale ANN")
    val corpusArr: Array[(Long, Array[Double], Double)] =
      corpusRows.map { case (id, v) =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        (id, v, math.sqrt(s))
      }.sortBy(_._1)
    val bc = spark.sparkContext.broadcast(corpusArr)
    base.mapPartitions { rows =>
      val corpus = bc.value
      rows.flatMap { case (id, v) =>
        var nq = 0.0; var i = 0
        while (i < v.length) { nq += v(i) * v(i); i += 1 }
        val qn = math.sqrt(nq)
        // bounded top-k, ordered (score desc, nid asc)
        val topIds = new Array[Long](k)
        val topScores = new Array[Double](k)
        var filled = 0
        var c = 0
        while (c < corpus.length) {
          val (nid, nv, nn) = corpus(c)
          // zero-norm vectors (query or corpus) would score NaN, and a
          // NaN inserted while filling can never be evicted (x > NaN is
          // always false) — skip them instead of poisoning the top-k
          if (!(selfMode && nid == id) && nn > 0.0 && qn > 0.0) {
            var d = 0.0; var j = 0
            val m = math.min(v.length, nv.length)
            while (j < m) { d += v(j) * nv(j); j += 1 }
            val score = d / (qn * nn)
            // insertion position (corpus scanned in ascending nid order,
            // so equal scores keep the smaller nid first)
            if (filled < k || score > topScores(filled - 1)) {
              var p = math.min(filled, k - 1)
              while (p > 0 && score > topScores(p - 1)) {
                if (p < k) { topScores(p) = topScores(p - 1); topIds(p) = topIds(p - 1) }
                p -= 1
              }
              topScores(p) = score; topIds(p) = nid
              if (filled < k) filled += 1
            }
          }
          c += 1
        }
        (0 until filled).iterator.map(r => (id, r + 1, topIds(r), topScores(r)))
      }
    }.toDF("vec_id", "rank", "neighbor_id", "score")
  }

  /** Random-hyperplane signature: `bits` sign bits of dot(v, r_i) with
    * deterministic pseudo-random hyperplanes derived from (seed, i, dim).
    * Vectors with equal signatures land in one bucket.
    *
    * Implemented as a compact Scala UDF closing over the bits x dim
    * plane matrix: inlining the coefficients as literal expressions
    * produced multi-MB codegen and 5 MB task binaries; the closure ships
    * once per task and the loop JITs tight. */
  /** The deterministic hyperplane matrix for (dim, bits, seed) — the
    * single source of truth shared by the signature UDF and the e2
    * oracle SQL (which embeds the coefficients as shortest-round-trip
    * double literals, so DuckDB evaluates the IDENTICAL planes). */
  def hyperplanes(dim: Int, bits: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(bits) { i =>
      val rng = new scala.util.Random(seed ^ (i.toLong << 32))
      Array.fill(dim)(rng.nextGaussian())
    }

  def hyperplaneSignature(vecCol: Column, dim: Int, bits: Int = 12,
                          seed: Long = 42L): Column = {
    val planes: Array[Array[Double]] = hyperplanes(dim, bits, seed)
    val sigUdf = udf { (v: Seq[Double]) =>
      var sig = 0L
      var i = 0
      while (i < planes.length) {
        var d = 0.0
        val p = planes(i)
        var j = 0
        val m = math.min(p.length, v.length)
        while (j < m) { d += v(j) * p(j); j += 1 }
        if (d >= 0) sig |= (1L << i)
        i += 1
      }
      sig
    }
    sigUdf(vecCol)
  }

  /** (id, v, nrm) projection: norm computed once per vector, through the
    * native codegen dot (Column pipelines never pay the UDF boundary). */
  private def normed(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    vectors.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", sqrt(graft.plans.GraftExpressions.arrayDot(col("v"), col("v"))))

  /** Per-table hyperplane signatures as SLIM (id, t, sig) rows — one per
    * (vector, table), no vector payload. Shared by [[lshKnn]] and
    * [[cosineNearDupPairs]]: the bucket self-join and the candidate-pair
    * dedup must only ever shuffle these three fixed-width columns; the
    * embedding arrays are joined back onto the surviving pairs. */
  private def tabledSignatures(vectors: DataFrame, idCol: String, vecCol: String,
                               dim: Int, bits: Int, tables: Int, seed: Long): DataFrame =
    vectors.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .select(col("id"), explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"),
          hyperplaneSignature(col("v"), dim, bits, seed + t * 7919L).as("sig"))): _*))
        .as("tb"))
      .select(col("id"), col("tb.t").as("t"), col("tb.sig").as("sig"))

  /** Distinct colliding id pairs from the multi-table bucket join —
    * (left, right) with `left < right` when `ordered`, both directions
    * otherwise. Only longs enter the shuffle. */
  private def bucketPairIds(tabled: DataFrame, ordered: Boolean): DataFrame = {
    val cond = col("a.t") === col("b.t") && col("a.sig") === col("b.sig") &&
      (if (ordered) col("a.id") < col("b.id") else col("a.id") =!= col("b.id"))
    tabled.as("a").join(tabled.as("b"), cond)
      .select(col("a.id").as("left"), col("b.id").as("right"))
      .distinct()
  }

  /** Join vectors+norms back onto candidate pairs and score the cosine. */
  private def scorePairs(pairIds: DataFrame, base: DataFrame,
                         leftOut: String, rightOut: String, scoreOut: String): DataFrame =
    pairIds
      .join(base.select(col("id").as("left"), col("v").as("va"), col("nrm").as("na")), "left")
      .join(base.select(col("id").as("right"), col("v").as("vb"), col("nrm").as("nb")), "right")
      .select(col("left").as(leftOut), col("right").as(rightOut),
        (graft.plans.GraftExpressions.arrayDot(col("va"), col("vb"))
          / (col("na") * col("nb"))).as(scoreOut))

  /** LSH-bucketed ANN: signature buckets -> within-bucket brute force ->
    * per-query top-k. `tables` independent signatures raise recall (a
    * neighbor is found if it collides in ANY table). The shuffle key is
    * (table, bucket) — at 1000x the data this stays a bucket-local
    * problem while bruteForceKnn's pair count grows quadratically.
    *
    * The bucket self-join and the pair dedup shuffle only (id, t, sig) /
    * (id, nid) longs; embeddings are joined back onto the surviving
    * candidate pairs and each pair is scored exactly once (shuffling
    * vector payloads through the pair distinct was the round-2 bench
    * bottleneck — 8.1 s vs ~1 s at sf0.1). */
  def lshKnn(vectors: DataFrame, idCol: String, vecCol: String, dim: Int,
             k: Int, bits: Int = 12, tables: Int = 4, seed: Long = 42L): DataFrame = {
    val tabled = tabledSignatures(vectors, idCol, vecCol, dim, bits, tables, seed)
    val pairs = scorePairs(bucketPairIds(tabled, ordered = false),
      normed(vectors, idCol, vecCol), "id", "nid", "score")
    val w = Window.partitionBy("id").orderBy(col("score").desc, col("nid"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id").as("vec_id"), col("rank"), col("nid").as("neighbor_id"),
        col("score"))
  }

  // ------------------------------------------------- deterministic training
  // Shared by ivfKnn / ivfPqKnn, and STRICTLY replicated by the e4/e9
  // oracle SQL: every fold below runs in a defined order (sample id-rank
  // for sums, dim index for norms/distances), so DuckDB list_reduce over
  // ordered lists reproduces the doubles bit-exactly.

  /** The deterministic unit-norm training sample: lowest `sampleSize`
    * ids with positive norm (TakeOrdered — no full sort). */
  private def unitSample(base: DataFrame, sampleSize: Int,
                         who: String): Array[Array[Double]] = {
    val spark = base.sparkSession
    import spark.implicits._
    val sample = base.filter(col("nrm") > 0.0)
      .orderBy("id").limit(sampleSize)
      .select(col("v"), col("nrm")).as[(Array[Double], Double)]
      .collect().map { case (v, n) => v.map(_ / n) }
    require(sample.nonEmpty, s"$who needs at least one non-zero vector")
    sample
  }

  /** Init: evenly spaced by id-rank across the sample — deterministic in
    * a way that does NOT depend on sample size through an opaque PRNG
    * permutation (the previous seeded shuffle), so the oracles can
    * re-derive the same seeds in SQL at any scale factor. Spread across
    * the id range it is as uninformed as a random pick, which is all
    * Lloyd init needs here; quality is gated by e5/e7 recall.
    * copyOf to exactly `width`: a shorter input vector zero-pads rather
    * than leaving a short centroid array the update loop would overrun */
  private def strideInit(sample: Array[Array[Double]], k: Int,
                         width: Int): Array[Array[Double]] =
    Array.tabulate(math.min(k, sample.length)) { c =>
      val i = if (sample.length >= k) c * sample.length / k else c
      java.util.Arrays.copyOf(sample(i), width)
    }

  /** Dot-product argmax over centroids (ties -> lowest index). */
  private def nearestDot(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.NegativeInfinity
    var c = 0
    while (c < cs.length) {
      var d = 0.0; var j = 0
      val m = math.min(v.length, cs(c).length)
      while (j < m) { d += v(j) * cs(c)(j); j += 1 }
      if (d > bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Squared-L2 argmin over centroids (ties -> lowest index). */
  private def nearestL2(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.PositiveInfinity
    var c = 0
    while (c < cs.length) {
      var d = 0.0; var j = 0
      val m = math.min(v.length, cs(c).length)
      while (j < m) { val x = v(j) - cs(c)(j); d += x * x; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Spherical Lloyd (dot-metric assignment, unit-normalized mean
    * update; empty or zero-norm clusters keep their previous centroid)
    * — the ivfKnn coarse quantizer. */
  private def sphericalLloyd(sample: Array[Array[Double]], nlist: Int,
                             dim: Int, iters: Int): Array[Array[Double]] = {
    val centroids = strideInit(sample, nlist, dim)
    val nl = centroids.length // may be < nlist on tiny corpora
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nl)(new Array[Double](dim))
      val counts = new Array[Int](nl)
      sample.foreach { v =>
        val c = nearestDot(v, centroids)
        counts(c) += 1
        var j = 0
        val m = math.min(dim, v.length)
        while (j < m) { sums(c)(j) += v(j); j += 1 }
      }
      var c = 0
      while (c < nl) {
        if (counts(c) > 0) {
          var nn = 0.0; var j = 0
          while (j < dim) { nn += sums(c)(j) * sums(c)(j); j += 1 }
          val n = math.sqrt(nn)
          if (n > 0) { j = 0; while (j < dim) { centroids(c)(j) = sums(c)(j) / n; j += 1 } }
        }
        c += 1
      }
      it += 1
    }
    centroids
  }

  /** Plain-Euclidean Lloyd (L2 assignment, arithmetic-mean update; empty
    * clusters keep their previous centroid) — the PQ sub-quantizer. */
  private def euclideanLloyd(sample: Array[Array[Double]], k: Int,
                             width: Int, iters: Int): Array[Array[Double]] = {
    val centroids = strideInit(sample, k, width)
    val nl = centroids.length
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nl)(new Array[Double](width))
      val counts = new Array[Int](nl)
      sample.foreach { v =>
        val c = nearestL2(v, centroids)
        counts(c) += 1
        var j = 0
        val m = math.min(width, v.length)
        while (j < m) { sums(c)(j) += v(j); j += 1 }
      }
      var c = 0
      while (c < nl) {
        if (counts(c) > 0) {
          var j = 0
          while (j < width) { centroids(c)(j) = sums(c)(j) / counts(c); j += 1 }
        }
        c += 1
      }
      it += 1
    }
    centroids
  }

  /** IVF (inverted-file) ANN — the coarse-quantizer scale path beside
    * [[lshKnn]]: train `nlist` spherical-k-means centroids on a
    * deterministic sample, broadcast them (nlist x dim doubles — tiny),
    * assign every vector to its nearest centroid's inverted list, and
    * let each query probe only its `nprobe` nearest lists. The shuffle
    * key is the LIST id, so at 1000x the data the candidate join stays
    * list-local (expected pair count n^2 * nprobe / nlist instead of
    * n^2); raise nlist with corpus size to hold list length constant.
    *
    * Cosine metric throughout: samples and centroids are L2-normalized,
    * so nearest-centroid-by-dot == nearest-by-angle. Deterministic: the
    * training sample is the lowest `sampleSize` ids (TakeOrdered — no
    * full sort), init picks evenly-id-rank-spaced sample vectors (SQL-
    * derivable at any scale, see below), Lloyd runs a
    * fixed `iters` rounds; same inputs => same lists on every run and
    * any partitioning. The corpus side lands in exactly ONE list, so
    * (query, candidate) pairs are already unique — no pair-distinct
    * shuffle at all (one exchange fewer than the LSH path needs).
    *
    * Scoring is BUCKET-LOCAL, never pair-materialized: the corpus packs
    * into (list, shard) rows carrying an array of (id, v, nrm) entries
    * (`listShards` sub-shards bound the array size and parallelize hot
    * lists), each query probe joins its lists with its OWN vector on the
    * row, and the candidate explosion + dot products happen inside the
    * join's output tasks — pipelined, no disk. The only post-join
    * exchange is the per-query top-k window, and `row_number() <= k`
    * plans as WindowGroupLimit Partial, so each task emits at most k
    * slim (id, nid, score) rows per query BEFORE the shuffle (PlanSpec
    * pins both properties). The previous implementation shuffled every
    * candidate pair through two id-keyed joins; at the 100x probe
    * (200 k vectors, 1.0e9 candidate pairs) that materialized >75 GB
    * of shuffle and died on local disk — the rewrite shuffles
    * O(N·nprobe) query rows + O(N·nprobe·k) result rows no matter how
    * long the lists are.
    *
    * NOTE: training materializes the sample EAGERLY at call time (one
    * TakeOrdered job), like [[bruteForceKnn]]'s corpus bound — call it
    * when the vectors are ready, not while composing a deferred plan.
    * Like the reference corpus there, the CENTROID table is the only
    * driver-side state; the inverted lists themselves never leave the
    * executors.
    *
    * KNOB CONTRACT (also [[ivfPqKnn]]): `nlist = 0, nprobe = 0` derives
    * BOTH knobs (nlist = ⌈√N⌉, nprobe = max(4, ⌈√nlist⌉) — the measured
    * N^(1/4) law, gated always-on by e7b). Pinning `nlist` explicitly
    * while leaving `nprobe = 0` pins nprobe at the FIXED floor 4 — it
    * does NOT derive ⌈√nlist⌉ (that would silently multiply query cost
    * on a knob the caller never touched, e.g. nlist=10000 → 100
    * probes). A caller who sets nlist = ⌈√N⌉ BY HAND therefore walks
    * into the measured fixed-nprobe recall decay (0.889 at 200k
    * vectors, below the 0.90 design floor) unless they also set
    * nprobe — pin both knobs or neither. */
  /** The measured scaling law for the partition knobs (SCALING.md, two
    * decades both ways): cluster/list count ∝ √N balances the O(N·k)
    * assignment term against the O(N²/k) in-bucket pairing term at
    * O(N^1.5). `nlist = 0` / `k = 0` callers get this derivation
    * automatically (one count() job at call time — control plane,
    * beside the operators' existing eager sample jobs); the pinned gate
    * entries pass their fixed literals and are untouched. */
  def sqrtKnob(n: Long): Int =
    math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)

  def ivfKnn(vectors: DataFrame, idCol: String, vecCol: String, dim: Int,
             k: Int, nlist: Int = 0, nprobe: Int = 0,
             sampleSize: Int = 2048, iters: Int = 5, seed: Long = 42L,
             listShards: Int = 8): DataFrame = {
    // nlist = 0 derives the measured ceil(√N) law ([[sqrtKnob]]);
    // explicit mismatches stay loud, the derived value clamps nprobe
    // (a 9-vector corpus derives nlist 3 < the floor nprobe 4).
    // Negative nlist is a caller bug, not a derive request. The derived
    // value also clamps to sampleSize: the quantizer trains on a
    // sampleSize sample, so strideInit would cap the centroid count
    // there anyway — clamping HERE keeps nl honest (and np consistent
    // with the real list count). Above N = sampleSize² the √N law
    // needs a larger sampleSize, which is the caller's scale dial.
    require(nlist >= 0,
      s"nlist must be >= 1, or 0 to derive ceil(sqrt(N)); got $nlist")
    require(nprobe >= 0,
      s"nprobe must be >= 1, or 0 to derive max(4, ceil(sqrt(nlist))); got $nprobe")
    // Materialize the normed corpus ONCE (r20 / guide §5): the knob
    // count, the quantizer sample, the assignment pass and the probe
    // pass each re-executed the corpus scan — four single-split scans,
    // each running the per-row kernel on one core. `base.count()` below
    // is the same N as `vectors.count()` (normed never filters).
    val base = graft.Tables.materialize(normed(vectors, idCol, vecCol))
    val nl =
      if (nlist > 0) {
        if (nprobe > 0) require(nprobe <= nlist, "nprobe cannot exceed nlist")
        nlist
      } else math.min(sqrtKnob(base.count()), sampleSize)
    // nprobe = 0 on the DERIVED-nlist path grows max(4, ceil(√nlist)) —
    // the round-11 MEASURED correction: with nlist ∝ √N and a FIXED
    // nprobe the probed fraction shrinks as 1/√N and recall decays
    // below the e7 design floor by 100× (0.889 at N = 200k). Growing
    // nprobe ∝ √nlist = N^(1/4) holds the floor (0.988 at 200k,
    // SCALING.md round-11 ANN recall ladder) at query cost N^(1/4)·N/nlist =
    // O(N^0.75) — still decisively sublinear vs the O(N) brute scan.
    // An EXPLICIT nlist with unspecified nprobe keeps the long-standing
    // fixed 4: a caller who pinned nlist owns the probe budget too, and
    // deriving ⌈√nlist⌉ there would silently multiply query cost (e.g.
    // nlist = 10000 → 100 probes) on a knob they never touched.
    val np = math.min(
      if (nprobe > 0) nprobe
      else if (nlist > 0) 4
      else math.max(4, sqrtKnob(nl.toLong)), nl)
    val spark = vectors.sparkSession
    val sample = unitSample(base, sampleSize, "ivfKnn")
    val centroids = sphericalLloyd(sample, nl, dim, iters)

    // ---- assign + probe (closure-captured centroids: tight JIT loop,
    // no multi-MB literal codegen)
    val bc = spark.sparkContext.broadcast(centroids)
    val assignUdf = udf { (v: Seq[Double]) => nearestDot(v.toArray, bc.value) }
    val probeUdf = udf { (v: Seq[Double]) =>
      val cs = bc.value
      val arr = v.toArray
      val scored = Array.tabulate(cs.length) { c =>
        var d = 0.0; var j = 0
        val m = math.min(arr.length, cs(c).length)
        while (j < m) { d += arr(j) * cs(c)(j); j += 1 }
        (c, d)
      }
      scored.sortBy { case (c, d) => (-d, c) }.take(np).map(_._1)
    }
    val lists = base
      .select(col("id"), col("v"), col("nrm"), assignUdf(col("v")).as("lst"),
        pmod(col("id"), lit(listShards.toLong)).as("shard"))
      .groupBy("lst", "shard")
      .agg(collect_list(struct(col("id"), col("v"), col("nrm"))).as("entries"))
    val queries = base
      .select(col("id"), col("v"), col("nrm"), explode(probeUdf(col("v"))).as("lst"))
    val scored = queries.join(lists, "lst")
      .select(col("id"), col("v"), col("nrm"), explode(col("entries")).as("e"))
      .filter(col("e.id") =!= col("id"))
      .select(col("id"), col("e.id").as("nid"),
        (graft.plans.GraftExpressions.arrayDot(col("v"), col("e.v"))
          / (col("nrm") * col("e.nrm"))).as("score"))
    val w = Window.partitionBy("id").orderBy(col("score").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id").as("vec_id"), col("rank"), col("nid").as("neighbor_id"),
        col("score"))
  }

  /** HARD-NEGATIVE MINING at scale: per anchor, the top-k most-similar
    * vectors carrying a DIFFERENT label — the contrastive-training
    * mining step — through [[ivfKnn]]'s coarse quantizer instead of the
    * brute cross join. The exact form (e11) scores every
    * (anchor, opposite-label) pair: with the anchor set a fixed
    * fraction of the corpus that is O(N²) BY CONSTRUCTION (measured
    * decade exponent 1.31 at the r17 sf0.1→sf1 leg), which no plan
    * shape fixes — the candidate GENERATION has to become sub-linear.
    * This operator reuses the measured IVF machinery verbatim
    * (spherical-Lloyd quantizer, one inverted list per vector,
    * O(N·nprobe) probe rows, bucket-local scoring, WindowGroupLimit
    * top-k): the only semantic delta is the entry predicate — the
    * scoring join keeps CROSS-LABEL pairs where ivfKnn drops the self
    * pair. Same knob law as ivfKnn (nlist = 0 derives ⌈√N⌉, nprobe = 0
    * derives max(4, ⌈√nlist⌉) — O(N^0.75) scored pairs at held
    * recall); recall caveat: a hard negative is by definition NEAR the
    * anchor, the regime where IVF recall is highest (the e7 design
    * gates measure exactly this band).
    *
    * Kept as its own method rather than a flag on ivfKnn: the pinned
    * e4/e5/e7 oracle hashes gate ivfKnn's exact plan, and threading a
    * label column through it would change the shuffled row shape for
    * every caller that has no label. */
  def hardNegativesAnn(vectors: DataFrame, idCol: String, vecCol: String,
                       labelCol: String, dim: Int, k: Int,
                       nlist: Int = 0, nprobe: Int = 0,
                       sampleSize: Int = 2048, iters: Int = 5,
                       listShards: Int = 8,
                       anchorPred: Column = lit(true)): DataFrame = {
    require(nlist >= 0,
      s"nlist must be >= 1, or 0 to derive ceil(sqrt(N)); got $nlist")
    require(nprobe >= 0,
      s"nprobe must be >= 1, or 0 to derive max(4, ceil(sqrt(nlist))); got $nprobe")
    // Materialize the labelled normed corpus ONCE (r20 / guide §5) —
    // same four-single-split-scans pathology as [[ivfKnn]]; the count
    // below equals vectors.count() (the projection never filters).
    val base = graft.Tables.materialize(vectors
      .select(col(idCol).as("id"), col(labelCol).as("lbl"),
        asDouble(col(vecCol)).as("v"))
      .withColumn("nrm",
        sqrt(graft.plans.GraftExpressions.arrayDot(col("v"), col("v")))))
    val nl =
      if (nlist > 0) {
        if (nprobe > 0) require(nprobe <= nlist, "nprobe cannot exceed nlist")
        nlist
      } else math.min(sqrtKnob(base.count()), sampleSize)
    val np = math.min(
      if (nprobe > 0) nprobe
      else if (nlist > 0) 4
      else math.max(4, sqrtKnob(nl.toLong)), nl)
    val spark = vectors.sparkSession
    val sample = unitSample(base, sampleSize, "hardNegativesAnn")
    val centroids = sphericalLloyd(sample, nl, dim, iters)
    val bc = spark.sparkContext.broadcast(centroids)
    val assignUdf = udf { (v: Seq[Double]) => nearestDot(v.toArray, bc.value) }
    val probeUdf = udf { (v: Seq[Double]) =>
      val cs = bc.value
      val arr = v.toArray
      val scored = Array.tabulate(cs.length) { c =>
        var d = 0.0; var j = 0
        val m = math.min(arr.length, cs(c).length)
        while (j < m) { d += arr(j) * cs(c)(j); j += 1 }
        (c, d)
      }
      scored.sortBy { case (c, d) => (-d, c) }.take(np).map(_._1)
    }
    val lists = base
      .select(col("id"), col("lbl"), col("v"), col("nrm"),
        assignUdf(col("v")).as("lst"),
        pmod(col("id"), lit(listShards.toLong)).as("shard"))
      .groupBy("lst", "shard")
      .agg(collect_list(
        struct(col("id"), col("lbl"), col("v"), col("nrm"))).as("entries"))
    val queries = base.filter(anchorPred)
      .select(col("id"), col("lbl"), col("v"), col("nrm"),
        explode(probeUdf(col("v"))).as("lst"))
    val scored = queries.join(lists, "lst")
      .select(col("id"), col("lbl"), col("v"), col("nrm"),
        explode(col("entries")).as("e"))
      .filter(col("e.lbl") =!= col("lbl")) // cross-label subsumes self-exclusion
      .select(col("id"), col("e.id").as("nid"),
        (graft.plans.GraftExpressions.arrayDot(col("v"), col("e.v"))
          / (col("nrm") * col("e.nrm"))).as("score"))
    val w = Window.partitionBy("id").orderBy(col("score").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id").as("vec_id"), col("rank"),
        col("nid").as("neighbor_id"), col("score"))
  }

  /** PER-LABEL-INDEX hard-negative mining — the recall fix for
    * [[hardNegativesAnn]]'s structural blind spot. A single shared
    * quantizer probes the cells nearest the ANCHOR, which are
    * dominated by the anchor's OWN label: the true hard negative sits
    * in an opposite-label cluster whose cell rarely ranks in the
    * anchor's top-nprobe (measured: recall@2 ~0.57 at derived knobs,
    * ~0.76 at doubled probes — SCALING.md, "Hard-negative recall: the
    * per-label index"). Here each label gets its
    * OWN quantizer (the FAISS per-shard-index pattern): inverted lists
    * key on (label, cell), and an anchor probes the top cells of EVERY
    * opposite label's index — the probe ranking now runs against
    * centroids of exactly the population being mined, restoring the
    * self-knn recall anatomy per label pair.
    *
    * Scale shape: per-label quantizer training is |L| driver-side
    * Lloyd runs over capped samples (driver state |L|·√(N/|L|)·dim
    * doubles — labels are CLASSES, small by nature; a high-cardinality
    * label column is the caller's modeling error and fails the
    * train-time sample require). Probe rows are O(anchors·|L|·nprobe)
    * against lists of size N/(|L|·nlist_l) — total scored pairs the
    * same O-shape as the shared-index form, redistributed to the
    * cells that matter. Everything after the probe (bucket-local
    * scoring, pre-shuffle WindowGroupLimit top-k) is
    * [[ivfKnn]]'s measured machinery. */
  def hardNegativesAnnPerLabel(vectors: DataFrame, idCol: String,
      vecCol: String, labelCol: String, dim: Int, k: Int,
      nprobe: Int = 0, sampleSize: Int = 2048, iters: Int = 5,
      listShards: Int = 8,
      anchorPred: Column = lit(true)): DataFrame = {
    val spark = vectors.sparkSession
    // materialize, not persist/unpersist-in-finally (r20): the old
    // unpersist fired BEFORE the lazily-returned lists/queries passes
    // executed, so both exec-time passes recomputed the corpus from the
    // raw single-split scan anyway; materialize pays scan+kernel once
    // and the blocks outlive the returned plan (released with the query)
    val base = graft.Tables.materialize(vectors
      .select(col(idCol).as("id"), col(labelCol).cast("string").as("lbl"),
        asDouble(col(vecCol)).as("v"))
      .withColumn("nrm",
        sqrt(graft.plans.GraftExpressions.arrayDot(col("v"), col("v")))))
    locally {
      val counts = base.groupBy("lbl").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap // |L| rows
      require(counts.size >= 2,
        s"hardNegativesAnnPerLabel needs >= 2 labels, saw ${counts.size}")
      // per-label quantizer: nlist_l = ceil(sqrt(N_l)) (the measured
      // ivfKnn law applied within the label population). The per-label
      // trainings (one sample-collect job + one driver Lloyd each) are
      // INDEPENDENT — overlapped (r20; guide §2.6:
      // the old sequential loop serialized |L| job waves AND |L|
      // driver-CPU Lloyd runs; each label's result is keyed by label,
      // so completion order cannot change the map).
      val perLabel: Map[String, (Array[Array[Double]], Int)] =
        graft.Scoped.overlap(counts.toSeq.map { case (l, n) => () =>
          val nl = math.min(sqrtKnob(n), sampleSize)
          val cents = sphericalLloyd(
            unitSample(base.filter(col("lbl") === l), sampleSize,
              s"hardNegativesAnnPerLabel($l)"), nl, dim, iters)
          // derived nprobe is 2·max(4, ⌈√nlist_l⌉) — DOUBLE ivfKnn's
          // self-knn law: cross-label probing ranks an anchor against
          // ANOTHER population's centroids, where the target sits near a
          // cluster boundary more often than in the self-knn case
          // (SCALING.md r17/r18 hard-negative recall ladder: the 1× knob
          // decays 0.89→0.73 across decades while the 2× row holds
          // 0.88-0.95; e13 pins the per-SF floors)
          val np = math.min(
            if (nprobe > 0) nprobe
            else 2 * math.max(4, sqrtKnob(cents.length.toLong)),
            cents.length)
          l -> ((cents, np))
        }).toMap
      val bc = spark.sparkContext.broadcast(perLabel)
      // each vector is indexed under ITS OWN label's quantizer
      val assignUdf = udf { (l: String, v: Seq[Double]) =>
        nearestDot(v.toArray, bc.value(l)._1)
      }
      // an anchor probes the top cells of EVERY OTHER label's index.
      // The cell key is a two-field (label, cellIdx) STRUCT, not a
      // delimited string — a label containing the delimiter (e.g. "a"
      // vs "a#1") would otherwise collide cells ACROSS labels, silently
      // merging lists and reintroducing same-label candidates the
      // probe-side exclusion claims are impossible by construction.
      val probeUdf = udf { (anchorLbl: String, v: Seq[Double]) =>
        val arr = v.toArray
        bc.value.iterator.filter(_._1 != anchorLbl).flatMap {
          case (l, (cs, np)) =>
            val scored = Array.tabulate(cs.length) { c =>
              var d = 0.0; var j = 0
              val m = math.min(arr.length, cs(c).length)
              while (j < m) { d += arr(j) * cs(c)(j); j += 1 }
              (c, d)
            }
            scored.sortBy { case (c, d) => (-d, c) }.take(np)
              .iterator.map { case (c, _) => (l, c) }
        }.toArray
      }
      val lists = base
        .select(col("id"), col("v"), col("nrm"),
          struct(col("lbl").as("l"),
            assignUdf(col("lbl"), col("v")).as("c")).as("cell"),
          pmod(col("id"), lit(listShards.toLong)).as("shard"))
        .groupBy("cell", "shard")
        .agg(collect_list(struct(col("id"), col("v"), col("nrm"))).as("entries"))
      val queries = base.filter(anchorPred)
        .select(col("id"), col("v"), col("nrm"),
          explode(probeUdf(col("lbl"), col("v"))).as("pc"))
        .select(col("id"), col("v"), col("nrm"),
          struct(col("pc._1").as("l"), col("pc._2").as("c")).as("cell"))
      val scored = queries.join(lists, "cell")
        .select(col("id"), col("v"), col("nrm"), explode(col("entries")).as("e"))
        // no cross-label filter needed: an anchor never probes its own
        // label's cells, so every entry is opposite-label by construction
        .select(col("id"), col("e.id").as("nid"),
          (graft.plans.GraftExpressions.arrayDot(col("v"), col("e.v"))
            / (col("nrm") * col("e.nrm"))).as("score"))
      val w = Window.partitionBy("id").orderBy(col("score").desc, col("nid"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("id").as("vec_id"), col("rank"),
          col("nid").as("neighbor_id"), col("score"))
    }
  }

  /** IVF-PQ ANN (the FAISS IVFADC shape) — the COMPRESSION layer on top
    * of [[ivfKnn]]'s coarse quantizer, and the configuration a 100 TB
    * vector corpus actually deploys: the inverted lists store ONE int of
    * `m` packed 4-bit sub-codes per vector instead of `dim` doubles
    * (512 B → 2 bytes used — the FAISS byte-packed layout), so the
    * entire candidate side of the scoring join rides in ~0.4% of the
    * raw footprint and the shuffled list entries are code-sized, not
    * vector-sized. SCALING.md carries the measured three-shape ADC
    * ladder and the honest local-mode comparison against e4.
    *
    * Train (driver-side, deterministic, SQL-replicated by the e9
    * oracle): the coarse quantizer is [[sphericalLloyd]] exactly as in
    * ivfKnn; each of the `m` subspaces then gets a `ksub`-centroid
    * codebook from [[euclideanLloyd]] over the unit sample's subspace
    * slice (L2 assignment, arithmetic-mean update — standard PQ).
    * Encode: each corpus vector is unit-normalized and its subspace
    * slices map to their nearest codebook entries (argmin L2, ties to
    * the lowest code).
    *
    * Score (ADC, asymmetric): the query stays full-precision; a
    * candidate scores SUM_s dot(u_query[s-slice], codebook_s[code_s])
    * — the dot of the query unit vector with the candidate's
    * reconstruction, approximating cosine. Scoring is bucket-local
    * like ivfKnn (entries arrays per (list, shard)), the probe join
    * ships only codes, and the per-query top-k window plans as
    * WindowGroupLimit. Approximation quality is the PQ trade; the
    * planted-pair spec pins that near-identical vectors still rank
    * each other first, and e4 remains the uncompressed twin. */
  def ivfPqKnn(vectors: DataFrame, idCol: String, vecCol: String, dim: Int,
               k: Int, nlist: Int = 16, nprobe: Int = 4,
               m: Int = 4, ksub: Int = 16, pqIters: Int = 3,
               sampleSize: Int = 2048, iters: Int = 5,
               listShards: Int = 8): DataFrame = {
    // nlist = 0 derives ceil(√N), and on THAT path nprobe = 0 derives
    // max(4, ceil(√nlist)), exactly like [[ivfKnn]] (see [[sqrtKnob]]
    // and ivfKnn's measured N^(1/4) nprobe law); an explicit nlist
    // with nprobe = 0 keeps the fixed 4 (same rationale as ivfKnn —
    // a pinned nlist must not silently inflate the probe budget).
    // Same negative-is-a-bug guards and sampleSize clamp as there.
    require(nlist >= 0,
      s"nlist must be >= 1, or 0 to derive ceil(sqrt(N)); got $nlist")
    require(nprobe >= 0,
      s"nprobe must be >= 1, or 0 to derive max(4, ceil(sqrt(nlist))); got $nprobe")
    // Materialize the normed corpus ONCE (r20 / guide §5) — the knob
    // count, quantizer sample, encode/assign and probe passes each
    // re-executed the single-split corpus scan (see [[ivfKnn]]).
    val base = graft.Tables.materialize(normed(vectors, idCol, vecCol))
    val nl =
      if (nlist > 0) {
        if (nprobe > 0) require(nprobe <= nlist, "nprobe cannot exceed nlist")
        nlist
      } else math.min(sqrtKnob(base.count()), sampleSize)
    val np = math.min(
      if (nprobe > 0) nprobe
      else if (nlist > 0) 4
      else math.max(4, sqrtKnob(nl.toLong)), nl)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    val spark = vectors.sparkSession
    val sample = unitSample(base, sampleSize, "ivfPqKnn")
    val coarse = sphericalLloyd(sample, nl, dim, iters)
    // zero-pad ragged sample vectors to dim before slicing: copyOfRange
    // throws when from > length, and ivfKnn's contract (strideInit)
    // says shorter vectors zero-pad
    val padded = sample.map(v =>
      if (v.length < dim) java.util.Arrays.copyOf(v, dim) else v)
    val books: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      euclideanLloyd(padded.map(v =>
        java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub)),
        ksub, dsub, pqIters)
    }

    val bcCoarse = spark.sparkContext.broadcast(coarse)
    val bcBooks = spark.sparkContext.broadcast(books)
    val assignUdf = udf { (v: Seq[Double]) => nearestDot(v.toArray, bcCoarse.value) }
    val probeUdf = udf { (v: Seq[Double]) =>
      val cs = bcCoarse.value
      val arr = v.toArray
      val scored = Array.tabulate(cs.length) { c =>
        var d = 0.0; var j = 0
        val mm = math.min(arr.length, cs(c).length)
        while (j < mm) { d += arr(j) * cs(c)(j); j += 1 }
        (c, d)
      }
      scored.sortBy { case (c, d) => (-d, c) }.take(np).map(_._1)
    }
    // unit-normalize (zero-norm degrades to the raw vector — scores 0
    // everywhere, never NaN), then per-subspace argmin-L2 codes PACKED
    // into one int (4 bits per code at ksub<=16 — the FAISS byte-packed
    // list layout, and it keeps the scoring loop allocation-free: a
    // Seq[Int] codes column cost one boxed collection per candidate,
    // measured 2× on the 100× probe)
    require(ksub <= 16 && m <= 8, "packed codes hold m<=8 4-bit sub-codes")
    val encodeUdf = udf { (v: Seq[Double], nrm: Double) =>
      val u0 = if (nrm > 0) v.toArray.map(_ / nrm) else v.toArray
      // zero-pad before slicing: a sub-dim vector would hit
      // copyOfRange(from > length) and kill the task
      val u = if (u0.length < dim) java.util.Arrays.copyOf(u0, dim) else u0
      var packed = 0
      var s = 0
      while (s < m) {
        packed |= nearestL2(java.util.Arrays.copyOfRange(u,
          s * dsub, (s + 1) * dsub), bcBooks.value(s)) << (4 * s)
        s += 1
      }
      packed
    }
    // Canonical ADC, table-driven AND codegen-scored: the m×ksub lookup
    // table of per-subspace partial dots builds ONCE per query row (one
    // cheap UDF over N·nprobe rows), flattened as table[s*ksub + c];
    // every candidate then scores with pure BUILT-IN expressions —
    // shiftright/bitwiseAND unpack the 4-bit code, element_at reads the
    // table, and the m lookups sum left-to-right — so the 6.3e9-pair
    // hot loop at the 100× probe runs inside whole-stage codegen with
    // ZERO per-candidate UDF calls or allocations. (First cut: a
    // per-candidate UDF re-normalizing the query — 515 s at 100×; then
    // a per-list UDF emitting boxed (nid, score) tuples — 79 s; this
    // shape — measured below raw-IVF's 48 s — is the one that scales.)
    // The left-fold sum over subspaces is the same float grouping as
    // the per-subspace-partial loop, which is what the e9 oracle
    // replicates.
    val tableUdf = udf { (u: Seq[Double]) =>
      val uu = u.toArray
      val books = bcBooks.value
      Array.tabulate(m * ksub) { i =>
        val s = i / ksub
        val cb = books(s)(i % ksub)
        var part = 0.0; var j = 0
        val off = s * dsub
        val mm = math.min(cb.length, math.max(0, uu.length - off))
        while (j < mm) { part += uu(off + j) * cb(j); j += 1 }
        part
      }
    }

    val lists = base
      .select(col("id"), assignUdf(col("v")).as("lst"),
        encodeUdf(col("v"), col("nrm")).as("codes"),
        pmod(col("id"), lit(listShards.toLong)).as("shard"))
      .groupBy("lst", "shard")
      .agg(collect_list(struct(col("id"), col("codes"))).as("entries"))
    // query unit vector computed ONCE per query row (codegen transform),
    // not per candidate; zero-norm degrades to the raw vector (scores 0)
    val uCol = when(col("nrm") > 0, transform(col("v"), x => x / col("nrm")))
      .otherwise(col("v"))
    val queries = base
      .select(col("id"), tableUdf(uCol).as("tbl"),
        explode(probeUdf(col("v"))).as("lst"))
    val adcExpr = (0 until m).map { s =>
      element_at(col("tbl"),
        shiftright(col("e.codes"), 4 * s).bitwiseAND(lit(15)) + lit(s * ksub + 1))
    }.reduce(_ + _)
    val scored = queries.join(lists, "lst")
      .select(col("id"), col("tbl"), explode(col("entries")).as("e"))
      .filter(col("e.id") =!= col("id"))
      .select(col("id"), col("e.id").as("nid"), adcExpr.as("score"))
    val w = Window.partitionBy("id").orderBy(col("score").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id").as("vec_id"), col("rank"), col("nid").as("neighbor_id"),
        col("score"))
  }

  /** IVF-PQ with an EXACT re-rank stage — FAISS's `IndexRefineFlat`
    * pattern completing the compression story: [[ivfPqKnn]]'s ADC
    * scores are approximate (4-bit codes), so the shortlist's ORDER can
    * be wrong even when its membership is right; the refine stage
    * fetches the RAW vectors for just the `kShortlist` candidates per
    * query and rescores them exactly, returning the top `k` by true
    * cosine. Cost shape: the expensive part (scoring millions of
    * candidates) stays in compressed space; the exact rescue touches
    * N·kShortlist rows through two slim id-keyed joins — the raw
    * vectors ride only that bounded join, never the candidate
    * explosion. Zero-norm vectors score 0 (guard mirrored in the
    * oracle — a bare division would NaN in one engine and null in the
    * other). */
  def ivfPqRefineKnn(vectors: DataFrame, idCol: String, vecCol: String,
                     dim: Int, k: Int, kShortlist: Int,
                     nlist: Int = 0, nprobe: Int = 4,
                     m: Int = 4, ksub: Int = 16, pqIters: Int = 3,
                     sampleSize: Int = 2048, iters: Int = 5,
                     listShards: Int = 8): DataFrame = {
    require(k <= kShortlist, s"k=$k must be <= kShortlist=$kShortlist")
    val short = ivfPqKnn(vectors, idCol, vecCol, dim, kShortlist, nlist,
        nprobe, m, ksub, pqIters, sampleSize, iters, listShards)
      .select(col("vec_id"), col("neighbor_id"))
    // the refine stage's two raw-vector joins re-scanned the corpus
    // twice more on top of ivfPqKnn's passes — materialize once (r20)
    val nv = graft.Tables.materialize(normed(vectors, idCol, vecCol))
    val q = nv.select(col("id").as("vec_id"), col("v").as("qv"),
      col("nrm").as("qn"))
    val c = nv.select(col("id").as("neighbor_id"), col("v").as("cv"),
      col("nrm").as("cn"))
    val rescored = short.join(q, "vec_id").join(c, "neighbor_id")
      .select(col("vec_id"), col("neighbor_id"),
        when(col("qn") > 0 && col("cn") > 0,
          dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
          .otherwise(lit(0.0)).as("score"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("vec_id", "rank", "neighbor_id", "score")
  }

  /** Expected LSH recall for a pair at exactly `cosine`: a sign-bit
    * agrees with probability 1 - θ/π, a pair surfaces if all `bits` agree
    * in at least one of `tables` signatures. Recall falls steeply as the
    * target cosine drops (0.9 → ~0.88 with 8x6; 0.5 → ~0.2), so callers
    * chasing lower thresholds must retune — this function is the tuning
    * aid and the test oracle for the planted-pair invariant. */
  def lshRecallEstimate(cosine: Double, bits: Int, tables: Int): Double = {
    val pBit = 1.0 - math.acos(math.max(-1.0, math.min(1.0, cosine))) / math.Pi
    1.0 - math.pow(1.0 - math.pow(pBit, bits), tables)
  }

  /** Embedding-cosine near-duplicate pairs above `minCosine` (id_a <
    * id_b): hyperplane-LSH blocking then in-bucket cosine verification —
    * the same block-then-verify shape as [[Dedup.simHashCandidates]],
    * never an all-pairs compare. Approximate by construction: a pair is
    * emitted only if it collides in at least one of the `tables`
    * signatures. At cosine 0.9 (angle ≈ 26°) a sign-bit agrees with
    * probability 1-θ/π ≈ 0.857, so the 8-bit x 6-table default finds a
    * true pair with P ≈ 1-(1-0.857^8)^6 ≈ 0.88 — and recall COLLAPSES
    * for weaker pairs (≈ 0.2 at cosine 0.5): retune bits/tables via
    * [[lshRecallEstimate]] when minCosine is far below 0.9. Every
    * *emitted* pair is exactly verified, so precision is 1 regardless. */
  def cosineNearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
                         dim: Int, minCosine: Double, bits: Int = 8,
                         tables: Int = 6, seed: Long = 42L): DataFrame = {
    val tabled = tabledSignatures(vectors, idCol, vecCol, dim, bits, tables, seed)
    scorePairs(bucketPairIds(tabled, ordered = true),
      normed(vectors, idCol, vecCol), "id_a", "id_b", "cos")
      .filter(col("cos") >= minCosine)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"):
    * cluster the corpus first (any assignment — [[graft.operators
    * .KMeans.lloyd]] here), then prune near-duplicates ONLY within each
    * cluster. Where [[cosineNearDupPairs]] blocks by LSH signature (a
    * recall/cost dial), this blocks by semantic cluster: the pair join
    * is keyed on the cluster id, so the quadratic term is bounded by
    * the largest cluster, and k is the scale dial. Grow k ∝ √N — NOT
    * k ∝ N: holding cluster size constant just moves the quadratic
    * into Lloyd's O(N·k) assignment (measured at the 100× probe:
    * k=800 costs 189 s where k=80 costs 34 s at an identical drop
    * count — SCALING.md). √N balances training and the O(N²/k) pair
    * join at O(N^1.5) each, the same decade law as [[ivfKnn]]'s
    * nlist ∝ √N. At 100 TB that is the difference between an
    * impossible all-pairs cosine and k embarrassingly parallel
    * cluster-local scans; the price, as in the paper, is that
    * near-dups straddling a cluster boundary are invisible by design.
    *
    * Keep rule: a row is dropped iff a LOWER-id same-cluster row sits
    * within `tau` cosine — first-occurrence-wins, the same deterministic
    * convention as the d1/d2 text dedups (no transitive closure: a
    * chain a~b~c with cos(a,c) < tau keeps a and c — [[graft.operators
    * .Dedup.dupClusters]] is the closure when wanted). Zero vectors
    * never pair (cosine undefined; NaN would read "dup" in engines that
    * sort NaN high, so the guard is explicit) and are always kept.
    *
    * Cross-engine exactness: per-row squared norms are computed once
    * ([[dot]] — index-order fold, the e1 contract) and the score is the
    * single expression dot/(sqrt(nn_x)*sqrt(nn_y)) — identical IEEE
    * trees on both engines, so even boundary-grazing pairs agree.
    *
    * @return one row per input vector: (`idCol`, `clusterCol`,
    *         kept BOOLEAN).
    */
  def semDedupKept(vectors: DataFrame, idCol: String, vecCol: String,
                   clusterCol: String, tau: Double): DataFrame = {
    val v = vectors
      .select(col(idCol).cast("long").as("id"), col(clusterCol).as("c"),
        asDouble(col(vecCol)).as("e"))
      .withColumn("nn", dot(col("e"), col("e")))
    val y = v.select(col("c").as("yc"), col("id").as("yid"),
      col("e").as("ye"), col("nn").as("ynn"))
    val drops = v.join(y, col("c") === col("yc") && col("yid") < col("id"))
      .filter(col("nn") > 0 && col("ynn") > 0 &&
        dot(col("e"), col("ye")) / (sqrt(col("nn")) * sqrt(col("ynn"))) >= tau)
      .select("id").distinct()
    v.join(drops.withColumn("dup", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol), col("c").as(clusterCol),
        col("dup").isNull.as("kept"))
  }
}
