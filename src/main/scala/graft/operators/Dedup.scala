package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Scoped.{Materialize, Materialized}

/** Corpus deduplication at scale: exact, MinHash+LSH, SimHash, n-gram
  * Jaccard. Design target is 100 TB: every variant is
  * shuffle-on-a-compact-key (hash/bucket), never an all-pairs compare.
  */
object Dedup {

  /** Exact dedup on the normalized-text fingerprint: one hash-groupBy
    * keeping the smallest id per fingerprint (deterministic winner).
    * The only shuffle key is the 16-byte fingerprint. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy("fingerprint").orderBy(col(idCol))
    docs.withColumn("fingerprint", TextAnalysis.fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      // give callers back their own schema: both helper columns go
      // (fingerprint-wanting callers use exactDupGroups)
      .drop("__rn", "fingerprint")
  }

  /** Exact-dup groups: fingerprint -> canonical id + duplicate count. */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.withColumn("fingerprint", TextAnalysis.fingerprint(col(textCol)))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_docs"))

  // ------------------------------------------------------------ MinHash LSH

  /** Deterministic universal hash h_i(x) = (a_i*x + b_i) mod p over a
    * 64-bit token hash, with p = 2^31-1 so (h mod p)*(a mod p) stays
    * below 2^62 — no overflow under ANSI arithmetic. */
  private val MersennePrime = 2147483647L // 2^31 - 1

  case class MinHashConfig(
      numHashes: Int = 64,
      bands: Int = 16,            // 16 bands x 4 rows: catches J >~ 0.5
      shingleSize: Int = 3,
      seed: Long = 42L) {
    require(numHashes % bands == 0, "bands must divide numHashes")
    def rowsPerBand: Int = numHashes / bands
  }

  /** 64-bit deterministic string hash (FNV-1a) for shingles/tokens. */
  @inline private def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  private[operators] def shingleSet(text: String, n: Int): Array[String] = {
    val toks = Option(text).getOrElse("").toLowerCase.trim.split("\\s+")
    if (toks.length < n) Array.empty
    else toks.sliding(n).map(_.mkString(" ")).toArray.distinct
  }

  /** Per-doc MinHash signature as an array<bigint> column. Shingles are
    * token n-grams fingerprinted to 64 bits by FNV-combining the n token
    * hashes — no shingle string is ever materialized, and no distinct
    * pass runs: duplicate shingles cannot change a min, so the multiset
    * is as good as the set. Each signature slot is the min of (a*h+b)
    * mod p over the doc's shingle hashes.
    *
    * One tight-loop UDF per row: expressing this as nested array HOFs
    * re-evaluates the tokenizer per (slot x shingle) because lambda
    * bodies inline their inputs — O(10^7) interpreted regex splits per
    * document. The UDF tokenizes once, hashes each token once, and runs
    * slots x shingles fused multiply-adds. */
  /** The (a_i, b_i) universal-hash coefficient arrays for `cfg` — the
    * single source of truth shared by the signature UDF and the d3
    * oracle SQL (which embeds them as literals, so the DuckDB side runs
    * the IDENTICAL hash family without reproducing java.util.Random). */
  def hashCoefficients(cfg: MinHashConfig): (Array[Long], Array[Long]) = {
    val p = MersennePrime
    (Array.tabulate(cfg.numHashes)(i =>
      math.abs(new scala.util.Random(cfg.seed * 7919 + i).nextLong()) % p | 1L),
     Array.tabulate(cfg.numHashes)(i =>
      math.abs(new scala.util.Random(cfg.seed * 104729 + i).nextLong()) % p))
  }

  def minHashSignature(textCol: Column, cfg: MinHashConfig = MinHashConfig()): Column = {
    val p = MersennePrime
    val (as, bs) = hashCoefficients(cfg)
    val n = cfg.shingleSize
    val nh = cfg.numHashes
    val sigUdf = udf { (text: String) =>
      val toks = Option(text).getOrElse("").toLowerCase.trim.split("\\s+")
      val nSh = toks.length - n + 1
      val out = Array.fill(nh)(Long.MaxValue)
      var i = 0
      while (i < nSh) {
        var h = 0xcbf29ce484222325L
        var j = 0
        while (j < n) { h ^= hash64(toks(i + j)); h *= 0x100000001b3L; j += 1 }
        val sh = java.lang.Math.floorMod(h, p)
        var k = 0
        while (k < nh) {
          val v = (sh * as(k) + bs(k)) % p
          if (v < out(k)) out(k) = v
          k += 1
        }
        i += 1
      }
      if (nSh <= 0) Array.fill(nh)(-1L) else out
    }
    sigUdf(textCol)
  }

  /** LSH band key: hash of one band's signature slice. Docs sharing any
    * band key are candidate duplicates. */
  def bandKeys(sig: Column, cfg: MinHashConfig): Column =
    array((0 until cfg.bands).map { b =>
      xxhash64(lit(b), concat_ws(",",
        (0 until cfg.rowsPerBand).map(r =>
          element_at(sig, b * cfg.rowsPerBand + r + 1)): _*))
    }: _*)

  /** Candidate duplicate pairs via LSH banding: explode band keys,
    * self-join on the bucket, dedupe pairs. The join key is (band,
    * bucket-hash) so only near-duplicates ever meet in the shuffle —
    * this is the O(n) path that replaces the O(n^2) compare at scale.
    * Estimated Jaccard = fraction of matching signature slots.
    *
    * Shuffle discipline (the round-2 bench bottleneck was violating it):
    * the band self-join and the pair dedup carry ONLY (id, band) /
    * (id_a, id_b) longs — the 64-slot signature arrays never enter a
    * join or dedup shuffle. Signatures are joined back onto the few
    * surviving pairs afterwards; recomputing the signature projection
    * for those joins is a per-row map (~0.3 s for 5k docs) while
    * shuffling 512-byte arrays through an exploded 16x self-join costs
    * multiples of that, and the gap widens with corpus size.
    *
    * Contract for sub-shingle-length docs (< shingleSize tokens): they
    * produce the all -1 sentinel signature and are EXCLUDED here — all
    * of them would otherwise share identical band keys and report
    * est_jaccard=1.0 against each other. Exact duplicates among short
    * docs are the designated job of [[exactDedup]]/[[exactDupGroups]]
    * (fingerprint equality), which a dedup pipeline should always run
    * alongside MinHash. */
  def minHashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        cfg: MinHashConfig = MinHashConfig(),
                        minEstJaccard: Double = 0.5): DataFrame = {
    // single-pass signature kernel over the corpus: spread a
    // few-split scan to cluster width first (no-op on a real lake —
    // graft.Tables.spread docblock; r19: d3 ×0.66 measured)
    val sigs = graft.Tables.spread(docs).select(col(idCol).as("id"),
        minHashSignature(col(textCol), cfg).as("sig"))
      .filter(element_at(col("sig"), 1) =!= lit(-1L))
    val banded = sigs.select(col("id"),
      explode(bandKeys(col("sig"), cfg)).as("band"))
    val pairIds = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    pairIds
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          b => b)).cast("double") / cfg.numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  // --------------------------------------------------------------- SimHash

  /** 64-bit SimHash over token hashes: majority vote per bit — bits with
    * more set-token hashes than unset become 1. Tight-loop UDF for the
    * same reason as [[minHashSignature]]: one tokenize, 64 bit counters
    * in one pass. */
  def simHash(textCol: Column): Column = {
    val simUdf = udf { (text: String) =>
      val toks = Option(text).getOrElse("").toLowerCase.trim.split("\\s+")
      val counts = new Array[Int](64)
      var i = 0
      while (i < toks.length) {
        val h = hash64(toks(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
        i += 1
      }
      var sig = 0L
      var b = 0
      while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
      sig
    }
    simUdf(textCol)
  }

  /** Hamming distance between two simhashes (bit_count of xor). */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on the 4 x 16-bit chunks (a pair
    * within Hamming distance 3 of 64 bits must agree on at least one
    * 16-bit chunk — pigeonhole), join per chunk, verify distance. */
  def simHashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 3): DataFrame = {
    // same single-pass-kernel spread as [[minHashCandidates]]
    val sigs = graft.Tables.spread(docs)
      .select(col(idCol).as("id"), simHash(col(textCol)).as("sim"))
      .withColumn("chunk", explode(array((0 until 4).map(c =>
        struct(lit(c).as("c"),
          shiftright(col("sim"), c * 16).bitwiseAND(lit(0xFFFFL)).as("v"))): _*)))
    sigs.as("a").join(sigs.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hammingDist(col("a.sim"), col("b.sim")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------- duplicate-cluster resolution

  /** Connected components over candidate-duplicate pairs — the cluster
    * step every dedup pipeline runs after candidate generation: group
    * transitively-linked near-dups and pick min-id as the canonical
    * document.
    *
    * Algorithm: ALTERNATING LARGE-STAR / SMALL-STAR edge rewriting
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — each round rewrites the edge set toward a star forest
    * (every component one star centered at its min id). Large-star
    * connects every strictly-larger neighbor of a node to the node's
    * minimum neighbor; small-star connects the node and its smaller
    * neighbors to that minimum. Convergence is O(log² n) rounds proven,
    * ~2·log n observed — independent of cluster DIAMETER, which is the
    * property that matters at corpus scale: min-label propagation (the
    * previous implementation, even with a comp := comp(comp) doubling
    * shortcut) degrades to one hop per round through a chain segment
    * whose local minimum sits at its far end, so a boilerplate family
    * chaining hundreds of template pages deep needs hundreds of rounds.
    * A planted diameter-120 scrambled chain: 8 star rounds vs 60+
    * propagation rounds (ScalaTest pins this).
    *
    * Every round shuffles only slim (u, v) long pairs over the doc ids
    * appearing in any candidate pair — far smaller than the corpus at
    * 100 TB. [[graft.Scoped.Materialize]] cuts lineage each round; the
    * frame is then REBUILT over the materialized rows because a local
    * checkpoint preserves the plan's sizeInBytes estimate (and a persist
    * keeps the whole plan) and the stars' self-joins
    * would square it every round — Catalyst's stats visitor ends up
    * multiplying BigInts of 2^rounds bits and hangs (measured, not
    * hypothetical).
    *
    * FAIL-LOUD contract: if the round cap is hit before the edge set
    * reaches the star-forest fixpoint this THROWS rather than returning
    * silently-wrong component ids — unconverged labels are the one
    * failure mode that degrades answers invisibly at exactly the scale
    * the operator targets.
    *
    * Returns (doc_id, component_id) for every doc in `pairs`;
    * singletons (docs with no candidate pair) are absent — callers
    * union them back with component_id = own id. */
  def dupClusters(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    dupClustersWithRounds(pairs, maxIter)._1

  /** Large-star: for each node, connect all strictly-larger neighbors
    * to min(neighbors ∪ self). Input/output edges are canonical
    * (u > v); output preserves connectivity and never increases the
    * component min. */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbr = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val mins = nbr.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    nbr.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: for each node, connect it and its smaller neighbors to
    * the minimum of that set. With canonical (u > v) edges a node's
    * smaller neighbors are exactly its rows' v side. */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min("v").as("m"))
    e.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .unionByName(mins.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** [[dupClusters]] plus the number of rounds it took to converge —
    * the probe/scale-test entry point (SCALING.md pins the O(log n)
    * round growth). */
  def dupClustersWithRounds(pairs: DataFrame, maxIter: Int = 50): (DataFrame, Int) = {
    val ss = pairs.sparkSession
    // materialize + rebuild (see docblock): flat lineage AND flat
    // sizeInBytes every round, on either Materialize branch
    def rows(m: Materialized) = ss.createDataFrame(m.df.rdd, m.df.schema)
    // canonicalize once, keeping (x, x) self-pairs so their nodes stay
    // in the label set (as their own singleton components)
    val m0 = Materialize(pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .distinct())
    val e0 = rows(m0)
    val nodes = e0.select(col("u").as("id"))
      .unionByName(e0.select(col("v").as("id"))).distinct()
    var e = e0.filter(col("u") =!= col("v"))
    // the previous round's output count IS this round's input count —
    // carrying it across rounds halves the per-round action count
    // (r20; the old form re-counted the same checkpointed set it had
    // counted as cNew one round earlier). Round 1 has no carried
    // count, so it counts its input once.
    var prevCount = -1L
    // a consumed round's blocks are RELEASED (r20) — else every round's
    // edge set stays pinned for the session, O(rounds × edges) — but
    // never e0's (the labels' singleton branch reads it) nor the final
    // round's (the returned labels read it): those two pin into the
    // query scope. A failure releases all.
    var prev = m0
    var cur = m0
    var it = 0
    var converged = false
    try {
      while (!converged && it < maxIter) {
        prev = cur
        cur = Materialize(smallStar(largeStar(e)))
        val e2 = rows(cur)
        // set equality via |A| == |B| ∧ B∖A = ∅ (both are distinct sets)
        val cOld = if (prevCount >= 0) prevCount else e.count()
        val cNew = e2.count()
        converged = cOld == cNew && e2.except(e).head(1).isEmpty
        if (prev ne m0) prev.release()
        e = e2
        prevCount = cNew
        it += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"dupClusters did not reach the star-forest fixpoint in $maxIter " +
            "rounds — refusing to return unconverged component ids; raise maxIter")
    } catch {
      case t: Throwable =>
        Seq(m0, prev, cur).foreach(_.release())
        throw t
    }
    Seq(m0, cur).distinct.foreach(graft.Scoped.current.own(_))
    // star forest: every non-center node has exactly one (node, center)
    // edge; centers (and isolated self-pair nodes) label themselves
    val labels = e.select(col("u").as("doc_id"), col("v").as("component_id"))
      .unionByName(
        nodes.join(e.select(col("u").as("id")), Seq("id"), "left_anti")
          .select(col("id").as("doc_id"), col("id").as("component_id")))
    (labels, it)
  }

  // ------------------------------------------------------- n-gram Jaccard

  /** Exact token-n-gram Jaccard over *discriminative* shingles inside a
    * blocking key. Shingles with document frequency above `maxDf` are
    * dropped (stop-shingle removal) BEFORE the self-join: a shingle
    * shared by d documents contributes d^2 join pairs, so without the df
    * cap one hot shingle turns the shuffle into a cross join — at corpus
    * scale this cap is what keeps the operator O(n * maxDf) instead of
    * O(n^2). High-df shingles carry no near-dup signal anyway (they are
    * the corpus' stopword phrases). Jaccard is then exact over the kept
    * shingle sets — deterministic and oracle-matchable. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        blockCol: Column, n: Int = 2,
                        minJaccard: Double = 0.0,
                        maxDf: Int = 20): DataFrame = {
    val ngramsUdf = udf((text: String) => shingleSet(text, n))
    // spread the NARROW pre-explode rows (r20; the r19 fixture-spread
    // pattern): the shingle UDF + explode over a few-split docs scan ran
    // as one task — repartition the (id, block, text) rows to cluster
    // width first so the kernel runs cluster-wide. NOT materialized
    // (measured both ways): the downstream multi-references share one
    // executed plan where ReusedExchange dedupes the exchange, and
    // eagerly serializing the exploded frame measured 1.6-2.5× SLOWER
    // (it is explosion-sized; the spread ships pre-explosion bytes).
    val sh = graft.Tables.spread(
        docs.select(col(idCol).as("id"), blockCol.as("block"),
          col(textCol).as("t")))
      .select(col("id"), col("block"),
        explode(ngramsUdf(col("t"))).as("shingle"))
    val rare = sh.groupBy("block", "shingle")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("block", "shingle")
    val kept = sh.join(rare, Seq("block", "shingle"))
    val counts = kept.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val inter = kept.as("a").join(kept.as("b"),
        col("a.block") === col("b.block") &&
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(counts.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(counts.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  // ------------------------------------------------- duplicate-span removal

  /** SUB-document exact dedup — the windowed rendition of ExactSubstr
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): where [[exactDedup]] drops whole duplicate
    * documents, this removes REPEATED SPANS (boilerplate headers,
    * license blocks, templated passages) while keeping the documents.
    * Every length-`n` token window is an occurrence; per distinct gram
    * the lexicographically first (doc, start) occurrence WINS, every
    * other occurrence marks its n tokens as duplicated; a token covered
    * by any duplicated window is removed and the document is rebuilt
    * from the survivors. (The suffix-array original removes maximal
    * repeats >= n tokens; fixed windows over-mark by at most n-1 tokens
    * at repeat boundaries and need no global suffix sort — each window
    * is its own key.)
    *
    * Scale shape: occurrences explode narrowly off the token array
    * (like t9's chunker); the winner choice is ONE gram-keyed
    * min(struct) groupBy and the verdicts come back on the SAME key, so
    * both exchanges carry (gram, doc, start) rows; span coverage then
    * re-keys by doc id — slim long pairs — and the rebuild is a narrow
    * array fold per document (positions x spans, bounded by doc
    * length^2/n). Both exchanges carry a 128-bit GRAM FINGERPRINT, not
    * the gram text: the occurrence projection maps each ~n-token window
    * string through two independently-seeded xxhash64 lanes (16-byte
    * struct key) BEFORE any shuffle, so shuffle width per occurrence is
    * fixed regardless of n. 128 bits because a 64-bit key
    * birthday-collides by ~2^32 grams — a count a 100 TB corpus
    * exceeds; semantics are identical in the collision-free regime the
    * dedup contract already assumes. Measured (SCALING.md, "Round 10:
    * d7 gram fingerprinting"; sf0.1
    * and 10x): total pipeline shuffle bytes drop 2.3-2.4x vs raw-string
    * keys at wall-time parity — less than the raw 130B->16B key ratio
    * because lz4 compressed the repeated gram text well and the
    * doc-keyed exchanges are unchanged (SCALING.md round-10 entry).
    *
    * @return (`idCol`, n_tok, n_removed, clean_text) — one row per doc
    *         with >= `n` tokens (shorter docs have no window; callers
    *         pass them through untouched).
    */
  def duplicateSpanRemoval(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 20): DataFrame = {
    require(n >= 2, s"span length must be >= 2, got $n")
    // the n-gram build + two-lane fingerprinting below is the heavy
    // single-pass kernel: spread a few-split scan to cluster width
    // first (no-op on a real lake — graft.Tables.spread docblock;
    // r19: d7 ×0.50, pipe7 ×0.65 measured)
    val arr = graft.Tables.spread(docs)
      .select(col(idCol).cast("long").as("id"),
        split(lower(trim(col(textCol))), "\\s+").as("toks"))
      .filter(size(col("toks")) >= n)
    val occ = arr.select(col("id"),
      posexplode(expr(
        s"transform(sequence(0, size(toks) - $n), i -> concat_ws(' ', slice(toks, i + 1, $n)))"))
        .as(Seq("s", "gram")))
      // 128-bit fingerprint projection — narrow, pre-shuffle (docblock).
      // Two FLAT long columns, not a struct: fixed-width primitive
      // grouping keys stay on HashAggregate's fast row-based hash map,
      // where a struct (or the raw string) key falls back to the slower
      // BytesToBytesMap path.
      .select(col("id"), col("s"),
        xxhash64(col("gram")).as("g1"),
        xxhash64(lit("graft/d7"), col("gram")).as("g2"))
    val winners = occ.groupBy("g1", "g2")
      .agg(min(struct(col("id"), col("s"))).as("w"))
    val dupSpans = occ.join(winners, Seq("g1", "g2"))
      .filter(!(col("id") === col("w.id") && col("s") === col("w.s")))
      .groupBy("id").agg(collect_list(col("s")).as("ss"))
    arr.join(dupSpans, Seq("id"), "left")
      .withColumn("kept", expr(
        s"filter(sequence(0, size(toks) - 1), i -> ss IS NULL OR NOT exists(ss, s -> s <= i AND i <= s + ${n - 1}))"))
      .select(col("id").as(idCol),
        size(col("toks")).as("n_tok"),
        (size(col("toks")) - size(col("kept"))).as("n_removed"),
        expr("concat_ws(' ', transform(kept, i -> toks[i]))").as("clean_text"))
  }
}
