package graft.operators

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Scoped.{Materialize, Materialized}

/** Distributed byte-pair-encoding TOKENIZER TRAINING (Sennrich et al.
  * 2016, "Neural Machine Translation of Rare Words with Subword Units" —
  * the learn_bpe algorithm) — the step a training-data pipeline runs
  * before token counting/packing means anything: the vocabulary itself
  * is learned from the corpus.
  *
  * Scale shape — the reason BPE trains fine on 100 TB:
  *   - ONE corpus-scale pass: the word-frequency collapse (tokenize →
  *     groupBy word). Everything after runs on the DISTINCT-word table,
  *     which grows sublinearly (Heaps' law) and is
  *     corpus-size-independent per merge round.
  *   - per round: adjacent-pair counts weighted by word frequency (an
  *     exchange bounded by vocab × avg word length), an argmax of ONE
  *     row to the driver (the merge decision — control plane, like
  *     KMeans' centroids), and a narrow per-word merge apply.
  *   - driver state: the merge list (numMerges pairs). Nothing else.
  *
  * Determinism: greedy left-to-right merge application (the reference
  * algorithm's order), and the argmax tie-breaks by (count DESC, left
  * ASC, right ASC) — total order, so the learned merges are a pure
  * function of the corpus. Pair counting counts OVERLAPPING adjacent
  * pairs ("aaa" contributes (a,a) twice), exactly like the reference's
  * get_stats; application merges non-overlapping occurrences left to
  * right, so a run of 2k 'a's becomes k 'aa's.
  *
  * The merge apply is a tight-loop UDF (same justification as
  * [[Dedup.minHashSignature]]: an array-HOF formulation re-evaluates
  * its inputs per lambda and cannot express the consumed-position
  * state); the cross-engine contract is the run-parity law — a greedy
  * left-to-right scan merges position i iff symbols (i, i+1) match and
  * i sits at an EVEN offset within its run of left-symbol repeats —
  * which is what the SQL oracle states with window functions.
  *
  * `</w>` is the end-of-word sentinel symbol (the reference's
  * convention), so merges can learn whole-word tokens and suffixes.
  */
object Bpe {

  val EndOfWord = "</w>"

  case class BpeModel(merges: DataFrame, vocabSeqs: DataFrame)

  private val mergeUdf = udf { (seq: Seq[String], a: String, b: String) =>
    val out = ArrayBuffer.empty[String]
    var i = 0
    val n = seq.length
    while (i < n) {
      if (i + 1 < n && seq(i) == a && seq(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += seq(i); i += 1 }
    }
    out.toSeq
  }

  /** Learn `numMerges` BPE merges from the corpus.
    *
    * Two execution paths, same algorithm, same output:
    *   - LOCAL (the common case): after the corpus-scale collapse, the
    *     distinct-word table is Heaps-bounded — if its estimated heap
    *     footprint fits `localVocabBytes`, collect (w, f, s) ONCE and
    *     run every merge round in tight driver-local Scala with
    *     incrementally-maintained pair counts (the reference learn_bpe
    *     optimization). This removes the 2-Spark-jobs-per-merge driver
    *     synchronization that made 10k-merge training hours of pure
    *     scheduler fixed cost: measured 1,000 merges in ~2 s locally vs
    *     ~17 min extrapolated for the distributed rounds (SCALING.md).
    *     The vocab table is control-plane state here, exactly like
    *     KMeans' centroids — collecting it is not a driver-side
    *     data-plane loop.
    *   - DISTRIBUTED: vocabs above the bound (billion-word corpora where
    *     even the distinct-word table is tens of GB) keep the per-round
    *     Spark jobs, whose exchanges are vocab-bounded.
    * Both paths share the exact tie-break total order — (count DESC,
    * left ASC, right ASC) under UTF-8 binary string comparison (what
    * Spark's orderBy on StringType does) — so the learned merges are a
    * pure function of the corpus regardless of path; BpeSpec pins
    * path-equality on a nontrivial corpus.
    *
    * @return merges — (rank, left, right, freq): the learned merge table
    *         in training order; vocabSeqs — (w, f, s): every distinct
    *         word with its frequency and FINAL symbol sequence (the
    *         trained tokenizer's lookup table — broadcast it to
    *         tokenize the corpus, [[tokenCountsBySource]]). vocabSeqs
    *         stays resident (vocab-bounded — a local relation on the
    *         local path, the final round's materialization on the
    *         distributed one, which pins into the query scope
    *         ([[graft.Scoped.current]]) and is released with it).
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
            vocabParts: Int = 8,
            localVocabBytes: Long = 256L << 20): BpeModel = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = docs.sparkSession
    val words = docs
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("f"))
    Materialize.scoped { sc =>
      val seqs = sc.persist(words
        // filter the trailing "" that Spark's limit=-1 split("") keeps
        .withColumn("s", concat(
          expr("filter(split(w, ''), x -> x <> '')"), array(lit(EndOfWord))))
        .select("w", "f", "s")
        // coalesce the vocab-bounded table: every merge round runs 2 jobs
        // over it, and at shuffle-partition width (32+) the rounds pay
        // 32 mostly-empty tasks of scheduling overhead each — measured
        // ~1 s/round of pure overhead in pipe7. The corpus-scale collapse
        // above keeps full map-side width; only the reduce/round side
        // narrows. Heaps' law keeps vocab ≪ corpus at any sf; raise
        // vocabParts for billion-word vocabs.
        .coalesce(vocabParts)) // vocab-bounded: the corpus-scale pass is behind us

      // Size the vocab (materializes the cache — this job replaces the
      // first round's implicit materialization, so it costs nothing
      // extra). Heap estimate: each 1-char symbol String is ~48 B on a
      // 64-bit JVM and a word of c chars carries c+1 of them plus the
      // word string and tuple overhead — 64 B/char + 160 B/word is
      // deliberately conservative (over-estimating keeps oversized vocabs
      // on the distributed path, which is the safe failure mode).
      val stats = seqs.agg(
        count(lit(1)).as("n"), sum(length(col("w"))).as("chars")).head()
      val nWords = stats.getLong(0)
      val totalChars = if (stats.isNullAt(1)) 0L else stats.getLong(1)
      val estBytes = nWords * 160L + totalChars * 64L

      if (estBytes > localVocabBytes) trainRounds(seqs, numMerges)
      else {
        val vocab = seqs.select("w", "f", "s").collect().map { r =>
          (r.getString(0), r.getLong(1),
            r.getSeq[String](2).toArray)
        }
        val (merges, finalVocab) = trainLocal(vocab, numMerges)
        import spark.implicits._
        BpeModel(
          merges.toSeq.toDF("rank", "lhs", "rhs", "freq"),
          finalVocab.toSeq.map { case (w, f, s) => (w, f, s.toSeq) }
            .toDF("w", "f", "s"))
      }
    }
  }

  /** The distributed path of [[train]]: one pair-count job and one
    * merge materialization per round over the cached `base`. */
  private def trainRounds(base: DataFrame, numMerges: Int): BpeModel = {
    val spark = base.sparkSession
    var seqs = base
    val merges = ArrayBuffer.empty[(Int, String, String, Long)]
    // the latest round's materialization: the previous one is freed
    // each round (no O(numMerges) vocab copies); a failure frees it
    var backing: Option[Materialized] = None
    try {
      for (r <- 1 to numMerges) {
        val best = seqs.filter(size(col("s")) >= 2)
          .select(col("f"), explode(expr(
            "transform(sequence(0, size(s) - 2), i -> struct(s[i] AS a, s[i+1] AS b))"))
            .as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum("f").as("cnt"))
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(1).collect()
        require(best.nonEmpty,
          s"corpus exhausted after ${r - 1} merges (every word is one symbol)")
        val (a, b, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r, a, b, cnt))
        // lineage-truncating swap per round: materialize the merged
        // table (round r never rebuilds the r-deep UDF chain) and
        // REBUILD the frame over its rows (the analyzed plan stays flat
        // on either Materialize branch). A plain cache-swap leaves the
        // plan r layers deep and plan-time work grows O(r²) — measured:
        // 25 merges took 19+ MINUTES of plan-time CPU vs seconds.
        val next = Materialize(
          seqs.withColumn("s", mergeUdf(col("s"), lit(a), lit(b))))
        backing.foreach(_.release())
        backing = Some(next)
        seqs = spark.createDataFrame(next.df.rdd, next.df.schema)
      }
    } catch {
      case t: Throwable =>
        backing.foreach(_.release())
        throw t
    }
    // the last round backs the returned vocabSeqs
    backing.foreach(graft.Scoped.current.own(_))
    import spark.implicits._
    BpeModel(
      merges.toSeq.toDF("rank", "lhs", "rhs", "freq"),
      seqs.select("w", "f", "s"))
  }

  /** UTF-8 binary "less than" — the comparison Spark's orderBy applies
    * to StringType (UTF8String.binaryCompare), re-stated locally so the
    * local path's tie-breaks match the distributed path byte-for-byte
    * (Java String.compareTo is UTF-16 code-unit order, which disagrees
    * with code-point order for supplementary characters). */
  private def utf8Less(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }

  /** The merge-apply kernel, shared in spirit with [[mergeUdf]]: greedy
    * left-to-right non-overlapping replacement of adjacent (a, b). */
  private def mergeSeq(seq: Array[String], a: String, b: String)
      : Array[String] = {
    val out = ArrayBuffer.empty[String]
    var i = 0
    val n = seq.length
    while (i < n) {
      if (i + 1 < n && seq(i) == a && seq(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += seq(i); i += 1 }
    }
    out.toArray
  }

  /** Driver-local merge rounds over the collected vocab table —
    * identical algorithm to the distributed rounds (overlapping pair
    * counts weighted by word frequency, greedy left-to-right apply,
    * (count DESC, left ASC, right ASC) argmax under UTF-8 order) with
    * pair counts maintained INCREMENTALLY: round r re-counts only the
    * words that contain the merged pair, so 10k merges cost O(total
    * affected symbols), not O(rounds × vocab) — the optimization the
    * reference learn_bpe applies for the same reason. */
  private[graft] def trainLocal(
      vocab: Array[(String, Long, Array[String])], numMerges: Int)
      : (ArrayBuffer[(Int, String, String, Long)],
         Array[(String, Long, Array[String])]) = {
    val n = vocab.length
    val seqs = new Array[Array[String]](n)
    val freqs = new Array[Long](n)
    var i = 0
    while (i < n) { seqs(i) = vocab(i)._3; freqs(i) = vocab(i)._2; i += 1 }

    // counts: overlapping adjacent-pair totals weighted by word freq.
    // where: which word indices currently CONTAIN each pair (membership
    // only — occurrence multiplicity lives in counts).
    val counts = mutable.HashMap.empty[(String, String), Long]
    val where = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]

    def applyDelta(idx: Int, s: Array[String], sign: Long): Unit = {
      val f = freqs(idx) * sign
      var j = 0
      while (j + 1 < s.length) {
        val p = (s(j), s(j + 1))
        val c = counts.getOrElse(p, 0L) + f
        if (c == 0L) counts.remove(p) else counts.update(p, c)
        j += 1
      }
      val seen = mutable.HashSet.empty[(String, String)]
      var k = 0
      while (k + 1 < s.length) {
        val p = (s(k), s(k + 1))
        if (seen.add(p)) {
          if (sign > 0) where.getOrElseUpdate(p, mutable.HashSet.empty) += idx
          else where.get(p).foreach { set =>
            set -= idx
            if (set.isEmpty) where.remove(p)
          }
        }
        k += 1
      }
    }

    i = 0
    while (i < n) { applyDelta(i, seqs(i), 1L); i += 1 }

    val merges = ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    while (r <= numMerges) {
      require(counts.nonEmpty,
        s"corpus exhausted after ${r - 1} merges (every word is one symbol)")
      var bestPair: (String, String) = null
      var bestCnt = Long.MinValue
      counts.foreach { case (p, c) =>
        if (c > bestCnt ||
            (c == bestCnt && (utf8Less(p._1, bestPair._1) ||
              (p._1 == bestPair._1 && utf8Less(p._2, bestPair._2))))) {
          bestPair = p; bestCnt = c
        }
      }
      merges += ((r, bestPair._1, bestPair._2, bestCnt))
      val affected = where.get(bestPair).map(_.toArray).getOrElse(Array.empty)
      var t = 0
      while (t < affected.length) {
        val idx = affected(t)
        applyDelta(idx, seqs(idx), -1L)
        seqs(idx) = mergeSeq(seqs(idx), bestPair._1, bestPair._2)
        applyDelta(idx, seqs(idx), 1L)
        t += 1
      }
      r += 1
    }
    (merges, Array.tabulate(n)(j => (vocab(j)._1, freqs(j), seqs(j))))
  }

  /** Tokenize the corpus under a trained model: per-word token counts
    * come from the vocab table (broadcast — vocab-bounded), so the
    * corpus-scale side is ONE scan + narrow explode; no text shuffles.
    * Words outside the vocab fall back to character count + 1 (their
    * untrained symbol sequence length). */
  def tokenCountsBySource(docs: DataFrame, textCol: String,
                          groupCol: String, model: BpeModel): DataFrame = {
    val wordTok = model.vocabSeqs
      .select(col("w"), size(col("s")).as("n_tok"))
    docs
      .select(col(groupCol),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(wordTok), Seq("w"), "left")
      .withColumn("n_tok",
        coalesce(col("n_tok"), length(col("w")) + lit(1)))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_tokens"))
  }
}
