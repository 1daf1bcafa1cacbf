package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Training-data-pipeline operators over documents/embeddings (the
  * beyond-reference surface): dedup, text analysis, similarity search,
  * multimodal plumbing. Oracle-checked where ANSI SQL can express the
  * semantics; hash-function-based ops (MinHash, SimHash, hyperplane LSH)
  * are rows-only entries backed by ScalaTest invariants.
  */
object TextQueries {

  // --------------------------------------------------------------- dedup

  /** D1 exact dedup: normalized-fingerprint groups with canonical ids. */
  def d1ExactDedup(s: SparkSession, d: String): DataFrame =
    Dedup.exactDupGroups(Tables.documents(s, d), "doc_id", "text")

  val d1Sql: String =
    """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
      |       MIN(doc_id) AS canonical_id, COUNT(*) AS n_docs
      |FROM documents GROUP BY 1""".stripMargin

  /** D2 n-gram Jaccard near-dup pairs, blocked by lang. The 0.5
    * threshold isolates the planted near-duplicate pairs. */
  def d2NgramJaccard(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
      col("lang"), n = 2, minJaccard = 0.5)

  val d2Sql: String =
    """WITH toks AS (SELECT doc_id, lang,
      |        regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
      |sh AS (SELECT doc_id, lang, unnest(list_distinct(
      |        list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))) AS s
      |       FROM toks),
      |rare AS (SELECT lang, s FROM (SELECT lang, s, COUNT(*) df FROM sh GROUP BY 1, 2)
      |         WHERE df <= 20),
      |kept AS (SELECT sh.doc_id, sh.lang, sh.s FROM sh
      |         JOIN rare ON sh.lang = rare.lang AND sh.s = rare.s),
      |cnt AS (SELECT doc_id, COUNT(*) n FROM kept GROUP BY 1),
      |inter AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) ni FROM kept a
      |          JOIN kept b ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT ia AS id_a, ib AS id_b,
      |       CAST(ni AS DOUBLE) / (ca.n + cb.n - ni) AS jaccard
      |FROM inter JOIN cnt ca ON ca.doc_id = ia JOIN cnt cb ON cb.doc_id = ib
      |WHERE CAST(ni AS DOUBLE) / (ca.n + cb.n - ni) >= 0.5""".stripMargin

  /** D3 MinHash+LSH candidate pairs (shingle → minhash → band → bucket
    * join). Fully oracled since round 9: [[d3Sql]] reruns the ENTIRE
    * signature pipeline inside DuckDB — FNV-1a token/shingle hashing
    * with 64-bit wraparound via HUGEINT modular arithmetic, the same
    * (a,b) universal-hash family embedded as literals from
    * [[Dedup.hashCoefficients]] (one source of truth), per-slot mins,
    * banding — with one deliberate difference: Spark joins on xxhash64
    * band KEYS (compact 8-byte shuffle keys, the 100 TB design), while
    * the oracle declares candidates by raw band-slice EQUALITY. Key
    * equality ⟺ slice equality absent an xxhash64 collision, so the
    * oracle also guards the collision assumption the banding relies on. */
  def d3MinHashLsh(s: SparkSession, d: String): DataFrame =
    Dedup.minHashCandidates(Tables.documents(s, d), "doc_id", "text")

  /** The d3 oracle: engine-independent ground truth, not a pinned
    * constant. The FNV-1a fold needs 64-bit WRAPPING multiply, which
    * DuckDB's BIGINT refuses (overflow error): each step routes the
    * product through HUGEINT mod 2^64 and re-signs, with xor done in
    * the signed domain (bitwise-identical to unsigned xor under two's
    * complement). list_reduce binds the fold; CTE stages bind names so
    * no sub-expression is ever duplicated. */
  // Shared FNV-1a-in-SQL helpers for the d3/d4 oracles: the fold needs a
  // 64-bit WRAPPING multiply, which DuckDB's BIGINT refuses (overflow
  // error) — each step routes the product through HUGEINT mod 2^64 and
  // re-signs, with xor done in the signed domain (bitwise-identical to
  // unsigned xor under two's complement).
  private def s2u(x: String) =
    s"(CASE WHEN ($x) < 0 THEN ($x)::HUGEINT + 18446744073709551616 ELSE ($x)::HUGEINT END)"
  private def u2s(x: String) =
    s"CAST(CASE WHEN ($x) >= 9223372036854775808 THEN ($x) - 18446744073709551616 ELSE ($x) END AS BIGINT)"
  private def fnvStep(h: String, v: String) =
    u2s(s"(${s2u(s"xor($h, $v)")} * 1099511628211) % 18446744073709551616::HUGEINT")
  private val fnvH0 = "-3750763034362895579" // 0xcbf29ce484222325 as signed
  /** FNV-1a over a token's characters as a list_reduce fold. The filter
    * handles the empty token: DuckDB splits '' into [''] whose
    * unicode('') is -1 and would fold ONE step where Scala's hash64("")
    * folds none — an empty/whitespace-only document must hash to the
    * untouched offset basis on both engines. */
  private def fnvStrSql(t: String) =
    s"""list_reduce(list_prepend(${fnvH0}::BIGINT,
       |      list_transform(list_filter(regexp_split_to_array($t, ''), c -> c <> ''),
       |                     c -> unicode(c)::BIGINT)),
       |    (h, v) -> ${fnvStep("h", "v")})""".stripMargin

  val d3Sql: String = {
    val cfg = Dedup.MinHashConfig()
    val (as, bs) = Dedup.hashCoefficients(cfg)
    val abRows = as.indices.map(k => s"(${k}, ${as(k)}, ${bs(k)})").mkString(", ")
    val h0 = fnvH0
    val p = "2147483647"
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
       |  FROM documents
       |), ths AS (
       |  SELECT doc_id, list_transform(tk, t -> ${fnvStrSql("t")}) AS th
       |  FROM toks WHERE len(tk) >= ${cfg.shingleSize}
       |), shraw AS (
       |  SELECT doc_id, list_transform(generate_series(1, len(th) - ${cfg.shingleSize - 1}),
       |    i -> list_reduce(list_prepend(${h0}::BIGINT,
       |           [${(0 until cfg.shingleSize).map(j => s"th[i+$j]").mkString(", ")}]),
       |         (h, v) -> ${fnvStep("h", "v")})) AS shr
       |  FROM ths
       |), shs AS (
       |  SELECT doc_id, list_transform(shr, x -> ((x % $p) + $p) % $p) AS sh FROM shraw
       |), ab(k, a, b) AS (VALUES $abRows),
       |sig AS (
       |  SELECT doc_id, k, k // ${cfg.rowsPerBand} AS band,
       |         MIN((u.s * a + b) % $p) AS v
       |  FROM shs, UNNEST(sh) AS u(s), ab
       |  GROUP BY doc_id, k
       |), bandsig AS (
       |  SELECT doc_id, band, list(v ORDER BY k) AS bsig FROM sig GROUP BY doc_id, band
       |), pairs AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bandsig x JOIN bandsig y
       |    ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id
       |)
       |SELECT p.id_a, p.id_b,
       |       SUM(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) / ${cfg.numHashes}.0 AS est_jaccard
       |FROM pairs p
       |JOIN sig sa ON sa.doc_id = p.id_a
       |JOIN sig sb ON sb.doc_id = p.id_b AND sb.k = sa.k
       |GROUP BY p.id_a, p.id_b
       |HAVING est_jaccard >= 0.5""".stripMargin
  }

  /** D4 per-doc SimHash signatures (emitted per doc so the result is
    * non-empty regardless of how many near-dup pairs exist at this
    * scale; the chunk-blocked pair join is gated by d5). Fully oracled
    * since round 9: [[d4Sql]] recomputes the majority-vote signature in
    * DuckDB over the same FNV-1a token hashes as the d3 oracle. */
  def d4SimHash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      Dedup.simHash(col("text")).as("simhash"))

  /** The d4 oracle: token-hash bits are extracted with exact HUGEINT
    * divide-by-2^b (DuckDB's >> on a signed BIGINT would smear the sign
    * bit), the per-bit majority is 2*set > n_tokens (== the UDF's
    * +1/-1 counter going positive), and the signature reassembles as a
    * HUGEINT sum of set bit weights re-signed to the UDF's BIGINT. */
  val d4Sql: String = {
    val bpRows = (0 until 64)
      .map(b => s"($b, ${BigInt(1) << b}::HUGEINT)").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
       |  FROM documents
       |), ths AS (
       |  SELECT doc_id, list_transform(tk, t -> ${fnvStrSql("t")}) AS th
       |  FROM toks
       |), tok AS (
       |  SELECT doc_id, ${s2u("u.h")} AS hu FROM ths, UNNEST(th) AS u(h)
       |), cnt AS (
       |  SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id
       |), bp(b, pw) AS (VALUES $bpRows),
       |bits AS (
       |  SELECT doc_id, b,
       |         SUM(CASE WHEN (hu // pw) % 2 = 1 THEN 1 ELSE 0 END) AS nset
       |  FROM tok, bp GROUP BY doc_id, b
       |), sig AS (
       |  SELECT bits.doc_id,
       |         SUM(CASE WHEN 2 * nset > n THEN pw ELSE 0::HUGEINT END) AS sraw
       |  FROM bits JOIN cnt ON cnt.doc_id = bits.doc_id
       |  JOIN bp ON bp.b = bits.b
       |  GROUP BY bits.doc_id
       |)
       |SELECT doc_id, ${u2s("sraw")} AS simhash FROM sig""".stripMargin
  }

  /** D6: duplicate-cluster resolution — [[Dedup.dupClusters]] connected
    * components over the d2 candidate pairs (the post-candidate step a
    * dedup pipeline runs to pick one canonical doc per transitive
    * near-dup group). Fully oracled: DuckDB computes the same
    * components with a recursive-CTE reachability closure over the d2
    * pair SQL, so the iterative min-label propagation answers to an
    * engine-independent ground truth (not a pinned constant). */
  def d6DupClusters(s: SparkSession, d: String): DataFrame =
    Dedup.dupClusters(d2NgramJaccard(s, d).select("id_a", "id_b"))

  val d6Sql: String =
    s"""WITH RECURSIVE pairs AS ($d2Sql),
       |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |reach(u, r) AS (SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |   UNION SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u)
       |SELECT u AS doc_id, MIN(r) AS component_id FROM reach GROUP BY u""".stripMargin

  /** D7 — duplicate-SPAN removal ([[graft.operators.Dedup
    * .duplicateSpanRemoval]], the windowed ExactSubstr of Lee et al.
    * 2022): every repeated 20-token window loses all occurrences except
    * the lexicographically first (doc, start); covered tokens are
    * removed and each document is rebuilt from the survivors. The
    * fixture corpus carries natural repeated spans (747 duplicated
    * 20-grams at sf0.01), so the entry exercises real removals, and the
    * full rebuilt text rides the hash — a mis-chosen winner, an
    * off-by-one in span coverage, or a broken rebuild all break it. The
    * oracle restates occurrence windows, the first-wins rule
    * (ROW_NUMBER), and the coverage fold with DuckDB list lambdas —
    * engine-independent ground truth, no pins. */
  def d7SpanDedup(s: SparkSession, d: String): DataFrame =
    Dedup.duplicateSpanRemoval(Tables.documents(s, d), "doc_id", "text",
      n = 20)

  /** The d7 span-removal replay as a CTE chain ending in `spanclean`
    * (doc_id, n_tok, n_removed, clean_text) — shared verbatim by the d7
    * oracle and by pipe7, which feeds the CLEANED corpus onward. */
  private val d7Ctes: String =
    """arr AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |docs20 AS (SELECT * FROM arr WHERE len(toks) >= 20),
      |occ AS (
      |  SELECT doc_id, u.i AS s,
      |         array_to_string(toks[u.i+1:u.i+20], ' ') AS gram
      |  FROM docs20, unnest(range(0, len(toks) - 19)) u(i)),
      |dup AS (
      |  SELECT doc_id, s FROM (
      |    SELECT doc_id, s, row_number() OVER (
      |      PARTITION BY gram ORDER BY doc_id, s) AS rn
      |    FROM occ) WHERE rn > 1),
      |sp AS (SELECT doc_id, list(s) AS ss FROM dup GROUP BY doc_id),
      |cov AS (
      |  SELECT a.doc_id, a.toks,
      |         list_filter(range(0, len(a.toks)),
      |           i -> sp.ss IS NULL OR
      |                len(list_filter(sp.ss, s -> s <= i AND i <= s + 19)) = 0)
      |           AS kept
      |  FROM docs20 a LEFT JOIN sp ON a.doc_id = sp.doc_id),
      |spanclean AS (
      |  SELECT doc_id, CAST(len(toks) AS INT) AS n_tok,
      |         CAST(len(toks) - len(kept) AS INT) AS n_removed,
      |         COALESCE(array_to_string(list_transform(kept, i -> toks[i+1]),
      |                                  ' '), '') AS clean_text
      |  FROM cov)""".stripMargin

  val d7Sql: String =
    "WITH " + d7Ctes + "\nSELECT doc_id, n_tok, n_removed, clean_text FROM spanclean"

  /** BPE1 — distributed BPE tokenizer TRAINING ([[graft.operators.Bpe
    * .train]], Sennrich et al. 2016): 6 merge rounds learned from the
    * documents corpus, each round an adjacent-pair count weighted by
    * word frequency, a (cnt DESC, lhs, rhs) argmax, and a greedy
    * left-to-right merge apply over the distinct-word table. The oracle
    * replays THE ENTIRE TRAINING in SQL — 6 unrolled MATERIALIZED
    * stages (the e4 discipline: plain CTEs re-inline down the chain) in
    * which the greedy apply is stated as the RUN-PARITY law: position i
    * merges iff (s_i, s_i+1) matches the round's best pair and, when
    * lhs == rhs, i sits at an even offset within its run of repeats —
    * provably equivalent to the scan order (a merge can never consume a
    * run head from the left, since that would need the same pair ending
    * there). A wrong count, a broken tie-break, or a misapplied merge
    * in ANY round shifts every later round and breaks the hash. */
  def bpe1TrainMerges(s: SparkSession, d: String): DataFrame =
    graft.operators.Bpe.train(Tables.documents(s, d), "text", BpeRounds)
      .merges

  /** BPE2 — tokenize the corpus under the bpe1-trained model: the
    * vocab's final symbol sequences become a broadcast word → token
    * count table; the corpus side is one scan + narrow explode, no text
    * shuffle. Oracle: the same 6-round chain, then the join restated. */
  def bpe2TokenCounts(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val model = graft.operators.Bpe.train(docs, "text", BpeRounds)
    graft.operators.Bpe.tokenCountsBySource(docs, "text", "source", model)
  }

  private[graft] val BpeRounds = 6

  /** The 6-round training chain as MATERIALIZED CTEs ending in
    * `seqs{BpeRounds}` (w, f, s) and per-round `best{r}` — shared by
    * the bpe1 (merge table), bpe2 (tokenization) and pipe7 (cleaned
    * corpus) oracles. `src` must expose a `text` column. */
  private def bpeCtes(rounds: Int, src: String = "documents"): String = {
    val init =
      s"""w0 AS MATERIALIZED (
        |  SELECT word AS w, CAST(COUNT(*) AS BIGINT) AS f
        |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
        |        FROM $src)
        |  WHERE word <> '' GROUP BY 1),
        |seqs0 AS MATERIALIZED (
        |  SELECT w, f,
        |         list_append(list_transform(range(1, len(w) + 1),
        |                                    i -> w[i:i]), '</w>') AS s
        |  FROM w0)""".stripMargin
    val stages = (1 to rounds).map { r =>
      val p = r - 1
      s"""pr$r AS MATERIALIZED (
         |  SELECT s[u.i] AS a, s[u.i+1] AS b, CAST(SUM(f) AS BIGINT) AS cnt
         |  FROM seqs$p, unnest(range(1, len(s))) u(i)
         |  GROUP BY 1, 2),
         |best$r AS MATERIALIZED (
         |  SELECT a, b, cnt FROM pr$r ORDER BY cnt DESC, a, b LIMIT 1),
         |pos$r AS MATERIALIZED (
         |  SELECT q.w, q.f, u.i AS i, s[u.i] AS sym
         |  FROM seqs$p q, unnest(range(1, len(s) + 1)) u(i)),
         |runa$r AS (
         |  SELECT p.w, p.i,
         |         p.i - ROW_NUMBER() OVER (PARTITION BY p.w ORDER BY p.i) AS grp
         |  FROM pos$r p, best$r b WHERE p.sym = b.a),
         |runo$r AS (
         |  SELECT w, i, i - MIN(i) OVER (PARTITION BY w, grp) AS off
         |  FROM runa$r),
         |mt$r AS MATERIALIZED (
         |  SELECT p.w, p.i
         |  FROM pos$r p
         |  JOIN best$r bb ON p.sym = bb.a
         |  JOIN pos$r p2 ON p2.w = p.w AND p2.i = p.i + 1 AND p2.sym = bb.b
         |  JOIN runo$r ro ON ro.w = p.w AND ro.i = p.i
         |  WHERE bb.a <> bb.b OR ro.off % 2 = 0),
         |tk$r AS MATERIALIZED (
         |  SELECT p.w, p.f, p.i,
         |         CASE WHEN m1.i IS NOT NULL
         |              THEN (SELECT a || b FROM best$r) ELSE p.sym END AS tok
         |  FROM pos$r p
         |  LEFT JOIN mt$r m1 ON m1.w = p.w AND m1.i = p.i
         |  LEFT JOIN mt$r m0 ON m0.w = p.w AND m0.i = p.i - 1
         |  WHERE m0.i IS NULL),
         |seqs$r AS MATERIALIZED (
         |  SELECT w, f, list(tok ORDER BY i) AS s FROM tk$r GROUP BY w, f)""".stripMargin
    }
    (init +: stages).mkString(",\n")
  }

  val bpe1Sql: String = {
    val union = (1 to BpeRounds).map(r =>
      s"""SELECT $r AS "rank", a AS lhs, b AS rhs, cnt AS freq FROM best$r""")
      .mkString("\nUNION ALL\n")
    "WITH " + bpeCtes(BpeRounds) + "\n" + union
  }

  /** The bpe2 accounting tail over a trained chain: word → token-count
    * lookup joined onto the corpus explode. */
  private def bpeAccountingSql(src: String): String =
    s"""wt AS (SELECT w, CAST(len(s) AS INT) AS n_tok FROM seqs$BpeRounds),
       |tw AS (SELECT source, unnest(string_split_regex(lower(trim(text)),
       |                                                '\\s+')) AS word
       |       FROM $src)
       |SELECT source, COUNT(*) AS n_words,
       |       CAST(SUM(COALESCE(wt.n_tok, len(word) + 1)) AS BIGINT)
       |         AS n_tokens
       |FROM tw LEFT JOIN wt ON wt.w = tw.word
       |WHERE word <> '' GROUP BY 1""".stripMargin

  val bpe2Sql: String =
    "WITH " + bpeCtes(BpeRounds) + ",\n" + bpeAccountingSql("documents")

  /** pipe7's span-cleaned corpus. The persist is load-bearing: the
    * cleaned corpus feeds THREE consumers (BPE training's vocab
    * collapse, the tokenize pass, the per-source doc counts); without
    * it each one re-runs the full d7 span-removal chain — measured 3x
    * the whole entry's cost. At 100 TB this is the
    * standard "materialize the cleaned corpus once, then train and
    * tokenize against it" stage (disk-backed, corpus-scale). It pins
    * into the query scope. */
  private def pipe7Cleaned(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    graft.Scoped.current.persist(graft.operators.Dedup
      .duplicateSpanRemoval(docs, "doc_id", "text", n = 20)
      .join(docs.select("doc_id", "source"), "doc_id")
      .filter(col("n_removed") * 5 < col("n_tok"))
      .select(col("doc_id"), col("source"), col("clean_text")))
  }

  /** PIPE7 — the CAPSTONE pretraining-data pipeline, composing this
    * round's operators end to end: duplicate-SPAN removal (d7) cleans
    * boilerplate out of every document, a content gate drops documents
    * that lost ≥ 20% of their tokens to duplication (mostly-template
    * docs; fully-removed and sub-20-token docs fall out with them), BPE
    * trains its merge table ON THE CLEANED CORPUS (the order matters —
    * tokenizers learned on dirty corpora waste merges on boilerplate),
    * and the trained model tokenizes the survivors into per-source
    * word/token budgets. The oracle chains the d7 span-removal CTEs
    * into the 6-round BPE training CTEs over the cleaned relation —
    * ~60 stages, every one hash-gated through the final accounting: a
    * wrong winner in span removal shifts the cleaned text, which shifts
    * the merge table, which shifts every token count. */
  def pipe7CleanTrainTokenize(s: SparkSession, d: String): DataFrame = {
    val cleaned = pipe7Cleaned(s, d)
    val model = graft.operators.Bpe.train(cleaned, "clean_text", BpeRounds)
    graft.operators.Bpe
      .tokenCountsBySource(cleaned, "clean_text", "source", model)
      .join(cleaned.groupBy("source").agg(count(lit(1)).as("n_docs")),
        "source")
  }

  val pipe7Sql: String =
    "WITH " + d7Ctes + ",\n" +
      """kept AS (
        |  SELECT c.doc_id, d.source, c.clean_text AS text
        |  FROM spanclean c JOIN documents d USING (doc_id)
        |  WHERE c.n_removed * 5 < c.n_tok),
        |""".stripMargin +
      bpeCtes(BpeRounds, src = "kept") + ",\n" +
      """nd AS (SELECT source, COUNT(*) AS n_docs FROM kept GROUP BY 1),
        |acct AS (
        |WITH """.stripMargin +
      bpeAccountingSql("kept") + ")\n" +
      "SELECT a.source, a.n_words, a.n_tokens, nd.n_docs\n" +
      "FROM acct a JOIN nd USING (source)"

  /** D5: self-scoring dedup gate — the e5 trick applied to the two
    * hash-based near-dup paths. Ground truth is EXACT 3-gram Jaccard >=
    * 0.5 over the same shingle domain MinHash estimates (lowercased
    * whitespace tokens, distinct 3-gram shingles), computed by the
    * oracled [[Dedup.ngramJaccardPairs]] operator with the df cap off
    * (exactness matters here; the cap is the production-scale knob).
    * Per method the entry pins TWO integers: the candidate-pair count it
    * emits (minhash: est_jaccard >= 0.5 pairs; simhash: Hamming <= 3
    * pairs) and floor(100·recall) against the truth set; a 'truth' row
    * pins the truth-set size itself so fixture drift is self-evident.
    * Every input is deterministic (FNV/seeded hash families, exact
    * joins), so the result is a CONSTANT per dataset — any change to the
    * signature scheme, banding, chunk blocking or thresholds moves these
    * integers and breaks the hash gate. This converts d3/d4 from
    * rows-only entries into regression-gated ones.
    *
    * READ THE PINS IN CONTEXT: minhash at 16 bands x 4 rows catches
    * J >~ 0.5 probabilistically — sub-100 recall on pairs near the 0.5
    * threshold is the designed S-curve, not a defect; the planted
    * near-identical pairs (J >= 0.96) are all caught (the ScalaTest
    * invariant). SimHash answers a DIFFERENT similarity (token-multiset
    * cosine, Hamming <= 3 is near-identical only), so its recall against
    * a J >= 0.5 truth set is structurally low — it is pinned for
    * regression detection, not as a quality claim. */
  def d5DedupRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    // NOT materialized (r20, measured): truth/cands are referenced
    // multiple times but all references live in ONE executed plan, where
    // ReusedExchange already dedupes the expensive subtrees — an eager
    // checkpoint here only added barriers (d5 1.99 -> 4.96 s A/B)
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text", lit(1),
        n = 3, minJaccard = 0.5, maxDf = Int.MaxValue)
      .select("id_a", "id_b")
    val cands = Dedup.minHashCandidates(docs, "doc_id", "text")
        .select("id_a", "id_b").withColumn("method", lit("minhash"))
      .unionByName(Dedup.simHashCandidates(docs, "doc_id", "text")
        .select("id_a", "id_b").withColumn("method", lit("simhash")))
    val nPairs = cands.groupBy("method").agg(count(lit(1)).as("n_pairs"))
    val hits = cands.join(truth, Seq("id_a", "id_b"))
      .groupBy("method").agg(count(lit(1)).as("hits"))
    // seed frame: a method emitting ZERO pairs must still pin its row
    val seed = Seq("minhash", "simhash").toDF("method")
    seed
      .join(nPairs, Seq("method"), "left")
      .join(hits, Seq("method"), "left")
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .select(col("method"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        floor(coalesce(col("hits"), lit(0L)) * 100 / col("n_truth"))
          .cast("long").as("recall_pct"))
      .unionByName(truth.agg(count(lit(1)).as("n_pairs"))
        .select(lit("truth").as("method"), col("n_pairs"),
          lit(100L).as("recall_pct")))
  }

  /** Constants measured once PER SF on the driver testdata
    * (deterministic — see [[d5DedupRecall]]), dispatched on the
    * events-table row count (the only marker distinguishing sf0.001
    * from sf0.01 — their documents tables have the same COUNT with
    * different content). An unknown sf selects ZERO rows and fails the
    * row-count compare loudly rather than matching stale constants.
    * Re-derive after a fixture regeneration with
    * `runMain graft.tools.QueryProbe show d5_dedup_recall <sfDir>` — a failure
    * here with no code change means the FIXTURE moved, not the dedup
    * paths. */
  val d5Sql: String =
    """SELECT method, n_pairs, recall_pct FROM (VALUES
      |  (1000,   'minhash', CAST(28 AS BIGINT),  CAST(100 AS BIGINT)),
      |  (1000,   'simhash', CAST(24 AS BIGINT),  CAST(78 AS BIGINT)),
      |  (1000,   'truth',   CAST(28 AS BIGINT),  CAST(100 AS BIGINT)),
      |  (10000,  'minhash', CAST(25 AS BIGINT),  CAST(100 AS BIGINT)),
      |  (10000,  'simhash', CAST(17 AS BIGINT),  CAST(64 AS BIGINT)),
      |  (10000,  'truth',   CAST(25 AS BIGINT),  CAST(100 AS BIGINT)),
      |  (100000, 'minhash', CAST(256 AS BIGINT), CAST(100 AS BIGINT)),
      |  (100000, 'simhash', CAST(416 AS BIGINT), CAST(73 AS BIGINT)),
      |  (100000, 'truth',   CAST(256 AS BIGINT), CAST(100 AS BIGINT)))
      |  t(sf_n, method, n_pairs, recall_pct)
      |WHERE sf_n = (SELECT COUNT(*) FROM events)""".stripMargin

  // ------------------------------------------------------- text analysis

  /** T1 language-ID heuristic (stopword-profile argmax). */
  def t1LangId(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), col("lang"),
      TextAnalysis.langId(col("text")).as("guess"))

  /** DuckDB rendering of [[TextAnalysis.langId]] over column `text` —
    * shared by the t1 oracle and the pipe1 language gate. Each term
    * divides the length delta by the stopword's length — occurrence
    * COUNT, mirroring TextAnalysis.countOccurrences. Raw deltas would
    * weight long stopwords more and flip the argmax on mixed-language
    * text. */
  private val langIdSqlExpr: String = {
    val scoreExpr = TextAnalysis.LangProfiles.map { case (l, ws) =>
      val sum = ws.map(w =>
        s"(length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', '$w', ''))) / ${w.length}")
        .mkString(" + ")
      (l, s"($sum)")
    }
    val best = "greatest(" + scoreExpr.map(_._2).mkString(", ") + ")"
    val cases = scoreExpr.map { case (l, e) =>
      s"WHEN $e = $best AND $e > 0 THEN '$l'"
    }.mkString(" ")
    s"CASE $cases ELSE 'und' END"
  }

  val t1Sql: String =
    s"""SELECT doc_id, lang, $langIdSqlExpr AS guess
       |FROM documents""".stripMargin

  /** T2 quality-score features: token count, mean token length,
    * punctuation ratio, stopword ratio. */
  def t2Quality(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      TextAnalysis.nTokens(col("text")).as("n_tokens"),
      TextAnalysis.meanTokenLen(col("text")).as("mean_token_len"),
      TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
      TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"))

  val t2Sql: String =
    """SELECT doc_id,
      | len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
      | CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
      |   / len(regexp_split_to_array(trim(text), '\s+')) AS mean_token_len,
      | CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE)
      |   / greatest(length(text), 1) AS punct_ratio,
      | CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |        t -> list_contains(['the','and','of','to','is','a','in'], t))) AS DOUBLE)
      |   / greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')), 1)
      |   AS stopword_ratio
      |FROM documents""".stripMargin

  /** T3 token counting: whitespace tokens + BPE-ish pre-tokenizer runs. */
  def t3Tokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("ws_tokens"),
      TextAnalysis.bpeishTokenCount(col("text")).as("bpeish_tokens"))

  val t3Sql: String =
    """SELECT doc_id,
      | len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
      | len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpeish_tokens
      |FROM documents""".stripMargin

  /** T6 — vocabulary top-k: casefolded token frequencies over the
    * corpus, top 100 by count (ties broken by token, so the cut is
    * deterministic). The 100 TB shape: explode multiplies rows by
    * ~tokens/doc, but partial aggregation collapses each partition to
    * its distinct tokens BEFORE the exchange (the shuffle carries
    * (token, partial_count), bounded by vocabulary size per partition,
    * not token instances), and the final top-k is
    * TakeOrderedAndProject — per-partition heaps + one k-row merge at
    * the driver, never a global sort (PlanSpec pins both). Vocabulary
    * building is the canonical first job over a new pretraining corpus. */
  def t6VocabTopk(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(100)

  val t6Sql: String =
    """SELECT token, COUNT(*) AS n FROM (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |  FROM documents)
      |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin

  /** T7 — token-accounting ROLLUP: corpus totals at (source, lang),
    * per-source, and grand-total granularity in ONE pass — the
    * multi-dimensional aggregate surface (rollup/cube/grouping sets)
    * every corpus report leans on, demonstrated with `grouping_id` so
    * consumers can tell a real NULL group from a rolled-up level. One
    * Spark plan computes all three levels with a single scan and one
    * exchange (partial aggregation covers every grouping set
    * map-side); the naive alternative — three separate aggregations
    * unioned — scans the corpus three times. Both engines agree on the
    * grouping-id bit order (leftmost column = most significant bit). */
  def t7TokenRollup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .rollup(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.bpeishTokenCount(col("text")).cast("long"))
          .as("n_tokens"),
        grouping_id().cast("long").as("gid"))

  val t7Sql: String =
    """SELECT source, lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(regexp_extract_all(lower(text),
      |    '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS n_tokens,
      |  CAST(GROUPING(source, lang) AS BIGINT) AS gid
      |FROM documents
      |GROUP BY ROLLUP (source, lang)""".stripMargin

  /** T8 — BM25 term weighting, top-5 terms per doc: the scoring layer
    * over t6's vocabulary and t3's token counts that retrieval-based
    * curation (query-a-corpus, dedup-by-relevance, eval-set mining)
    * runs at corpus scale. Formulation is JOIN-FREE: tf per (doc,
    * term) collapses map-side (a doc's tokens are partition-local),
    * then dl and df are two window aggregates OVER THE TF TABLE
    * (`sum(tf) over doc`, `count(*) over term` — each (doc, term) row
    * is unique so the count IS the document frequency), and the two
    * corpus scalars ride a broadcast 1-row cross join. Exchanges:
    * (doc, term) partial-agg, term window, doc window (the final
    * top-5 row_number reuses the doc partitioning).
    *
    * Exactness design: the score keeps Robertson's idf RATIONAL —
    * `(N − df + 0.5)/(df + 0.5)` without the log — because `ln` is
    * libm-dependent (cross-engine last-ulp drift would break the hash
    * gate) while +,−,×,÷ are single correctly-rounded IEEE ops: both
    * engines evaluate the IDENTICAL expression tree bit-for-bit. A
    * consumer wanting classical log-idf BM25 applies `ln` to the idf
    * factor downstream — tf/df/score components ride in the output
    * precisely so that re-weighting needs no second corpus pass (the
    * top-5 cut here is BY THE RATIONAL score, a deterministic ranking
    * of its own; log-idf can order the product differently). Ties
    * break on term ASC. */
  def t8Bm25(s: SparkSession, d: String): DataFrame = {
    val tf = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val scalars = tf.agg(
      countDistinct(col("doc_id")).as("n_docs"),
      (sum(col("tf")).cast("double") / countDistinct(col("doc_id")))
        .as("avgdl"))
    val wDoc = Window.partitionBy("doc_id")
    val wTerm = Window.partitionBy("term")
    val x = tf
      .withColumn("dl", sum(col("tf")).over(wDoc))
      .withColumn("df", count(lit(1)).over(wTerm))
      .crossJoin(broadcast(scalars))
    val tfD = col("tf").cast("double")
    val score =
      (tfD * lit(2.2) /
        (tfD + lit(1.2) * (lit(0.25) +
          lit(0.75) * (col("dl").cast("double") / col("avgdl"))))) *
      (((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    x.withColumn("score", score)
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))))
      .filter(col("rn") <= 5)
      .select("doc_id", "term", "tf", "df", "score", "rn")
  }

  val t8Sql: String =
    """WITH tf AS (
      |  SELECT doc_id, token AS term, COUNT(*) AS tf
      |  FROM (SELECT doc_id,
      |          unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |        FROM documents)
      |  GROUP BY doc_id, token),
      | sc AS (SELECT COUNT(DISTINCT doc_id) AS n_docs,
      |               CAST(SUM(tf) AS DOUBLE) / COUNT(DISTINCT doc_id) AS avgdl
      |        FROM tf),
      | x AS (SELECT doc_id, term, tf,
      |              SUM(tf) OVER (PARTITION BY doc_id) AS dl,
      |              COUNT(*) OVER (PARTITION BY term) AS df
      |       FROM tf),
      | s AS (SELECT doc_id, term, tf, df,
      |              (CAST(tf AS DOUBLE) * 2.2e0
      |                / (CAST(tf AS DOUBLE) + 1.2e0 * (0.25e0
      |                    + 0.75e0 * (CAST(dl AS DOUBLE) / avgdl))))
      |              * ((CAST(n_docs - df AS DOUBLE) + 0.5e0)
      |                / (CAST(df AS DOUBLE) + 0.5e0)) AS score
      |       FROM x CROSS JOIN sc),
      | r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |                 ORDER BY score DESC, term) AS rn FROM s)
      |SELECT doc_id, term, tf, df, score, rn FROM r WHERE rn <= 5""".stripMargin

  /** T9 — document chunking with stride/overlap: split each doc into
    * ≤50-token chunks every 40 tokens (10-token overlap) — the
    * context-window preparation step between raw docs and pipe2's
    * sequence packing in an LLM data pipeline. Chunk count is
    * `1 + ceil((n−50)/40)` (always ≥ 1; the last chunk may run short),
    * boundaries are token-index arithmetic so both engines cut
    * identically, and the chunk TEXT is re-joined with single spaces —
    * whitespace-run normalization is the one lossy step, stated here
    * rather than hidden. Scale shape: tokenize → `explode(sequence)` →
    * `slice`/`array_join` is all NARROW (zero exchanges, zero joins);
    * output rows ≈ docs × tokens/40, each chunk emitted by the task
    * that read its doc. */
  def t9Chunking(s: SparkSession, d: String): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    val n = size(toks)
    val nChunks = greatest(lit(1),
      ceil((n.cast("double") - lit(50.0)) / lit(40.0)).cast("int") + lit(1))
    Tables.documents(s, d)
      .select(col("doc_id"), toks.as("toks"), n.as("n_tok"),
        explode(sequence(lit(0), nChunks - lit(1))).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        size(slice(col("toks"), col("chunk_id") * 40 + 1, lit(50)))
          .as("chunk_tok"),
        array_join(slice(col("toks"), col("chunk_id") * 40 + 1, lit(50)), " ")
          .as("chunk_text"))
  }

  val t9Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         regexp_split_to_array(trim(text), '\s+') AS toks,
      |         len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
      |  FROM documents),
      | c AS (
      |  SELECT doc_id, toks, n_tok,
      |         unnest(range(greatest(1,
      |           CAST(ceil((CAST(n_tok AS DOUBLE) - 50.0) / 40.0) AS INT)
      |             + 1))) AS chunk_id
      |  FROM t)
      |SELECT doc_id, chunk_id,
      |       len(toks[chunk_id * 40 + 1 : chunk_id * 40 + 50]) AS chunk_tok,
      |       array_to_string(toks[chunk_id * 40 + 1 : chunk_id * 40 + 50],
      |                       ' ') AS chunk_text
      |FROM c""".stripMargin

  /** T10 — repetition filter (the Gopher/Dolma "duplicate n-gram" rules):
    * per-document duplicate-bigram and duplicate-trigram fractions, with
    * a reject flag for docs whose duplicate-bigram mass exceeds 20% —
    * self-repetition is the strongest single predictor of degenerate
    * machine-generated text in pretraining corpora. Everything is
    * integer: the outputs are raw counts (total vs distinct n-grams) and
    * the flag compares `(n2−d2)·5 > n2` (exact rational 20% threshold),
    * so both engines hash-match with zero float division. Shape: 100%
    * NARROW — tokenize, build n-grams, `array_distinct`, compare, all
    * inside the task that read the doc; zero exchanges, zero joins, and
    * the per-doc work is O(tokens · avg n-gram length). Docs with fewer
    * than 3 tokens have no trigram and are excluded by the stated
    * contract (the quality gate upstream already requires ≥ 30). N-gram
    * keys join tokens with unit-separator \\u001f so "ab c"/"a bc"
    * cannot collide. */
  def t10Repetition(s: SparkSession, d: String): DataFrame =
    TextAnalysis.repetitionStats(Tables.documents(s, d), "doc_id", "text")

  val t10Sql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      | g AS (
      |  SELECT doc_id, len(toks) AS n_tok,
      |    list_transform(range(1, len(toks)),
      |      i -> toks[i] || chr(31) || toks[i + 1]) AS g2,
      |    list_transform(range(1, len(toks) - 1),
      |      i -> toks[i] || chr(31) || toks[i + 1] || chr(31) || toks[i + 2])
      |      AS g3
      |  FROM t WHERE len(toks) >= 3)
      |SELECT doc_id, n_tok,
      |       len(g2) AS n2, len(list_distinct(g2)) AS d2,
      |       len(g3) AS n3, len(list_distinct(g3)) AS d3,
      |       CAST((len(g2) - len(list_distinct(g2))) * 5 > len(g2) AS INT)
      |         AS reject
      |FROM g""".stripMargin

  /** LM1 (beyond-ref: corpus bigram language model + per-document LM
    * quality score — the CCNet/Gopher "train an LM on the corpus, score
    * each document against it" filter). The vocab-bounded model shape
    * and the log-free exactness rationale live in
    * [[graft.operators.TextAnalysis.bigramLmScores]]; the oracle below
    * replays the identical count→cast→divide→floor-grid-mean chain
    * (floor grid, NOT a DECIMAL cast — dyadic p values tie on the
    * decimal grid's .5 boundaries, where engine rounding modes
    * disagree). */
  def lm1BigramScore(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bigramLmScores(Tables.documents(s, d), "doc_id", "text")

  val lm1Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      |  FROM documents),
      | bg AS (
      |  SELECT doc_id, t[i - 1] AS w1, t[i] AS w2
      |  FROM tok, UNNEST(range(2, len(t) + 1)) AS r(i)
      |  WHERE len(t) >= 2),
      | c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
      | c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
      | v AS (SELECT COUNT(DISTINCT term) AS v
      |       FROM (SELECT unnest(t) AS term FROM tok)),
      | p AS (SELECT b.doc_id, c2.c2,
      |              CAST(c2.c2 + 1 AS DOUBLE)
      |                / CAST(c1.c1 + v.v AS DOUBLE) AS p
      |       FROM bg b
      |       JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |       CAST(SUM(CASE WHEN c2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS novel_bigrams,
      |       CAST(SUM(CAST(FLOOR(p * 1.0e10) AS BIGINT)) AS DOUBLE)
      |         / 1.0e10 / COUNT(*) AS avg_p
      |FROM p GROUP BY doc_id""".stripMargin

  /** SKETCH2 — Count-Min heavy hitters gated against exact counts (the
    * sketch1 pattern, completing the sketch family: HLL for
    * cardinality, Bloom for membership, CMS for frequency): the top-10
    * exact token counts, each flagged with CMS's two guarantees —
    * never-undercount (est ≥ exact, structural: a counter only ever
    * adds) and the ε-band (est ≤ exact + ⌈ε·N⌉, N = total updates from
    * `cms.totalCount`). The gate is DETERMINISTIC for the same reason
    * sketch1's is: CMS merge is cellwise ADD — commutative,
    * associative — so the merged table is a pure function of the data
    * and seed regardless of partitioning or merge order. At 100 TB
    * CMS answers "which tokens/domains/URLs are heavy" in
    * width×depth longs of memory while the exact side needs the full
    * distinct shuffle; frequency caps and stopword discovery run on
    * the sketch, the gate proves it honest. The ~1 MB sketch is a
    * driver-held bounded materialization (the `stat.countMinSketch`
    * contract, same arrangement as the bloom1 filter). */
  def sketch2CmsTopk(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
    val cms = toks.stat.countMinSketch("token", 1e-4, 0.99, 42)
    val band = math.ceil(1e-4 * cms.totalCount).toLong
    val est = udf((t: String) => cms.estimateCount(t))
    toks.groupBy("token").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("token")).limit(10)
      .select(col("token"), col("n_exact"),
        (est(col("token")) >= col("n_exact")).as("cms_never_under"),
        (est(col("token")) <= col("n_exact") + lit(band)).as("cms_within_band"))
  }

  val sketch2Sql: String =
    """SELECT token, COUNT(*) AS n_exact,
      |       TRUE AS cms_never_under, TRUE AS cms_within_band
      |FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |      FROM documents)
      |GROUP BY token ORDER BY n_exact DESC, token LIMIT 10""".stripMargin

  /** T4 document fingerprint (rolling-normalized hash). */
  def t4Fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fingerprint"))

  val t4Sql: String =
    """SELECT doc_id,
      | md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
      |FROM documents""".stripMargin

  /** T5 — PII-style redaction (the scrub stage of a pretraining
    * pipeline): emails and URLs replaced with placeholder tokens in one
    * codegen pass. The fixture corpus is synthetic words, so the
    * matches are PLANTED deterministically (every 5th doc gets an
    * email, every 7th a URL, both derived from doc_id) and the oracle
    * rebuilds the identical input; the hash gate then pins both the
    * match COUNTS and the full redacted TEXT byte-for-byte — a regex
    * dialect divergence between engines would fail the hash. */
  def t5Redaction(s: SparkSession, d: String): DataFrame = {
    val planted = Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com now")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" see https://example.org/d/"), col("doc_id"), lit(" next")))
          .otherwise(lit(""))).as("text"))
    planted.select(col("doc_id"),
      TextAnalysis.countEmails(col("text")).cast("long").as("n_emails"),
      TextAnalysis.countUrls(col("text")).cast("long").as("n_urls"),
      TextAnalysis.redact(col("text")).as("redacted"))
  }

  val t5Sql: String =
    """WITH planted AS (
      |  SELECT doc_id, text
      |    || CASE WHEN doc_id % 5 = 0
      |            THEN ' contact user' || doc_id || '@example.com now'
      |            ELSE '' END
      |    || CASE WHEN doc_id % 7 = 0
      |            THEN ' see https://example.org/d/' || doc_id || ' next'
      |            ELSE '' END AS text
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(text,
      |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT)
      |    AS n_emails,
      |  CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT)
      |    AS n_urls,
      |  regexp_replace(regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
      |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g')
      |    AS redacted
      |FROM planted""".stripMargin

  // ---------------------------------------------------------- similarity

  /** E1 brute-force cosine top-3 neighbors against an explicit REFERENCE
    * corpus (every 4th vector) — the shape the operator is designed for:
    * the query side streams at any scale, only the corpus rides the
    * broadcast (no take()-bound self-kNN in the declared path; self-kNN
    * keeps its own NaN/zero-norm unit tests). With a distinct corpus,
    * same-id rows are legal neighbors (score 1 ranks first for corpus
    * members — also bit-equal across engines, same fold + sqrt).
    * Rank-only output: both engines fold the dot product in index order
    * (verified bit-equal), and ranking with an id tiebreak is robust to
    * last-ulp noise. */
  def e1CosineKnn(s: SparkSession, d: String): DataFrame = {
    // norm > 0 on BOTH engines: bruteForceKnn silently skips zero-norm
    // vectors (a NaN score would poison its top-k buffer) while plain SQL
    // would score them NULL — make the contract explicit instead of
    // fixture-dependent
    val emb = Tables.embeddings(s, d).filter(
      graft.plans.GraftExpressions.arrayDot(col("embedding"), col("embedding")) > 0)
    Similarity.bruteForceKnn(emb, "vec_id", "embedding", k = 3,
        corpus = Some(emb.filter(col("vec_id") % 4 === 0)))
      .select("vec_id", "rank", "neighbor_id")
  }

  val e1Sql: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings
      |           WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
      |c AS (SELECT * FROM v WHERE vec_id % 4 = 0),
      |p AS (SELECT a.vec_id id, b.vec_id nid,
      |        list_dot_product(a.e, b.e)
      |          / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
      |          AS score
      |      FROM v a, c b)
      |SELECT id AS vec_id, rank, nid AS neighbor_id
      |FROM (SELECT id, nid,
      |        row_number() OVER (PARTITION BY id ORDER BY score DESC, nid) AS rank
      |      FROM p)
      |WHERE rank <= 3""".stripMargin

  /** E3: the NATIVE codegen expression ([[graft.plans.GraftExpressions]]
    * ArrayDot) through the oracle gate — cosine of every embedding
    * against a fixed integer probe vector, ranked per label. Both
    * engines fold the dot product in index order (the expression's
    * while-loop == DuckDB list_dot_product), so ranking with the vec_id
    * tiebreak is engine-exact; the probe literal is generated once and
    * embedded in BOTH sides so they cannot drift. */
  private val probeVals: Seq[Int] = (0 until 64).map(j => (j * 37 + 11) % 19 - 9)

  def e3NativeDot(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probe = array(probeVals.map(v => lit(v.toDouble)): _*)
    val w = Window.partitionBy("label").orderBy(col("score").desc, col("vec_id"))
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        graft.plans.GraftExpressions.cosine(col("embedding"), probe).as("score"))
      .withColumn("probe_rank", row_number().over(w).cast("long"))
      .select("vec_id", "label", "probe_rank")
  }

  val e3Sql: String = {
    val probeList = probeVals.map(v => s"$v.0").mkString("[", ", ", "]") + "::DOUBLE[]"
    s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
       |s AS (SELECT vec_id, label,
       |        list_dot_product(e, $probeList)
       |          / (sqrt(list_dot_product(e, e))
       |             * sqrt(list_dot_product($probeList, $probeList))) AS score
       |      FROM v)
       |SELECT vec_id, label,
       |  CAST(row_number() OVER (PARTITION BY label
       |       ORDER BY score DESC, vec_id) AS BIGINT) AS probe_rank
       |FROM s""".stripMargin
  }

  /** E11 (beyond-ref: hard-negative mining) — the contrastive-training
    * data op: for each query vector (the vec_id%7 eval slice), the top-2
    * most-similar corpus vectors with a DIFFERENT label. High-cosine
    * wrong-label neighbors are exactly the "hard negatives" a
    * contrastive or reranker trainer wants; the same scan also audits
    * label quality (a too-similar wrong-label pair is often a labeling
    * error).
    *
    * Scale shape = decon2's: the query set broadcasts (eval ≪ corpus by
    * construction), the corpus is scanned ONCE with no shuffle, and the
    * non-equi label-mismatch predicate rides the broadcast
    * nested-loop — at corpus scale that is optimal because every
    * (query, candidate) pair must be scored anyway; a huge QUERY set
    * would switch to the e2/e4 bucketed paths instead. Scoring uses the
    * native codegen cosine ([[graft.plans.GraftExpressions.cosine]]),
    * index-ordered like DuckDB's list_dot_product (the e3 contract);
    * output is rank-only with a vec_id tiebreak, so the hash gate is
    * independent of float printing. */
  def e11HardNegatives(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.embeddings(s, d).filter(
      graft.plans.GraftExpressions.arrayDot(col("embedding"), col("embedding")) > 0)
    val q = base.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").as("qv"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("nid"))
    // spread the STREAM side of the brute cross-label BNLJ (r20; the
    // r19 narrow-spread pattern): the anchor set is broadcast, so the
    // whole O(N·anchors) cosine loop runs in the stream side's tasks —
    // one task on the single-split embeddings scan before this
    graft.Tables.spread(
      base.select(col("vec_id").as("nid"), col("label").as("nlabel"),
        col("embedding").as("nv")))
      .join(broadcast(q), col("qlabel") =!= col("nlabel"))
      .select(col("qid"), col("nid"),
        graft.plans.GraftExpressions.cosine(col("qv"), col("nv")).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 2)
      .select("qid", "rank", "nid")
  }

  val e11Sql: String =
    """WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e
      |           FROM embeddings
      |           WHERE list_dot_product(embedding::DOUBLE[],
      |                                  embedding::DOUBLE[]) > 0),
      | q AS (SELECT vec_id AS qid, label AS qlabel, e AS qe
      |       FROM v WHERE vec_id % 7 = 0),
      | p AS (SELECT q.qid, v.vec_id AS nid,
      |         list_dot_product(q.qe, v.e)
      |           / (sqrt(list_dot_product(q.qe, q.qe))
      |              * sqrt(list_dot_product(v.e, v.e))) AS score
      |       FROM q JOIN v ON q.qlabel <> v.label)
      |SELECT qid, rank, nid
      |FROM (SELECT qid, nid,
      |        CAST(row_number() OVER (PARTITION BY qid
      |             ORDER BY score DESC, nid) AS BIGINT) AS rank
      |      FROM p)
      |WHERE rank <= 2""".stripMargin

  /** E12 — hard-negative mining through the IVF path
    * ([[Similarity.hardNegativesAnn]]): the SCALE form of e11, whose
    * brute cross join is O(N²) by construction (r17 sf0.1→sf1 decade
    * exponent 1.31 — the anchor set is a fixed fraction of the corpus).
    * Same anchors (vec_id % 7), same cross-label semantics, but
    * candidates come from the e4 coarse quantizer's probed buckets:
    * the oracle replays the SHARED Lloyd chain ([[coarseChainSql]] —
    * a fix there cannot desync e4/e9/e12), then probe + bucket-local
    * CROSS-LABEL scoring + top-k, every float fold order-replicated,
    * scores bit-exact like e4's. Declared knobs stay the pinned
    * (nlist=16, nprobe=4) gate form; production derives ⌈√N⌉ lists
    * (the measured O(N^0.75) law — SCALING.md, "sf0.1 → sf1 family
    * decade leg", carries the decade table). */
  def e12HardNegAnn(s: SparkSession, d: String): DataFrame =
    Similarity.hardNegativesAnn(Tables.embeddings(s, d), "vec_id",
      "embedding", "label", dim = 64, k = 2, nlist = 16, nprobe = 4,
      anchorPred = col("id") % 7 === 0)

  // lazy: declared above coarseChainSql in the file, so a strict val
  // would read it as null during object init
  lazy val e12Sql: String = {
    val (nprobe, iters, k) = (4, 5, 2)
    coarseChainSql +
      s""",
         |clist AS MATERIALIZED (SELECT c, list(val ORDER BY j) AS cl FROM cent$iters GROUP BY c),
         |baseL AS MATERIALIZED (
         |  SELECT b.id, b.v, b.nrm, e.label FROM base b
         |  JOIN embeddings e ON e.vec_id = b.id),
         |dots AS MATERIALIZED (SELECT b.id, cl.c, list_dot_product(b.v, cl.cl) AS d FROM base b, clist cl),
         |ranked AS MATERIALIZED (
         |  SELECT id, c, row_number() OVER (PARTITION BY id ORDER BY d DESC, c) AS pr
         |  FROM dots),
         |assign AS MATERIALIZED (SELECT id, c AS lst FROM ranked WHERE pr = 1),
         |probes AS MATERIALIZED (
         |  SELECT id, c AS lst FROM ranked WHERE pr <= $nprobe AND id % 7 = 0),
         |cand AS MATERIALIZED (
         |  SELECT q.id, a.id AS nid
         |  FROM probes q JOIN assign a ON a.lst = q.lst
         |), scored AS MATERIALIZED (
         |  SELECT c.id, c.nid,
         |         list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS score
         |  FROM cand c JOIN baseL x ON x.id = c.id JOIN baseL y ON y.id = c.nid
         |  WHERE x.label <> y.label)
         |SELECT id AS vec_id, rank, nid AS neighbor_id, score
         |FROM (SELECT id, nid, score,
         |        row_number() OVER (PARTITION BY id ORDER BY score DESC, nid) AS rank
         |      FROM scored)
         |WHERE rank <= $k""".stripMargin
  }

  /** E2 LSH-bucketed ANN (random hyperplanes, 4 tables): the 100 TB
    * scale path. Fully oracled since round 9: [[e2Sql]] re-derives the
    * signatures in DuckDB from the SAME plane matrix
    * ([[Similarity.hyperplanes]], embedded as shortest-round-trip double
    * literals), declares candidates by raw (table, signature) equality,
    * and ranks the same exact cosine. Rank-only output like e1 — both
    * engines fold the dot in index order (verified bit-equal) and the
    * (score DESC, nid) ranking is robust to last-ulp noise; the raw
    * score stays visible through e1/e5's gates.
    *
    * Bench note: ~2.5 s at sf0.1 is the FLOOR for this plan shape in
    * local mode — 2000 input rows through 3 broadcast builds + 2
    * exchanges is pure per-stage overhead (the executed plan is already
    * the scale shape: bucket join on (t, sig), pair-distinct over bare
    * id pairs, WindowGroupLimit partial top-k). At real data volumes the
    * same plan's cost is data-bound, not stage-bound. */
  def e2LshAnn(s: SparkSession, d: String): DataFrame =
    Similarity.lshKnn(Tables.embeddings(s, d), "vec_id", "embedding",
      dim = 64, k = 3, bits = 8, tables = 4)
      .select("vec_id", "rank", "neighbor_id")

  /** The e2 oracle: per-table signatures as a UNION ALL of 4 stages
    * (one per hyperplane table), sign bits packed exactly as the UDF
    * packs them (bit i = dot(v, plane_i) >= 0), bucket join on
    * (t, sig), then e1's exact-cosine ranking over the candidate set. */
  val e2Sql: String = {
    def planeLit(p: Array[Double]): String =
      p.map(_.toString).mkString("[", ", ", "]") + "::DOUBLE[]"
    val tableSelects = (0 until 4).map { t =>
      val planes = Similarity.hyperplanes(dim = 64, bits = 8, seed = 42L + t * 7919L)
      val sigExpr = planes.zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN list_dot_product(e, ${planeLit(p)}) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $t AS t, $sigExpr AS sig FROM v"
    }.mkString("\nUNION ALL\n")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |sigs AS (
       |$tableSelects
       |), pairs AS (
       |  SELECT DISTINCT a.vec_id AS id, b.vec_id AS nid
       |  FROM sigs a JOIN sigs b
       |    ON a.t = b.t AND a.sig = b.sig AND a.vec_id <> b.vec_id
       |), scored AS (
       |  SELECT p.id, p.nid,
       |    list_dot_product(x.e, y.e)
       |      / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e)))
       |      AS score
       |  FROM pairs p JOIN v x ON x.vec_id = p.id JOIN v y ON y.vec_id = p.nid
       |)
       |SELECT id AS vec_id, rank, nid AS neighbor_id
       |FROM (SELECT id, nid,
       |        row_number() OVER (PARTITION BY id ORDER BY score DESC, nid) AS rank
       |      FROM scored)
       |WHERE rank <= 3""".stripMargin
  }

  /** E4 IVF-bucketed ANN (spherical-k-means coarse quantizer, nprobe
    * lists per query): the FAISS-shaped second scale path beside E2.
    * Fully oracled since round 9 — the LAST rows-only entry retired:
    * [[e4Sql]] reruns the ENTIRE pipeline in DuckDB, Lloyd training
    * included. Every Spark-side float fold has a strictly-replicated
    * SQL twin: the driver's sample-order centroid sums become
    * `list_reduce` over `list(val ORDER BY rank)`, the j-order norm
    * fold likewise, assignment argmax is (dot DESC, c) ranking, and
    * the evenly-spaced-by-rank init (chosen over the earlier seeded
    * shuffle precisely so the seeds are derivable in SQL at any sf)
    * closes the loop. Scores come back BIT-EXACT across engines —
    * training, probing and scoring all hash-match, so e4 carries the
    * full-precision gate e1 carries for brute force. */
  def e4IvfKnn(s: SparkSession, d: String): DataFrame =
    Similarity.ivfKnn(Tables.embeddings(s, d), "vec_id", "embedding",
      dim = 64, k = 3, nlist = 16, nprobe = 4)

  /** The e4 oracle: 5 unrolled Lloyd stages as MATERIALIZED CTEs (plain
    * CTEs re-inline through the stage chain and the plan blows up
    * exponentially), then assign + probe + bucket-local scoring + e1's
    * exact-cosine ranking. */
  /** The coarse quantizer's training replay — base → capped unit sample
    * → 5 spherical-Lloyd stages → `cent5` — shared VERBATIM by the e4
    * and e9 oracles (16 lists, dim 64, 2048-sample cap), so a fix in
    * the Lloyd SQL cannot silently desync the twins. */
  private val coarseChainSql: String = {
    val (nlist, iters, dim, samp) = (16, 5, 64, 2048)
    val pre =
      s"""WITH base AS MATERIALIZED (
         |  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
         |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
         |  FROM embeddings
         |), samp0 AS MATERIALIZED (
         |  SELECT id, list_transform(v, x -> x / nrm) AS u
         |  FROM base WHERE nrm > 0.0 ORDER BY id LIMIT $samp
         |), samp AS MATERIALIZED (
         |  -- window AFTER the limit: COUNT(*) OVER () in the limited CTE
         |  -- would count the PRE-limit corpus (DuckDB evaluates windows
         |  -- before LIMIT), desyncing n from Scala's sample.length the
         |  -- moment the corpus exceeds the sample cap
         |  SELECT id, u, row_number() OVER (ORDER BY id) - 1 AS r,
         |         COUNT(*) OVER () AS n
         |  FROM samp0
         |), sdim AS MATERIALIZED (
         |  SELECT r, j, u[j] AS val FROM samp, generate_series(1, $dim) AS t(j)
         |), cent0 AS MATERIALIZED (
         |  SELECT c.c AS c, s.j, s.val
         |  FROM generate_series(0, ${nlist - 1}) AS c(c)
         |  JOIN samp sm ON sm.r = CASE WHEN sm.n >= $nlist
         |                              THEN (c.c * sm.n) // $nlist ELSE c.c END
         |  JOIN sdim s ON s.r = sm.r
         |  WHERE c.c < LEAST($nlist, sm.n)
         |)""".stripMargin
    def stage(i: Int): String =
      s""",
         |clist$i AS MATERIALIZED (SELECT c, list(val ORDER BY j) AS cl FROM cent$i GROUP BY c),
         |asg$i AS MATERIALIZED (
         |  SELECT r, c FROM (
         |    SELECT s.r, cl.c,
         |           row_number() OVER (PARTITION BY s.r
         |             ORDER BY list_dot_product(s.u, cl.cl) DESC, cl.c) AS pr
         |    FROM samp s, clist$i cl) WHERE pr = 1
         |), sums$i AS MATERIALIZED (
         |  SELECT a.c, d.j,
         |         list_reduce(list_prepend(0.0::DOUBLE, list(d.val ORDER BY d.r)),
         |                     (x, y) -> x + y) AS s
         |  FROM asg$i a JOIN sdim d ON d.r = a.r
         |  GROUP BY a.c, d.j
         |), nrm$i AS MATERIALIZED (
         |  SELECT c, sqrt(list_reduce(list_prepend(0.0::DOUBLE, list(s * s ORDER BY j)),
         |                             (x, y) -> x + y)) AS nn
         |  FROM sums$i GROUP BY c
         |), cent${i + 1} AS MATERIALIZED (
         |  SELECT p.c, p.j,
         |         CASE WHEN s.s IS NOT NULL AND n.nn > 0 THEN s.s / n.nn ELSE p.val END AS val
         |  FROM cent$i p
         |  LEFT JOIN sums$i s ON s.c = p.c AND s.j = p.j
         |  LEFT JOIN nrm$i n ON n.c = p.c
         |)""".stripMargin
    pre + (0 until iters).map(stage).mkString
  }

  val e4Sql: String = {
    val (nprobe, iters, k) = (4, 5, 3)
    val post =
      s""",
         |clist AS MATERIALIZED (SELECT c, list(val ORDER BY j) AS cl FROM cent$iters GROUP BY c),
         |dots AS MATERIALIZED (SELECT b.id, cl.c, list_dot_product(b.v, cl.cl) AS d FROM base b, clist cl),
         |ranked AS MATERIALIZED (
         |  SELECT id, c, row_number() OVER (PARTITION BY id ORDER BY d DESC, c) AS pr
         |  FROM dots),
         |assign AS MATERIALIZED (SELECT id, c AS lst FROM ranked WHERE pr = 1),
         |probes AS MATERIALIZED (SELECT id, c AS lst FROM ranked WHERE pr <= $nprobe),
         |cand AS MATERIALIZED (
         |  SELECT q.id, a.id AS nid
         |  FROM probes q JOIN assign a ON a.lst = q.lst AND a.id <> q.id
         |), scored AS MATERIALIZED (
         |  SELECT c.id, c.nid,
         |         list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS score
         |  FROM cand c JOIN base x ON x.id = c.id JOIN base y ON y.id = c.nid
         |)
         |SELECT id AS vec_id, rank, nid AS neighbor_id, score
         |FROM (SELECT id, nid, score,
         |        row_number() OVER (PARTITION BY id ORDER BY score DESC, nid) AS rank
         |      FROM scored)
         |WHERE rank <= $k""".stripMargin
    coarseChainSql + post
  }

  /** E9 IVF-PQ ANN (FAISS IVFADC shape): [[Similarity.ivfPqKnn]] — the
    * compression layer over e4's coarse quantizer, where inverted lists
    * carry m=4 sub-codes per vector instead of 64 doubles. Fully
    * oracled like e4: [[e9Sql]] reruns coarse training, the 4
    * per-subspace Euclidean codebooks, encoding, probing and ADC
    * scoring in DuckDB with every float fold order-replicated — scores
    * bit-exact. */
  def e9IvfPq(s: SparkSession, d: String): DataFrame =
    Similarity.ivfPqKnn(Tables.embeddings(s, d), "vec_id", "embedding",
      dim = 64, k = 3, nlist = 16, nprobe = 4, m = 4, ksub = 16, pqIters = 3)

  /** The e9 oracle: e4's coarse-training chain, then the 4 per-subspace
    * Euclidean codebook chains (L2 argmin assignment as an ordered
    * squared-diff fold, arithmetic-mean update), encoding, probing, and
    * ADC scoring as per-subspace partial dots summed in subspace order —
    * the exact grouping the operator's lookup-table fold produces. */
  private def e9Chain(k: Int): String = {
    val (nprobe, iters) = (4, 5)
    val (mSub, ksub, pqIters, dsub) = (4, 16, 3, 16)
    // coarse training is the SHARED chain (coarseChainSql); e9 adds the
    // unit-vector view the PQ encode/ADC stages read
    val uvecSql =
      s""",
         |uvec AS MATERIALIZED (
         |  SELECT id, CASE WHEN nrm > 0 THEN list_transform(v, x -> x / nrm) ELSE v END AS u
         |  FROM base
         |)""".stripMargin
    val pqPre =
      s""",
         |pdim AS MATERIALIZED (
         |  SELECT s.s, d.r, d.j - s.s * $dsub AS j, d.val
         |  FROM generate_series(0, ${mSub - 1}) AS s(s)
         |  JOIN sdim d ON d.j > s.s * $dsub AND d.j <= (s.s + 1) * $dsub
         |), psl AS MATERIALIZED (
         |  SELECT s, r, list(val ORDER BY j) AS sl FROM pdim GROUP BY s, r
         |), pq0 AS MATERIALIZED (
         |  SELECT s.s, c.c, d.j, d.val
         |  FROM generate_series(0, ${mSub - 1}) AS s(s)
         |  CROSS JOIN generate_series(0, ${ksub - 1}) AS c(c)
         |  JOIN samp sm ON sm.r = CASE WHEN sm.n >= $ksub
         |                              THEN (c.c * sm.n) // $ksub ELSE c.c END
         |  JOIN pdim d ON d.s = s.s AND d.r = sm.r
         |  WHERE c.c < LEAST($ksub, sm.n)
         |)""".stripMargin
    def pqStage(i: Int): String =
      s""",
         |pql$i AS MATERIALIZED (SELECT s, c, list(val ORDER BY j) AS cl FROM pq$i GROUP BY s, c),
         |pqa$i AS MATERIALIZED (
         |  SELECT s, r, c FROM (
         |    SELECT sv.s, sv.r, cl.c,
         |           row_number() OVER (PARTITION BY sv.s, sv.r ORDER BY
         |             list_reduce(list_prepend(0.0::DOUBLE,
         |               list_transform(generate_series(1, $dsub),
         |                 jj -> (sv.sl[jj] - cl.cl[jj]) * (sv.sl[jj] - cl.cl[jj]))),
         |               (x, y) -> x + y) ASC, cl.c) AS pr
         |    FROM psl sv JOIN pql$i cl ON cl.s = sv.s) WHERE pr = 1
         |), pqs$i AS MATERIALIZED (
         |  SELECT a.s, a.c, d.j,
         |         list_reduce(list_prepend(0.0::DOUBLE, list(d.val ORDER BY d.r)),
         |                     (x, y) -> x + y) AS sm, COUNT(*) AS cnt
         |  FROM pqa$i a JOIN pdim d ON d.s = a.s AND d.r = a.r
         |  GROUP BY a.s, a.c, d.j
         |), pq${i + 1} AS MATERIALIZED (
         |  SELECT p.s, p.c, p.j,
         |         CASE WHEN q.sm IS NOT NULL THEN q.sm / q.cnt ELSE p.val END AS val
         |  FROM pq$i p
         |  LEFT JOIN pqs$i q ON q.s = p.s AND q.c = p.c AND q.j = p.j
         |)""".stripMargin
    val post =
      s""",
         |clist AS MATERIALIZED (SELECT c, list(val ORDER BY j) AS cl FROM cent$iters GROUP BY c),
         |books AS MATERIALIZED (SELECT s, c, list(val ORDER BY j) AS cl FROM pq$pqIters GROUP BY s, c),
         |dots AS MATERIALIZED (SELECT b.id, cl.c, list_dot_product(b.v, cl.cl) AS d FROM base b, clist cl),
         |ranked AS MATERIALIZED (
         |  SELECT id, c, row_number() OVER (PARTITION BY id ORDER BY d DESC, c) AS pr
         |  FROM dots),
         |assign AS MATERIALIZED (SELECT id, c AS lst FROM ranked WHERE pr = 1),
         |probes AS MATERIALIZED (SELECT id, c AS lst FROM ranked WHERE pr <= $nprobe),
         |usub AS MATERIALIZED (
         |  SELECT u.id, s.s,
         |         list_transform(generate_series(1, $dsub), jj -> u.u[s.s * $dsub + jj]) AS us
         |  FROM uvec u, generate_series(0, ${mSub - 1}) AS s(s)
         |), codes AS MATERIALIZED (
         |  SELECT id, s, c AS code FROM (
         |    SELECT us.id, us.s, bk.c,
         |           row_number() OVER (PARTITION BY us.id, us.s ORDER BY
         |             list_reduce(list_prepend(0.0::DOUBLE,
         |               list_transform(generate_series(1, $dsub),
         |                 jj -> (us.us[jj] - bk.cl[jj]) * (us.us[jj] - bk.cl[jj]))),
         |               (x, y) -> x + y) ASC, bk.c) AS pr
         |    FROM usub us JOIN books bk ON bk.s = us.s) WHERE pr = 1
         |), cand AS MATERIALIZED (
         |  SELECT q.id, a.id AS nid
         |  FROM probes q JOIN assign a ON a.lst = q.lst AND a.id <> q.id
         |), partial AS MATERIALIZED (
         |  SELECT c.id, c.nid, us.s,
         |         list_dot_product(us.us, bk.cl) AS p
         |  FROM cand c
         |  JOIN usub us ON us.id = c.id
         |  JOIN codes cd ON cd.id = c.nid AND cd.s = us.s
         |  JOIN books bk ON bk.s = cd.s AND bk.c = cd.code
         |), scored AS MATERIALIZED (
         |  SELECT id, nid,
         |         list_reduce(list_prepend(0.0::DOUBLE, list(p ORDER BY s)),
         |                     (x, y) -> x + y) AS score
         |  FROM partial GROUP BY id, nid
         |), short AS MATERIALIZED (
         |  SELECT id AS vec_id, rank, nid AS neighbor_id, score
         |  FROM (SELECT id, nid, score,
         |          row_number() OVER (PARTITION BY id ORDER BY score DESC, nid) AS rank
         |        FROM scored)
         |  WHERE rank <= $k
         |)""".stripMargin
    coarseChainSql + uvecSql + pqPre +
      (0 until pqIters).map(pqStage).mkString + post
  }

  val e9Sql: String =
    e9Chain(3) + "\nSELECT vec_id, rank, neighbor_id, score FROM short"

  /** E10 — IVF-PQ + EXACT RE-RANK ([[Similarity.ivfPqRefineKnn]],
    * FAISS's refine pattern): the e9 chain widened to a 10-deep ADC
    * shortlist, then every (query, candidate) rescored with the TRUE
    * cosine from the raw vectors and cut to top-3. This is the piece
    * that reconciles compression with exact order: near-identical
    * vectors share 4-bit codes and TIE under ADC (e9's documented
    * resolution trade); the refine stage breaks those ties correctly
    * while still never scoring more than kShortlist raw candidates per
    * query. The oracle extends [[e9Chain]] with the re-rank restated —
    * shortlist membership, the zero-norm guard, and the exact scores
    * all hash-gated. */
  def e10PqRefine(s: SparkSession, d: String): DataFrame =
    Similarity.ivfPqRefineKnn(Tables.embeddings(s, d), "vec_id",
      "embedding", dim = 64, k = 3, kShortlist = 10,
      nlist = 16, nprobe = 4, m = 4, ksub = 16, pqIters = 3)

  val e10Sql: String =
    e9Chain(10) + ",\n" +
      """rr AS (
        |  SELECT s.vec_id, s.neighbor_id,
        |         CASE WHEN bq.nrm > 0 AND bn.nrm > 0
        |              THEN list_dot_product(bq.v, bn.v) / (bq.nrm * bn.nrm)
        |              ELSE 0.0 END AS score
        |  FROM short s
        |  JOIN base bq ON bq.id = s.vec_id
        |  JOIN base bn ON bn.id = s.neighbor_id)
        |SELECT vec_id, rank, neighbor_id, score
        |FROM (SELECT vec_id, neighbor_id, score,
        |        row_number() OVER (PARTITION BY vec_id
        |                           ORDER BY score DESC, neighbor_id) AS rank
        |      FROM rr)
        |WHERE rank <= 3""".stripMargin

  /** E5: self-scoring ANN gate — recall@3 of the DECLARED e2/e4
    * configurations (identical params) against brute-force ground truth,
    * as floor(100·recall). Every input is deterministic (seeded
    * hyperplanes, seeded Lloyd, total (score desc, nid) orderings; the
    * integer floor is exact — an exact-integer quotient divides exactly
    * in IEEE, anything else is far from the boundary), so the result is
    * a CONSTANT per dataset and the oracle pins it: any change to the
    * signature scheme, the quantizer, the bucket joins or the top-k
    * ordering moves these integers and breaks the hash gate.
    *
    * READ THE PINS IN CONTEXT: the driver embeddings are near-random
    * (median true-top-3 cosine ≈ 0.33, max ≈ 0.51 at sf0.01), the regime
    * where sublinear ANN provably degrades. The pinned LSH figure is the
    * implementation AGREEING with theory: [[Similarity.lshRecallEstimate]]
    * (0.33, bits=8, tables=4) ≈ 0.07 vs 0.08 measured. On clustered data
    * (the operators' design point) the same configs clear 0.9 — that
    * regime is covered by the planted-cluster ScalaTest recall checks;
    * this entry pins end-to-end behavior on the fixture the driver
    * actually ships. */
  def e5AnnRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // bf is referenced twice (hit join + n_bf denominator) but both
    // references share one executed plan — ReusedExchange dedupes the
    // scoring subtree, so no materialization (r20, measured)
    val bf = Similarity.bruteForceKnn(emb, "vec_id", "embedding", k = 3)
      .select("vec_id", "neighbor_id")
    val lsh = Similarity.lshKnn(emb, "vec_id", "embedding",
        dim = 64, k = 3, bits = 8, tables = 4)
      .select("vec_id", "neighbor_id").withColumn("method", lit("lsh"))
    val ivf = Similarity.ivfKnn(emb, "vec_id", "embedding",
        dim = 64, k = 3, nlist = 16, nprobe = 4)
      .select("vec_id", "neighbor_id").withColumn("method", lit("ivf"))
    lsh.unionByName(ivf)
      .join(bf, Seq("vec_id", "neighbor_id"))
      .groupBy("method").agg(count(lit(1)).as("hits"))
      .crossJoin(broadcast(bf.agg(count(lit(1)).as("n_bf"))))
      .select(col("method"),
        floor(col("hits") * 100 / col("n_bf")).cast("long").as("recall_pct"))
  }

  /** Constants measured once PER SF on the driver testdata
    * (deterministic — see [[e5AnnRecall]]; the LSH figures match the
    * lshRecallEstimate prediction for this data's neighbor-cosine
    * distribution), dispatched on the events-table row count (see
    * [[d5Sql]] for why events, and for the unknown-sf loudness
    * property). Re-derive after a fixture regeneration with
    * `runMain graft.tools.QueryProbe show e5_ann_recall <sfDir>` — a failure
    * here with no code change means the FIXTURE moved, not the ANN
    * paths. */
  val e5Sql: String =
    """SELECT method, recall_pct FROM (VALUES
      |  (1000,   'ivf', CAST(61 AS BIGINT)),
      |  (1000,   'lsh', CAST(6 AS BIGINT)),
      |  (10000,  'ivf', CAST(61 AS BIGINT)),
      |  (10000,  'lsh', CAST(8 AS BIGINT)),
      |  (100000, 'ivf', CAST(58 AS BIGINT)),
      |  (100000, 'lsh', CAST(8 AS BIGINT))) t(sf_n, method, recall_pct)
      |WHERE sf_n = (SELECT COUNT(*) FROM events)""".stripMargin

  /** E13 — recall gate for the PER-LABEL-INDEX hard-negative miner
    * ([[Similarity.hardNegativesAnnPerLabel]], round 17): floor(100·
    * recall@2) of the derived-knob per-label path against the exact
    * e11 truth (the O(N²) cross join — the gate's bounded-scale
    * harness, never the operator's path; e13 joins d5/e5/e6 in the
    * never-scale-probe set). The per-label index exists because the
    * SHARED-index form ([[Similarity.hardNegativesAnn]]/e12) probes
    * anchor-nearest cells dominated by the anchor's own label —
    * measured recall ~0.57; per-label restores the self-knn anatomy
    * per label pair (~0.73-0.89 derived, ~0.88-0.95 at 2× probes —
    * SCALING.md r17 hard-negative recall table). A LOW-ish pin is the
    * boundary-outlier effect on
    * THIS fixture (a hard negative is a peripheral point of its own
    * label's cluster structure — the worst case for cluster routing),
    * not a bug; the probe knob is the dial. */
  def e13HardnegRecall(s: SparkSession, d: String): DataFrame = {
    // truth referenced twice within one executed plan — ReusedExchange
    // dedupes the e11 scoring subtree, no materialization (r20, measured)
    val truth = e11HardNegatives(s, d).select(
      col("qid").as("vec_id"), col("nid").as("neighbor_id"))
    val ann = Similarity.hardNegativesAnnPerLabel(
        Tables.embeddings(s, d), "vec_id", "embedding", "label",
        dim = 64, k = 2, anchorPred = col("id") % 7 === 0)
      .select("vec_id", "neighbor_id")
    ann.join(truth, Seq("vec_id", "neighbor_id"))
      .agg(count(lit(1)).as("hits"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .select(floor(col("hits") * 100 / col("n_truth")).cast("long")
        .as("recall_pct"))
  }

  /** Per-SF pins, events-count dispatch (see [[e5Sql]]); re-derive with
    * `runMain graft.tools.QueryProbe show e13_hardneg_recall <sfDir>` after a
    * fixture regen. r18 re-pin: the derived cross-label nprobe moved
    * to 2·max(4, ⌈√nlist_l⌉) (the SCALING.md r17 2×-probe ladder row —
    * cross-label probing needs a wider budget than ivfKnn's self-knn
    * law), lifting the floors from 89/88/79 to 100/100/94. */
  val e13Sql: String =
    """SELECT recall_pct FROM (VALUES
      |  (1000,   CAST(100 AS BIGINT)),
      |  (10000,  CAST(100 AS BIGINT)),
      |  (100000, CAST(94 AS BIGINT))) t(sf_n, recall_pct)
      |WHERE sf_n = (SELECT COUNT(*) FROM events)""".stripMargin

  /** E6: self-scoring gate for [[Similarity.cosineNearDupPairs]] (the
    * embedding-cosine near-dup path, previously unit-only) — candidate
    * count and floor(100·recall) of the DECLARED config (minCosine 0.3,
    * default 8-bit x 6-table blocking) against exact all-pairs ground
    * truth on the vec_id%4==0 slice, plus a 'truth' row pinning the
    * truth-set size. The truth side is the gate's bounded-scale harness
    * (an explicit cross join — fine at verify/bench scale, never the
    * operator's path); the OPERATOR is LSH block-then-verify and stays
    * sublinear.
    *
    * READ THE PINS IN CONTEXT: the driver embeddings are near-random
    * (max slice cosine ≈ 0.44), far below the operator's 0.9 design
    * point, and [[Similarity.lshRecallEstimate]](0.3, 8, 6) ≈ 0.09 — a
    * LOW pinned recall is the implementation agreeing with theory, and
    * precision is 1 by construction (every emitted pair is exactly
    * verified). Planted-pair recall at the design point is covered by
    * the ScalaTest invariant; this pins end-to-end behavior on the
    * fixture the driver ships. */
  def e6CosNearDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val v = Tables.embeddings(s, d)
      .filter(col("vec_id") % 4 === 0 &&
        graft.plans.GraftExpressions.arrayDot(col("embedding"), col("embedding")) > 0)
      .select(col("vec_id"), col("embedding"))
    // NOT materialized (r20, measured ×2 slower with eager checkpoints):
    // all references live in one executed plan (ReusedExchange dedupes)
    val truth = v.as("a").crossJoin(v.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .filter(graft.plans.GraftExpressions.cosine(
        col("a.embedding"), col("b.embedding")) >= 0.3)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
    val found = Similarity.cosineNearDupPairs(v, "vec_id", "embedding",
        dim = 64, minCosine = 0.3)
      .select("id_a", "id_b")
    val nFound = found.agg(count(lit(1)).as("n_pairs"))
    val hits = found.join(truth, Seq("id_a", "id_b"))
      .agg(count(lit(1)).as("hits"))
    nFound.crossJoin(hits)
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .select(lit("cosdup").as("method"), col("n_pairs"),
        floor(col("hits") * 100 / col("n_truth")).cast("long").as("recall_pct"))
      .unionByName(truth.agg(count(lit(1)).as("n_pairs"))
        .select(lit("truth").as("method"), col("n_pairs"),
          lit(100L).as("recall_pct")))
  }

  /** Constants measured once PER SF on the driver testdata (see
    * [[e6CosNearDup]]), dispatched on the events-table row count (see
    * [[d5Sql]]); re-derive with
    * `runMain graft.tools.QueryProbe show e6_cos_neardup <sfDir>` if the
    * testdata regenerates — a failure with no code change means the
    * fixture moved, not the similarity path. */
  val e6Sql: String =
    """SELECT method, n_pairs, recall_pct FROM (VALUES
      |  (1000,   'cosdup', CAST(6 AS BIGINT),   CAST(9 AS BIGINT)),
      |  (1000,   'truth',  CAST(61 AS BIGINT),  CAST(100 AS BIGINT)),
      |  (10000,  'cosdup', CAST(7 AS BIGINT),   CAST(12 AS BIGINT)),
      |  (10000,  'truth',  CAST(54 AS BIGINT),  CAST(100 AS BIGINT)),
      |  (100000, 'cosdup', CAST(98 AS BIGINT),  CAST(10 AS BIGINT)),
      |  (100000, 'truth',  CAST(934 AS BIGINT), CAST(100 AS BIGINT)))
      |  t(sf_n, method, n_pairs, recall_pct)
      |WHERE sf_n = (SELECT COUNT(*) FROM events)""".stripMargin

  /** The planted-cluster embedding fixture behind [[e7DesignRecall]]:
    * deterministic formula-derived unit vectors with REAL cluster
    * structure — 32 seeded-Gaussian unit centers; vector `id` lands in
    * cluster `id % 32` at `(1−ε)·center + ε·unit-noise(id)`,
    * re-normalized, with ε = 0.1 (within-cluster cosine ≈ 0.99,
    * cross-cluster ≈ |N(0,1/√64)|). The OsdbFixture pattern applied to
    * embeddings: ids come from the driver table (so the fixture scales
    * with sf), every value is a pure function of the id. */
  private val e7Dim = 64
  private val e7NClusters = 32
  private lazy val e7Centers: Array[Array[Double]] = Array.tabulate(e7NClusters) { c =>
    val rng = new scala.util.Random(9001L + c)
    val v = Array.fill(e7Dim)(rng.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  def e7PlantedEmbeddings(s: SparkSession, d: String): DataFrame = {
    val centers = e7Centers
    val dim = e7Dim
    val k = e7NClusters
    val plantUdf = udf { (id: Long) =>
      val ctr = centers((id % k).toInt)
      val rng = new scala.util.Random(id * 1000003L + 17)
      val g = Array.fill(dim)(rng.nextGaussian())
      val gn = math.sqrt(g.map(x => x * x).sum)
      val raw = Array.tabulate(dim)(j => 0.9 * ctr(j) + 0.1 * g(j) / gn)
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    Tables.embeddings(s, d).select(col("vec_id"),
      plantUdf(col("vec_id")).as("embedding"))
  }

  /** E7: DESIGN-POINT ANN recall gate — the complement to [[e5AnnRecall]].
    * e5 pins the declared e2/e4 configs on the driver's near-random
    * embeddings (honestly low, theory-matched); this entry pins the SAME
    * configs on the planted-cluster fixture ([[e7PlantedEmbeddings]]) —
    * the clustered regime the operators are designed for — and the pins
    * sit in the ≥ 0.9 band the docblocks claim. Everything is
    * deterministic (seeded centers/noise/hyperplanes/Lloyd, total
    * orderings), so floor(100·recall@3) is a constant per dataset and
    * the oracle states it. The brute-force truth side is the gate's
    * instrument (same class as d5/e5 — excluded from scale probes);
    * the operators under test are the production paths. */
  def e7DesignRecall(s: SparkSession, d: String): DataFrame = {
    val emb = e7PlantedEmbeddings(s, d)
    // no materialization — see e5AnnRecall (r20, ReusedExchange)
    val bf = Similarity.bruteForceKnn(emb, "vec_id", "embedding", k = 3)
      .select("vec_id", "neighbor_id")
    val lsh = Similarity.lshKnn(emb, "vec_id", "embedding",
        dim = 64, k = 3, bits = 8, tables = 4)
      .select("vec_id", "neighbor_id").withColumn("method", lit("lsh"))
    val ivf = Similarity.ivfKnn(emb, "vec_id", "embedding",
        dim = 64, k = 3, nlist = 16, nprobe = 4)
      .select("vec_id", "neighbor_id").withColumn("method", lit("ivf"))
    lsh.unionByName(ivf)
      .join(bf, Seq("vec_id", "neighbor_id"))
      .groupBy("method").agg(count(lit(1)).as("hits"))
      .crossJoin(broadcast(bf.agg(count(lit(1)).as("n_bf"))))
      .select(col("method"),
        floor(col("hits") * 100 / col("n_bf")).cast("long").as("recall_pct"))
  }

  /** Constants measured once on the driver sf0.01 testdata (see
    * [[e7DesignRecall]]); re-derive with
    * `runMain graft.tools.QueryProbe show e7_design_recall <sfDir>` after a
    * fixture regeneration. Both pins must sit at ≥ 90 — that is the
    * design-point claim this entry exists to hold. */
  val e7Sql: String =
    """SELECT * FROM (VALUES
      |  ('ivf', CAST(100 AS BIGINT)),
      |  ('lsh', CAST(99 AS BIGINT))) t(method, recall_pct)""".stripMargin

  /** E7B — the DERIVED-knob IVF path under an always-on recall gate:
    * `nlist = 0, nprobe = 0` makes [[Similarity.ivfKnn]] derive
    * nlist = ⌈√N⌉ and nprobe = max(4, ⌈√nlist⌉) — the measured
    * N^(1/4) probe law (SCALING.md round 11: fixed
    * nprobe=4 decays to 0.889 recall at 200k vectors; the derived
    * growth holds 0.988). e7 pins only explicit literals
    * (nlist=16, nprobe=4), so WITHOUT this entry a regression of the
    * derivation itself — the law every √N-scaled deployment rides —
    * would be invisible until someone re-ran the probe by hand.
    * Same planted-cluster fixture and brute-force instrument as e7;
    * everything is deterministic, so floor(100·recall@3) is a
    * constant per dataset and the oracle states it (must sit ≥ 90,
    * the design floor). */
  def e7bDerivedRecall(s: SparkSession, d: String): DataFrame = {
    val emb = e7PlantedEmbeddings(s, d)
    // no materialization — see e5AnnRecall (r20, ReusedExchange)
    val bf = Similarity.bruteForceKnn(emb, "vec_id", "embedding", k = 3)
      .select("vec_id", "neighbor_id")
    val ivf = Similarity.ivfKnn(emb, "vec_id", "embedding", dim = 64, k = 3)
      .select("vec_id", "neighbor_id")
    ivf.join(bf, Seq("vec_id", "neighbor_id"))
      .agg(count(lit(1)).as("hits"))
      .crossJoin(broadcast(bf.agg(count(lit(1)).as("n_bf"))))
      .select(lit("ivf_derived").as("method"),
        floor(col("hits") * 100 / col("n_bf")).cast("long").as("recall_pct"))
  }

  /** Constant measured once on the driver sf0.01 testdata (see
    * [[e7bDerivedRecall]]); re-derive with
    * `runMain graft.tools.QueryProbe show e7b_derived_recall <sfDir>` after a
    * fixture regeneration. The pin must sit ≥ 90. */
  val e7bSql: String =
    """SELECT 'ivf_derived' AS method, CAST(100 AS BIGINT) AS recall_pct"""

  /** E8 — distributed k-means ([[graft.operators.KMeans.lloyd]]): two
    * Lloyd rounds, k=8, seeds = the 8 lowest vec_ids, vectors quantized
    * to a 2^10 integer grid so every distance and centroid sum is
    * exact across engines (the operator docblock carries the full IEEE
    * argument). The oracle replays both rounds in SQL — seed argmin,
    * exact BIGINT centroid sums with one double division per dim, empty
    * clusters keeping their seed — and the final 500-row assignment
    * gates the whole chain (a wrong round-1 label almost surely moves
    * some round-2 label). Assignment is fully narrow (centroid literal,
    * no join); the update exchange is k×dim-bounded at any corpus
    * size. */
  def e8Kmeans(s: SparkSession, d: String): DataFrame =
    graft.operators.KMeans.lloyd(
      Tables.embeddings(s, d), "vec_id", "embedding", k = 8, iters = 2)

  /** The e8 Lloyd replay as a reusable CTE chain ending in `asg`
    * (vec_id, cluster) — shared verbatim by the e8 oracle and by pipe6,
    * which replays the SAME training over a planted-duplicate corpus.
    * `src` must expose (vec_id, `vecExpr` as DOUBLE[]). */
  private def lloydAsgCtes(src: String, vecExpr: String): String =
    s"""q AS (
       |  SELECT vec_id,
       |         list_transform($vecExpr,
       |                        x -> floor(x * 1024.0 + 0.5)) AS q
       |  FROM $src),
       |seeds AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, q AS cent
       |  FROM q ORDER BY vec_id LIMIT 8),
       |p1 AS (
       |  SELECT v.vec_id, v.q, s.c,
       |         list_transform(range(1, 65), i -> v.q[i] - s.cent[i]) AS d
       |  FROM q v CROSS JOIN seeds s),
       |a1 AS (
       |  SELECT vec_id, q, c FROM (
       |    SELECT vec_id, q, c, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY list_dot_product(d, d), c) AS rn
       |    FROM p1) WHERE rn = 1),
       |upd AS (
       |  SELECT a.c, i.pos,
       |         CAST(SUM(CAST(a.q[i.pos] AS BIGINT)) AS DOUBLE) AS s,
       |         COUNT(*) AS n
       |  FROM a1 a CROSS JOIN range(1, 65) AS i(pos)
       |  GROUP BY a.c, i.pos),
       |cent2 AS (
       |  SELECT s.c,
       |         CASE WHEN u.c IS NULL THEN s.cent ELSE u.cent END AS cent
       |  FROM seeds s LEFT JOIN (
       |    SELECT c, list(s / n ORDER BY pos) AS cent FROM upd
       |    GROUP BY c) u ON s.c = u.c),
       |p2 AS (
       |  SELECT v.vec_id, s.c,
       |         list_transform(range(1, 65), i -> v.q[i] - s.cent[i]) AS d
       |  FROM q v CROSS JOIN cent2 s),
       |asg AS (
       |  SELECT vec_id, CAST(c AS INT) AS cluster FROM (
       |    SELECT vec_id, c, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY list_dot_product(d, d), c) AS rn
       |    FROM p2) WHERE rn = 1)""".stripMargin

  val e8Sql: String =
    "WITH " + lloydAsgCtes("embeddings", "embedding::DOUBLE[]") +
      "\nSELECT vec_id, cluster FROM asg"

  /** DECON2 — SEMANTIC decontamination (decon1's n-gram check catches
    * verbatim leaks; paraphrased eval items need the embedding space):
    * every vec with vec_id % 10 == 3 plays the eval benchmark; a train
    * vec is contaminated if its cosine to ANY eval vec reaches 0.8.
    * Exactness is the point — a missed contamination is a benchmark
    * leak, so the operator is [[Similarity.bruteForceKnn]] with the
    * eval set as the BROADCAST corpus (eval benchmarks are small and
    * fixed-size; an exact one-pass scan with no train-side shuffle is
    * both affordable and recall-1 by construction, where ANN blocking
    * would trade recall for speed in the one place recall is the
    * contract). Contamination is PLANTED by formula: train vecs with
    * vec_id % 13 == 1 carry an exact copy of their decade's eval
    * embedding (vec_id − vec_id%10 + 3), shipped in via a broadcast
    * join both engines replicate — those must flag at cosine exactly
    * 1.0; the fixture's natural cross-boundary maximum is ~0.51, three
    * float decades below the 0.8 threshold, so the booleans cannot
    * flake. Output pins each train vec's ARGMAX eval neighbor
    * (deterministic: both engines accumulate the dot product
    * left-to-right and tie-break by neighbor id — e1's established
    * contract) plus the flag; raw scores stay out of the hash. */
  def decon2SemanticOverlap(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).filter(
      graft.plans.GraftExpressions.arrayDot(col("embedding"), col("embedding")) > 0)
    val evalSet = emb.filter(col("vec_id") % 10 === 3)
    val target = evalSet.select(col("vec_id").as("tgt_id"),
      col("embedding").as("ev_emb"))
    val planted = emb.filter(col("vec_id") % 10 =!= 3)
      .withColumn("tgt_id", col("vec_id") - col("vec_id") % 10 + 3)
      .join(broadcast(target), Seq("tgt_id"), "left")
      .select(col("vec_id"),
        when(col("vec_id") % 13 === 1 && col("ev_emb").isNotNull, col("ev_emb"))
          .otherwise(col("embedding")).as("embedding"))
    Similarity.bruteForceKnn(planted, "vec_id", "embedding", k = 1,
        corpus = Some(evalSet))
      .select(col("vec_id"), col("neighbor_id").as("nearest_eval_id"),
        (col("score") >= lit(0.8)).as("contaminated"))
  }

  val decon2Sql: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings
      |           WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
      |ev AS (SELECT vec_id, e FROM v WHERE vec_id % 10 = 3),
      |tr0 AS (SELECT vec_id, e, vec_id - (vec_id % 10) + 3 AS tgt
      |        FROM v WHERE vec_id % 10 <> 3),
      |tr AS (SELECT t.vec_id,
      |         CASE WHEN t.vec_id % 13 = 1 AND ev.e IS NOT NULL
      |              THEN ev.e ELSE t.e END AS e
      |       FROM tr0 t LEFT JOIN ev ON ev.vec_id = t.tgt),
      |p AS (SELECT t.vec_id, e2.vec_id nid,
      |        list_dot_product(t.e, e2.e)
      |          / (sqrt(list_dot_product(t.e, t.e))
      |             * sqrt(list_dot_product(e2.e, e2.e))) AS score
      |      FROM tr t, ev e2)
      |SELECT vec_id, nid AS nearest_eval_id, score >= 0.8 AS contaminated
      |FROM (SELECT vec_id, nid, score,
      |        row_number() OVER (PARTITION BY vec_id
      |                           ORDER BY score DESC, nid) AS rn
      |      FROM p)
      |WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------- multimodal

  /** X1 multimodal plumbing: formula-planted media payloads →
    * size-aware repartition → per-partition batch decode (stubbed
    * deterministic codec) → feature rows, FULLY oracled including the
    * decoded-domain mean/std.
    *
    * The payload is planted by closed form — 128 bytes, byte i of doc
    * `id` = (id·31 + i·17) mod 256 — so DuckDB can rebuild the byte
    * stream with a range() unnest and state mean/std exactly. The
    * length 128 = 2^7 is load-bearing for BIT-exactness of the doubles:
    * the intensity sum is an exact integer; mean = S/2^7 divides
    * exactly (power-of-two divisor); each deviation (v − mean) is an
    * exact multiple of 2^-7 below 2^8, its square an exact multiple of
    * 2^-14 below 2^16, so every addend — and every partial sum, in ANY
    * order, under 2^53 — is exactly representable. Both engines
    * therefore compute the identical sum regardless of fold order, and
    * the final sqrt is a correctly-rounded single op. That upgrades x1
    * from rows-only to a hash-gated entry through the REAL
    * decode/featurize path (the fake codec maps byte → intensity 1:1,
    * so the pins exercise decode + mean/std end to end). */
  def x1Multimodal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val plantPayload = udf { (id: Long) =>
      Array.tabulate(128)(i => ((id * 31 + i * 17) % 256).toByte)
    }
    val media = Tables.documents(s, d).select(
      col("doc_id").as("id"),
      struct(lit("image").as("mediaType"), lit(8).as("width"), lit(8).as("height"),
        lit(0).as("sampleRateHz"), lit(0L).as("durationMs"),
        lit("fake").as("codec")).as("meta"),
      plantPayload(col("doc_id")).as("payload")).as[Multimodal.MediaRow]
    Multimodal.extractFeatures(Multimodal.repartitionBySize(media, 8))
      .toDF().select(col("id"), col("mediaType").as("media_type"),
        col("nBytes").as("n_bytes"),
        col("meanIntensity").as("mean_intensity"),
        col("stdIntensity").as("std_intensity"))
  }

  val x1Sql: String =
    """WITH b AS (
      |  SELECT doc_id, (doc_id * 31 + i * 17) % 256 AS v
      |  FROM documents, range(0, 128) t(i)),
      |s AS (SELECT doc_id, CAST(SUM(v) AS DOUBLE) / 128 AS m FROM b GROUP BY 1)
      |SELECT b.doc_id AS id, 'image' AS media_type, CAST(128 AS BIGINT) AS n_bytes,
      |  s.m AS mean_intensity,
      |  sqrt(SUM((v - s.m) * (v - s.m)) / 128) AS std_intensity
      |FROM b JOIN s ON b.doc_id = s.doc_id
      |GROUP BY b.doc_id, s.m""".stripMargin

  /** X2: the multimodal frame-sampling stage with an EXACT structural
    * oracle — stride-10 sampling of an n-byte payload emits exactly
    * ceil(n/10) frames, and the payload byte length is octet_length in
    * both engines. (The decoded intensities stay rows-only in x1: the
    * fake codec's values are byte-stream-derived and DuckDB cannot
    * iterate blob bytes.) */
  def x2MediaFrames(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // empty/null payloads emit zero frames and therefore no group row —
    // filter them on BOTH sides so the oracle can't produce phantom rows
    val media = Tables.documents(s, d)
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(
      col("doc_id").as("id"),
      struct(lit("video").as("mediaType"), lit(8).as("width"), lit(8).as("height"),
        lit(0).as("sampleRateHz"), lit(0L).as("durationMs"),
        lit("fake").as("codec")).as("meta"),
      encode(col("text"), "UTF-8").as("payload")).as[Multimodal.MediaRow]
    Multimodal.sampleFrames(Multimodal.repartitionBySize(media, 8), stride = 10)
      .groupBy("id")
      .agg(count(lit(1)).as("n_frames"), max(col("frame_idx")).cast("long").as("last_idx"))
  }

  val x2Sql: String =
    """SELECT doc_id AS id,
      |  (octet_length(encode(text)) + 9) // 10 AS n_frames,
      |  (octet_length(encode(text)) + 9) // 10 - 1 AS last_idx
      |FROM documents
      |WHERE text IS NOT NULL AND octet_length(encode(text)) > 0""".stripMargin

  /** X3: the multimodal resize stage with an EXACT structural oracle —
    * every surviving row re-encodes to exactly the target geometry
    * (64 bytes, width 64, height 1), regardless of input size. The
    * resampled intensities stay fake-codec-internal (like x1); the
    * oracle pins cardinality and the size/metadata contract. */
  def x3MediaResize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d)
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(
        col("doc_id").as("id"),
        struct(lit("image").as("mediaType"), lit(8).as("width"), lit(8).as("height"),
          lit(0).as("sampleRateHz"), lit(0L).as("durationMs"),
          lit("fake").as("codec")).as("meta"),
        encode(col("text"), "UTF-8").as("payload")).as[Multimodal.MediaRow]
    Multimodal.resizeMedia(Multimodal.repartitionBySize(media, 8), 64)
      .toDF()
      .select(col("id"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        col("meta.width").cast("long").as("width"),
        col("meta.height").cast("long").as("height"))
  }

  val x3Sql: String =
    """SELECT doc_id AS id, CAST(64 AS BIGINT) AS n_bytes,
      |  CAST(64 AS BIGINT) AS width, CAST(1 AS BIGINT) AS height
      |FROM documents
      |WHERE text IS NOT NULL AND octet_length(encode(text)) > 0""".stripMargin

  // ------------------------------------------------------------------ skew

  /** SK1: the skew ladder's tier-3 [[graft.operators.Skew.saltedJoin]]
    * demonstrated at bench scale on a deliberately hot-keyed join — 90%
    * of fact rows share key 0, the exact shape AQE cannot fix (AQE
    * splits partitions, not keys). The build side carries a shuffle_hash
    * hint so the demo exercises the salted SHUFFLE join rather than
    * being broadcast away (with a genuinely broadcastable build you'd
    * use tier 1). Salting is pure spreading — semantics stay the plain
    * equi-join's, so the aggregate is fully oracle-checked; PlanSpec
    * pins the (key, __salt) exchange shape. */
  def sk1SaltedJoin(s: SparkSession, d: String): DataFrame = {
    val fact = Tables.events(s, d).select(
      when(col("event_id") % 10 < 9, 0L)
        .otherwise(col("event_id") % 100).as("hk"))
    val build = s.range(0, 100).select(col("id").as("hk"),
      (col("id") * 7 % 13).as("w"))
    graft.operators.Skew.saltedJoin(fact, build.hint("shuffle_hash"), "hk",
        salt = 8)
      .groupBy("hk", "w").agg(count(lit(1)).as("n"))
  }

  val sk1Sql: String =
    """SELECT hk, w, COUNT(*) AS n
      |FROM (SELECT CASE WHEN event_id % 10 < 9 THEN 0
      |             ELSE event_id % 100 END AS hk FROM events) f
      |JOIN (SELECT i AS hk, i*7 % 13 AS w FROM range(0, 100) t(i)) b USING (hk)
      |GROUP BY hk, w""".stripMargin

  // ------------------------------------------------- composed pipeline

  /** PIPE1 — the end-to-end training-corpus pipeline, the shape a real
    * 100 TB pretraining-data job composes from this library's stages:
    *
    *   plant formatting-noise duplicates (UPPER + padded whitespace,
    *   shifted ids) → exact-dedup on the normalized fingerprint
    *   ([[Dedup.exactDedup]]) → language-gate to English
    *   ([[TextAnalysis.langId]]) → quality-gate on token count and
    *   punctuation ratio → deterministic hash split (the m1 salted
    *   multiplicative hash) → per-split doc/token accounting.
    *
    * The point of the entry is composition: every stage is a pure
    * Column expression except the dedup window, so the whole pipeline
    * is scan → window(fingerprint) → hash-agg — two exchanges total at
    * any scale, with the language/quality gates evaluated in the same
    * WholeStageCodegen pass as the scan. The planted duplicates make
    * the dedup stage load-bearing: originals survive (min doc_id), the
    * +100000-shifted noisy copies must vanish before the gates run. */
  /** BLOOM2 — incremental-ingest dedup via [[graft.operators.Bloom
    * .bloomAntiJoin]]: "which of today's batch is NOT already in the
    * corpus?", keyed on the normalized text fingerprint. The batch is
    * planted for load-bearing-ness, the pipe1 pattern: genuinely-new
    * docs (id-stamped prefix text, shifted ids) must ALL survive, and
    * re-ingested formatting-noise copies (UPPER + padded whitespace,
    * shifted ids) must ALL be dropped — their fingerprints normalize
    * back to corpus fingerprints.
    *
    * The 100 TB point is the Bloom short-circuit: rows failing the
    * corpus-fingerprint Bloom probe are PROVABLY new (no false
    * negatives) and skip the join entirely — only the might-contain
    * sliver (true re-ingests + fpp stragglers) pays the exact LeftAnti
    * join, so daily-ingest dedup against a petabyte corpus joins
    * roughly the overlap, not the batch. Results exact for any fpp;
    * the oracle is the plain NOT EXISTS. */
  def bloom2AntiIngest(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
    val fresh = docs.filter(col("doc_id") % 5 === 1)
      .select((col("doc_id") + 500000L).as("doc_id"), col("lang"),
        concat(lit("new "), col("doc_id"), lit(" "), col("text")).as("text"))
    val reingest = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 900000L).as("doc_id"), col("lang"),
        concat(lit("  "), upper(col("text")), lit(" ")).as("text"))
    val batch = fresh.unionByName(reingest)
      .withColumn("f", TextAnalysis.fingerprint(col("text")))
    val corpus = docs.select(TextAnalysis.fingerprint(col("text")).as("f"))
    // filter sized to the corpus keyset (~10 bits/key ≈ 1% fpp) — a
    // petabyte caller sizes these up with its fingerprint count
    graft.operators.Bloom.bloomAntiJoin(batch, "f", corpus, "f",
        expectedItems = 100000L, numBits = 1048576L)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_new"), min("doc_id").as("first_new_id"))
  }

  val bloom2Sql: String =
    """WITH base AS (SELECT doc_id, lang, text FROM documents),
      |fresh AS (SELECT doc_id + 500000 AS doc_id, lang,
      |                 'new ' || doc_id || ' ' || text AS text
      |          FROM base WHERE doc_id % 5 = 1),
      |re AS (SELECT doc_id + 900000 AS doc_id, lang,
      |              '  ' || upper(text) || ' ' AS text
      |       FROM base WHERE doc_id % 5 = 0),
      |batch AS (SELECT *,
      |            md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
      |          FROM (SELECT * FROM fresh UNION ALL SELECT * FROM re)),
      |corpus AS (SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
      |           FROM base)
      |SELECT lang, COUNT(*) AS n_new, MIN(doc_id) AS first_new_id
      |FROM batch b
      |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.f = b.f)
      |GROUP BY lang""".stripMargin

  /** PIPE3 — incremental corpus refresh, the ingest-path composition
    * (pipe1 is the from-scratch batch path): planted batch → Bloom
    * anti-ingest dedup against the corpus fingerprint set (bloom2's
    * short-circuit: provably-new rows never join) → pipe1's
    * language/quality gates → deterministic hash split → per-split
    * doc/token accounting.
    *
    * The composition is the point at 100 TB: the Bloom probe, both
    * gates, and the split assignment are all pure Column expressions,
    * so the ENTIRE accept path for a provably-new document — probe →
    * langid → token count → punct ratio → split — evaluates in the
    * scan's single WholeStageCodegen pass, and the only exchanges in
    * the plan are the anti-join sliver's broadcast and the final
    * 2-row aggregation. Daily-refresh cost tracks batch size and
    * overlap, never corpus size. */
  def pipe3IncrementalRefresh(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
    val fresh = docs.filter(col("doc_id") % 5 === 1)
      .select((col("doc_id") + 500000L).as("doc_id"),
        concat(lit("new "), col("doc_id"), lit(" "), col("text")).as("text"))
    val reingest = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 900000L).as("doc_id"),
        concat(lit("  "), upper(col("text")), lit(" ")).as("text"))
    val batch = fresh.unionByName(reingest)
      .withColumn("f", TextAnalysis.fingerprint(col("text")))
    val corpus = docs.select(TextAnalysis.fingerprint(col("text")).as("f"))
    val accepted = graft.operators.Bloom
      .bloomAntiJoin(batch, "f", corpus, "f",
        expectedItems = 100000L, numBits = 1048576L)
      .filter(TextAnalysis.langId(col("text")) === "en")
      .filter(TextAnalysis.tokenCount(col("text")) >= 30)
      .filter(TextAnalysis.punctRatio(col("text")) < 0.2)
    val bucket = Exact.knuthHash32(col("doc_id"))
    accepted
      .withColumn("split",
        when(bucket < lit(3435973836L), "train").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text"))).as("total_ws_tokens"),
        sum(TextAnalysis.bpeishTokenCount(col("text"))).as("total_bpeish_tokens"))
  }

  val pipe3Sql: String =
    s"""WITH base AS (SELECT doc_id, text FROM documents),
       |fresh AS (SELECT doc_id + 500000 AS doc_id,
       |                 'new ' || doc_id || ' ' || text AS text
       |          FROM base WHERE doc_id % 5 = 1),
       |re AS (SELECT doc_id + 900000 AS doc_id,
       |              '  ' || upper(text) || ' ' AS text
       |       FROM base WHERE doc_id % 5 = 0),
       |batch AS (SELECT *,
       |            md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
       |          FROM (SELECT * FROM fresh UNION ALL SELECT * FROM re)),
       |corpus AS (SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
       |           FROM base),
       |accepted AS (
       |  SELECT doc_id, text FROM batch b
       |  WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.f = b.f)
       |    AND $langIdSqlExpr = 'en'
       |    AND len(regexp_split_to_array(trim(text), '\\s+')) >= 30
       |    AND CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
       |        / greatest(length(text), 1) < 0.2)
       |SELECT CASE WHEN ${Exact.knuthHash32Sql("doc_id")} < 3435973836
       |            THEN 'train' ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
       |    AS total_ws_tokens,
       |  CAST(SUM(len(regexp_extract_all(lower(text),
       |    '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS total_bpeish_tokens
       |FROM accepted GROUP BY 1""".stripMargin

  def pipe1CorpusPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val noisy = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(lit("  "), upper(col("text")), lit("   ")).as("text"))
    val deduped = Dedup.exactDedup(docs.unionByName(noisy), "doc_id", "text")
    val gated = deduped
      .filter(TextAnalysis.langId(col("text")) === "en")
      .filter(TextAnalysis.tokenCount(col("text")) >= 30)
      .filter(TextAnalysis.punctRatio(col("text")) < 0.2)
    val bucket = Exact.knuthHash32(col("doc_id"))
    gated
      .withColumn("split",
        when(bucket < lit(3435973836L), "train").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text"))).as("total_ws_tokens"),
        sum(TextAnalysis.bpeishTokenCount(col("text"))).as("total_bpeish_tokens"))
  }

  val pipe1Sql: String =
    s"""WITH staged AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, '  ' || upper(text) || '   '
       |  FROM documents WHERE doc_id % 7 = 0),
       |dedup AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text, row_number() OVER (
       |      PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
       |      ORDER BY doc_id) AS rn
       |    FROM staged) WHERE rn = 1),
       |gated AS (
       |  SELECT doc_id, text FROM dedup
       |  WHERE $langIdSqlExpr = 'en'
       |    AND len(regexp_split_to_array(trim(text), '\\s+')) >= 30
       |    AND CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
       |        / greatest(length(text), 1) < 0.2)
       |SELECT CASE WHEN ${Exact.knuthHash32Sql("doc_id")} < 3435973836
       |            THEN 'train' ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
       |    AS total_ws_tokens,
       |  CAST(SUM(len(regexp_extract_all(lower(text),
       |    '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS total_bpeish_tokens
       |FROM gated GROUP BY 1""".stripMargin

  /** PIPE2 — sequence packing ([[graft.operators.Pack]]): lay the corpus
    * end-to-end in doc_id order, chop into 4096-token chunks, report
    * per-chunk document/token counts. The oracle states the same
    * semantics as the single-partition window Spark must NOT use (the
    * operator's docblock explains the distributed two-pass prefix sum);
    * PlanSpec pins the absence of a SinglePartition exchange. */
  def pipe2TokenPacking(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"),
      TextAnalysis.bpeishTokenCount(col("text")).as("n_tok"))
    graft.operators.Pack.tokenPack(docs, "doc_id", "n_tok", seqLen = 4096)
      .groupBy("chunk")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        min("doc_id").as("first_doc"))
  }

  val pipe2Sql: String =
    """WITH t AS (SELECT doc_id,
      |    CAST(len(regexp_extract_all(lower(text),
      |      '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (SELECT doc_id, n_tok,
      |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS strt
      |  FROM t)
      |SELECT strt // 4096 AS chunk, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens, MIN(doc_id) AS first_doc
      |FROM c GROUP BY 1""".stripMargin

  /** DECON1 — test-set decontamination ([[graft.operators.Decontaminate]]):
    * every 20th document (doc_id % 20 == 7) plays the EVAL benchmark; the
    * rest are the train corpus; a train doc is contaminated if it shares
    * any 5-gram with any eval doc. Load-bearing on two axes: a canary
    * phrase of out-of-vocabulary tokens is PLANTED (t5's pattern) onto
    * all eval docs and onto train docs with doc_id % 13 == 1 — those
    * must flag — and the fixture's ~46-word vocabulary makes natural
    * 5-gram collisions common enough that the overlap counts are
    * non-trivial for unplanted docs too. The oracle rebuilds the
    * identical planted corpus and shingle domain in SQL, so the hash
    * gate pins every doc's exact overlap count, not just the flags.
    * Plan shape: eval shingles broadcast; the train side is one scan
    * pass with a partial-agg-collapsed per-doc count (operator
    * docblock). */
  def decon1EvalOverlap(s: SparkSession, d: String): DataFrame = {
    val canary = " canarya canaryb canaryc canaryd canarye"
    val planted = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      concat(col("text"),
        when(col("doc_id") % 20 === 7 || col("doc_id") % 13 === 1, lit(canary))
          .otherwise(lit(""))).as("text"))
    val evalDocs = planted.filter(col("doc_id") % 20 === 7)
    val train = planted.filter(col("doc_id") % 20 =!= 7)
    val hits = graft.operators.Decontaminate
      .overlapCounts(train, evalDocs, "doc_id", "text", n = 5)
    train.select("doc_id", "lang")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) > 0).as("contaminated"))
  }

  val decon1Sql: String =
    """WITH planted AS (
      |  SELECT doc_id, lang, text ||
      |    CASE WHEN doc_id % 20 = 7 OR doc_id % 13 = 1
      |         THEN ' canarya canaryb canaryc canaryd canarye'
      |         ELSE '' END AS text
      |  FROM documents),
      |toks AS (SELECT doc_id, lang,
      |    regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM planted),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, len(t) - 3),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
      |           t[i+3] || ' ' || t[i+4]))) AS s
      |  FROM toks),
      |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 7),
      |hits AS (SELECT doc_id, COUNT(*) AS n_hit FROM sh JOIN ev USING (s)
      |         WHERE doc_id % 20 <> 7 GROUP BY 1)
      |SELECT p.doc_id, p.lang, COALESCE(h.n_hit, 0) AS n_hit,
      |       COALESCE(h.n_hit, 0) > 0 AS contaminated
      |FROM planted p LEFT JOIN hits h USING (doc_id)
      |WHERE p.doc_id % 20 <> 7""".stripMargin

  /** PIPE4 — domain-mixture rebalancing: downsample every source to the
    * token budget of the SMALLEST source (the classic "uniform domain
    * mix" rebalance before pretraining), with per-source token
    * accounting before and after. Inclusion is the deterministic
    * integer hash filter (m1's Knuth multiplicative hash): keep a doc
    * iff hash(doc_id) · src_tokens < 2³² · min_tokens, i.e. with
    * probability min_tokens/src_tokens — reproducible without any
    * stored sampling state, and integer-exact across engines (the
    * cross-multiply rides DECIMAL(38,0) on the Spark side and HUGEINT
    * in the oracle, so per-source token counts up to ~10²⁸ cannot
    * overflow; doubles never enter the decision). The hash itself is
    * [[Exact.knuthHash32]] — its docblock states the safe id domain
    * and the DECIMAL escape hatch for a larger id space.
    *
    * 100 TB shape: pass 1 reduces the corpus to one (source, tokens)
    * row per domain — map-side collapsed, a few dozen rows out — and
    * those rates come BACK as a broadcast onto pass 2's scan, where the
    * keep decision is a codegen'd row-local predicate. No shuffle ever
    * carries text; the only exchanges are the two per-source
    * aggregations. (A production pipeline persists the slim
    * (doc_id, source, n_tok) projection between the passes so the text
    * bytes are scanned once.) */
  def pipe4DomainMixture(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
      TextAnalysis.bpeishTokenCount(col("text")).cast("long").as("n_tok"))
    val perSrc = docs.groupBy("source").agg(sum("n_tok").as("src_tokens"))
    val minTok = perSrc.agg(min("src_tokens").as("min_tokens"))
    val dec = "decimal(38,0)"
    val keep = Exact.knuthHash32(col("doc_id"))
      .cast(dec) * col("src_tokens").cast(dec) <
      lit(4294967296L).cast(dec) * col("min_tokens").cast(dec)
    docs
      .join(broadcast(perSrc), "source")
      .crossJoin(broadcast(minTok))
      .withColumn("keep", keep)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs_in"),
        max("src_tokens").as("tokens_in"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_docs_kept"),
        sum(when(col("keep"), col("n_tok")).otherwise(0L)).as("tokens_kept"))
  }

  val pipe4Sql: String =
    s"""WITH t AS (SELECT doc_id, source,
      |    CAST(len(regexp_extract_all(lower(text),
      |      '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tok
      |  FROM documents),
      |src AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tokens
      |        FROM t GROUP BY 1),
      |mn AS (SELECT MIN(src_tokens) AS min_tokens FROM src),
      |k AS (SELECT t.*, src_tokens, min_tokens,
      |    CAST(${Exact.knuthHash32Sql("doc_id")} AS HUGEINT) * src_tokens
      |      < CAST(4294967296 AS HUGEINT) * min_tokens AS keep
      |  FROM t JOIN src USING (source) CROSS JOIN mn)
      |SELECT source, COUNT(*) AS n_docs_in, MAX(src_tokens) AS tokens_in,
      |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
      |  CAST(SUM(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT)
      |    AS tokens_kept
      |FROM k GROUP BY 1""".stripMargin

  /** PIPE5 — adaptive per-domain quality gating: keep each document at
    * or above its OWN source's median quality (per-domain thresholds
    * are the standard practice — a fixed global cutoff over-prunes
    * noisy domains and under-prunes clean ones). Quality here is token
    * density (bpeish tokens per char — cheap, monotone with
    * boilerplate/markup share); the per-source median is a15's exact
    * rank selection, so the threshold is an actual data value both
    * engines select bit-identically, and `score >= median` compares
    * two identically-computed doubles — no epsilon anywhere. (The
    * median pass and the keep pass each scan the corpus — at 100 TB a
    * caller persists the slim (doc_id, source, score) projection
    * between them, pipe4's note.)
    *
    * 100 TB shape, stated honestly: the exact per-domain median costs
    * one window shuffle keyed on source (same physics as a15); with
    * skewed domain sizes the per-source SORT is the expensive exact
    * path, and the production alternative is sketch3's one-pass
    * `percentile_approx` threshold with a rank-error band — this entry
    * is the exact twin that such a sketch answers to. The threshold
    * table (one row per source) comes BACK as a broadcast; the keep
    * decision is row-local in the scan. */
  def pipe5AdaptiveQuality(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
      TextAnalysis.bpeishTokenCount(col("text")).cast("long").as("n_tok"),
      col("n_chars"))
      // greatest(n_chars, 1): an empty doc scores 0.0 on BOTH engines —
      // a bare 0 divisor is NULL under Spark's non-ANSI Divide but inf
      // in DuckDB, which would shift the window order and the median
      .withColumn("score", col("n_tok") / greatest(col("n_chars"), lit(1L)))
    val w = Window.partitionBy("source").orderBy(col("score"), col("doc_id"))
    val med = docs
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
      .groupBy("source")
      .agg(max(col("n")).as("n_in"),
        min(when(col("rn") === ceil(col("n") * 0.5), col("score")))
          .as("median_score"))
    docs.join(broadcast(med), "source")
      .filter(col("score") >= col("median_score"))
      .groupBy("source")
      .agg(max(col("n_in")).as("n_in"),
        count(lit(1)).as("n_kept"),
        sum(col("n_tok")).as("tokens_kept"),
        max(col("median_score")).as("median_score"))
  }

  val pipe5Sql: String =
    """WITH t AS (SELECT doc_id, source, n_chars,
      |    CAST(len(regexp_extract_all(lower(text),
      |      '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_tok
      |  FROM documents),
      |sc AS (SELECT *, CAST(n_tok AS DOUBLE) / GREATEST(n_chars, 1) AS score
      |       FROM t),
      |med AS (SELECT source, MAX(n) AS n_in,
      |    MIN(CASE WHEN rn = CEIL(n * 0.5) THEN score END) AS median_score
      |  FROM (SELECT source, score,
      |          row_number() OVER (PARTITION BY source
      |                             ORDER BY score, doc_id) AS rn,
      |          COUNT(*) OVER (PARTITION BY source) AS n
      |        FROM sc)
      |  GROUP BY source)
      |SELECT source, MAX(n_in) AS n_in, COUNT(*) AS n_kept,
      |  CAST(SUM(n_tok) AS BIGINT) AS tokens_kept,
      |  MAX(median_score) AS median_score
      |FROM sc JOIN med USING (source)
      |WHERE score >= median_score
      |GROUP BY source""".stripMargin

  /** PIPE6 — SemDeDup semantic deduplication ([[graft.operators
    * .Similarity.semDedupKept]] over [[graft.operators.KMeans.lloyd]]
    * clusters — the full two-stage pipeline of Abbas et al. 2023):
    * cluster the embedding corpus with the e8 trainer (k=8, 2 Lloyd
    * rounds, exact quantized arithmetic), then drop any vector whose
    * cosine to a lower-id member of the SAME cluster reaches 0.95.
    * Near-dups are PLANTED by formula: vecs with vec_id % 17 == 5 carry
    * an exact copy of their decade-base embedding (vec_id − vec_id%10),
    * shipped in via a broadcast join both engines replicate. Identical
    * vectors get identical quantized distances, hence the SAME cluster
    * — so every planted copy MUST come back kept=false, while the
    * fixture's natural pairs sit far below the threshold (decon2
    * measured the cross-decade max at ~0.51). The oracle replays Lloyd
    * over the planted corpus via the shared [[lloydAsgCtes]] chain and
    * restates the keep rule as an EXISTS — assignment, pairing, and
    * verdicts all hash-gated. Cluster-keyed pairing bounds the
    * quadratic term by the largest cluster; k is the scale dial
    * (operator docblock). */
  def pipe6SemDedup(s: SparkSession, d: String): DataFrame = {
    val eb = Tables.embeddings(s, d)
    val base = eb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("tgt"), col("embedding").as("b_emb"))
    // cached in the query scope: lloyd re-scans its input per iteration
    // (plus the seed collect) and semDedupKept self-joins it — ~5
    // executions of the planting join otherwise
    val planted = graft.Scoped.current.persist(eb
      .withColumn("tgt", col("vec_id") - col("vec_id") % 10)
      .join(broadcast(base), Seq("tgt"), "left")
      .select(col("vec_id"),
        when(col("vec_id") % 17 === 5 && col("b_emb").isNotNull, col("b_emb"))
          .otherwise(col("embedding")).as("embedding")))
    val clusters = graft.operators.KMeans.lloyd(
      planted, "vec_id", "embedding", k = 8, iters = 2)
    graft.operators.Similarity.semDedupKept(
      planted.join(clusters, "vec_id"),
      "vec_id", "embedding", "cluster", tau = 0.95)
  }

  val pipe6Sql: String =
    """WITH eb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |bse AS (SELECT vec_id AS tgt, e AS be FROM eb WHERE vec_id % 10 = 0),
      |emb2 AS (
      |  SELECT t.vec_id,
      |         CASE WHEN t.vec_id % 17 = 5 AND b.be IS NOT NULL
      |              THEN b.be ELSE t.e END AS emb
      |  FROM eb t LEFT JOIN bse b ON b.tgt = t.vec_id - (t.vec_id % 10)),
      |""".stripMargin +
      lloydAsgCtes("emb2", "emb") + ",\n" +
      """jv AS (
        |  SELECT a.vec_id, a.cluster, m.emb AS e,
        |         list_dot_product(m.emb, m.emb) AS nn
        |  FROM asg a JOIN emb2 m USING (vec_id)),
        |drops AS (
        |  SELECT DISTINCT x.vec_id
        |  FROM jv x JOIN jv y
        |    ON x.cluster = y.cluster AND y.vec_id < x.vec_id
        |  WHERE x.nn > 0 AND y.nn > 0
        |    AND list_dot_product(x.e, y.e)
        |          / (sqrt(x.nn) * sqrt(y.nn)) >= 0.95)
        |SELECT jv.vec_id, jv.cluster, d.vec_id IS NULL AS kept
        |FROM jv LEFT JOIN drops d USING (vec_id)""".stripMargin

  /** SHUF1 — deterministic corpus shuffle: the reorder step a training
    * pipeline runs between curation and sequence packing (adjacent raw
    * documents are correlated — same crawl, same domain — so the corpus
    * is laid out in hash order before packing). Order key is the Knuth
    * multiplicative hash [[Exact.knuthHash32]] — bijective mod 2³²
    * (odd multiplier), so within its documented safe id domain the
    * order is total and every position unique. Each doc's exact global shuffled position
    * comes from [[graft.operators.Pack.prefixSum]] over (h, 1) — the
    * distributed two-pass prefix sum (range exchange, never a
    * single-partition window; pipe2's PlanSpec pin covers the shape).
    * The only other exchange is the slim (h, doc_id) ⋈ (h, pos) join
    * that pins positions back onto ids — longs only, never text. The
    * oracle states the same semantics as the global window DuckDB can
    * afford at oracle scale. */
  def shuf1DeterministicShuffle(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select(col("doc_id"),
      Exact.knuthHash32(col("doc_id")).as("h"))
    val pairs = docs.select(col("h"), lit(1L).as("w")).as[(Long, Long)]
    val pos = graft.operators.Pack.prefixSum(pairs, parts = 32)
      .select(col("doc_id").as("h"), col("start_offset").as("pos"))
    docs.join(pos, "h").select(col("doc_id"), col("h"), col("pos"))
  }

  val shuf1Sql: String =
    s"""SELECT doc_id, ${Exact.knuthHash32Sql("doc_id")} AS h,
       |  row_number() OVER (ORDER BY ${Exact.knuthHash32Sql("doc_id")}) - 1
       |    AS pos
       |FROM documents""".stripMargin

  // ------------------------------------------------------------ registry

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_exact_dedup"   -> (d1ExactDedup _),
    "d2_ngram_jaccard" -> (d2NgramJaccard _),
    "d3_minhash_lsh"   -> (d3MinHashLsh _),
    "d4_simhash"       -> (d4SimHash _),
    "d5_dedup_recall"  -> (d5DedupRecall _),
    "d6_dup_clusters"  -> (d6DupClusters _),
    "d7_span_dedup"    -> (d7SpanDedup _),
    "bpe1_train_merges" -> (bpe1TrainMerges _),
    "bpe2_token_counts" -> (bpe2TokenCounts _),
    "pipe7_clean_train_tokenize" -> (pipe7CleanTrainTokenize _),
    "t1_langid"        -> (t1LangId _),
    "t2_quality"       -> (t2Quality _),
    "t3_tokens"        -> (t3Tokens _),
    "t4_fingerprint"   -> (t4Fingerprint _),
    "t5_redaction"     -> (t5Redaction _),
    "t6_vocab_topk"    -> (t6VocabTopk _),
    "t7_token_rollup"  -> (t7TokenRollup _),
    "t8_bm25"          -> (t8Bm25 _),
    "t9_chunking"      -> (t9Chunking _),
    "t10_repetition"   -> (t10Repetition _),
    "lm1_bigram_score" -> (lm1BigramScore _),
    "sketch2_cms_topk" -> (sketch2CmsTopk _),
    "e1_cosine_knn"    -> (e1CosineKnn _),
    "e2_lsh_ann"       -> (e2LshAnn _),
    "e3_native_dot"    -> (e3NativeDot _),
    "e11_hard_negatives" -> (e11HardNegatives _),
    "e12_hard_neg_ann"  -> (e12HardNegAnn _),
    "e13_hardneg_recall" -> (e13HardnegRecall _),
    "e4_ivf_knn"       -> (e4IvfKnn _),
    "e9_ivfpq"         -> (e9IvfPq _),
    "e10_pq_refine"    -> (e10PqRefine _),
    "e5_ann_recall"    -> (e5AnnRecall _),
    "e6_cos_neardup"   -> (e6CosNearDup _),
    "e7_design_recall" -> (e7DesignRecall _),
    "e7b_derived_recall" -> (e7bDerivedRecall _),
    "e8_kmeans"        -> (e8Kmeans _),
    "x1_multimodal"    -> (x1Multimodal _),
    "x2_media_frames"  -> (x2MediaFrames _),
    "x3_media_resize"  -> (x3MediaResize _),
    "sk1_salted_join"  -> (sk1SaltedJoin _),
    "bloom2_anti_ingest" -> (bloom2AntiIngest _),
    "pipe3_incremental_refresh" -> (pipe3IncrementalRefresh _),
    "pipe1_corpus_pipeline" -> (pipe1CorpusPipeline _),
    "pipe2_token_packing"   -> (pipe2TokenPacking _),
    "pipe4_domain_mixture"  -> (pipe4DomainMixture _),
    "pipe5_adaptive_quality" -> (pipe5AdaptiveQuality _),
    "pipe6_semdedup"   -> (pipe6SemDedup _),
    "decon1_eval_overlap"   -> (decon1EvalOverlap _),
    "decon2_semantic"       -> (decon2SemanticOverlap _),
    "shuf1_det_shuffle"     -> (shuf1DeterministicShuffle _)
  )

  /** Oracles for the SQL-expressible subset; the rest are rows-only. */
  val oracles: Map[String, String] = Map(
    "d1_exact_dedup"   -> d1Sql,
    "d2_ngram_jaccard" -> d2Sql,
    "d3_minhash_lsh"   -> d3Sql,
    "d4_simhash"       -> d4Sql,
    "d5_dedup_recall"  -> d5Sql,
    "d6_dup_clusters"  -> d6Sql,
    "d7_span_dedup"    -> d7Sql,
    "bpe1_train_merges" -> bpe1Sql,
    "bpe2_token_counts" -> bpe2Sql,
    "pipe7_clean_train_tokenize" -> pipe7Sql,
    "t1_langid"        -> t1Sql,
    "t2_quality"       -> t2Sql,
    "t3_tokens"        -> t3Sql,
    "t4_fingerprint"   -> t4Sql,
    "t5_redaction"     -> t5Sql,
    "t6_vocab_topk"    -> t6Sql,
    "t7_token_rollup"  -> t7Sql,
    "t8_bm25"          -> t8Sql,
    "t9_chunking"      -> t9Sql,
    "t10_repetition"   -> t10Sql,
    "lm1_bigram_score" -> lm1Sql,
    "sketch2_cms_topk" -> sketch2Sql,
    "e1_cosine_knn"    -> e1Sql,
    "e2_lsh_ann"       -> e2Sql,
    "e4_ivf_knn"       -> e4Sql,
    "e9_ivfpq"         -> e9Sql,
    "e10_pq_refine"    -> e10Sql,
    "e3_native_dot"    -> e3Sql,
    "e11_hard_negatives" -> e11Sql,
    "e12_hard_neg_ann"  -> e12Sql,
    "e13_hardneg_recall" -> e13Sql,
    "e5_ann_recall"    -> e5Sql,
    "e6_cos_neardup"   -> e6Sql,
    "e7_design_recall" -> e7Sql,
    "e7b_derived_recall" -> e7bSql,
    "e8_kmeans"        -> e8Sql,
    "x1_multimodal"    -> x1Sql,
    "x2_media_frames"  -> x2Sql,
    "x3_media_resize"  -> x3Sql,
    "sk1_salted_join"  -> sk1Sql,
    "bloom2_anti_ingest" -> bloom2Sql,
    "pipe3_incremental_refresh" -> pipe3Sql,
    "pipe1_corpus_pipeline" -> pipe1Sql,
    "pipe2_token_packing"   -> pipe2Sql,
    "pipe4_domain_mixture"  -> pipe4Sql,
    "pipe5_adaptive_quality" -> pipe5Sql,
    "pipe6_semdedup"   -> pipe6Sql,
    "decon1_eval_overlap"   -> decon1Sql,
    "decon2_semantic"       -> decon2Sql,
    "shuf1_det_shuffle"     -> shuf1Sql
  )
}
