package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale corpus pipelines (the
  * beyond-reference surface: language-ID, quality scoring, token
  * counting, fingerprinting). Everything is a pure Column expression —
  * codegen-friendly, pushdown-friendly, no UDFs — so a 100 TB corpus
  * scan stays one WholeStageCodegen pass.
  */
object TextAnalysis {

  /** Tokens on whitespace (trimmed). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword segmentation count: letter runs, digit runs, and
    * single punctuation marks each count as one token — the usual
    * pre-tokenizer shape for byte-pair encoders. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Occurrences of a literal substring, via length arithmetic (exact,
    * engine-portable — no regex dialect involved). */
  def countOccurrences(text: Column, needle: String): Column =
    (length(text) - length(regexp_replace(text, java.util.regex.Pattern.quote(needle), ""))) /
      lit(needle.length)

  /** Tiny per-language stopword profiles for the n-gram/stopword
    * language-ID heuristic. Deliberately small: the heuristic's job is a
    * cheap first-pass partition of a corpus, not ISO-grade detection. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq(" der ", " die ", " und ", " ist ", " nicht "),
    "en" -> Seq(" the ", " and ", " of ", " to ", " is "),
    "es" -> Seq(" el ", " la ", " de ", " que ", " y "),
    "fr" -> Seq(" le ", " la ", " et ", " les ", " des "),
    "zh" -> Seq("的", "是", "不", "了", "在"))

  /** Per-language evidence score: total stopword occurrences. (The
    * column composition — kept for [[stopwordRatio]]-style reuse and as
    * the readable statement of what [[langId]] computes.) */
  def langScore(text: Column, profile: Seq[String]): Column =
    profile.map(w => countOccurrences(concat(lit(" "), lower(text), lit(" ")), w))
      .reduce(_ + _)

  /** Language-ID: argmax profile score, alphabetical tiebreak, "und"
    * (undetermined) when no profile scores at all — as ONE native
    * expression ([[org.apache.spark.sql.graft.LangIdExpr]]).
    *
    * History: this was a greatest+when column composition over
    * [[langScore]]; conditional branches are ineligible for codegen
    * subexpression elimination, so each language's five
    * regexp_replace subtrees inlined ~3× — t1's generated method
    * reached 64,074 bytes (1.4 KB under the Janino cliff) and pipe3's
    * Project, stacking the same tree with its quality filters, went
    * OVER and ran silently interpreted (caught by CodegenSweep, round
    * 16). The native form is semantics-identical (the expression
    * docblock states the contract; the t1/pipe oracles pin it). */
  def langId(text: Column): Column =
    org.apache.spark.sql.graft.GraftSqlBridge.langId(
      text, LangProfiles.map(_._1), LangProfiles.map(_._2))

  /** Quality-score feature bundle: token count, mean token length,
    * punctuation ratio, stopword ratio, uppercase ratio. Combine/weight
    * downstream; the features are the operator. */
  def nTokens(text: Column): Column = tokenCount(text)

  def meanTokenLen(text: Column): Column =
    length(regexp_replace(text, "\\s+", "")).cast("double") / tokenCount(text)

  def punctRatio(text: Column): Column =
    size(regexp_extract_all(text, lit("[^\\w\\s]"), lit(0))).cast("double") /
      greatest(length(text), lit(1))

  def stopwordRatio(text: Column): Column = {
    val stops = Seq("the", "and", "of", "to", "is", "a", "in")
    val toks = tokens(lower(text))
    size(filter(toks, t => stops.map(s => t === s).reduce(_ || _))).cast("double") /
      greatest(size(toks), lit(1))
  }

  // -------------------------------------------------------- PII scrubbing

  /** Conservative, engine-portable patterns (the same subset compiles
    * identically under Java regex and RE2): the point of the redaction
    * stage is a cheap single-pass scrub inside the scan's codegen, not
    * ISO-grade PII detection — route high-stakes corpora through a
    * dedicated classifier downstream. */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val UrlRe = "https?://[^\\s]+"

  def countEmails(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailRe), lit(0)))

  def countUrls(text: Column): Column =
    size(regexp_extract_all(text, lit(UrlRe), lit(0)))

  /** Replace every email/URL with a stable placeholder token (URLs
    * first: an email inside a URL query string must not leave a
    * half-redacted URL behind). */
  def redact(text: Column): Column =
    regexp_replace(regexp_replace(text, UrlRe, "<URL>"), EmailRe, "<EMAIL>")

  /** Document fingerprint: md5 of casefolded, whitespace-collapsed text —
    * the cheap exact-dup key that survives formatting noise. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Character n-gram shingles (n consecutive tokens joined) for
    * Jaccard-style similarity. */
  def tokenNgrams(text: Column, n: Int): Column = {
    val toks = tokens(text)
    transform(slice(toks, lit(1), greatest(size(toks) - (n - 1), lit(0))),
      (_, i) => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*))
  }

  /** Repetition statistics (the Gopher/Dolma "duplicate n-gram" quality
    * rules): per-document total vs distinct bigram/trigram counts and a
    * reject flag for docs whose duplicate-bigram mass exceeds 20% —
    * self-repetition is the classic signature of degenerate generated
    * text. All-integer outputs; the flag is the exact rational
    * comparison `(n2 − d2)·5 > n2`, so no float division anywhere.
    * Fully NARROW: n-grams, `array_distinct` and the compare all run in
    * the task that read the doc — zero exchanges, zero joins. Docs with
    * fewer than 3 tokens (no trigram) are excluded by contract. N-gram
    * keys join tokens with unit-separator  so "ab c"/"a bc"
    * cannot collide. */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    def ngrams(n: Int): Column =
      transform(sequence(lit(1), size(col("toks")) - lit(n - 1)),
        i => concat_ws("\u001f",
          (0 until n).map(o => element_at(col("toks"), i + lit(o))): _*))
    docs
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col(idCol), size(col("toks")).as("n_tok"),
        ngrams(2).as("g2"), ngrams(3).as("g3"))
      .select(col(idCol), col("n_tok"),
        size(col("g2")).as("n2"),
        size(array_distinct(col("g2"))).as("d2"),
        size(col("g3")).as("n3"),
        size(array_distinct(col("g3"))).as("d3"))
      .withColumn("reject",
        ((col("n2") - col("d2")) * 5 > col("n2")).cast("int"))
  }

  /** Corpus bigram language model + per-document LM quality score (the
    * CCNet/Gopher "train an LM on the corpus, score each document
    * against it" filter): add-1-smoothed p(w2|w1) = (c(w1,w2)+1)/(c(w1·)+V)
    * learned from the whole corpus, then per document the bigram count,
    * the NOVEL-bigram count (corpus count 1 — unique to this doc, a
    * fluency/noise signal) and the mean smoothed probability.
    *
    * Deliberately LOG-FREE: perplexity's ln() is a transcendental whose
    * last ulp differs between libm implementations, so a cross-entropy
    * sum can never hash-match across engines. Every number here is
    * integer counts → one exact int→double cast → one correctly-rounded
    * IEEE division, and the per-doc mean sums FLOOR(p·10¹⁰) as BIGINT
    * (order-independent AND tie-free: p = (c2+1)/(c1+V) can be exactly
    * dyadic — e.g. 1/2048 — which lands on a .5 boundary of the 10⁻¹⁰
    * grid where a DECIMAL cast's HALF_UP (Spark) and half-even (DuckDB)
    * disagree; floor cannot tie on identical inputs — the same lesson
    * as Graph.pageRank). Mean smoothed probability ranks documents for
    * filtering just like perplexity does — both are monotone in how
    * "expected" the doc's bigrams are — without the transcendental.
    *
    * Scale shape (100 TB): the model is VOCAB-bounded, not corpus-bound —
    * bigram counts collapse map-side to distinct (w1,w2) pairs before
    * their shuffle, prefix counts fold that table again (strictly
    * smaller), V is one scalar. The only full-corpus shuffle is the
    * bigram-stream equi-join on (w1,w2); head-word skew there (stopword
    * bigrams) is exactly the AQE skew-join case, and the prefix table
    * broadcasts. No window over the token stream — that would sort the
    * full corpus per term. */
  def bigramLmScores(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Materialize the tokenized corpus ONCE (r20 / guide §5): the model
    // aggregation, the scoring join's bigram re-explode and the vocab
    // count each re-ran tokens() over the raw corpus scan — three
    // single-split tokenization passes for one declared query.
    val docsT = graft.Tables.materialize(
      docs.select(col(idCol), tokens(lower(col(textCol))).as("t")))
    val bigrams = docsT
      .filter(size(col("t")) >= 2)
      .select(col(idCol), explode(expr(
        """transform(sequence(2, size(t)),
          |  i -> struct(element_at(t, i - 1) AS w1, element_at(t, i) AS w2))
          |""".stripMargin)).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // the MODEL table: consumed by both the scoring join and the c1
    // prefix fold — persist or both legs re-run the corpus-scale bigram
    // explode+aggregate (vocab²-bounded, so this is the classic
    // "materialize the trained model once" stage). The persist must
    // outlive the result's execution, so it pins into the query scope.
    val c2 = graft.Scoped.current.persist(
      bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c2")))
    val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
    val vocab = docsT.select(explode(col("t")).as("term"))
      .agg(countDistinct(col("term")).as("v"))
    bigrams
      .join(c2, Seq("w1", "w2"))
      .join(broadcast(c1), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("p",
        (col("c2") + lit(1)).cast("double") /
          (col("c1") + col("v")).cast("double"))
      .groupBy(idCol).agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("c2") === 1, 1L).otherwise(0L)).as("novel_bigrams"),
        (sum(floor(col("p") * lit(1e10)).cast("long")).cast("double") /
          lit(1e10) / count(lit(1))).as("avg_p"))
  }
}
