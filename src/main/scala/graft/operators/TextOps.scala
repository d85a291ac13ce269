package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.RunOnce.materialize
import graft.Tables
import graft.functions.PortableSql._

/** Text-analysis operators for a training-data pipeline over the `documents`
  * table: token statistics, quality scoring, heuristic language ID, and
  * document fingerprinting.
  *
  * All per-document work is narrow (no shuffle): each operator is a single
  * projection pass that Catalyst keeps inside whole-stage codegen, so at
  * 100 TB it scales linearly with input splits. Only the final per-language
  * rollups shuffle, on a handful of keys.
  *
  * Every hash is engine-portable integer arithmetic (PortableSql) so the
  * DuckDB oracle reproduces results bit-for-bit.
  */
object TextOps {

  /** Tokenize + count: per-language corpus statistics. */
  def tokenStats(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_tokens", expr(s"${alen(tokens("text", duck = false), duck = false)}").cast("long"))
      .withColumn("n_nospace", length(regexp_replace(col("text"), " ", "")).cast("long"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_nospace")).as("total_chars_nospace"),
        (sum(col("n_nospace")).cast("double") / sum(col("n_tokens"))).as("avg_token_len"))

  /** Per-document quality score from length / stopword / token-count
    * heuristics (weights sum to 1; each component clamped to [0,1]).
    */
  def qualityScore(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val toks = tokens("text", duck = false)
    val stop = filterArr(toks, "t", "t = 'a' OR t = 'the'", duck = false)
    docs.select(Seq(
        col("doc_id"),
        col("n_chars"),
        expr(s"CAST(${alen(toks, duck = false)} AS BIGINT)").as("n_tokens"),
        expr(s"CAST(${alen(stop, duck = false)} AS BIGINT)").as("n_stop"))
        ++ keep.map(col): _*)
      .select(Seq(
        col("doc_id"),
        col("n_tokens"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"),
        round(
          lit(0.3) * least(lit(1.0), col("n_chars").cast("double") / 400.0) +
          lit(0.4) * (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) +
          lit(0.3) * least(lit(1.0), col("n_tokens").cast("double") / 80.0),
          6).as("quality"))
        ++ keep.map(col): _*)
  }

  /** Heuristic language ID: stopword share + vowel share thresholds.
    * (An n-gram-profile classifier reduces to the same shape: per-row
    * feature extraction + a CASE ladder.)
    */
  def languageId(docs: DataFrame): DataFrame = {
    val toks = tokens("text", duck = false)
    val stop = filterArr(toks, "t", "t = 'a' OR t = 'the'", duck = false)
    val vowels = length(col("text")) -
      length(translate(col("text"), "aeiou", ""))
    docs.select(
        col("doc_id"),
        (expr(s"CAST(${alen(stop, duck = false)} AS BIGINT)").cast("double") /
          expr(s"CAST(${alen(toks, duck = false)} AS BIGINT)")).as("stop_ratio"),
        (vowels.cast("double") / length(col("text"))).as("vowel_ratio"))
      .withColumn("lang_guess",
        when(col("stop_ratio") >= 0.04, "en")
          .when(col("vowel_ratio") >= 0.38, "romance")
          .otherwise("other"))
  }

  /** Document fingerprints: MD5 content hash + an order-sensitive rolling
    * hash over word tokens (two texts with the same words in different
    * order fingerprint differently — unlike the minhash sketch).
    */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(col("text")).as("content_md5"),
      // fused native fold (see RollingFpExpression); the symbolic
      // reduceLong form remains the DuckDB oracle
      graft.functions.RollingFpExpression.rollingFp(col("text")).as("rolling_fp"))

  /** "BPE-ish" token counting: greedy regex segmentation into letter
    * runs, digit runs, and single non-alphanumeric marks — the
    * pre-tokenizer stage of a BPE vocabulary (true BPE merges need the
    * trained vocab; this regex pass is what a pipeline runs at corpus
    * scale to bound token budgets), counted next to plain whitespace
    * tokens.
    */
  def bpeTokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      expr(s"CAST(${alen(tokens("text", duck = false), duck = false)} AS BIGINT)")
        .as("n_ws_tokens"),
      expr("CAST(size(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)) AS BIGINT)")
        .as("n_bpe_tokens"))

  /** True BPE merges over the checked-in 50-rule table (see BpeMerges):
    * pre-token count next to the post-merge token count. Narrow one-pass
    * projection; the merge loop is a native kernel on the Spark side and
    * 50 generated fold layers on the oracle side.
    */
  def bpeMergeCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      expr("CAST(size(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)) AS BIGINT)")
        .as("n_pre_tokens"),
      graft.functions.BpeFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens"))

  /** Tokenizer-fertility audit: per (source, lang), how many true-BPE
    * tokens the checked-in merge table spends per whitespace word
    * (fertility, in hundredths of a token) and how many characters each
    * BPE token covers (compression, same scale) — the two dials a
    * tokenizer team reads per corpus slice before committing a vocab:
    * high fertility on one language means its text is over-fragmented
    * and under-represented per training FLOP. Shape at 100 TB: one
    * narrow projection pass (fused BPE merge kernel per doc, no
    * shuffle) into a |source x lang|-row aggregate; ratios are integer
    * DIV on the summed counts, guarded on both engines against an
    * empty slice. Reference anchor: no counterpart (LLM-pipeline
    * extension row).
    */
  def tokenizerFertility(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("lang"), col("n_chars"),
        expr(s"CAST(${alen(tokens("text", duck = false), duck = false)} AS BIGINT)")
          .as("n_ws"),
        graft.functions.BpeFunctions.bpeTokenCount(col("text")).as("n_bpe"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_ws")).as("n_ws_tokens"),
        sum(col("n_bpe")).as("n_bpe_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .withColumn("fertility_centi",
        expr("CASE WHEN n_ws_tokens = 0 THEN NULL " +
          "ELSE n_bpe_tokens * 100 DIV n_ws_tokens END"))
      .withColumn("chars_per_bpe_centi",
        expr("CASE WHEN n_bpe_tokens = 0 THEN NULL " +
          "ELSE n_chars * 100 DIV n_bpe_tokens END"))

  /** Gopher-style repetition quality signal: the share of a document's
    * bigrams taken by its single most frequent bigram (duplicate-heavy
    * generated text scores high; natural prose low). Shape at 100 TB:
    * a single NARROW projection pass — the fused [[graft.functions.BigramTopExpression]]
    * kernel counts bigrams in one hash-map loop per document, so the
    * operator scales linearly with input splits and never shuffles (the
    * earlier explode + two doc-keyed groupBys shuffled the full bigram
    * volume). The flag threshold is the C4/Gopher-family repetition
    * filter dial; the DuckDB oracle keeps the symbolic unnest/GROUP BY
    * form as an independent check of the kernel.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val share = col("top_bigram_n").cast("double") / col("n_bigrams")
    // The <2-token filter runs on the cheap codegen'd token count BEFORE
    // the interpreted kernel projection: a filter on the kernel's own
    // output would be pushed through the Project with the full expression
    // substituted, evaluating the kernel twice per row.
    docs
      .filter(expr(s"${alen(tokens("text", duck = false), duck = false)}") >= 2)
      .select(col("doc_id"),
        graft.functions.BigramTopExpression.bigramTop(col("text")).as("bt"))
      .select(col("doc_id"),
        col("bt").getItem(0).as("n_bigrams"),
        col("bt").getItem(1).as("top_bigram_n"))
      .select(col("doc_id"), col("n_bigrams"), col("top_bigram_n"),
        round(share, 6).as("top_bigram_share"),
        (share > 0.1).cast("int").as("repetitive"))
  }

  /** Unigram surprisal — the KenLM-lite perplexity proxy every quality
    * pipeline runs: score each document by how surprising its tokens are
    * under the corpus's own unigram distribution. Token cost is the
    * INTEGER approximation of -log2 p(w): bitlen(total) - bitlen(cnt)
    * (within 1 bit of the real value), computed by a comparison ladder —
    * no floating log, so both engines agree exactly (libm log rounding
    * is engine-specific; see PortableSql.bitLen).
    *
    * Shape at 100 TB: one shuffle to count unigrams, one hash-join of
    * token occurrences to their counts (vocabulary scales sub-linearly;
    * an extreme hot word is one hot partition — the q_salted_join spread
    * applies if a corpus ever needs it), one shuffle back to doc. The
    * final average uses one IEEE double division (correctly rounded in
    * both engines) + round(6).
    */
  def unigramSurprisal(docs: DataFrame): DataFrame = {
    import graft.functions.PortableSql.bitLen
    val toks = docs.select(col("doc_id"),
      explode(expr(tokens("text", duck = false))).as("w"))
    val freq = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val tot = freq.agg(sum(col("cnt")).as("total"),
      expr(s"CAST(${bitLen("sum(cnt)")} AS BIGINT)").as("total_bits"))
    toks.join(freq, "w")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        (col("total_bits") - expr(s"CAST(${bitLen("cnt")} AS BIGINT)"))
          .as("cost"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("cost")).as("surprisal_bits"))
      .select(col("doc_id"), col("n_tokens"), col("surprisal_bits"),
        round(col("surprisal_bits").cast("double") / col("n_tokens"), 6)
          .as("avg_bits"))
  }

  /** BM25-lite query terms (mid-df corpus tokens) and constants. */
  val Bm25Terms = Seq("join", "hash", "window")

  /** Per-(doc, term) BM25 contribution in integer micro-units, as ONE
    * shared SQL fragment over columns (tf, df, dl, n_docs, tot):
    * idf is the integer bit-length approximation (no libm log), the
    * k1/b saturation runs in doubles — safe because the TEXT is
    * identical in both dialects (same literals → same doubles → same
    * round) — and the final cast to micro-unit BIGINT makes the per-doc
    * SUM exact and order-insensitive (double addition order would flip
    * hashes).
    */
  private def bm25ContribSql: String = {
    import graft.functions.PortableSql.bitLen
    s"CAST(round((${bitLen("n_docs")} - ${bitLen("df")}) * (tf * 2.2) " +
      "/ (tf + 1.2 * (0.25 + 0.75 * dl / (tot / n_docs))) * 1000000.0) AS BIGINT)"
  }

  /** BM25-lite lexical search — the inverted-index twin of the vector
    * path (q_hybrid_search): postings (doc, term, tf) from one tokenize
    * pass, document frequencies over the query terms only, k1/b
    * length-normalized scoring, top-10. Shape at 100 TB: the postings
    * build is the inverted index (one shuffle on term), the query-term
    * filter prunes it to the handful of touched terms BEFORE any join,
    * and scoring joins are per-posting narrow. Scores are summed in
    * integer micro-units (see [[bm25ContribSql]]).
    */
  def bm25Search(docs: DataFrame, k: Int = 10): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(expr(tokens("text", duck = false))).as("w"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).cast("double").as("tot"))
    val tf = toks.filter(col("w").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfq), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), expr(bm25ContribSql).as("contrib"))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(k)
  }

  /** The quality formula over (n_chars, n_tokens, n_stop) and the base
    * projection that supplies them — ONE definition interpolated by the
    * q_text_quality oracle here AND the q_hybrid_search oracle in
    * VectorOps, so the weights/thresholds cannot silently drift between
    * the two parity checks.
    */
  private val QualityFormulaSql: String =
    """round(0.3 * least(1.0, CAST(n_chars AS DOUBLE) / 400.0)
      |   + 0.4 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
      |   + 0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 80.0), 6)""".stripMargin

  private def qualityBaseOracleSql: String = {
    val toks = tokens("text", duck = true)
    val stopD = filterArr(toks, "t", "t = 'a' OR t = 'the'", duck = true)
    s"""SELECT doc_id, n_chars,
       |   CAST(${alen(toks, duck = true)} AS BIGINT) AS n_tokens,
       |   CAST(${alen(stopD, duck = true)} AS BIGINT) AS n_stop
       |  FROM documents""".stripMargin
  }

  /** (doc_id, quality) oracle projection built from the shared pieces. */
  def qualityDocOracleSql: String =
    s"""SELECT doc_id, $QualityFormulaSql AS quality
       |FROM ($qualityBaseOracleSql) t""".stripMargin

  /** Email / phone regexes shared by the Spark and oracle sides of the
    * PII scrub (RE2-safe subset — no backrefs/lookahead — so Java and
    * DuckDB regex engines agree).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "[0-9]{5}-[0-9]{5}"

  /** PII scrubbing at document scale — the LLM-pipeline analog of the
    * reference's PAN masking (U5): find-and-mask emails and phone
    * numbers in free text before it can reach a training corpus. The
    * synthetic documents carry no natural PII, so each row deterministically
    * seeds a contact string derived from doc_id (same construction both
    * engines) and the operator must find exactly one of each. Narrow
    * one-pass projection; masked content is emitted as md5 so the
    * compare stays compact.
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val seeded = docs.select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com or +91 "),
        lpad((col("doc_id") * 7919 % 100000).cast("string"), 5, "0"), lit("-"),
        lpad((col("doc_id") * 104729 % 100000).cast("string"), 5, "0")).as("t"))
    seeded.select(
      col("doc_id"),
      size(regexp_extract_all(col("t"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(col("t"), lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
      md5(regexp_replace(regexp_replace(col("t"), lit(EmailRe), lit("<EMAIL>")),
        lit(PhoneRe), lit("<PHONE>"))).as("masked_md5"))
  }

  /** The composed quality-gate funnel a curation pipeline runs before
    * training — four sequential filters (min chars, min tokens, language
    * allowlist, exact-dup keep-one) with per-stage survivor counts and
    * drop attribution, the "how much data does each gate cost us" audit.
    * ONE scan computes all four flags (the dedup keep flag is a window
    * min over the content hash — a single shuffle on md5), one aggregate
    * row, and a 4-row stack; at 100 TB the only data-sized exchange is
    * the md5 one the exact-dedup gate inherently needs.
    */
  def filterFunnel(docs: DataFrame): DataFrame = {
    val keepMin = min(col("doc_id"))
      .over(org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text"))))
    val flags = docs.select(
      (col("n_chars") >= 100).as("f1"),
      (size(org.apache.spark.sql.functions.split(col("text"), " ")) >= 20).as("f2"),
      col("lang").isin("en", "de", "fr", "es").as("f3"),
      (col("doc_id") === keepMin).as("f4"))
    flags.agg(
        count(lit(1)).as("n0"),
        sum(when(col("f1"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("f1") && col("f2"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("f1") && col("f2") && col("f3"), 1L).otherwise(0L)).as("n3"),
        sum(when(col("f1") && col("f2") && col("f3") && col("f4"), 1L)
          .otherwise(0L)).as("n4"))
      .selectExpr(
        """stack(4,
          | '1_min_chars', n0, n1,
          | '2_min_tokens', n1, n2,
          | '3_lang', n2, n3,
          | '4_exact_dedup', n3, n4) AS (stage, n_in, n_out)""".stripMargin)
      .withColumn("n_dropped", col("n_in") - col("n_out"))
  }

  /** Per-source vocabulary statistics — the Heaps-law corpus audit
    * (occurrences vs distinct types) that sizes tokenizer vocabularies
    * and spots boilerplate-heavy sources (low type/token ratio). Two
    * aggregates: a narrow per-doc token count, and a distinct over the
    * exploded (source, token) pairs — the one data-sized shuffle, hash-
    * distributed on the pair.
    */
  def vocabStats(docs: DataFrame): DataFrame = {
    val split = org.apache.spark.sql.functions.split(col("text"), " ")
    val perDoc = docs.select(col("source"),
      size(split).cast("long").as("nt"))
    val a = perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val v = docs.select(col("source"), explode(split).as("w")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n_vocab"))
    a.join(v, Seq("source"))
      .withColumn("tokens_per_doc", expr("n_tokens DIV n_docs"))
  }

  /** Bigram language-model head table — for every head word with enough
    * evidence, its top-3 continuations by count (the n-gram LM / autocomplete
    * diagnostic a corpus pipeline ships). Occurrence-level bigrams (dups
    * kept), integer counts, deterministic (cnt DESC, w2) tie-break, and
    * the rank-3 cut runs as WindowGroupLimit — per-partition top-k, no
    * full per-head sort at scale.
    */
  /** The phrase searched for by [[phraseSearch]] — a bigram known present
    * at every scale factor in the synthetic corpus.
    */
  val SearchPhrase = "hash join"

  /** Exact-phrase search: which documents contain the two-word phrase as
    * ADJACENT tokens, how many times, and at which first position — the
    * positional-match primitive BM25 (bag-of-words) cannot express
    * ("hash join" ≠ a doc with "hash" here and "join" elsewhere).
    * Occurrence-level bigrams per doc (the shared [[PortableSql
    * .bigramsAll]] arithmetic), count by array filter, position by
    * 1-based array_position / list_position — one narrow projection
    * pass, no shuffle; the hit filter prunes the output to matching
    * docs only, so at 100 TB the result is |hits|, not |corpus|.
    */
  def phraseSearch(docs: DataFrame): DataFrame =
    docs
      // fused tokenize+bigram kernel (r19): identical array to the
      // symbolic split + bigramsAll chain the oracle keeps evaluating
      .select(col("doc_id"),
        graft.functions.WordNgramsExpression.bigrams(col("text")).as("bgs"))
      .select(col("doc_id"),
        expr(s"CAST(${alen(filterArr("bgs", "b", s"b = '$SearchPhrase'"
          , duck = false), duck = false)} AS BIGINT)").as("n_hits"),
        expr(s"array_position(bgs, '$SearchPhrase')").cast("long").as("first_pos"))
      .filter(col("n_hits") > 0L)

  /** Hapax statistics over occurrence-level BIGRAMS per source — the
    * vocabulary-growth diagnostic (Zipf's long tail: what share of a
    * source's bigram types occur exactly once). Token unigrams are
    * useless here (the synthetic vocabulary saturates), bigram types
    * keep a real singleton tail at every SF. Two hash aggregates:
    * (source, bigram) counts, then the per-source rollup — state is
    * |sources| × |bigram types|, never corpus-sized.
    */
  def hapaxStats(docs: DataFrame): DataFrame =
    docs
      // fused tokenize+bigram kernel (r19) — see phraseSearch
      .select(col("source"),
        explode(graft.functions.WordNgramsExpression.bigrams(col("text"))).as("bg"))
      .groupBy(col("source"), col("bg")).agg(count(lit(1)).as("occ"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"),
        sum(when(col("occ") === 1L, 1L).otherwise(0L)).as("n_hapax"),
        sum(col("occ")).as("n_occurrences"))
      .select(col("source"), col("n_terms"), col("n_hapax"),
        col("n_occurrences"),
        expr("n_hapax * 1000000 DIV n_terms").as("hapax_ppm"))

  def bigramLm(docs: DataFrame): DataFrame = {
    // fused tokenize+bigram kernel (r19) — see phraseSearch
    val c = docs
      .select(explode(graft.functions.WordNgramsExpression.bigrams(col("text"))).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("cnt"))
      .select(expr("split(g, ' ')[0]").as("w1"),
        expr("split(g, ' ')[1]").as("w2"), col("cnt"))
      .filter(col("cnt") >= 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w1")).orderBy(col("cnt").desc, col("w2"))
    c.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
  }

  /** Per-document keyword count for [[tfidfTerms]]. */
  val TfidfK = 5

  /** Per-document top-[[TfidfK]] TF-IDF keyword extraction — the
    * "what is this document about" summarizer corpus pipelines run for
    * topic tagging and index building (contrast q_bm25_search, which
    * scores docs against a FIXED query; this ranks every doc's own
    * terms). IDF uses the fixed-point integer log
    * (log2Eighths(N) - log2Eighths(df) ≈ 8*log2(N/df)) — the
    * q_text_surprisal / BM25 bit-length trick at 1/8-bit resolution,
    * keeping every score an exact BIGINT (the oracle compares
    * hash-exact, no libm in sight) while still separating document
    * frequencies that share an octave.
    *
    * Shape at 100 TB: one tokenize pass → (doc, term) partial counts
    * (map-side combined), a term-keyed df aggregation, a 1-row corpus
    * count broadcast, and a top-k window PARTITIONED BY doc_id — Spark
    * plans the rank<=k filter as WindowGroupLimit, so each partition
    * keeps k rows per doc and nothing global ever sorts.
    */
  /** STAGED log2Eighths: the mantissa ladder lands in its own column so
    * codegen compiles ONE pow2Floor + ONE bitLen ladder instead of eight
    * (see PortableSql.l8Mantissa's JIT note). Same integers as the
    * oracle's single-expression form by construction.
    */
  private def withLog2Eighths(d: DataFrame, x: String, out: String): DataFrame = {
    import graft.functions.PortableSql.{bitLen, l8Frac, l8Mantissa}
    d.withColumn("__l8m", expr(l8Mantissa(x)))
      .withColumn(out,
        expr(s"CAST(8 * (${bitLen(x, 55)} - 1) + ${l8Frac("__l8m")} AS BIGINT)"))
      .drop("__l8m")
  }

  def tfidfTerms(docs: DataFrame, k: Int = TfidfK): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(expr(tokens("text", duck = false))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // the integer-log ladder evaluates on the TERM-level df frame
    // (vocabulary cardinality) and the 1-row corpus count — never on
    // the (doc, term) posting rows it joins back onto
    val dfr = withLog2Eighths(
      tf.groupBy(col("term")).agg(count(lit(1)).as("df")), "df", "idf8")
    val nd = withLog2Eighths(
      docs.agg(count(lit(1)).as("n_docs")), "n_docs", "nd8")
      .select(col("nd8"))
    val scored = tf.join(dfr, "term")
      .crossJoin(broadcast(nd))
      .select(col("doc_id"), col("term"), col("tf"),
        (col("tf") * (col("nd8") - col("idf8"))).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k && col("score") > 0)
  }

  /** Collocation evidence floor and lift threshold (micro-units). */
  val PmiMinCount = 3L
  val PmiMinLiftMicro = 2000000L // lift >= 2

  /** PMI collocation mining — corpus-level bigram phrases whose observed
    * frequency beats the independence expectation (the word2vec-phrases /
    * "New York"-detector step of a training-data pipeline). Instead of a
    * floating log PMI (libm rounding differs across engines), the score
    * is the LIFT in exact integer micro-units:
    * floor(c_xy * T * 1e6 / (c_x * c_y)) — identical BIGINT arithmetic
    * in Spark (ANSI) and DuckDB, and ordering by lift IS ordering by PMI
    * (log is monotone). Evidence floor c_xy >= [[PmiMinCount]] kills the
    * hapax noise; lift >= 2 keeps genuinely-associated pairs.
    *
    * Shape at 100 TB: two corpus aggregations (bigram counts, unigram
    * counts — both map-side combined), the bigram frame pruned by the
    * evidence floor BEFORE the two unigram joins (the frequency table
    * stays unbroadcast: vocabulary grows with the corpus), one 1-row
    * total broadcast. Overflow note: c_xy*T*1e6 needs c_xy*T < 9.2e12,
    * i.e. fine to ~10^6-token test corpora; at real corpus scale the
    * micro-unit scale factor drops to 1 (lift ordering is unchanged).
    */
  def pmiCollocations(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(expr(tokens("text", duck = false))).as("w"))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val tot = uni.agg(sum(col("cnt")).as("total"))
    // fused tokenize+bigram kernel (r19) — see phraseSearch
    val bi = docs
      .select(explode(graft.functions.WordNgramsExpression.bigrams(col("text"))).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= PmiMinCount)
      .select(col("gram"), col("pair_cnt"),
        expr("split(gram, ' ')[0]").as("w1"), expr("split(gram, ' ')[1]").as("w2"))
    bi.join(uni.select(col("w").as("w1"), col("cnt").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("cnt").as("c2")), "w2")
      .crossJoin(broadcast(tot))
      .select(col("gram"), col("pair_cnt"), col("c1"), col("c2"),
        expr("CAST(pair_cnt * total * 1000000 DIV (c1 * c2) AS BIGINT)")
          .as("lift_micro"))
      .filter(col("lift_micro") >= PmiMinLiftMicro)
  }

  /** Winnowing window: every [[WinnowW]] consecutive trigram hashes
    * contribute their minimum as a selected fingerprint.
    */
  val WinnowW = 4

  /** The winnowing selection (Schleimer/Wilkerson/Aiken, SIGMOD'03) as a
    * dialect-shared fragment: distinct window-minima of the position-
    * ordered hash array; short docs keep their single global minimum
    * (the guarantee the scheme is built for — any shared run of
    * w+gram-1 tokens shares at least one selected print). The <w guard
    * also dodges Spark's descending sequence(1, 0) trap.
    */
  private def winnowSql(hsCol: String, w: Int, duck: Boolean): String = {
    val idx = seqIncl("1", s"${alen(hsCol, duck)} - ${w - 1}", duck)
    val win =
      if (duck) s"list_slice($hsCol, i, i + ${w - 1})" else s"slice($hsCol, i, $w)"
    val prints = distinct(xform(idx, "i", arrayMin(win, duck), duck), duck)
    val one =
      if (duck) s"[${arrayMin(hsCol, duck)}]" else s"array(${arrayMin(hsCol, duck)})"
    val empty = if (duck) "CAST([] AS BIGINT[])" else "CAST(array() AS ARRAY<BIGINT>)"
    s"""(CASE WHEN ${alen(hsCol, duck)} >= $w THEN $prints
       | WHEN ${alen(hsCol, duck)} > 0 THEN $one
       | ELSE $empty END)""".stripMargin
  }

  /** Per-document winnowed-fingerprint profile — the robust local
    * fingerprinting scheme behind plagiarism/near-dup detectors: instead
    * of keeping every k-gram hash (q_dedup_spans) or one rolling hash
    * per doc (q_text_fingerprint), winnowing keeps each window's MINIMUM
    * hash, guaranteeing any sufficiently long shared substring shares a
    * selected print while storing ~2/(w+1) of the grams. Emits per doc
    * the raw hash count, the selected print count (the compression the
    * scheme buys), and how many selected prints also occur in another
    * document — the matching signal served at query time.
    *
    * Scale shape: one fused kernel pass + O(n·w) narrow selection per
    * doc, then the postings shape — explode prints, one map-side-
    * combined df count, one equi-join probe back. Never all-pairs.
    */
  /** (doc_id, hs, prints): the per-row winnowing selection — one fused
    * kernel pass + the O(n·w) window-minima expression, NO cross-row
    * state. Shared by the batch stats and the streaming twin (where
    * per-row means per streamed record, no keyed state at all).
    */
  private[graft] def withPrints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.TrigramHashesExpression.trigramHashesAll(col("text")).as("hs"))
      // fused window-minima kernel (r19): identical array to the symbolic
      // winnowSql form the oracle keeps evaluating (see the expression)
      .withColumn("prints",
        graft.functions.WinnowPrintsExpression.prints(col("hs"), WinnowW))

  /** Fold a (cached) prints frame and an external print-df frame into the
    * per-doc winnow profile — the readback shared by batch and streaming
    * (the stream accumulates ONLY the df counts; everything per-doc is
    * recomputed stateless).
    */
  private[graft] def statsFromPrints(d: DataFrame, dfp: DataFrame): DataFrame = {
    val ex = d.select(col("doc_id"), explode(col("prints")).as("p"))
    val sh = ex.join(dfp.filter(col("dfp") >= 2), "p")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    d.select(col("doc_id"), size(col("hs")).cast("long").as("n_hashes"),
        size(col("prints")).cast("long").as("n_prints"))
      .join(sh, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_hashes"), col("n_prints"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
  }

  def winnowStats(docs: DataFrame): DataFrame = {
    val d = materialize(withPrints(docs))
    statsFromPrints(d,
      d.select(explode(col("prints")).as("p"))
        .groupBy("p").agg(count(lit(1)).as("dfp")))
  }

  /** Merge-count sweep points for the BPE vocab-size curve. */
  val BpeSweepMerges: Seq[Int] = Seq(0, 10, 25, 50)

  /** BPE merge-count→compression SWEEP — the vocab-size dial: corpus
    * token totals using only the first k merge rules, k ∈
    * [[BpeSweepMerges]], with chars-per-token in exact milli units. The
    * marginal compression of each merge tranche is the curve a
    * tokenizer designer reads before fixing vocabulary size (merges
    * monotonically shrink token counts — each pass only ever joins
    * symbols — spec-pinnable). Each sweep point is one narrow
    * native-kernel projection + a single-row aggregate.
    */
  def bpeMergeSweep(docs: DataFrame): DataFrame = {
    val base = materialize(docs.select(col("text"),
      length(col("text")).cast("long").as("n_chars")))
    BpeSweepMerges.map { k =>
      base.select(col("n_chars"),
          graft.functions.BpeFunctions.bpeTokenCountN(col("text"), k).as("toks"))
        .agg(sum(col("toks")).as("n_tokens"), sum(col("n_chars")).as("n_chars"))
        .select(lit(k.toLong).as("n_merges"), col("n_tokens"),
          expr("n_chars * 1000 DIV n_tokens").as("chars_per_token_milli"))
    }.reduce(_.unionByName(_))
  }

  /** Zipf-fit constants: rank cut per source and the floor-division
    * offset that aligns the (negative-numerator) slope division across
    * engines (Spark DIV truncates toward zero, DuckDB // floors; with
    * the +[[ZipfBig]]·den shift the numerator is non-negative and both
    * agree — the q_theilsen_trend trick).
    */
  val ZipfTopK = 32
  val ZipfBig = 10000000L

  /** Per-source Zipf's-law fit — the rank-frequency power-law audit a
    * corpus curator runs to spot unnatural sources (templated/boilerplate
    * text flattens the slope; natural language sits near -1): least
    * squares of log2(freq) on log2(rank) over each source's top
    * [[ZipfTopK]] word types, entirely in 1/8-bit fixed-point integers
    * (the log2Eighths ladder — no libm in any compared value). Output
    * keeps the exact (num, den) rational beside the milli-slope.
    *
    * Shape at 100 TB: tokenize → (source, word) counts map-side
    * combined; the rank window is PARTITIONED BY source and rank<=k
    * plans as WindowGroupLimit, so each partition keeps k rows; the
    * ladder evaluates on |sources|·k rows. Nothing global ever sorts.
    */
  def zipfFit(docs: DataFrame): DataFrame =
    zipfFromCounts(docs.select(col("source"),
        explode(expr(tokens("text", duck = false))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("freq")))

  /** The rank + fixed-point regression stage on a (source, w, freq)
    * frame — split out so the streaming twin can feed state-accumulated
    * counts through the identical arithmetic.
    */
  private[graft] def zipfFromCounts(words: DataFrame): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("freq").desc, col("w").asc)
    val ranked = words.withColumn("rank", row_number().over(win).cast("long"))
      .filter(col("rank") <= ZipfTopK)
    val pts = withLog2Eighths(withLog2Eighths(ranked, "rank", "x"), "freq", "y")
    pts.groupBy(col("source")).agg(
        count(lit(1)).as("n_pts"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("source"), col("n_pts"),
        (col("n_pts") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n_pts") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
      .filter(col("slope_den") > 0) // degenerate single-point sources drop
      .withColumn("slope_milli",
        expr(s"(slope_num * 1000 + $ZipfBig * slope_den) DIV slope_den - $ZipfBig"))
  }

  /** Shared delta+varint cost fragments for [[postingsDelta]] and its
    * oracle: deltas are taken over an index sequence (both dialects
    * index arrays directly — neither needs an index-aware lambda), and
    * each delta costs the LEB128 varint byte count
    * max(1, ceil(bitLen/7)) — the bitLen comparison ladder, so no libm
    * anywhere.
    */
  private def postingsBytesSql(duck: Boolean): String = {
    import graft.functions.PortableSql.{alen, bitLen, elem, idiv, reduceLong, seqIncl, xform}
    val delta = s"${elem("arr", "i", duck)} - (CASE WHEN i = 1 THEN 0 ELSE ${elem("arr", "i - 1", duck)} END)"
    val deltas = xform(seqIncl("1", alen("arr", duck), duck), "i", s"($delta)", duck)
    val bytes = xform(deltas, "d", s"greatest(1, ${idiv(s"(${bitLen("d", 48)} + 6)", "7", duck)})", duck)
    reduceLong(bytes, "acc", "x", "acc + x", duck)
  }

  /** Inverted-index postings-size estimator — the delta+varint audit an
    * index builder runs before committing a 100 TB posting layout: per
    * term, the sorted doc_id posting list is delta-encoded and each gap
    * costed at its LEB128 varint width; the row compares that against
    * the fixed 8-byte-per-posting layout in exact integer ppm. Sorted-
    * gap compression is why postings shrink ~8x — and why df-ordered
    * doc-id assignment matters. Shape: tokenize → distinct (doc, term)
    * map-side combined, ONE shuffle on the term key, the list fold
    * evaluating per term on its own postings; everything downstream of
    * the shuffle is vocabulary-sized.
    */
  def postingsDelta(docs: DataFrame): DataFrame = {
    val posts = docs.select(col("doc_id"),
        explode(expr(tokens("text", duck = false))).as("w"))
      .filter(length(col("w")) > 0)
      .distinct()
      .groupBy(col("w")).agg(sort_array(collect_list(col("doc_id"))).as("arr"))
    posts
      .withColumn("df", size(col("arr")).cast("long"))
      .withColumn("delta_bytes", expr(postingsBytesSql(duck = false)))
      .select(col("w").as("term"), col("df"), col("delta_bytes"),
        (col("df") * 8).as("fixed_bytes"))
      .withColumn("savings_ppm",
        expr("(fixed_bytes - delta_bytes) * 1000000 DIV fixed_bytes"))
  }

  /** Language-ID QUALITY evaluation — the confusion matrix of the
    * [[languageId]] heuristic against the corpus's labeled `lang`
    * column (the q_er_fs_eval pattern applied to the text classifier):
    * every (label, guess) cell with its count and row share in exact
    * ppm of that label's mass. The eval is what tells a curator whether
    * the cheap n-gram heuristic is good enough to gate a 100 TB corpus
    * or needs a model upgrade; per-label shares localize WHICH
    * languages leak. Shape: the languageId projection (one narrow scan)
    * + one |labels|×|classes| hash aggregate + a broadcast per-label
    * total.
    */
  def langidEval(docs: DataFrame): DataFrame = {
    val cells = languageId(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("lang_guess")).agg(count(lit(1)).as("n"))
    val totals = cells.groupBy(col("lang")).agg(sum(col("n")).as("lang_total"))
    cells.join(broadcast(totals), "lang")
      .select(col("lang"), col("lang_guess"), col("n"), col("lang_total"),
        expr("n * 1000000 DIV lang_total").as("share_ppm"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_langid_eval" -> ((s, dir) => langidEval(Tables.documents(s, dir))),
    "q_bpe_sweep" -> ((s, dir) => bpeMergeSweep(Tables.documents(s, dir))),
    "q_postings_delta" -> ((s, dir) => postingsDelta(Tables.documents(s, dir))),
    "q_zipf_fit" -> ((s, dir) => zipfFit(Tables.documents(s, dir))),
    "q_tfidf_terms" -> ((s, dir) => tfidfTerms(Tables.documents(s, dir))),
    "q_text_pmi" -> ((s, dir) => pmiCollocations(Tables.documents(s, dir))),
    "q_text_winnow" -> ((s, dir) => winnowStats(Tables.documents(s, dir))),
    "q_text_vocab" -> ((s, dir) => vocabStats(Tables.documents(s, dir))),
    "q_bigram_lm" -> ((s, dir) => bigramLm(Tables.documents(s, dir))),
    "q_phrase_search" -> ((s, dir) => phraseSearch(Tables.documents(s, dir))),
    "q_text_hapax" -> ((s, dir) => hapaxStats(Tables.documents(s, dir))),
    "q_filter_funnel" -> ((s, dir) => filterFunnel(Tables.documents(s, dir))),
    "q_tok_fertility" -> ((s, dir) => tokenizerFertility(Tables.documents(s, dir))),
    "q_text_bpe_merges" -> ((s, dir) => bpeMergeCounts(Tables.documents(s, dir))),
    "q_text_bpe_tokens" -> ((s, dir) => bpeTokenCounts(Tables.documents(s, dir))),
    "q_text_tokens" -> ((s, dir) => tokenStats(Tables.documents(s, dir))),
    "q_text_repetition" -> ((s, dir) => repetitionStats(Tables.documents(s, dir))),
    "q_text_pii_scrub" -> ((s, dir) => piiScrub(Tables.documents(s, dir))),
    "q_text_surprisal" -> ((s, dir) => unigramSurprisal(Tables.documents(s, dir))),
    "q_bm25_search" -> ((s, dir) => bm25Search(Tables.documents(s, dir))),
    "q_text_quality" -> ((s, dir) => qualityScore(Tables.documents(s, dir))),
    "q_text_langid" -> ((s, dir) => languageId(Tables.documents(s, dir))),
    "q_text_fingerprint" -> ((s, dir) => fingerprints(Tables.documents(s, dir)))
  )

  def oracleSql: Map[String, String] = {
    val toks = tokens("text", duck = true)
    val stopD = filterArr(toks, "t", "t = 'a' OR t = 'the'", duck = true)
    val gramsAll = trigramsAll(toks, duck = true)
    val hsAll = xform("grams", "g", strHash("g"), duck = true)
    Map(
      "q_bpe_sweep" -> BpeSweepMerges.map { k =>
        s"""SELECT CAST($k AS BIGINT) AS n_merges,
           | CAST(sum(coalesce(list_sum(list_transform(
           |   regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'),
           |   w -> ${graft.functions.BpeMerges.oracleTokenCountN("w", k)})), 0))
           |   AS BIGINT) AS n_tokens,
           | CAST(sum(length(text)) AS BIGINT) * 1000
           |  // CAST(sum(coalesce(list_sum(list_transform(
           |   regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'),
           |   w -> ${graft.functions.BpeMerges.oracleTokenCountN("w", k)})), 0))
           |   AS BIGINT) AS chars_per_token_milli
           |FROM documents""".stripMargin
      }.mkString("\nUNION ALL\n"),

      "q_langid_eval" ->
        s"""WITH g AS (SELECT doc_id,
           |   CASE WHEN CAST(CAST(${alen(stopD, duck = true)} AS BIGINT) AS DOUBLE)
           |       / CAST(${alen(toks, duck = true)} AS BIGINT) >= 0.04 THEN 'en'
           |    WHEN CAST(length(text) - length(replace(replace(replace(replace(replace(
           |       text, 'a', ''), 'e', ''), 'i', ''), 'o', ''), 'u', '')) AS DOUBLE)
           |       / length(text) >= 0.38 THEN 'romance'
           |    ELSE 'other' END AS lang_guess, lang
           |  FROM documents),
           | cells AS (SELECT lang, lang_guess, count(*) AS n FROM g GROUP BY 1, 2),
           | t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS lang_total
           |  FROM cells GROUP BY 1)
           |SELECT lang, lang_guess, n, lang_total,
           | n * 1000000 // lang_total AS share_ppm
           |FROM cells JOIN t USING (lang)""".stripMargin,

      "q_postings_delta" ->
        s"""WITH t2 AS (SELECT DISTINCT doc_id, w FROM (
           |   SELECT doc_id, unnest($toks) AS w FROM documents) z
           |  WHERE length(w) > 0),
           | posts AS (SELECT w, list_sort(list(doc_id)) AS arr
           |  FROM t2 GROUP BY 1),
           | d AS (SELECT w, CAST(len(arr) AS BIGINT) AS df,
           |   ${postingsBytesSql(duck = true)} AS delta_bytes FROM posts)
           |SELECT w AS term, df, delta_bytes, df * 8 AS fixed_bytes,
           | (df * 8 - delta_bytes) * 1000000 // (df * 8) AS savings_ppm
           |FROM d""".stripMargin,

      "q_zipf_fit" -> {
        import graft.functions.PortableSql.log2Eighths
        s"""WITH words AS (SELECT source, unnest($toks) AS w FROM documents),
           | wc AS (SELECT source, w, count(*) AS freq FROM words
           |  WHERE length(w) > 0 GROUP BY 1, 2),
           | ranked AS (SELECT source, w, freq,
           |   row_number() OVER (PARTITION BY source
           |     ORDER BY freq DESC, w ASC) AS rank FROM wc),
           | pts AS (SELECT source,
           |   CAST(${log2Eighths("rank", duck = true)} AS BIGINT) AS x,
           |   CAST(${log2Eighths("freq", duck = true)} AS BIGINT) AS y
           |  FROM ranked WHERE rank <= $ZipfTopK),
           | s AS (SELECT source, count(*) AS n_pts,
           |   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |   CAST(sum(x * y) AS BIGINT) AS sxy,
           |   CAST(sum(x * x) AS BIGINT) AS sxx FROM pts GROUP BY 1),
           | r AS (SELECT source, n_pts,
           |   n_pts * sxy - sx * sy AS slope_num,
           |   n_pts * sxx - sx * sx AS slope_den FROM s)
           |SELECT source, n_pts, slope_num, slope_den,
           | (slope_num * 1000 + $ZipfBig * slope_den) // slope_den - $ZipfBig
           |   AS slope_milli
           |FROM r WHERE slope_den > 0""".stripMargin
      },

      "q_tfidf_terms" -> {
        import graft.functions.PortableSql.log2Eighths
        s"""WITH toks AS (SELECT doc_id, unnest($toks) AS term FROM documents),
           | tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
           | dfr AS (SELECT term, count(*) AS df,
           |   CAST(${log2Eighths("count(*)", duck = true)} AS BIGINT) AS idf8
           |  FROM tf GROUP BY 1),
           | nd AS (SELECT CAST(${log2Eighths("count(*)", duck = true)} AS BIGINT)
           |   AS nd8 FROM documents),
           | scored AS (SELECT doc_id, term, tf, tf * (nd8 - idf8) AS score
           |  FROM tf JOIN dfr USING (term), nd)
           |SELECT doc_id, term, tf, score, rnk FROM (
           | SELECT *, row_number() OVER (PARTITION BY doc_id
           |   ORDER BY score DESC, term) AS rnk FROM scored) z
           |WHERE rnk <= $TfidfK AND score > 0""".stripMargin
      },

      "q_text_pmi" -> {
        val grams2 = bigramsAll("toks", duck = true)
        s"""WITH toks AS (SELECT unnest($toks) AS w FROM documents),
           | uni AS (SELECT w, count(*) AS cnt FROM toks GROUP BY 1),
           | tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM uni),
           | bi AS (SELECT gram, pair_cnt,
           |    string_split(gram, ' ')[1] AS w1, string_split(gram, ' ')[2] AS w2
           |  FROM (SELECT g AS gram, count(*) AS pair_cnt FROM (
           |    SELECT unnest(grams) AS g FROM (
           |     SELECT $grams2 AS grams FROM (
           |      SELECT $toks AS toks FROM documents) t0) g0) g1
           |   GROUP BY 1 HAVING count(*) >= $PmiMinCount) c)
           |SELECT gram, pair_cnt, u1.cnt AS c1, u2.cnt AS c2,
           | CAST(pair_cnt * total * 1000000 // (u1.cnt * u2.cnt) AS BIGINT)
           |   AS lift_micro
           |FROM bi JOIN uni u1 ON bi.w1 = u1.w
           | JOIN uni u2 ON bi.w2 = u2.w, tot
           |WHERE pair_cnt * total * 1000000 // (u1.cnt * u2.cnt)
           |  >= $PmiMinLiftMicro""".stripMargin
      },
      "q_text_winnow" ->
        s"""WITH g AS (SELECT doc_id, $hsAll AS hs
           |  FROM (SELECT doc_id, $gramsAll AS grams FROM documents) g0),
           | wn AS (SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_hashes,
           |   ${winnowSql("hs", WinnowW, duck = true)} AS prints FROM g),
           | ex AS (SELECT doc_id, unnest(prints) AS p FROM wn),
           | d AS (SELECT p, count(*) AS dfp FROM ex GROUP BY 1),
           | sh AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
           |   FROM ex JOIN d USING (p) WHERE dfp >= 2 GROUP BY 1)
           |SELECT wn.doc_id, n_hashes, CAST(len(prints) AS BIGINT) AS n_prints,
           | coalesce(sh.n_shared, 0) AS n_shared
           |FROM wn LEFT JOIN sh ON wn.doc_id = sh.doc_id""".stripMargin,
      "q_text_vocab" ->
        """WITH perdoc AS (SELECT source,
          |   CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
          |  FROM documents),
          | a AS (SELECT source, count(*) AS n_docs,
          |   CAST(sum(nt) AS BIGINT) AS n_tokens FROM perdoc GROUP BY 1),
          | v AS (SELECT source, count(*) AS n_vocab FROM (
          |   SELECT DISTINCT source, unnest(string_split(text, ' ')) AS w
          |   FROM documents) z GROUP BY 1)
          |SELECT a.source, n_docs, n_tokens, n_vocab,
          | n_tokens // n_docs AS tokens_per_doc
          |FROM a JOIN v ON a.source = v.source""".stripMargin,

      "q_bigram_lm" -> {
        val grams2 = bigramsAll("toks", duck = true)
        s"""WITH g AS (SELECT unnest(grams) AS g FROM (
           |  SELECT $grams2 AS grams FROM (
           |   SELECT string_split(text, ' ') AS toks FROM documents) t0) g0),
           | c AS (SELECT string_split(g, ' ')[1] AS w1,
           |   string_split(g, ' ')[2] AS w2, count(*) AS cnt
           |  FROM g GROUP BY 1, 2 HAVING count(*) >= 5)
           |SELECT w1, w2, cnt, rnk FROM (
           | SELECT *, row_number() OVER (PARTITION BY w1
           |   ORDER BY cnt DESC, w2) AS rnk FROM c) z
           |WHERE rnk <= 3""".stripMargin
      },

      "q_phrase_search" -> {
        val grams2 = bigramsAll("toks", duck = true)
        val hits = alen(filterArr("bgs", "b", s"b = '$SearchPhrase'",
          duck = true), duck = true)
        s"""WITH b AS (SELECT doc_id, $grams2 AS bgs FROM (
           |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t0)
           |SELECT doc_id, CAST($hits AS BIGINT) AS n_hits,
           | CAST(list_position(bgs, '$SearchPhrase') AS BIGINT) AS first_pos
           |FROM b WHERE $hits > 0""".stripMargin
      },

      "q_text_hapax" -> {
        val grams2 = bigramsAll("toks", duck = true)
        s"""WITH g AS (SELECT source, unnest(grams) AS bg FROM (
           |  SELECT source, $grams2 AS grams FROM (
           |   SELECT source, string_split(text, ' ') AS toks FROM documents) t0) g0),
           | o AS (SELECT source, bg, count(*) AS occ FROM g GROUP BY 1, 2),
           | r AS (SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
           |   CAST(sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           |   CAST(sum(occ) AS BIGINT) AS n_occurrences
           |  FROM o GROUP BY 1)
           |SELECT source, n_terms, n_hapax, n_occurrences,
           | CAST(n_hapax * 1000000 // n_terms AS BIGINT) AS hapax_ppm
           |FROM r""".stripMargin
      },

      "q_filter_funnel" ->
        """WITH f AS (SELECT doc_id,
          |   n_chars >= 100 AS f1,
          |   len(string_split(text, ' ')) >= 20 AS f2,
          |   lang IN ('en', 'de', 'fr', 'es') AS f3,
          |   doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS f4
          |  FROM documents),
          | a AS (SELECT count(*) AS n0,
          |   CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          |   CAST(sum(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
          |   CAST(sum(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
          |   CAST(sum(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
          |  FROM f)
          |SELECT stage, n_in, n_out, n_in - n_out AS n_dropped FROM (
          | SELECT '1_min_chars' AS stage, n0 AS n_in, n1 AS n_out FROM a
          | UNION ALL SELECT '2_min_tokens', n1, n2 FROM a
          | UNION ALL SELECT '3_lang', n2, n3 FROM a
          | UNION ALL SELECT '4_exact_dedup', n3, n4 FROM a) z""".stripMargin,
      "q_tok_fertility" ->
        s"""WITH d AS (SELECT source, lang, n_chars,
           |  CAST(${alen(toks, duck = true)} AS BIGINT) AS n_ws,
           |  CAST(coalesce(list_sum(list_transform(
           |   regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'),
           |   w -> ${graft.functions.BpeMerges.oracleTokenCount("w")})), 0)
           |   AS BIGINT) AS n_bpe
           | FROM documents)
           |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
           | CAST(sum(n_ws) AS BIGINT) AS n_ws_tokens,
           | CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
           | CAST(sum(n_chars) AS BIGINT) AS n_chars,
           | CAST(CASE WHEN sum(n_ws) = 0 THEN NULL
           |   ELSE sum(n_bpe) * 100 // sum(n_ws) END AS BIGINT) AS fertility_centi,
           | CAST(CASE WHEN sum(n_bpe) = 0 THEN NULL
           |   ELSE sum(n_chars) * 100 // sum(n_bpe) END AS BIGINT)
           |   AS chars_per_bpe_centi
           |FROM d GROUP BY 1, 2""".stripMargin,

      "q_text_bpe_merges" ->
        s"""SELECT doc_id,
           | CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))
           |   AS BIGINT) AS n_pre_tokens,
           | CAST(coalesce(list_sum(list_transform(
           |   regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'),
           |   w -> ${graft.functions.BpeMerges.oracleTokenCount("w")})), 0)
           |   AS BIGINT) AS n_bpe_tokens
           |FROM documents""".stripMargin,

      "q_text_bpe_tokens" ->
        s"""SELECT doc_id,
           | CAST(${alen(toks, duck = true)} AS BIGINT) AS n_ws_tokens,
           | CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))
           |   AS BIGINT) AS n_bpe_tokens
           |FROM documents""".stripMargin,

      "q_text_repetition" ->
        s"""WITH b AS (SELECT doc_id,
           |   ${bigramsAll(toks, duck = true)} AS bgs FROM documents),
           | e AS (SELECT doc_id, CAST(len(bgs) AS BIGINT) AS n_bigrams,
           |   unnest(bgs) AS bg FROM b WHERE len(bgs) >= 1),
           | cnt AS (SELECT doc_id, n_bigrams, bg, count(*) AS c
           |   FROM e GROUP BY doc_id, n_bigrams, bg)
           |SELECT doc_id, n_bigrams, max(c) AS top_bigram_n,
           | round(CAST(max(c) AS DOUBLE) / n_bigrams, 6) AS top_bigram_share,
           | CAST(CAST(max(c) AS DOUBLE) / n_bigrams > 0.1 AS INT) AS repetitive
           |FROM cnt GROUP BY doc_id, n_bigrams""".stripMargin,

      "q_text_pii_scrub" ->
        s"""WITH seeded AS (SELECT doc_id,
           |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +91 '
           |    || lpad(CAST(doc_id * 7919 % 100000 AS VARCHAR), 5, '0') || '-'
           |    || lpad(CAST(doc_id * 104729 % 100000 AS VARCHAR), 5, '0') AS t
           | FROM documents)
           |SELECT doc_id,
           | CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_emails,
           | CAST(len(regexp_extract_all(t, '$PhoneRe')) AS BIGINT) AS n_phones,
           | md5(regexp_replace(regexp_replace(t, '$EmailRe', '<EMAIL>', 'g'),
           |   '$PhoneRe', '<PHONE>', 'g')) AS masked_md5
           |FROM seeded""".stripMargin,

      "q_bm25_search" ->
        s"""WITH toks AS (SELECT doc_id, unnest(${tokens("text", duck = true)}) AS w
           |   FROM documents),
           | dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
           | stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) AS tot
           |   FROM dl),
           | tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
           |   WHERE w IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
           |   GROUP BY doc_id, w),
           | dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w)
           |SELECT doc_id, CAST(sum($bm25ContribSql) AS BIGINT) AS score_micro
           |FROM tf JOIN dfq USING (w) JOIN dl USING (doc_id), stats
           |GROUP BY doc_id
           |ORDER BY score_micro DESC, doc_id LIMIT 10""".stripMargin,

      "q_text_surprisal" -> {
        import graft.functions.PortableSql.bitLen
        s"""WITH toks AS (SELECT doc_id, unnest(${tokens("text", duck = true)}) AS w
           |   FROM documents),
           | freq AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
           | tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
           |   CAST(${bitLen("sum(cnt)")} AS BIGINT) AS total_bits FROM freq)
           |SELECT doc_id, count(*) AS n_tokens,
           | CAST(sum(total_bits - ${bitLen("cnt")}) AS BIGINT) AS surprisal_bits,
           | round(CAST(sum(total_bits - ${bitLen("cnt")}) AS DOUBLE) / count(*), 6)
           |   AS avg_bits
           |FROM toks JOIN freq USING (w), tot
           |GROUP BY doc_id""".stripMargin
      },

      "q_text_tokens" ->
        s"""SELECT lang, count(*) AS n_docs,
           | CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           | CAST(sum(n_nospace) AS BIGINT) AS total_chars_nospace,
           | CAST(sum(n_nospace) AS DOUBLE) / sum(n_tokens) AS avg_token_len
           |FROM (SELECT lang,
           |   CAST(${alen(toks, duck = true)} AS BIGINT) AS n_tokens,
           |   CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nospace
           |  FROM documents) t
           |GROUP BY lang""".stripMargin,

      "q_text_quality" ->
        s"""SELECT doc_id, n_tokens,
           | CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
           | $QualityFormulaSql AS quality
           |FROM ($qualityBaseOracleSql) t""".stripMargin,

      "q_text_langid" ->
        s"""SELECT doc_id, stop_ratio, vowel_ratio,
           | CASE WHEN stop_ratio >= 0.04 THEN 'en'
           |   WHEN vowel_ratio >= 0.38 THEN 'romance'
           |   ELSE 'other' END AS lang_guess
           |FROM (SELECT doc_id,
           |   CAST(CAST(${alen(stopD, duck = true)} AS BIGINT) AS DOUBLE)
           |     / CAST(${alen(toks, duck = true)} AS BIGINT) AS stop_ratio,
           |   CAST(length(text) - length(replace(replace(replace(replace(replace(
           |     text, 'a', ''), 'e', ''), 'i', ''), 'o', ''), 'u', '')) AS DOUBLE)
           |     / length(text) AS vowel_ratio
           |  FROM documents) t""".stripMargin,

      "q_text_fingerprint" ->
        s"""SELECT doc_id, md5(text) AS content_md5,
           | ${reduceLong(tokenHashes("text", duck = true), "acc", "x",
                s"(acc * 31 + x) % $P", duck = true)} AS rolling_fp
           |FROM documents""".stripMargin
    )
  }
}
