package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.RunOnce.materialize
import graft.Tables
import graft.functions.PortableSql._

/** Domain-mixture planning and resampling over the `documents` corpus —
  * the data-mixing step of a training-data pipeline (DoReMi-style static
  * reweighting: given per-domain target shares, compute each domain's
  * over/under-sampling factor, then materialize the epoch plan as
  * deterministic per-document repeat counts).
  *
  * All mixture math is INTEGER (ppm shares, millis factors, Knuth-hash
  * fractional draws), so the DuckDB oracle reproduces the realized sample
  * bit-for-bit — no RNG, no float accumulation.
  *
  * Scale shape: the stats pass is one groupBy(source) over per-doc token
  * counts (tiny result — one row per domain); the resample pass re-scans
  * documents once and probes the broadcast factor table. Two scans of the
  * text column total; a deployment materializes `n_tokens` as a column in
  * the ingest pass (tokenStats already computes it) and both passes become
  * metadata-narrow. Nothing here shuffles the documents themselves.
  */
object MixOps {

  /** Target weight of a source: sources are named srcN, weight N+1 —
    * derived from the data so the mix table needs no hard-coded domain
    * list (a real deployment feeds an explicit table; the DERIVATION is
    * irrelevant to the plan shape, which only sees a small keyed frame).
    */
  private def weightSql: String = "(CAST(substr(source, 4) AS BIGINT) + 1)"

  /** Per-doc fractional draw in [0, 1000): the Knuth ladder the
    * generators use, reduced to millis. Identical text in both dialects.
    */
  private def draw1000Sql: String =
    "((((doc_id % 2147483647) * 2654435761 + 283521) % 1000000007) % 1000)"

  private def docTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      expr(alen(tokens("text", duck = false), duck = false)).cast("long").as("n_toks"))

  /** Temperature-scaled mixture reweighting — the multilingual-sampling
    * trick (raise each domain's share to the power 1/T and renormalize;
    * T > 1 flattens toward uniform, boosting low-resource domains).
    * Integer-exact for T = 1/2 (α = 2, squaring) and the T→∞ uniform
    * limit: per source the natural ppm share, the α=2 sharpened share
    * (share² renormalized — squared sums stay ≪ 2^63 because each share
    * ≤ 1e6), and the uniform share, plus the sharpened-vs-natural boost
    * in milli-units — the three-point temperature sweep a mixture
    * designer reads before committing a T. One |domains|-row frame end
    * to end after the token aggregate.
    */
  def mixTemperature(docs: DataFrame): DataFrame = {
    val stats = docTokens(docs).groupBy(col("source"))
      .agg(sum(col("n_toks")).as("toks"))
    val tot = stats.agg(sum(col("toks")).as("tt"),
      count(lit(1)).as("nd"))
    val shares = stats.crossJoin(broadcast(tot))
      .withColumn("share_ppm", expr("toks * 1000000 DIV tt"))
    val sq = shares.agg(sum(expr("share_ppm * share_ppm")).as("sq_sum"))
    shares.crossJoin(broadcast(sq))
      .select(col("source"), col("toks").as("total_tokens"), col("share_ppm"),
        expr("share_ppm * share_ppm * 1000000 DIV sq_sum").as("sharp_ppm"),
        expr("1000000 DIV nd").as("uniform_ppm"))
      .withColumn("boost_milli",
        expr("sharp_ppm * 1000 DIV greatest(share_ppm, 1)"))
  }

  /** Held-out split modulus: doc_id % 10 < [[LmTrainMod]] trains. */
  val LmTrainMod = 8L

  /** Held-out unigram-LM evaluation — the train/test generalization
    * check behind perplexity-based data curation (q_text_surprisal
    * scores IN-corpus; this holds out 20% BY DOC and evaluates unseen
    * text against the 80% model): Laplace-smoothed integer bit costs
    * (the q_source_xent ladder — bitLen(train_total + V) −
    * bitLen(cnt + 1), no libm) summed per source over held-out tokens,
    * with OOV tokens (cnt = 0) costed at the full smoothing floor and
    * counted separately. A source whose held-out bits-per-token blows
    * past its neighbors is the one whose text the model can't
    * generalize to — the curation signal. Frames after the token
    * aggregates are vocabulary-sized.
    */
  def lmHeldout(docs: DataFrame): DataFrame = {
    val tagged = docs.select(col("doc_id"), col("source"),
      explode(expr(tokens("text", duck = false))).as("w"),
      (col("doc_id") % 10 < LmTrainMod).as("is_train"))
    // feeds totals, vocab, and the held-out join
    val train = materialize(tagged.filter(col("is_train"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt")))
    val tot = train.agg(sum(col("cnt")).as("t"),
      count(lit(1)).as("v"))
    val held = tagged.filter(!col("is_train"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("n"))
    held.join(train, Seq("w"), "left")
      .na.fill(0L, Seq("cnt"))
      .crossJoin(broadcast(tot))
      .withColumn("cost",
        expr(s"CAST(${bitLen("(t + v)")} - ${bitLen("(cnt + 1)")} AS BIGINT)"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_tokens"),
        sum(when(col("cnt") === 0L, col("n")).otherwise(0L)).as("n_oov"),
        sum(col("n") * col("cost")).as("heldout_bits"))
      .withColumn("bits_per_token_milli",
        expr("heldout_bits * 1000 DIV n_tokens"))
      .withColumn("oov_ppm", expr("n_oov * 1000000 DIV n_tokens"))
  }

  /** Per-source mixture plan: corpus share vs target share in exact ppm,
    * and the resampling factor in millis (1000 = keep as-is, 2500 = 2.5x
    * oversample, 400 = keep 40%).
    */
  def domainMix(docs: DataFrame): DataFrame = {
    val stats = docTokens(docs).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("toks"))
      .withColumn("w", expr(weightSql))
    val totals = stats.agg(sum(col("toks")).as("tt"), sum(col("w")).as("tw"))
    stats.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("toks").as("total_tokens"),
        expr("(toks * 1000000) DIV tt").as("actual_ppm"),
        expr("(w * 1000000) DIV tw").as("target_ppm"),
        expr("""CASE WHEN (toks * 1000000) DIV tt > 0
          THEN (((w * 1000000) DIV tw) * 1000) DIV ((toks * 1000000) DIV tt)
          END""").as("factor_milli"))
  }

  /** The realized epoch plan: every document's repeat count under its
    * source's factor (floor(f) copies + one more when the doc's hash
    * draw falls under the fractional part), rolled up per source. A
    * factor under 1000 yields {0,1} — downsampling; over 1000 yields
    * floor thereof plus the Bernoulli top-up — oversampling.
    */
  def domainResample(docs: DataFrame): DataFrame = {
    val factors = domainMix(docs).select(col("source"), col("factor_milli"))
    docTokens(docs)
      .join(broadcast(factors), "source")
      .withColumn("repeats",
        expr(s"""factor_milli DIV 1000 +
          (CASE WHEN $draw1000Sql < factor_milli % 1000 THEN 1 ELSE 0 END)"""))
      .groupBy(col("source"))
      .agg(sum(col("repeats")).as("kept_docs"),
        sum(col("repeats") * col("n_toks")).as("kept_tokens"),
        sum(when(col("repeats") === 0, 1L).otherwise(0L)).as("dropped_docs"))
  }

  /** Cross-source unigram cross-entropy matrix — the LM-distance table
    * behind mixture design: H(A under B) = average surprisal of source
    * A's token occurrences under source B's unigram distribution
    * (+1/(tot_b+V) Laplace smoothing; token costs are the integer
    * bit-length approximation of -log2 p, the q_text_surprisal
    * discipline, so no libm log enters a compared value). A row far
    * above its diagonal marks a domain pair that should NOT share a
    * mixture bucket; near-diagonal off-rows are near-duplicate domains
    * a mix plan can merge. Shape at 100 TB: one corpus-scale shuffle to
    * the (source, token) count frame (vocabulary x |S| rows, cached and
    * materialized once before the fanout — it serves as both the A-side
    * occurrences and the B-side frequency table); the pair frame is
    * vocabulary x |S|^2 — dim-sized relative to the corpus — built by a
    * hash equi-join on (token, src_b); totals and the vocab scalar are
    * broadcast. |S|^2 output rows.
    */
  def sourceCrossEntropy(docs: DataFrame): DataFrame = {
    // feeds the A side, the B-side frequency table, the totals, and the
    // vocab scalar
    val occ = materialize(docs.select(col("source").as("src_a"),
        explode(expr(tokens("text", duck = false))).as("w"))
      .groupBy(col("src_a"), col("w"))
      .agg(count(lit(1)).as("cnt_a")))
    val freqB = occ.select(col("src_a").as("src_b"), col("w"),
      col("cnt_a").as("cnt_b"))
    val tots = freqB.groupBy(col("src_b")).agg(sum(col("cnt_b")).as("tot_b"))
    val vocab = occ.agg(countDistinct(col("w")).as("v"))
    occ.crossJoin(broadcast(tots.select(col("src_b"))))
      .join(freqB, Seq("w", "src_b"), "left")
      .na.fill(0L, Seq("cnt_b"))
      .join(broadcast(tots), "src_b")
      .crossJoin(broadcast(vocab))
      .withColumn("cost",
        expr(s"CAST(${bitLen("(tot_b + v)")} - ${bitLen("(cnt_b + 1)")} AS BIGINT)"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(col("cnt_a")).as("n_tokens"),
        sum(col("cnt_a") * col("cost")).as("xent_bits"))
      .withColumn("xent_milli_bits", expr("xent_bits * 1000 DIV n_tokens"))
  }

  /** Water-filling fixed-point scale (2^20) and the budget share. */
  val WfScale = 1048576L
  val WfBudgetPct = 60L

  /** Water-filling token allocation — the mixture OPTIMIZER one step up
    * from q_domain_mix's gap report: given each domain's available
    * tokens and target weight plus a global training budget
    * ([[WfBudgetPct]]% of the corpus), allocate
    * alloc_d = min(avail_d, w_d * lambda) with the water level lambda
    * chosen so the budget is exactly filled — small domains CAP at
    * availability and their surplus redistributes to the rest (the
    * classic max-min fair allocator). Solved RELATIONALLY in fixed-point
    * integers (scale [[WfScale]]): sort domains by the capped ratio
    * avail/w, and for each candidate cap-set size the water level is
    * (budget - capped mass) / uncapped weight — prefix sums over the
    * |domains|-row frame give every candidate at once, and the unique
    * valid row (its own ratio below its level, the next ratio above) is
    * selected by one filter. All windows run on the tiny per-domain
    * frame (rows = |domains|, the bucket-offset exemption); the corpus
    * itself contributes one token-count aggregation.
    */
  def waterfill(docs: DataFrame): DataFrame =
    waterfillFromCounts(docTokens(docs).groupBy(col("source"))
      .agg(sum(col("n_toks")).as("toks")))

  /** The water-level solve over a pre-aggregated (source, toks) frame —
    * shared by the batch query and the streaming twin (whose per-source
    * token counts accumulate in complete mode and re-derive the
    * allocation on readback through THIS arithmetic, so one oracle
    * scores both).
    */
  def waterfillFromCounts(counts: DataFrame): DataFrame = {
    val s = counts.withColumn("w", expr(weightSql))
    val tot = s.agg(sum(col("toks")).as("tt"), sum(col("w")).as("tw"))
    val base = s.crossJoin(broadcast(tot))
      .withColumn("budget", expr(s"tt * $WfBudgetPct DIV 100"))
      .withColumn("q", expr(s"toks * $WfScale DIV w"))
    val ord = org.apache.spark.sql.expressions.Window.orderBy(col("q"), col("source"))
    val ranked = materialize(base
      .withColumn("rn", row_number().over(ord))
      .withColumn("ptoks", sum(col("toks")).over(
        ord.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .withColumn("pw", sum(col("w")).over(
        ord.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .withColumn("qprev", lag(col("q"), 1).over(ord))
      .withColumn("ptoks", coalesce(col("ptoks"), lit(0L)))
      .withColumn("pw", coalesce(col("pw"), lit(0L))))
    // candidate water level with rows < rn capped; valid when this row
    // stays UNCAPPED at its level and the previous row capped
    val lam = ranked
      .withColumn("lam", expr(
        s"CASE WHEN budget >= ptoks THEN (budget - ptoks) * $WfScale DIV (tw - pw) END"))
      .filter(col("lam").isNotNull && col("q") > col("lam") &&
        (col("qprev").isNull || col("qprev") <= col("lam")))
      .agg(min(col("lam")).as("lam"))
    ranked.crossJoin(broadcast(lam))
      .select(col("source"), col("toks").as("avail_toks"), col("w").as("target_w"),
        when(col("lam").isNull || col("q") <= col("lam"), col("toks"))
          .otherwise(expr(s"w * lam DIV $WfScale")).as("alloc_toks"),
        (col("lam").isNull || col("q") <= col("lam")).cast("long").as("capped"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mix_waterfill" -> ((s, dir) => waterfill(Tables.documents(s, dir))),
    "q_mix_temperature" -> ((s, dir) => mixTemperature(Tables.documents(s, dir))),
    "q_lm_heldout" -> ((s, dir) => lmHeldout(Tables.documents(s, dir))),
    "q_domain_mix" -> ((s, dir) => domainMix(Tables.documents(s, dir))),
    "q_domain_resample" -> ((s, dir) => domainResample(Tables.documents(s, dir))),
    "q_source_xent" -> ((s, dir) => sourceCrossEntropy(Tables.documents(s, dir)))
  )

  def oracleSql: Map[String, String] = {
    val toksD = alen(tokens("text", duck = true), duck = true)
    val mixCte =
      s"""dt AS (SELECT doc_id, source, CAST($toksD AS BIGINT) AS n_toks
         |  FROM documents),
         |st AS (SELECT source, count(*) AS n_docs, sum(n_toks) AS toks,
         |   $weightSql AS w
         |  FROM dt GROUP BY source),
         |tot AS (SELECT sum(toks) AS tt, sum(w) AS tw FROM st),
         |mix AS (SELECT source, n_docs, toks AS total_tokens,
         |   (toks * 1000000) // tt AS actual_ppm,
         |   (w * 1000000) // tw AS target_ppm,
         |   CASE WHEN (toks * 1000000) // tt > 0
         |     THEN (((w * 1000000) // tw) * 1000) // ((toks * 1000000) // tt)
         |   END AS factor_milli
         |  FROM st CROSS JOIN tot)""".stripMargin
    Map(
      "q_mix_waterfill" ->
        s"""WITH dt AS (SELECT doc_id, source, CAST($toksD AS BIGINT) AS n_toks
           |  FROM documents),
           | st AS (SELECT source, sum(n_toks) AS toks, $weightSql AS w
           |  FROM dt GROUP BY source),
           | tot AS (SELECT sum(toks) AS tt, sum(w) AS tw FROM st),
           | base AS (SELECT source, toks, w,
           |   tt * $WfBudgetPct // 100 AS budget, tw,
           |   toks * $WfScale // w AS q
           |  FROM st CROSS JOIN tot),
           | ranked AS (SELECT *,
           |   row_number() OVER wo AS rn,
           |   coalesce(sum(toks) OVER (wo ROWS BETWEEN UNBOUNDED PRECEDING
           |     AND 1 PRECEDING), 0) AS ptoks,
           |   coalesce(sum(w) OVER (wo ROWS BETWEEN UNBOUNDED PRECEDING
           |     AND 1 PRECEDING), 0) AS pw,
           |   lag(q) OVER wo AS qprev
           |  FROM base WINDOW wo AS (ORDER BY q, source)),
           | lamr AS (SELECT min(lam) AS lam FROM (
           |   SELECT q, qprev,
           |    CASE WHEN budget >= ptoks
           |      THEN (budget - ptoks) * $WfScale // (tw - pw) END AS lam
           |   FROM ranked) z
           |  WHERE lam IS NOT NULL AND q > lam
           |    AND (qprev IS NULL OR qprev <= lam))
           |SELECT source, CAST(toks AS BIGINT) AS avail_toks, w AS target_w,
           | CAST(CASE WHEN lam IS NULL OR q <= lam THEN toks
           |      ELSE w * lam // $WfScale END AS BIGINT) AS alloc_toks,
           | CAST(CASE WHEN lam IS NULL OR q <= lam THEN 1 ELSE 0 END AS BIGINT)
           |   AS capped
           |FROM ranked CROSS JOIN lamr""".stripMargin,

      "q_lm_heldout" ->
        s"""WITH tok AS (SELECT doc_id, source,
           |   unnest(${tokens("text", duck = true)}) AS w,
           |   doc_id % 10 < $LmTrainMod AS is_train FROM documents),
           | train AS (SELECT w, count(*) AS cnt FROM tok
           |  WHERE is_train GROUP BY 1),
           | t AS (SELECT CAST(sum(cnt) AS BIGINT) AS t, count(*) AS v
           |  FROM train),
           | held AS (SELECT source, w, count(*) AS n FROM tok
           |  WHERE NOT is_train GROUP BY 1, 2),
           | j AS (SELECT source, n, coalesce(cnt, 0) AS cnt, t.t, t.v
           |  FROM held LEFT JOIN train USING (w), t),
           | c AS (SELECT source, n, cnt,
           |   CAST(${bitLen("(t + v)")} - ${bitLen("(cnt + 1)")} AS BIGINT)
           |     AS cost FROM j),
           | agg AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
           |   CAST(sum(CASE WHEN cnt = 0 THEN n ELSE 0 END) AS BIGINT) AS n_oov,
           |   CAST(sum(n * cost) AS BIGINT) AS heldout_bits
           |  FROM c GROUP BY 1)
           |SELECT source, n_tokens, n_oov, heldout_bits,
           | heldout_bits * 1000 // n_tokens AS bits_per_token_milli,
           | n_oov * 1000000 // n_tokens AS oov_ppm
           |FROM agg""".stripMargin,

      "q_mix_temperature" ->
        s"""WITH dt AS (SELECT source,
           |   CAST(${alen(tokens("text", duck = true), duck = true)} AS BIGINT)
           |     AS n_toks FROM documents),
           | st AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS toks
           |  FROM dt GROUP BY 1),
           | t AS (SELECT CAST(sum(toks) AS BIGINT) AS tt, count(*) AS nd FROM st),
           | sh AS (SELECT source, toks, toks * 1000000 // tt AS share_ppm, nd
           |  FROM st, t),
           | sq AS (SELECT CAST(sum(share_ppm * share_ppm) AS BIGINT) AS sq_sum
           |  FROM sh)
           |SELECT source, toks AS total_tokens, share_ppm,
           | share_ppm * share_ppm * 1000000 // sq_sum AS sharp_ppm,
           | 1000000 // nd AS uniform_ppm,
           | (share_ppm * share_ppm * 1000000 // sq_sum) * 1000
           |   // greatest(share_ppm, 1) AS boost_milli
           |FROM sh, sq""".stripMargin,

      "q_domain_mix" ->
        s"""WITH $mixCte
           |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           | CAST(total_tokens AS BIGINT) AS total_tokens,
           | CAST(actual_ppm AS BIGINT) AS actual_ppm,
           | CAST(target_ppm AS BIGINT) AS target_ppm,
           | CAST(factor_milli AS BIGINT) AS factor_milli
           |FROM mix""".stripMargin,

      "q_source_xent" -> {
        val costExpr = s"(${bitLen("(tot_b + v)")} - ${bitLen("(cnt_b + 1)")})"
        s"""WITH occ AS (SELECT source AS src_a, w,
           |   CAST(count(*) AS BIGINT) AS cnt_a
           |  FROM (SELECT source, unnest(${tokens("text", duck = true)}) AS w
           |   FROM documents) e GROUP BY 1, 2),
           | tots AS (SELECT src_a AS src_b, CAST(sum(cnt_a) AS BIGINT) AS tot_b
           |  FROM occ GROUP BY 1),
           | voc AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM occ),
           | pairs AS (SELECT o.src_a, s.src_b, o.cnt_a,
           |   coalesce(f.cnt_b, 0) AS cnt_b
           |  FROM occ o CROSS JOIN (SELECT src_b FROM tots) s
           |  LEFT JOIN (SELECT src_a AS src_b, w, cnt_a AS cnt_b FROM occ) f
           |    ON o.w = f.w AND s.src_b = f.src_b)
           |SELECT src_a, p.src_b, CAST(sum(cnt_a) AS BIGINT) AS n_tokens,
           | CAST(sum(cnt_a * $costExpr) AS BIGINT) AS xent_bits,
           | CAST(sum(cnt_a * $costExpr) * 1000 // sum(cnt_a) AS BIGINT)
           |   AS xent_milli_bits
           |FROM pairs p JOIN tots ON p.src_b = tots.src_b CROSS JOIN voc
           |GROUP BY 1, 2""".stripMargin
      },

      "q_domain_resample" ->
        s"""WITH $mixCte,
           |rep AS (SELECT dt.source, dt.n_toks,
           |   factor_milli // 1000 +
           |     (CASE WHEN $draw1000Sql < factor_milli % 1000 THEN 1 ELSE 0 END)
           |     AS repeats
           |  FROM dt JOIN mix ON dt.source = mix.source)
           |SELECT source, CAST(sum(repeats) AS BIGINT) AS kept_docs,
           | CAST(sum(repeats * n_toks) AS BIGINT) AS kept_tokens,
           | CAST(sum(CASE WHEN repeats = 0 THEN 1 ELSE 0 END) AS BIGINT)
           |   AS dropped_docs
           |FROM rep GROUP BY 1""".stripMargin
    )
  }
}
