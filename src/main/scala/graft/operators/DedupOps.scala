package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.RunOnce.materialize
import graft.Tables
import graft.functions.PortableSql._

/** Deduplication operators over the `documents` table — the four standard
  * flavors a large-scale training-data pipeline needs:
  *
  *   - exact:    hash-groupBy on content (one shuffle on the content hash);
  *   - MinHash:  shingle → K permutation minima → banded LSH keys →
  *               candidate join → exact-Jaccard verify. The band join is the
  *               scale path: candidates are found by an equi-join on
  *               (band_idx, band_value), never by comparing all pairs.
  *               Banding is 4 bands × 2 rows: recall at the J=0.8
  *               threshold is 1-(1-0.8²)⁴ ≈ 98%, deliberately
  *               recall-heavy — false candidates are cheap because the
  *               exact-Jaccard verify filters them, and candidate volume
  *               stays bounded by the band equi-join (more rows per band
  *               trades recall for precision when verify cost dominates);
  *   - SimHash:  24-bit majority-bit sketch + pigeonhole blocking (4 blocks
  *               of 6 bits; hamming <= 3 implies one identical block) —
  *               again pairs come from an equi-join, not a cross product;
  *   - n-gram Jaccard: exact verify within a (source, size-bucket)
  *               block over hashed shingles — the baseline/verifier,
  *               deliberately bounded (see ngramJaccardPairs).
  *
  * Hashes are engine-portable arithmetic (PortableSql) so the DuckDB oracle
  * reproduces every signature, candidate set, and verified pair exactly.
  */
object DedupOps {

  val MinhashThreshold = 0.8
  val NgramThreshold = 0.5
  val MaxHamming = 3

  /** Exact dedup: group by content hash, keep the smallest doc_id. */
  def exactDuplicates(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_md5"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** Order-invariant (bag-of-words) dedup: docs whose sorted token
    * multisets coincide are duplicates even when the word ORDER differs
    * — the reorder-robust flavor between exact (order-sensitive) and
    * MinHash (set-based, loses multiplicity). One shuffle on the md5 of
    * the sorted token array; only groups with >1 member emit.
    */
  def bagDuplicates(docs: DataFrame): DataFrame =
    docs.groupBy(
        md5(concat_ws(" ", sort_array(
          org.apache.spark.sql.functions.split(col("text"), " ")))).as("bag_md5"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** doc_id + hashes of the distinct word-trigram shingles — ONE fused
    * native pass per doc (see TrigramHashesExpression; the symbolic
    * tokenize→shingle→hash chain it replaces was the dominant CPU cost of
    * every query below).
    */
  private[graft] def withShingleHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.TrigramHashesExpression.trigramHashes(col("text")).as("hs"))

  /** doc_id, mh_0..mh_7 (minhash signature), band_0..band_3 (LSH keys:
    * 4 bands x 2 rows).
    */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val hashed = withShingleHashes(docs)
      .withColumn("mhs", graft.functions.SketchExpressions.minhashSig(col("hs")))
    val withMh = (0 until 8).foldLeft(hashed) { (df, k) =>
      df.withColumn(s"mh_$k", element_at(col("mhs"), k + 1))
    }
    (0 until 4).foldLeft(withMh) { (df, j) =>
      df.withColumn(s"band_$j", col(s"mh_${2 * j}") * lit(P) + col(s"mh_${2 * j + 1}"))
    }.drop("hs", "mhs")
  }

  /** Near-duplicate pairs: banded-minhash candidates, verified with exact
    * trigram Jaccard >= threshold. The candidate generator is an equi-join
    * on exploded (band_idx, band_value) keys — one shuffle, no cross
    * product, skew-safe because band values are hash-distributed.
    */
  /** Exploded (doc_id, band_idx, band_val) LSH keys off the cached
    * shingle-hash kernel — shared by the full-corpus and incremental
    * pair generators.
    */
  private[graft] def bandFrame(g: DataFrame): DataFrame = {
    val hashed = g
      .withColumn("mhs", graft.functions.SketchExpressions.minhashSig(col("hs")))
    val withMh = (0 until 8).foldLeft(hashed) { (df, k) =>
      df.withColumn(s"mh_$k", element_at(col("mhs"), k + 1))
    }
    val sig = (0 until 4).foldLeft(withMh) { (df, j) =>
      df.withColumn(s"band_$j", col(s"mh_${2 * j}") * lit(P) + col(s"mh_${2 * j + 1}"))
    }
    sig.select(col("doc_id"), explode(array(
      (0 until 4).map(j => struct(lit(j).as("band_idx"), col(s"band_$j").as("band_val"))): _*
    )).as("b")).select(col("doc_id"), col("b.band_idx"), col("b.band_val"))
  }

  def minhashDupPairs(docs: DataFrame): DataFrame = {
    // The fused shingle-hash pass feeds the signature build AND both
    // sides of the verify join; doc_id + hs is narrow, and this is the
    // same materialization Spark ML's LSH does on fit.
    val g = materialize(withShingleHashes(docs))
    verifyJaccard(g, minhashCandidates(g))
  }

  /** The RAW banded candidate set (pre-verification) — split out so the
    * precision/recall evaluation can audit what banding alone surfaces.
    */
  private[graft] def minhashCandidates(g: DataFrame): DataFrame =
    candidatesFromBands(bandFrame(g))

  /** The band-collision self-join of [[minhashCandidates]] over an
    * ALREADY-built (doc_id, band_idx, band_val) frame — split out (r20)
    * so incrementalClusters can share ONE banded-signature pass between
    * the standing-label rebuild and the batch pair generator (bandFrame
    * is per-row, so filtering a shared frame equals building it per
    * slice).
    */
  private[graft] def candidatesFromBands(bands: DataFrame): DataFrame = {
    bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** Dedup-threshold sweep — the pair-count-vs-threshold curve read
    * before COMMITTING a Jaccard cutoff: the complete (within-source)
    * exact pair set at 0.5 is computed ONCE, then each candidate
    * threshold counts its surviving pairs — one grouped pass over the
    * pair frame, no recomputation per sweep point. The curve's knee is
    * the threshold decision; counts are exact.
    */
  val SweepThresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  def dedupThresholdSweep(docs: DataFrame): DataFrame = {
    val pairs = materialize(ngramJaccardPairs(docs).select(col("jaccard")))
    SweepThresholds.map { t =>
      pairs.filter(col("jaccard") >= t)
        .agg(count(lit(1)).as("n_pairs"))
        .select(lit(t).as("threshold"), col("n_pairs"))
    }.reduce(_.unionByName(_))
  }

  /** MinHash banding precision/recall evaluation — the text-side twin of
    * q_emb_lsh_recall: the RAW banded candidate set (restricted to
    * within-source pairs, the blocking the ground truth lives under) is
    * scored against the COMPLETE exact-Jaccard pair set at
    * [[MinhashThreshold]] — complete because the prefix-filter pipeline
    * is lossless at its [[NgramThreshold]] = 0.5 bound, so re-filtering
    * its output at 0.8 loses nothing. Emits candidate recall (the
    * banding miss rate — the b×r dial) and candidate precision (how
    * much the verify join has to discard) in exact ppm. One row.
    */
  def minhashEval(docs: DataFrame): DataFrame = {
    val g = materialize(withShingleHashes(docs))
    val srcs = docs.select(col("doc_id"), col("source"))
    val candWs = materialize(minhashCandidates(g)
      .join(srcs.select(col("doc_id").as("d1"), col("source").as("s1")), "d1")
      .join(srcs.select(col("doc_id").as("d2"), col("source").as("s2")), "d2")
      .filter(col("s1") === col("s2"))
      .select(col("d1"), col("d2")))
    val truth = materialize(ngramJaccardPairs(docs)
      .filter(col("jaccard") >= MinhashThreshold)
      .select(col("d1"), col("d2")))
    val hit = truth.join(candWs, Seq("d1", "d2"), "left_semi")
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(broadcast(candWs.agg(count(lit(1)).as("n_cand"))))
      .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        expr("n_hit * 1000000 DIV greatest(n_truth, 1)").as("recall_ppm"),
        expr("n_hit * 1000000 DIV greatest(n_cand, 1)").as("precision_ppm"))
  }

  /** Exact trigram-Jaccard verification of a candidate (d1, d2) frame
    * against the cached shingle kernel.
    */
  private[graft] def verifyJaccard(g: DataFrame, cand: DataFrame): DataFrame =
    cand
      .join(g.select(col("doc_id").as("d1"), array_distinct(col("hs")).as("h1")), "d1")
      .join(g.select(col("doc_id").as("d2"), array_distinct(col("hs")).as("h2")), "d2")
      .select(col("d1"), col("d2"),
        round(graft.functions.JaccardLongExpression.jaccard(col("h1"), col("h2")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= MinhashThreshold)

  /** The arriving-batch slice for the incremental pair generator. */
  val IncrMod = 10L
  val IncrRem = 9L

  /** INCREMENTAL near-dup pairs — the daily-ingest shape: dedup an
    * arriving batch (here the deterministic doc_id % [[IncrMod]] ==
    * [[IncrRem]] slice) against the standing corpus WITHOUT re-pairing
    * the corpus with itself. One side of the band equi-join is pruned to
    * the batch BEFORE the shuffle, so candidate volume scales with
    * |batch| x collision rate instead of |corpus|^2 band mass — at
    * 100 TB the corpus side's signatures come off the standing index
    * (here recomputed: same values by construction), and yesterday's
    * pairs are never re-derived. Emits every verified pair TOUCHING the
    * batch, normalized d1 < d2; the oracle is the full-corpus pair set
    * filtered to batch-touching rows — identical answers, radically
    * different candidate plan (the q_dedup_ngram_rare pattern: a
    * lossless plan swap).
    */
  def incrementalDupPairs(docs: DataFrame): DataFrame = {
    incrementalDupPairsFrom(materialize(withShingleHashes(docs)))
  }

  /** [[incrementalDupPairs]] over an ALREADY-built (and caller-cached)
    * shingle-hash kernel frame — split out (r19) so incrementalClusters
    * can share ONE kernel pass between the standing-label rebuild and
    * the batch pair generator instead of hashing the corpus twice.
    */
  private[graft] def incrementalDupPairsFrom(g: DataFrame): DataFrame =
    incrementalDupPairsFromBands(g, bandFrame(g))

  /** [[incrementalDupPairsFrom]] over an ALREADY-built band frame — the
    * shared-signature-pass twin of [[candidatesFromBands]] (r20). The
    * batch side stays pruned BEFORE the shuffle: only the band frame is
    * shared, not the join shape.
    */
  private[graft] def incrementalDupPairsFromBands(g: DataFrame,
      bands: DataFrame): DataFrame = {
    val batchBands = bands.filter(col("doc_id") % IncrMod === IncrRem)
    val cand = bands.as("a").join(batchBands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"))
      .distinct()
    verifyJaccard(g, cand)
  }

  /** Parquet root of the PERSISTED standing band index — the form a real
    * daily-ingest job READS BACK from storage instead of recomputing the
    * corpus-side signatures per batch (VERDICT r10 ask #4; the in-memory
    * incremental generator documents its corpus side as "recomputed:
    * same values by construction" — this is the storage round-trip that
    * claim stands on). (doc_id, band_val) rows, hive-partitioned BY
    * band_idx — the layout a standing index keeps so a band's postings
    * live together; built once per testdata content key, like the
    * bucketed/partitioned table fixtures (Bench warms it untimed: an
    * index BUILD is a write-time cost by design).
    */
  def standingBandIndexRoot(s: SparkSession, dir: String): String = {
    val root = graft.streaming.StreamQueries.fixtureDir("bandindex", dir, "documents")
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_SUCCESS")))
      bandFrame(withShingleHashes(
          Tables.documents(s, dir).filter(col("doc_id") % IncrMod =!= IncrRem)))
        .write.mode("overwrite").partitionBy("band_idx").parquet(root)
    root
  }

  /** [[incrementalDupPairs]] against the PERSISTED standing band index:
    * the batch's bands are computed fresh (it just arrived), the standing
    * corpus's bands come off the parquet index — no corpus-side signature
    * recompute anywhere in the plan. Candidates are the batch-vs-index
    * band equi-join (batch side pruned to the arriving slice BEFORE the
    * shuffle) plus the batch's internal self-join (the index excludes the
    * batch, so batch-batch collisions must come from the fresh bands).
    * Same answer as the in-memory generator — and the same oracle: the
    * full-corpus pair set filtered to batch-touching rows.
    */
  def incrementalDupPairsPersisted(s: SparkSession, dir: String): DataFrame = {
    val index = s.read.parquet(standingBandIndexRoot(s, dir))
      .select(col("doc_id"), col("band_idx"), col("band_val"))
    val g = materialize(withShingleHashes(Tables.documents(s, dir)))
    val batchBands = bandFrame(g.filter(col("doc_id") % IncrMod === IncrRem))
    val candStanding = index.as("a").join(batchBands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"))
    val candBatch = batchBands.as("a").join(batchBands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
    verifyJaccard(g, candStanding.unionAll(candBatch).distinct())
  }

  /** doc_id, 24-bit simhash over trigram-shingle hashes, block_0..block_3
    * (6-bit pigeonhole blocks).
    */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val hashed = withShingleHashes(docs)
      .withColumn("simhash", graft.functions.SketchExpressions.simhash24(col("hs")))
    (0 until 4).foldLeft(hashed) { (df, j) =>
      df.withColumn(s"block_$j", expr(s"${shr("simhash", 6 * j, duck = false)} & 63"))
    }.select(col("doc_id") +: col("simhash") +:
      (0 until 4).map(j => col(s"block_$j")): _*)
  }

  /** SimHash near-dup pairs: block-equality candidates (pigeonhole: any pair
    * within hamming<=3 of a 4-block split shares a block), verified with
    * popcount of the XOR.
    */
  def simhashDupPairs(docs: DataFrame): DataFrame = {
    // the interpreted shingle+hash chain feeds BOTH sides of the block
    // self-join, so the (narrow) signature projection is computed once
    val sig = materialize(simhashSignatures(docs))
    val blocks = sig.select(col("doc_id"), col("simhash"), explode(array(
      (0 until 4).map(j => struct(lit(j).as("block_idx"), col(s"block_$j").as("block_val"))): _*
    )).as("b")).select(col("doc_id"), col("simhash"), col("b.block_idx"), col("b.block_val"))
    blocks.as("a").join(blocks.as("b"),
        col("a.block_idx") === col("b.block_idx") &&
        col("a.block_val") === col("b.block_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        expr(s"bit_count(${bxor("a.simhash", "b.simhash", duck = false)})").as("hamming"))
      .distinct()
      .filter(col("hamming") <= MaxHamming)
  }

  /** Exact n-gram Jaccard pairs within a blocking key, candidates via
    * PREFIX FILTERING (the round-3 "next dial", replacing the size-bucket
    * cross product).
    *
    * The user-visible semantics are "all pairs within a `source` with
    * Jaccard >= 0.5" (the oracle SQL is exactly that); the plan-side
    * blocking is LOSSLESS:
    *
    *   - prefix filter: under any fixed total order of shingles (we sort
    *     the hashed shingles ascending), two sets with J >= t must share
    *     at least one element among their first |s| - ceil(t·|s|) + 1
    *     elements — for t = 0.5 that is floor(n/2)+1. A pair sharing NO
    *     prefix element has overlap at most min(ceil(t·na), ceil(t·nb)) - 1
    *     < t/(1+t)·(na+nb), below the J >= t requirement. So candidates =
    *     equi-join on (source, prefix-shingle), never all pairs;
    *   - the 2× size-ratio predicate stays (J >= 0.5 forces
    *     max(n) <= 2·min(n)) to cheaply drop mismatched-size collisions.
    *
    * Versus the size-bucket scheme this scales with SHARED-CONTENT volume
    * (docs colliding on an actual shingle) instead of the (source ×
    * size-decade) histogram's cross product — at 100 TB a hot size bucket
    * is quadratic in its population, while a prefix bucket is only as big
    * as the number of docs actually containing that shingle. The next
    * refinement at even larger scale is frequency-ordering the prefix
    * (rarest shingles first), which shrinks hot buckets further at the
    * cost of a global frequency pass.
    *
    * Empty-gram docs (< 3 tokens) are filtered out up front: J = 0 by
    * definition (PortableSql.jaccard) so they can never reach the 0.5
    * threshold.
    */
  def ngramJaccardPairs(docs: DataFrame): DataFrame = {
    // Jaccard runs over HASHED shingles (distinct int64s): the per-pair
    // set-intersect on longs is far cheaper than hashing UTF8 strings
    // per probe, and the shingle universe is the same modulo ~1e-9 hash
    // collisions — which the oracle reproduces exactly anyway. Sorted so
    // the prefix is a total-order prefix. The explode and both
    // verify-join sides read one narrow materialization.
    val g = materialize(docs
      .select(col("doc_id"), col("source"),
        graft.functions.TrigramHashesExpression.trigramHashes(col("text")).as("hs0"))
      .withColumn("hs", array_sort(array_distinct(col("hs0")))).drop("hs0")
      .withColumn("n", size(col("hs")))
      .filter(col("n") >= 1))
    // prefix length floor(n/2)+1 (t = 0.5); slice is 1-based
    val pref = g.select(col("doc_id"), col("source"), col("n"),
      explode(slice(col("hs"), lit(1), (col("n") / 2 + 1).cast("int"))).as("tok"))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.source") === col("b.source") && col("a.tok") === col("b.tok") &&
        col("a.doc_id") < col("b.doc_id") &&
        col("a.n") <= col("b.n") * 2 && col("b.n") <= col("a.n") * 2)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    cand
      .join(g.select(col("doc_id").as("d1"), col("hs").as("h1")), "d1")
      .join(g.select(col("doc_id").as("d2"), col("hs").as("h2")), "d2")
      .select(col("d1"), col("d2"),
        round(graft.functions.JaccardLongExpression.jaccard(col("h1"), col("h2")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= NgramThreshold)
  }

  /** Frequency-ordered prefix filtering — the "next dial at extreme
    * scale" the value-ordered variant's scaladoc names. The prefix bound
    * holds under ANY fixed total order of the shingle universe; ordering
    * by ascending document frequency (ties by hash) puts each doc's
    * RAREST shingles in its prefix, so hot shingles — the ones whose
    * prefix buckets go quadratic — almost never appear in prefixes at
    * all. Cost: one global (source, shingle) frequency aggregation and a
    * per-doc rank window — three extra narrow shuffles, the classic
    * PPJoin trade: worth it exactly when some shingle's bucket
    * population² dwarfs the frequency pass, i.e. at scale, on skewed
    * corpora. Result set is IDENTICAL to ngramJaccardPairs (the filter
    * is lossless under either order), so the oracle is the same Jaccard
    * SQL — which is itself the point: the dial changes the plan, never
    * the answer.
    *
    * Only prefix MEMBERSHIP needs the new order, so no array rebuild:
    * rank each (doc, shingle) by (df, shingle) per doc and keep ranks
    * <= floor(n/2)+1; verification reads the original hash-sorted
    * arrays (Jaccard is order-independent).
    */
  def ngramJaccardPairsRareFirst(docs: DataFrame): DataFrame = {
    val g = materialize(docs
      .select(col("doc_id"), col("source"),
        graft.functions.TrigramHashesExpression.trigramHashes(col("text")).as("hs0"))
      .withColumn("hs", array_sort(array_distinct(col("hs0")))).drop("hs0")
      .withColumn("n", size(col("hs")))
      .filter(col("n") >= 1))
    val tok = g.select(col("doc_id"), col("source"), col("n"),
      explode(col("hs")).as("tok"))
    val freq = tok.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df").asc, col("tok").asc)
    val pref = tok.join(freq, Seq("source", "tok"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= (col("n") / 2 + 1).cast("int"))
      .select(col("doc_id"), col("source"), col("n"), col("tok"))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.source") === col("b.source") && col("a.tok") === col("b.tok") &&
        col("a.doc_id") < col("b.doc_id") &&
        col("a.n") <= col("b.n") * 2 && col("b.n") <= col("a.n") * 2)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    cand
      .join(g.select(col("doc_id").as("d1"), col("hs").as("h1")), "d1")
      .join(g.select(col("doc_id").as("d2"), col("hs").as("h2")), "d2")
      .select(col("d1"), col("d2"),
        round(graft.functions.JaccardLongExpression.jaccard(col("h1"), col("h2")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= NgramThreshold)
  }

  /** Alternating large-star/small-star connected components (Kiveris,
    * Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected Components
    * in MapReduce and Beyond", SoCC'14) — the SECOND distributed CC
    * algorithm beside [[clustersFromPairs]]' min-label propagation.
    * Propagation needs O(diameter) rounds: a 1000-doc near-dup CHAIN
    * (realistic for sequential text) is 1000 rounds. Star contraction
    * converges in O(log^2 n) rounds on ANY topology by rewiring edges
    * toward local minima:
    *   - large-star: every node u points its LARGER neighbours at
    *     min(Gamma(u) u {u});
    *   - small-star: u and its SMALLER neighbours all point at their min.
    * The fixpoint is a star per component centred on the component min —
    * the same labels propagation converges to — so q_dedup_clusters'
    * recursive-CTE oracle scores this plan verbatim (the lossless
    * plan-swap contract), and the spec pins equality outright.
    *
    * Scale notes: each round is two groupBy-min aggregations + hash
    * equi-joins over the (tiny, shrinking) edge frame; localCheckpoint
    * per round keeps the plan O(1)-deep (the propagation loop's
    * discipline); convergence = the canonical edge set reproducing
    * itself, checked with one count + one anti-join count — exact, no
    * hash-collision wobble.
    */
  def clustersFromPairsStars(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    val p = pairs.cache()
    if (p.limit(1).count() == 0L)
      return nodes.select(col("doc_id"), col("doc_id").as("cluster_id"))
    // canonical orientation: u (larger) -> v (smaller), dups collapsed
    var edges = p
      .select(greatest(col("d1"), col("d2")).as("u"),
        least(col("d1"), col("d2")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint()
    def largeStar(e: DataFrame): DataFrame = {
      val und = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val m = und.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      und.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // e is (larger u) -> (smaller v): v IS u's smaller neighbourhood
      val m = e.groupBy(col("u")).agg(min(col("v")).as("mn"))
      e.join(m, "u")
        .filter(col("v") =!= col("mn"))
        .select(col("v").as("u"), col("mn").as("v"))
        .unionAll(m.select(col("u"), col("mn").as("v")))
        .distinct()
    }
    var converged = false
    var round = 0L
    var bound = -1L // set from the first round's edge count
    while (!converged && (bound < 0L || round <= bound)) {
      val next = smallStar(largeStar(edges)).localCheckpoint(eager = false)
      // ONE job per round (r20; the r19 form still ran a count job plus a
      // left-anti-join job): tag each side of a canonical-frame union and
      // aggregate — |next ∪ edges| == |next| == |edges| is exact set
      // equality (both frames are distinct with u > v), no join, and the
      // union's pass over `next` materializes its lazy checkpoint blocks.
      val row = next.select(col("u"), col("v"), lit(1L).as("nn"), lit(0L).as("oo"))
        .unionAll(edges.select(col("u"), col("v"), lit(0L).as("nn"), lit(1L).as("oo")))
        .groupBy(col("u"), col("v"))
        .agg(max(col("nn")).as("nn"), max(col("oo")).as("oo"))
        .agg(count(lit(1)).as("union_n"),
          coalesce(sum(col("nn")), lit(0L)).as("next_n"),
          coalesce(sum(col("oo")), lit(0L)).as("edges_n"))
        .collect().head
      val n = row.getAs[Long]("next_n")
      if (bound < 0L) bound = n + 2L
      converged = row.getAs[Long]("union_n") == n &&
        row.getAs[Long]("edges_n") == n
      edges = next
      round += 1L
    }
    if (sys.env.contains("GRAFT_DEBUG_ROUNDS"))
      System.err.println(s"[rounds] stars: $round")
    val centers = edges.select(col("v")).distinct()
      .select(col("v").as("doc_id"), col("v").as("cluster_id"))
    val leaves = edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
    nodes.select(col("doc_id")).join(
        leaves.unionAll(centers).distinct()
          .select(col("doc_id"), col("cluster_id").as("edge_cluster")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("edge_cluster"), col("doc_id")).as("cluster_id"))
  }

  /** [[dupClusters]] by star contraction — same pairs, same answer,
    * different distributed algorithm.
    */
  def dupClustersStars(docs: DataFrame): DataFrame =
    clustersFromPairsStars(docs.select(col("doc_id")),
      minhashDupPairs(docs).select(col("d1"), col("d2")))

  /** Duplicate-cluster assignment: connected components over the minhash
    * near-dup pairs, every doc labeled with the MIN doc_id reachable
    * through dup edges (its own id when unduplicated). This is the step
    * that turns pairwise dedup output into "keep one doc per cluster" —
    * chains (A~B, B~C with A!~C) collapse into one cluster, which
    * pairwise drop-lists get wrong.
    *
    * Min-label propagation: each round, every node takes the min of its
    * own label and its neighbours'. The fixpoint (min reachable id per
    * component) is unique, so the result is deterministic regardless of
    * iteration schedule — which is what lets a DuckDB recursive-CTE
    * transitive closure be the oracle for an iterative Spark plan. Rounds
    * needed = component diameter; near-dup clusters are almost-cliques,
    * so 2-3 rounds converge. The driver-side convergence loop is the
    * standard Pregel shape (GraphX does the same): one tiny aggregate
    * action per round, never a collect of data rows; per-round shuffles
    * are (edges ⋈ labels) hash joins on doc_id — linear, horizontal.
    */
  def dupClusters(docs: DataFrame): DataFrame =
    clustersFromPairs(docs.select(col("doc_id")),
      minhashDupPairs(docs).select(col("d1"), col("d2")))

  /** Min-label propagation over an explicit (d1, d2) pair list — the
    * reusable core of [[dupClusters]] (any pair generator of the dedup
    * family composes here).
    */
  def clustersFromPairs(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    // pairs is cached FIRST: the undirected union references it twice,
    // and without the barrier the (expensive) pair-mining plan executes
    // once per union branch.
    val p = pairs.cache()
    // Dup-free corpus: no edges means every label is already final, so
    // the propagation machinery is skipped. A FULL count, not limit(1):
    // it also fills the whole cache before the union's two branches
    // read it (see RunOnce.materialize).
    if (p.count() == 0L)
      return nodes.select(col("doc_id"), col("doc_id").as("cluster_id"))
    // Undirected edges, hash-partitioned ON the per-round aggregation key
    // (d1) before caching: round zero's groupBy(d1) and every later
    // round's contribution aggregate reuse this partitioning, so the
    // per-round shuffle is only the (tiny) label-contribution frame.
    val edges = p.union(p.select(col("d2").as("d1"), col("d1").as("d2")))
      .repartition(col("d1"))
      .cache()
    // Propagation runs over EDGE-TOUCHING nodes only: an isolated node's
    // label is itself forever and cannot influence anyone, so the
    // iterated frames shrink from |corpus| to |dup-involved docs| (tiny
    // by definition — dups are the exception). Isolates rejoin at the end.
    //
    // Round zero is SPECIALIZED: with self-id initial labels, "min of own
    // and neighbours' labels" is just least(d1, min(d2)) — one
    // shuffle-free aggregate over the pre-partitioned edge cache, which
    // also subsumes the node-list distinct (VERDICT r4 #3 constant cut).
    // The same aggregate returns the convergence flag, the node count
    // (the round bound — no separate count() action), and materializes
    // the cache. Later rounds pay one eager checkpoint job plus this
    // tiny aggregate — both over a flat O(1)-deep plan (see below).
    val round0 = edges.groupBy(col("d1"))
      .agg(min(col("d2")).as("nbr_min"))
      .select(col("d1").as("doc_id"),
        least(col("d1"), col("nbr_min")).as("cluster_id"),
        (col("nbr_min") < col("d1")).as("improved"))
      .cache()
    var row = round0.agg(
      sum(when(col("improved"), 1L).otherwise(0L)).as("changed"),
      count(lit(1)).as("n")).collect().head
    var labels = round0.select(col("doc_id"), col("cluster_id"))
    // Convergence needs <= eccentricity-from-min rounds, which is
    // < |edge nodes|; bound by that TRUE limit rather than a magic cap —
    // a silent cap would return partially-propagated labels on a long
    // chain (22+ doc near-dup chains are realistic for sequential text).
    val maxRounds = row.getAs[Long]("n")
    var round = 1L
    while (row.getAs[Long]("changed") != 0L && round <= maxRounds) {
      // General round: next(x) = min(label(x), min over edges (x,y) of
      // label(y)), computed as a union of self- and neighbour-
      // contributions folded by ONE groupBy-min — fewer stages than the
      // join-then-join form. No forced broadcast: the label frame is
      // usually tiny (AQE picks BHJ on its own) but is proportional to
      // dup-involved docs, which a 100 TB web corpus can make huge — a
      // broadcast() hint here would be an OOM pin at exactly that scale.
      val nbrContrib = edges
        .join(labels, edges("d2") === labels("doc_id"))
        .select(edges("d1").as("doc_id"), col("cluster_id"),
          lit(false).as("self"))
      // localCheckpoint, NOT cache: a cached round keeps the previous
      // round's InMemoryRelation inside its plan, and with `labels`
      // referenced twice per round (self branch + neighbour join) the
      // nested plan DOUBLES every round — AQE re-renders the plan
      // description per stage, so a 7-round chain burned ~200s of
      // driver CPU in generateTreeString (round-8 q_phash_clusters,
      // 2s of actual task work). Checkpointing truncates the plan to a
      // flat LogicalRDD, making every round's plan O(1)-deep no matter
      // the chain length. Local (executor-block) checkpointing is the
      // right durability tier here: losing an executor merely recomputes
      // a tiny label frame from the cached edges.
      // LAZY checkpoint (r19): the convergence aggregate right below is a
      // full-frame action, so it both materializes the checkpoint blocks
      // and returns the flag in ONE job — the eager form paid a separate
      // materialization job per round first (2 driver jobs/round -> 1).
      val next = labels.select(col("doc_id"), col("cluster_id"),
          lit(true).as("self"))
        .unionAll(nbrContrib)
        .groupBy(col("doc_id"))
        .agg(min(col("cluster_id")).as("cluster_id"),
          (min(col("cluster_id")) < min(when(col("self"), col("cluster_id"))))
            .as("improved"))
        .localCheckpoint(eager = false)
      row = next.agg(
        sum(when(col("improved"), 1L).otherwise(0L)).as("changed"),
        count(lit(1)).as("n")).collect().head
      labels = next.select(col("doc_id"), col("cluster_id"))
      round += 1
    }
    if (sys.env.contains("GRAFT_DEBUG_ROUNDS"))
      System.err.println(s"[rounds] propagation: ${round - 1} general rounds")
    nodes.select(col("doc_id")).join(
        labels.select(col("doc_id"),
          col("cluster_id").as("edge_cluster")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("edge_cluster"), col("doc_id")).as("cluster_id"))
  }

  /** INCREMENTAL cluster-label maintenance — the daily-ingest sequel to
    * [[incrementalDupPairs]]: fold an arriving batch's verified pairs into
    * YESTERDAY'S converged (doc_id, cluster_id) labels without re-running
    * propagation over the standing corpus.
    *
    * Yesterday's labels already encode each standing component as a star
    * (every member points at the component minimum, which is itself a
    * member), so star edges (cluster_id — doc_id) preserve standing
    * connectivity exactly, at depth 1. Connectivity of
    * (star edges ∪ new batch-touching pairs) over the full node set
    * therefore equals connectivity of the full pair set, and min-label
    * propagation re-converges in O(new-edge diameter) rounds — NOT the
    * standing corpus's diameter.
    *
    * The work is pruned to TOUCHED components only: clusters containing an
    * endpoint of a new pair, plus the batch itself. Everything else — the
    * overwhelming mass at 100 TB — flows through one left-anti join
    * untouched, with no propagation, no shuffle of its edges (it has
    * none loaded), and no recompute. The result provably equals a full
    * recompute over the whole corpus (the oracle runs exactly that), the
    * q_incr_agg proof pattern: different plan, identical answer.
    */
  def incrementalClusters(docs: DataFrame): DataFrame = {
    // ONE shingle-hash kernel pass over the corpus: the standing label
    // rebuild, the batch pair generator and the standing/batch node
    // lists all slice one cached frame, so the trigram hash (the
    // family's dominant task CPU) runs once and the documents table is
    // scanned once.
    val g = withShingleHashes(docs).cache()
    // ONE banded-signature pass: the standing rebuild's candidate
    // self-join and the batch generator's pruned join filter one cached
    // frame; the batch side is still pruned BEFORE its shuffle, so the
    // incremental join shape (|batch| x collision rate, never
    // |corpus|^2) is unchanged. bands' plan reads g exactly once, so
    // materializing bands fills g's cache in the same job.
    val bands = materialize(bandFrame(g))
    val gStand = g.filter(col("doc_id") % IncrMod =!= IncrRem)
    val standBands = bands.filter(col("doc_id") % IncrMod =!= IncrRem)
    // "Yesterday's index": in production this frame is read back from the
    // label store; here it is recomputed from the standing slice (same
    // values by construction — the standing band join is untouched by the
    // batch's absence).
    val oldLabels = clustersFromPairs(
      gStand.select(col("doc_id")),
      verifyJaccard(gStand, candidatesFromBands(standBands))
        .select(col("d1"), col("d2")))
    maintainLabels(oldLabels,
      incrementalDupPairsFromBands(g, bands).select(col("d1"), col("d2")),
      g.filter(col("doc_id") % IncrMod === IncrRem).select(col("doc_id")))
  }

  /** The label-maintenance core of [[incrementalClusters]], generic in
    * the node type exactly as [[clustersFromPairs]] is (doc_id may hold
    * a long or a string — entity resolution reuses this with names):
    * fold `newPairs` (every verified pair touching the arriving batch)
    * into converged `oldLabels` (one (doc_id, cluster_id) row per
    * standing node), re-propagating ONLY touched components.
    */
  private[graft] def maintainLabels(oldLabels0: DataFrame,
      newPairs0: DataFrame, batchNodes: DataFrame): DataFrame = {
    val oldLabels = oldLabels0.cache()
    val newPairs = newPairs0.cache()
    // RunOnce.materialize's policy for two frames at once: oldLabels
    // feeds touched, touchedMembers and the final anti-join, newPairs
    // both endpoint branches and the relabel union. The two caches are
    // disjoint, so ONE union job fills both.
    oldLabels.select(lit(1)).unionAll(newPairs.select(lit(1))).count()
    val endpoints = newPairs.select(col("d1").as("doc_id"))
      .unionAll(newPairs.select(col("d2").as("doc_id"))).distinct()
    // Touched components: tiny by definition (batch-proportional), so the
    // membership join back is a broadcast under AQE; no hint — a massive
    // merge day degrades gracefully to a shuffle join instead of an OOM.
    val touched = oldLabels.join(endpoints, "doc_id")
      .select(col("cluster_id")).distinct()
    // nodes (via the union-distinct) and starEdges both consume it
    val touchedMembers = materialize(oldLabels.join(touched, "cluster_id")
      .select(col("doc_id"), col("cluster_id")))
    val nodes = batchNodes.unionAll(touchedMembers.select(col("doc_id"))).distinct()
    val starEdges = touchedMembers.filter(col("cluster_id") =!= col("doc_id"))
      .select(col("cluster_id").as("d1"), col("doc_id").as("d2"))
    val relabeled = clustersFromPairs(nodes, newPairs.unionAll(starEdges))
    // The maintained label frame is materialized HERE (localCheckpoint —
    // the same executor-block tier the propagation rounds use) so the
    // three intermediate caches can be dropped before returning instead
    // of squatting in executor memory until Harness.afterQuery: the
    // returned plan is a flat LogicalRDD with no
    // lineage into oldLabels/newPairs/touchedMembers. The frame is one
    // (doc_id, cluster_id) row per doc — the exact product a label store
    // persists — so its footprint is the output's, not the pipeline's.
    val out = oldLabels.join(touched, Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"))
      .unionAll(relabeled.select(col("doc_id"), col("cluster_id")))
      .localCheckpoint()
    Seq(oldLabels, newPairs, touchedMembers).foreach(_.unpersist(false))
    out
  }

  /** Parquet root of the PERSISTED label store: yesterday's converged
    * (doc_id, cluster_id) labels over the standing corpus — the frame
    * [[incrementalClusters]]' scaladoc promises a production job reads
    * back instead of recomputing. Built once per testdata content key.
    */
  def standingLabelStoreRoot(s: SparkSession, dir: String): String = {
    val root = graft.streaming.StreamQueries.fixtureDir("labelstore", dir, "documents")
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_SUCCESS"))) {
      val standing = Tables.documents(s, dir)
        .filter(col("doc_id") % IncrMod =!= IncrRem)
      clustersFromPairs(
          standing.select(col("doc_id")),
          minhashDupPairs(standing).select(col("d1"), col("d2")))
        .coalesce(1).write.mode("overwrite").parquet(root)
      s.catalog.clearCache()
    }
    root
  }

  /** FULLY storage-backed incremental cluster maintenance: yesterday's
    * labels come off the persisted label store, today's batch-touching
    * pairs off the persisted band index ([[incrementalDupPairsPersisted]])
    * — no standing-corpus signature or propagation recompute anywhere in
    * the plan, exactly the daily job shape. Same oracle as
    * [[incrementalClusters]] (the full recompute), by the same equality.
    */
  def incrementalClustersPersisted(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val oldLabels = s.read.parquet(standingLabelStoreRoot(s, dir))
    val newPairs = incrementalDupPairsPersisted(s, dir).select(col("d1"), col("d2"))
    maintainLabels(oldLabels, newPairs,
      docs.filter(col("doc_id") % IncrMod === IncrRem).select(col("doc_id")))
  }

  /** Keep-one-per-cluster summary over the INCREMENTALLY maintained
    * labels — proof that the daily label maintenance carries the whole
    * downstream dedup stage with it: the apply summary recomputes only
    * its final aggregate; the label frame underneath re-propagated only
    * batch-touched components. Answer == the full-recompute
    * [[dedupApply]] (same oracle), because the label frames are equal.
    */
  def dedupApplyIncremental(docs: DataFrame): DataFrame =
    docs.join(incrementalClusters(docs), "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("cluster_id") === col("doc_id")).cast("long")).as("n_survivors"),
        sum((col("cluster_id") =!= col("doc_id")).cast("long")).as("n_dropped"),
        sum(when(col("cluster_id") === col("doc_id"), col("n_chars"))
          .otherwise(0L)).as("surviving_chars"))

  /** Per-source retention over the incrementally maintained labels —
    * [[dedupRetention]]'s aggregate on [[incrementalClusters]]' frame;
    * same oracle as the full recompute, by the same equality.
    */
  def dedupRetentionIncremental(docs: DataFrame): DataFrame =
    docs.join(incrementalClusters(docs), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("cluster_id") === col("doc_id")).cast("long")).as("n_kept"),
        sum(col("n_chars")).as("total_chars"),
        sum(when(col("cluster_id") === col("doc_id"), col("n_chars"))
          .otherwise(0L)).as("kept_chars"))
      .withColumn("kept_bp", expr("n_kept * 10000 DIV n_docs"))

  /** Cross-document repeated-span statistic — the shingle-granularity form
    * of the exact-substring dedup signal (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): for each document,
    * how many of its trigram OCCURRENCES (duplicates kept, unlike the
    * set-semantics queries above) also occur in at least one other
    * document. High dup_ppm marks boilerplate-heavy docs a training
    * pipeline would trim or drop.
    *
    * Shape at 100 TB: one fused narrow pass per doc (hash kernel), then
    * three hash-distributed aggregations/joins — (doc, shingle)
    * occurrence counts, shingle document frequency, and the probe back —
    * all equi-joins on hashed keys, never all-pairs; a hot shingle is a
    * many-to-ONE join against its single df row, which AQE skew-split
    * handles. n_dup * 1e6 stays < 2^63 for any doc under ~9e12 shingles.
    */
  def dupSpanStats(docs: DataFrame): DataFrame = {
    val occ = docs.select(col("doc_id"),
      graft.functions.TrigramHashesExpression.trigramHashesAll(col("text")).as("hs"))
    val perDoc = occ.select(col("doc_id"), size(col("hs")).cast("long").as("n_shingles"))
    val pds = occ.select(col("doc_id"), explode(col("hs")).as("h"))
      .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("n_occ"))
    val df = pds.groupBy(col("h")).agg(count(lit(1)).as("ndocs"))
    val dup = pds.join(df.filter(col("ndocs") >= 2), Seq("h"))
      .groupBy(col("doc_id")).agg(sum(col("n_occ")).as("n_dup"))
    perDoc.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_shingles"),
        when(col("n_shingles") === 0L, 0L)
          .otherwise(expr("coalesce(n_dup, 0) * 1000000 DIV n_shingles"))
          .as("dup_ppm"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_spans" -> ((s, dir) => dupSpanStats(Tables.documents(s, dir))),
    "q_dedup_clusters" -> ((s, dir) => dupClusters(Tables.documents(s, dir))),
    "q_dedup_clusters_stars" -> ((s, dir) => dupClustersStars(Tables.documents(s, dir))),
    "q_dedup_exact" -> ((s, dir) => exactDuplicates(Tables.documents(s, dir))),
    "q_dedup_bag" -> ((s, dir) => bagDuplicates(Tables.documents(s, dir))),
    "q_dedup_minhash_sig" -> ((s, dir) => minhashSignatures(Tables.documents(s, dir))),
    "q_dedup_minhash_pairs" -> ((s, dir) => minhashDupPairs(Tables.documents(s, dir))),
    "q_dedup_minhash_eval" -> ((s, dir) => minhashEval(Tables.documents(s, dir))),
    "q_dedup_threshold_sweep" -> ((s, dir) => dedupThresholdSweep(Tables.documents(s, dir))),
    "q_dedup_simhash_sig" -> ((s, dir) => simhashSignatures(Tables.documents(s, dir))),
    "q_dedup_simhash_pairs" -> ((s, dir) => simhashDupPairs(Tables.documents(s, dir))),
    "q_dedup_ngram_pairs" -> ((s, dir) => ngramJaccardPairs(Tables.documents(s, dir))),
    "q_dedup_ngram_rare" -> ((s, dir) => ngramJaccardPairsRareFirst(Tables.documents(s, dir))),
    "q_decontaminate" -> ((s, dir) => decontaminate(Tables.documents(s, dir))),
    "q_dedup_containment" -> ((s, dir) => containmentPairs(Tables.documents(s, dir))),
    "q_dedup_incr" -> ((s, dir) => incrementalDupPairs(Tables.documents(s, dir))),
    "q_dedup_incr_persisted" -> ((s, dir) => incrementalDupPairsPersisted(s, dir)),
    "q_dedup_clusters_incr" -> ((s, dir) => incrementalClusters(Tables.documents(s, dir))),
    "q_dedup_clusters_incr_persisted" -> ((s, dir) => incrementalClustersPersisted(s, dir)),
    "q_dedup_apply_incr" -> ((s, dir) => dedupApplyIncremental(Tables.documents(s, dir))),
    "q_dedup_retention_incr" -> ((s, dir) => dedupRetentionIncremental(Tables.documents(s, dir))),
    "q_dedup_ensemble" -> ((s, dir) => dedupEnsemble(Tables.documents(s, dir))),
    "q_dedup_apply" -> ((s, dir) => dedupApply(Tables.documents(s, dir))),
    "q_dedup_retention" -> ((s, dir) => dedupRetention(Tables.documents(s, dir)))
  )

  /** Eval-set slice for decontamination (≈2% of the corpus). */
  val EvalMod = 50
  val EvalRem = 7
  /** Flag a (train, eval) pair at this many shared distinct trigrams. */
  val DeconMinShared = 5
  /** Ignore trigrams present in more than this many EVAL docs — the
    * standard ubiquitous-n-gram cut, and the skew bound: per-gram join
    * fan-out is trainDf(g) × evalDf(g), so capping evalDf caps the
    * candidate volume at DfCap × Σ trainDf regardless of how hot a
    * boilerplate gram gets.
    */
  val DeconDfCap = 20

  /** Benchmark decontamination — the train/eval overlap audit every LLM
    * data pipeline runs before training: find train documents sharing
    * suspicious n-gram mass with a held-out eval set (here the
    * deterministic doc_id % EvalMod slice). One fused shingle pass
    * (shared with the dedup family), then an equi-join on gram hash
    * restricted to grams the df-cap keeps. Never doc × doc: candidates
    * scale with shared-gram volume, bounded by the cap.
    */
  def decontaminate(docs: DataFrame): DataFrame = {
    // one kernel pass; both sides explode from it
    val g0 = materialize(withShingleHashes(docs))
    val sh = g0.select(col("doc_id"), explode(col("hs")).as("g"))
    val eval = sh.filter(col("doc_id") % EvalMod === EvalRem)
      .select(col("doc_id").as("eval_doc"), col("g"))
    val keptGrams = eval.groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= DeconDfCap)
      .select(col("g"))
    val train = sh.filter(col("doc_id") % EvalMod =!= EvalRem)
      .select(col("doc_id").as("train_doc"), col("g"))
    train.join(eval.join(keptGrams, "g"), "g")
      // trigramHashes is distinct-per-doc, so count(*) IS the number of
      // shared distinct trigrams
      .groupBy(col("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= DeconMinShared)
  }

  /** Containment candidate gate: grams this common are boilerplate, not
    * evidence (bounds candidate volume exactly like [[DeconDfCap]]).
    */
  val ContainDfCap = 20
  /** Candidate pairs must share at least this many rare distinct grams. */
  val ContainMinShared = 5
  /** Flag threshold on |A∩B| / min(|A|, |B|). */
  val ContainThreshold = 0.8

  /** ASYMMETRIC near-dup pairs by shingle containment — the quote /
    * header-wrap / excerpt case minhash misses by design: a short doc
    * embedded in a much longer one has high containment
    * (|A∩B| / min(|A|,|B|)) but low Jaccard, so its band signature never
    * collides (minhash estimates resemblance, not containment). The
    * candidate generator therefore can't be LSH bands; it's the
    * decontamination shape instead — an equi-join on RARE gram hashes
    * (corpus df <= [[ContainDfCap]]), then one exact intersection per
    * surviving pair. Emits both containment and jaccard so the policy
    * layer can separate "contained excerpt" from "global duplicate".
    *
    * Scale shape: candidate volume is bounded by Σ_g df(g)² over kept
    * grams <= DfCap × Σ df — linear in corpus size at fixed cap, never
    * doc × doc; the exact verify joins the (tiny) candidate set back to
    * the fused shingle kernel on doc_id.
    */
  def containmentPairs(docs: DataFrame): DataFrame = {
    val g = materialize(withShingleHashes(docs))
    val sh = g.select(col("doc_id"), explode(array_distinct(col("hs"))).as("gm"))
    val rare = sh.groupBy(col("gm")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= ContainDfCap)
      .select(col("gm"))
    val shr = sh.join(rare, "gm")
    val cand = shr.as("a")
      .join(shr.as("b"),
        col("a.gm") === col("b.gm") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= ContainMinShared)
      .select(col("d1"), col("d2"))
    cand
      .join(g.select(col("doc_id").as("d1"), array_distinct(col("hs")).as("h1")), "d1")
      .join(g.select(col("doc_id").as("d2"), array_distinct(col("hs")).as("h2")), "d2")
      .select(col("d1"), col("d2"),
        size(array_intersect(col("h1"), col("h2"))).cast("long").as("n_inter"),
        size(col("h1")).cast("long").as("n1"), size(col("h2")).cast("long").as("n2"))
      .withColumn("containment",
        round(col("n_inter").cast("double") / least(col("n1"), col("n2")), 6))
      .withColumn("jaccard",
        round(col("n_inter").cast("double") /
          (col("n1") + col("n2") - col("n_inter")), 6))
      .filter(col("containment") >= ContainThreshold)
  }

  /** Ensemble dedup decision: every doc flagged by at least one near-dup
    * signal, with a per-signal provenance flag — the policy join a
    * pipeline runs before choosing what to drop (signals have different
    * recall profiles; provenance is what makes the threshold tunable
    * after the fact). Full outer join of the (tiny) distinct drop sets.
    */
  def dedupEnsemble(docs: DataFrame): DataFrame = {
    val m = minhashDupPairs(docs).select(col("d2").as("doc_id")).distinct()
    val sh = simhashDupPairs(docs).select(col("d2").as("doc_id")).distinct()
    m.as("m").join(sh.as("s"), col("m.doc_id") === col("s.doc_id"), "full_outer")
      .select(coalesce(col("m.doc_id"), col("s.doc_id")).as("doc_id"),
        col("m.doc_id").isNotNull.cast("int").as("from_minhash"),
        col("s.doc_id").isNotNull.cast("int").as("from_simhash"))
  }

  /** Apply keep-one-per-cluster end to end: corpus size, survivors,
    * drops, and the surviving character mass — the before/after summary
    * a dedup stage publishes.
    */
  def dedupApply(docs: DataFrame): DataFrame =
    docs.join(dupClusters(docs), "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("cluster_id") === col("doc_id")).cast("long")).as("n_survivors"),
        sum((col("cluster_id") =!= col("doc_id")).cast("long")).as("n_dropped"),
        sum(when(col("cluster_id") === col("doc_id"), col("n_chars"))
          .otherwise(0L)).as("surviving_chars"))

  /** Per-source retention under keep-one-per-cluster — the slice of
    * [[dedupApply]] a curation team actually argues about: which sources
    * lose document and character mass when dedup keeps the minimum
    * doc_id of each near-dup cluster. Read next to q_dup_source_matrix
    * (who duplicates whom) to decide source-level dedup ORDER before
    * committing a corpus build. Same shape as dedupApply (the cluster
    * frame rides the banded equi-join + min-label propagation), with
    * the final aggregate keyed by source instead of global.
    */
  def dedupRetention(docs: DataFrame): DataFrame =
    docs.join(dupClusters(docs), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("cluster_id") === col("doc_id")).cast("long")).as("n_kept"),
        sum(col("n_chars")).as("total_chars"),
        sum(when(col("cluster_id") === col("doc_id"), col("n_chars"))
          .otherwise(0L)).as("kept_chars"))
      .withColumn("kept_bp", expr("n_kept * 10000 DIV n_docs"))

  /** Apply-summary SQL over a cluster-label subquery (shared by the full
    * and incremental apply rows — the answers provably coincide).
    */
  private def applySql(clustersSql: String): String =
    s"""SELECT count(*) AS n_docs,
       | CAST(sum(CASE WHEN cluster_id = doc_id THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_survivors,
       | CAST(sum(CASE WHEN cluster_id <> doc_id THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_dropped,
       | CAST(sum(CASE WHEN cluster_id = doc_id THEN n_chars ELSE 0 END) AS BIGINT)
       |   AS surviving_chars
       |FROM ($clustersSql) c JOIN documents USING (doc_id)""".stripMargin

  /** Per-source retention SQL over a cluster-label subquery (shared by
    * the full and incremental retention rows).
    */
  private def retentionSql(clustersSql: String): String =
    s"""SELECT source, count(*) AS n_docs,
       | CAST(sum(CASE WHEN cluster_id = doc_id THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_kept,
       | CAST(sum(n_chars) AS BIGINT) AS total_chars,
       | CAST(sum(CASE WHEN cluster_id = doc_id THEN n_chars ELSE 0 END) AS BIGINT)
       |   AS kept_chars,
       | CAST(sum(CASE WHEN cluster_id = doc_id THEN 1 ELSE 0 END) * 10000
       |   // count(*) AS BIGINT) AS kept_bp
       |FROM ($clustersSql) c JOIN documents USING (doc_id)
       |GROUP BY 1""".stripMargin

  def oracleSql: Map[String, String] = {
    val grams = trigramShingles(tokens("text", duck = true), duck = true)
    val hs = xform("grams", "g", strHash("g"), duck = true)
    val mhCols = (0 until 8).map(k => s"${minhash("hs", k, duck = true)} AS mh_$k").mkString(",\n   ")
    val bandCols = (0 until 4).map(j => s"mh_${2 * j} * $P + mh_${2 * j + 1} AS band_$j").mkString(", ")
    val sigCte =
      s"""sig AS (
         | SELECT doc_id, $bandCols FROM (
         |  SELECT doc_id, $mhCols
         |  FROM (SELECT doc_id, $hs AS hs
         |        FROM (SELECT doc_id, $grams AS grams FROM documents) g0) h))""".stripMargin
    val gramsCte =
      s"""g AS (SELECT doc_id, ${distinct(hs, duck = true)} AS hs
         |  FROM (SELECT doc_id, $grams AS grams FROM documents) g0)""".stripMargin
    val bandOr = (0 until 4).map(j => s"a.band_$j = b.band_$j").mkString(" OR ")
    val jac = jaccard("g1.hs", "g2.hs", duck = true)

    val simhashExpr = simhash24("hs", duck = true)
    val blockCols = (0 until 4).map(j => s"(simhash >> ${6 * j}) & 63 AS block_$j").mkString(", ")
    val simCte =
      s"""sig AS (
         | SELECT doc_id, simhash, $blockCols FROM (
         |  SELECT doc_id, $simhashExpr AS simhash
         |  FROM (SELECT doc_id, $hs AS hs
         |        FROM (SELECT doc_id, $grams AS grams FROM documents) g0) h) s0)""".stripMargin
    val blockOr = (0 until 4).map(j => s"a.block_$j = b.block_$j").mkString(" OR ")

    val minhashPairsSql =
      s"""WITH $sigCte,
         | $gramsCte,
         | cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandOr))
         |SELECT d1, d2, round($jac, 6) AS jaccard
         |FROM cand JOIN g g1 ON d1 = g1.doc_id JOIN g g2 ON d2 = g2.doc_id
         |WHERE round($jac, 6) >= $MinhashThreshold""".stripMargin

    val ngramOracleSql = {
      val jacHs = jaccard("g1.hs", "g2.hs", duck = true)
      s"""WITH g AS (SELECT doc_id, source,
         |  ${distinct(hs, duck = true)} AS hs
         |  FROM (SELECT doc_id, source, $grams AS grams FROM documents) g0)
         |SELECT g1.doc_id AS d1, g2.doc_id AS d2, round($jacHs, 6) AS jaccard
         |FROM g g1 JOIN g g2
         |  ON g1.source = g2.source AND g1.doc_id < g2.doc_id
         |WHERE round($jacHs, 6) >= $NgramThreshold""".stripMargin
    }

    val simhashPairsSql =
      s"""WITH $simCte
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         | bit_count(xor(a.simhash, b.simhash)) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($blockOr)
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= $MaxHamming""".stripMargin

    val clustersSql =
      s"""WITH RECURSIVE pairs AS (SELECT d1, d2 FROM ($minhashPairsSql) p),
         | e AS (SELECT d1, d2 FROM pairs
         |       UNION ALL SELECT d2 AS d1, d1 AS d2 FROM pairs),
         | reach(a, b) AS (
         |   SELECT doc_id AS a, doc_id AS b FROM documents
         |   UNION
         |   SELECT r.a, e.d2 AS b FROM reach r JOIN e ON r.b = e.d1)
         |SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY a""".stripMargin

    val gramsAll = trigramsAll(tokens("text", duck = true), duck = true)
    val hsAll = xform("grams", "g", strHash("g"), duck = true)

    Map(
      "q_dedup_spans" ->
        s"""WITH g AS (SELECT doc_id, $hsAll AS hs
           |  FROM (SELECT doc_id, $gramsAll AS grams FROM documents) g0),
           | occ AS (SELECT doc_id, unnest(hs) AS h FROM g),
           | pds AS (SELECT doc_id, h, count(*) AS n_occ FROM occ GROUP BY 1, 2),
           | df AS (SELECT h, count(*) AS ndocs FROM pds GROUP BY 1),
           | dup AS (SELECT doc_id, CAST(sum(n_occ) AS BIGINT) AS n_dup
           |   FROM pds JOIN df USING (h) WHERE ndocs >= 2 GROUP BY 1)
           |SELECT g.doc_id, CAST(len(g.hs) AS BIGINT) AS n_shingles,
           | coalesce(dup.n_dup, 0) AS n_dup_shingles,
           | CASE WHEN len(g.hs) = 0 THEN 0
           |   ELSE coalesce(dup.n_dup, 0) * 1000000 // len(g.hs) END AS dup_ppm
           |FROM g LEFT JOIN dup ON g.doc_id = dup.doc_id""".stripMargin,

      "q_dedup_exact" ->
        """SELECT md5(text) AS content_md5, min(doc_id) AS keep_doc_id,
          | count(*) AS n_copies
          |FROM documents GROUP BY 1""".stripMargin,

      "q_dedup_bag" ->
        """SELECT md5(array_to_string(list_sort(string_split(text, ' ')), ' '))
          |   AS bag_md5,
          | min(doc_id) AS keep_doc_id, count(*) AS n_copies
          |FROM documents GROUP BY 1 HAVING count(*) > 1""".stripMargin,

      // Transitive closure of the (undirected) dup edges, min reachable id
      // per doc — the unique fixpoint the Spark label-propagation loop
      // also converges to.
      "q_dedup_clusters" -> clustersSql,
      // same oracle ON PURPOSE: star contraction is a distributed-
      // algorithm swap over the same pair set with the same fixpoint
      "q_dedup_clusters_stars" -> clustersSql,

      // incremental maintenance must EQUAL the full recompute — the same
      // transitive-closure oracle, verbatim (the q_incr_agg proof pattern);
      // the fully storage-backed form (labels + band index both read off
      // parquet) is the same plan-swap again
      "q_dedup_clusters_incr" -> clustersSql,
      "q_dedup_clusters_incr_persisted" -> clustersSql,

      // composition rows: the ensemble decision and the applied dedup
      // reuse the pair/cluster SQL verbatim as subqueries
      "q_dedup_ensemble" ->
        s"""WITH m AS (SELECT DISTINCT d2 AS doc_id FROM ($minhashPairsSql) x),
           | s AS (SELECT DISTINCT d2 AS doc_id FROM ($simhashPairsSql) y)
           |SELECT coalesce(m.doc_id, s.doc_id) AS doc_id,
           | CAST(m.doc_id IS NOT NULL AS INT) AS from_minhash,
           | CAST(s.doc_id IS NOT NULL AS INT) AS from_simhash
           |FROM m FULL OUTER JOIN s ON m.doc_id = s.doc_id""".stripMargin,

      "q_dedup_apply" -> applySql(clustersSql),

      // incremental label maintenance must yield the identical summary —
      // full-recompute oracles, verbatim (the q_incr_agg proof pattern)
      "q_dedup_apply_incr" -> applySql(clustersSql),
      "q_dedup_retention_incr" -> retentionSql(clustersSql),

      "q_dedup_retention" -> retentionSql(clustersSql),

      "q_dedup_minhash_sig" ->
        s"""WITH mh AS (SELECT doc_id, $mhCols
           |  FROM (SELECT doc_id, $hs AS hs
           |        FROM (SELECT doc_id, $grams AS grams FROM documents) g0) h)
           |SELECT doc_id, mh_0, mh_1, mh_2, mh_3, mh_4, mh_5, mh_6, mh_7,
           | $bandCols
           |FROM mh""".stripMargin,

      "q_dedup_minhash_pairs" -> minhashPairsSql,

      // one exact pair set, five threshold counts off it
      "q_dedup_threshold_sweep" -> SweepThresholds.map { t =>
        s"""SELECT CAST($t AS DOUBLE) AS threshold, count(*) AS n_pairs
           |FROM ($ngramOracleSql) p WHERE jaccard >= $t""".stripMargin
      }.mkString("\nUNION ALL\n"),

      // raw banded candidates (within source) scored against the exact
      // pair set at the minhash threshold — truth reuses the lossless
      // ngram derivation refiltered at 0.8
      "q_dedup_minhash_eval" ->
        s"""WITH $sigCte,
           | $gramsCte,
           | cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandOr)),
           | src AS (SELECT doc_id, source FROM documents),
           | cand_ws AS MATERIALIZED (SELECT d1, d2 FROM cand
           |  JOIN src s1 ON d1 = s1.doc_id
           |  JOIN src s2 ON d2 = s2.doc_id
           |  WHERE s1.source = s2.source),
           | gs AS (SELECT g.doc_id, src.source, g.hs FROM g
           |  JOIN src ON g.doc_id = src.doc_id),
           | truth AS MATERIALIZED (
           |  SELECT g1.doc_id AS d1, g2.doc_id AS d2
           |  FROM gs g1 JOIN gs g2
           |    ON g1.source = g2.source AND g1.doc_id < g2.doc_id
           |  WHERE round(${jaccard("g1.hs", "g2.hs", duck = true)}, 6)
           |    >= $MinhashThreshold),
           | hit AS (SELECT t.d1, t.d2 FROM truth t
           |  JOIN cand_ws c ON t.d1 = c.d1 AND t.d2 = c.d2),
           | n AS (SELECT
           |   (SELECT count(*) FROM truth) AS n_truth,
           |   (SELECT count(*) FROM cand_ws) AS n_cand,
           |   (SELECT count(*) FROM hit) AS n_hit)
           |SELECT n_truth, n_cand, n_hit,
           | n_hit * 1000000 // greatest(n_truth, 1) AS recall_ppm,
           | n_hit * 1000000 // greatest(n_cand, 1) AS precision_ppm
           |FROM n""".stripMargin,

      "q_dedup_simhash_sig" ->
        s"""WITH $simCte
           |SELECT doc_id, simhash, block_0, block_1, block_2, block_3 FROM sig""".stripMargin,

      "q_dedup_simhash_pairs" -> simhashPairsSql,

      "q_dedup_ngram_pairs" -> ngramOracleSql,
      // same SEMANTIC oracle on purpose: the rare-first prefix order
      // changes candidate generation, never the answer (lossless filter)
      "q_dedup_ngram_rare" -> ngramOracleSql,

      // same fused-kernel gram set as the Spark side (trigramShingles is
      // already distinct-per-doc), joined and counted naively
      "q_decontaminate" ->
        s"""WITH sh AS (SELECT doc_id, unnest(hs) AS g
           |   FROM (SELECT doc_id, $hs AS hs
           |     FROM (SELECT doc_id, $grams AS grams FROM documents) g0) h),
           | ev AS (SELECT doc_id AS eval_doc, g FROM sh
           |   WHERE doc_id % $EvalMod = $EvalRem),
           | keep AS (SELECT g FROM ev GROUP BY g
           |   HAVING count(*) <= $DeconDfCap),
           | tr AS (SELECT doc_id AS train_doc, g FROM sh
           |   WHERE doc_id % $EvalMod <> $EvalRem)
           |SELECT train_doc, eval_doc, count(*) AS n_shared
           |FROM tr JOIN ev USING (g) JOIN keep USING (g)
           |GROUP BY train_doc, eval_doc
           |HAVING count(*) >= $DeconMinShared""".stripMargin,

      // the full-corpus pair set filtered to batch-touching rows: the
      // incremental generator's pruned candidate join is lossless for
      // pairs touching the batch slice, so the answers coincide exactly
      "q_dedup_incr" ->
        s"""SELECT d1, d2, jaccard FROM ($minhashPairsSql) p
           |WHERE d1 % $IncrMod = $IncrRem OR d2 % $IncrMod = $IncrRem""".stripMargin,

      // identical oracle on purpose: reading the standing bands off the
      // persisted parquet index instead of recomputing them is a plan
      // swap, never an answer change
      "q_dedup_incr_persisted" ->
        s"""SELECT d1, d2, jaccard FROM ($minhashPairsSql) p
           |WHERE d1 % $IncrMod = $IncrRem OR d2 % $IncrMod = $IncrRem""".stripMargin,

      // rare-gram candidates then one exact list_intersect per pair —
      // the same distinct gram-hash sets as the Spark side
      "q_dedup_containment" ->
        s"""WITH g AS (SELECT doc_id, list_distinct(hs) AS hs
           |   FROM (SELECT doc_id, $hs AS hs
           |     FROM (SELECT doc_id, $grams AS grams FROM documents) g0) h),
           | sh AS (SELECT doc_id, unnest(hs) AS gm FROM g),
           | rare AS (SELECT gm FROM sh GROUP BY gm
           |   HAVING count(*) <= $ContainDfCap),
           | shr AS (SELECT doc_id, gm FROM sh JOIN rare USING (gm)),
           | cand AS (SELECT a.doc_id AS d1, b.doc_id AS d2
           |   FROM shr a JOIN shr b ON a.gm = b.gm AND a.doc_id < b.doc_id
           |   GROUP BY 1, 2 HAVING count(*) >= $ContainMinShared)
           |SELECT d1, d2,
           | CAST(len(list_intersect(g1.hs, g2.hs)) AS BIGINT) AS n_inter,
           | CAST(len(g1.hs) AS BIGINT) AS n1,
           | CAST(len(g2.hs) AS BIGINT) AS n2,
           | round(CAST(len(list_intersect(g1.hs, g2.hs)) AS DOUBLE)
           |   / least(len(g1.hs), len(g2.hs)), 6) AS containment,
           | round(CAST(len(list_intersect(g1.hs, g2.hs)) AS DOUBLE)
           |   / (len(g1.hs) + len(g2.hs) - len(list_intersect(g1.hs, g2.hs))), 6)
           |   AS jaccard
           |FROM cand JOIN g g1 ON cand.d1 = g1.doc_id
           |          JOIN g g2 ON cand.d2 = g2.doc_id
           |WHERE round(CAST(len(list_intersect(g1.hs, g2.hs)) AS DOUBLE)
           |   / least(len(g1.hs), len(g2.hs)), 6) >= $ContainThreshold""".stripMargin
    )
  }
}
