package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.RunOnce.materialize
import graft.Tables
import graft.functions.JaroWinklerExpression.jaroWinkler

/** Fuzzy string matching over the part-name vocabulary — the entity-
  * resolution step a warehouse runs before merging dimension feeds from
  * two source systems (the reference has two independently-generated dim
  * feeds whose join keys are clean by construction; real feeds are not).
  *
  * Both operators are BLOCKED candidate joins, never all-pairs: the
  * equi-join key is the first character (the Winkler prefix argument:
  * high-similarity names share a prefix) and a coarse length band prunes
  * inside the block. At 100 TB vocabulary scale the block key widens to
  * (2-char prefix, length DIV 4) — same shape, smaller blocks; the
  * expensive distance kernel runs only on block-mates. The vocabulary is
  * `DISTINCT p_name`, so the join input is the name dictionary (64 rows
  * at sf0.1), not the 20k-row part table.
  */
object StringSimOps {

  val LevMax = 3
  val JwMicroMin = 850000L // jw >= 0.85, compared in exact micro-units

  private def names(part: DataFrame): DataFrame =
    part.select(col("p_name").as("name")).distinct()

  /** The ONE blocked candidate generator both scorers share (and the
    * oracles mirror): first-char equi-block, (n1 < n2) dedup, length
    * band. Widening the block key for bigger vocabularies happens here
    * and in [[blockedPairsCte]] only.
    */
  private def blockedPairs(part: DataFrame): DataFrame = {
    val a = names(part).select(col("name").as("n1"),
      substring(col("name"), 1, 1).as("b1"), length(col("name")).as("len1"))
    val b = names(part).select(col("name").as("n2"),
      substring(col("name"), 1, 1).as("b2"), length(col("name")).as("len2"))
    a.join(b, col("b1") === col("b2") &&
        col("n1") < col("n2") && abs(col("len1") - col("len2")) <= LevMax)
      .select(col("n1"), col("n2"))
  }

  /** Oracle twin of [[blockedPairs]]: CTE `n` (the name vocabulary) +
    * the blocked join, aliased a/b.
    */
  private val blockedPairsCte =
    s"""WITH n AS (SELECT DISTINCT p_name AS name FROM part),
       |p AS (SELECT a.name AS n1, b.name AS n2
       | FROM n a JOIN n b
       |   ON substr(a.name, 1, 1) = substr(b.name, 1, 1)
       |  AND a.name < b.name
       |  AND abs(length(a.name) - length(b.name)) <= $LevMax)""".stripMargin

  /** Edit-distance near-duplicate name pairs: Spark's codegen'd
    * `levenshtein` == DuckDB's (classic DP, integer result; ASCII-only
    * parity — see the JaroWinklerKernel caveat).
    */
  def levPairs(part: DataFrame): DataFrame =
    blockedPairs(part)
      .select(col("n1"), col("n2"), levenshtein(col("n1"), col("n2")).as("lev"))
      .filter(col("lev") <= LevMax)

  /** Jaro-Winkler near-duplicate name pairs via the custom Catalyst
    * expression (Spark has no built-in JW; the kernel mirrors DuckDB's
    * operation order so `floor(jw*1e6)` is engine-identical).
    */
  def jwPairs(part: DataFrame): DataFrame =
    blockedPairs(part)
      .select(col("n1"), col("n2"),
        floor(jaroWinkler(col("n1"), col("n2")) * lit(1000000.0)).cast("long")
          .as("jw_micro"))
      .filter(col("jw_micro") >= JwMicroMin)

  /** Entity resolution end-to-end: connected components over the JW
    * near-dup pairs collapse transitively-linked name variants into one
    * entity, labelled by its lexicographically-least member — the step
    * after pair scoring that master-data pipelines actually ship (pair
    * lists alone can't answer "how many real entities do we have":
    * A~B and B~C must merge even when A~C scores below threshold).
    * Reuses the dedup family's min-label propagation verbatim —
    * [[DedupOps.clustersFromPairs]] is label-type-agnostic, so string
    * names propagate exactly like doc ids — which keeps the scale
    * argument: per-round shuffles are edge⋈label equi-joins over
    * edge-touching nodes only, isolates rejoin at the end.
    */
  def entityClusters(part: DataFrame): DataFrame =
    DedupOps.clustersFromPairs(
        names(part).select(col("name").as("doc_id")),
        jwPairs(part).select(col("n1").as("d1"), col("n2").as("d2")))
      .select(col("doc_id").as("name"), col("cluster_id").as("entity_id"))

  /** Deterministic arriving-name slice for incremental entity resolution
    * — the dedup family's batch convention (mod [[DedupOps.IncrMod]]),
    * keyed on the PORTABLE string hash so the oracle can reproduce the
    * split (names have no numeric id to slice on).
    */
  private def arrivedPred =
    expr(s"${graft.functions.PortableSql.strHash("name")} % ${DedupOps.IncrMod}") ===
      DedupOps.IncrRem

  /** Blocked JW pairs where at least one side is in `b` — the
    * batch-vs-standing prune: the expensive kernel runs only on blocks a
    * batch name touches, never over the standing vocabulary's own pairs
    * (those scored yesterday). Pair order is normalized (JW is
    * symmetric), duplicates from the two join orientations dropped.
    */
  private def jwPairsAgainst(a: DataFrame, b: DataFrame): DataFrame = {
    val aa = a.select(col("name").as("n1"),
      substring(col("name"), 1, 1).as("b1"), length(col("name")).as("len1"))
    val bb = b.select(col("name").as("n2"),
      substring(col("name"), 1, 1).as("b2"), length(col("name")).as("len2"))
    aa.join(bb, col("b1") === col("b2") &&
        col("n1") =!= col("n2") && abs(col("len1") - col("len2")) <= LevMax)
      .select(least(col("n1"), col("n2")).as("n1"),
        greatest(col("n1"), col("n2")).as("n2"))
      .distinct()
      .select(col("n1"), col("n2"),
        floor(jaroWinkler(col("n1"), col("n2")) * lit(1000000.0)).cast("long")
          .as("jw_micro"))
      .filter(col("jw_micro") >= JwMicroMin)
  }

  /** INCREMENTAL entity resolution (VERDICT r10 ask #7): new names
    * arrive (the [[arrivedPred]] slice), JW pairs are computed only
    * batch-vs-vocabulary — the q_dedup_incr prune — and yesterday's
    * converged entity labels are maintained via the dedup family's
    * [[DedupOps.maintainLabels]]: only components a new pair touches
    * re-propagate; the standing mass passes through one anti-join.
    * Answer provably == the full recompute ([[entityClusters]]' oracle,
    * verbatim).
    */
  def entityClustersIncremental(part: DataFrame): DataFrame = {
    val n = materialize(names(part))
    val standing = n.filter(!arrivedPred)
    val batch = n.filter(arrivedPred)
    // yesterday's labels: recomputed from the standing vocabulary (same
    // values by construction), as throughout the incremental family
    val oldLabels = DedupOps.clustersFromPairs(
      standing.select(col("name").as("doc_id")),
      jwPairsAgainst(standing, standing).select(col("n1").as("d1"), col("n2").as("d2")))
    val newPairs = jwPairsAgainst(n, batch)
      .select(col("n1").as("d1"), col("n2").as("d2"))
    DedupOps.maintainLabels(oldLabels, newPairs,
        batch.select(col("name").as("doc_id")))
      .select(col("doc_id").as("name"), col("cluster_id").as("entity_id"))
  }

  /** Streaming-twin surface (StreamQueries.streamEntityPairs): the name
    * vocabulary, the arriving slice, and the shared JW scorer over an
    * externally-generated candidate frame — so the stream's readback
    * scores through the exact batch kernel.
    */
  private[graft] def vocabulary(part: DataFrame): DataFrame = names(part)
  private[graft] def arrivedNames(part: DataFrame): DataFrame =
    names(part).filter(arrivedPred)
  private[graft] def scoreJwPairs(cand: DataFrame): DataFrame =
    cand.select(col("n1"), col("n2"),
      floor(jaroWinkler(col("n1"), col("n2")) * lit(1000000.0)).cast("long")
        .as("jw_micro"))
      .filter(col("jw_micro") >= JwMicroMin)

  /** Oracle for the batch-touching JW pair set (the streaming twin's
    * check; q_entity_resolve_incr folds this same set into labels):
    * blocked pairs where at least one side is in the arrived slice.
    */
  private[graft] val entityIncrPairsSql: String =
    s"""WITH n AS (SELECT DISTINCT p_name AS name FROM part),
       |arr AS (SELECT name FROM n
       |  WHERE ${graft.functions.PortableSql.strHash("name")} % ${DedupOps.IncrMod}
       |    = ${DedupOps.IncrRem}),
       |c AS (SELECT DISTINCT least(a.name, arr.name) AS n1,
       |    greatest(a.name, arr.name) AS n2
       |  FROM n a JOIN arr
       |    ON substr(a.name, 1, 1) = substr(arr.name, 1, 1)
       |   AND a.name <> arr.name
       |   AND abs(length(a.name) - length(arr.name)) <= $LevMax)
       |SELECT n1, n2, jw_micro FROM (
       | SELECT n1, n2,
       |  CAST(floor(jaro_winkler_similarity(n1, n2) * 1000000.0) AS BIGINT)
       |    AS jw_micro
       | FROM c) t
       |WHERE jw_micro >= $JwMicroMin""".stripMargin

  /** Fellegi-Sunter field weights in exact MILLI-LOG-ODDS units — the
    * probabilistic record-linkage model (Fellegi & Sunter, JASA 1969)
    * behind every serious MDM/ER system: each compared field contributes
    * ln(m/u) when it agrees and ln((1-m)/(1-u)) when it disagrees, where
    * m = P(agree | same entity) and u = P(agree | different entities).
    * The weights below are FIXED integer constants (the m/u estimation —
    * classically EM over a labelled sample — happens offline; shipping
    * trained weights as literals is exactly what production linkage jobs
    * do), so every score is an exact BIGINT sum and the oracle compares
    * hash-identical. Name agreement is TIERED on the JW micro score (the
    * standard ordinal-agreement extension of binary FS).
    */
  val FsTypeAgree = 1790L;  val FsTypeDis = -820L
  val FsSizeAgree = 1370L;  val FsSizeDis = -510L
  val FsNameStrong = 2830L; val FsNameWeak = 1240L; val FsNameDis = -1650L
  val FsJwStrong = 920000L // jw >= 0.92 => strong; >= JwMicroMin => weak
  val FsSizeBand = 3       // candidate blocking: |size delta| <= 3
  val FsSizeTol = 1        // field agreement:    |size delta| <= 1
  val FsMatchMin = 3500L   // score >= match threshold => 'match'
                           // 0 <= score < match      => 'possible'

  /** Fellegi-Sunter scored record linkage over the part dimension — two
    * records are candidate duplicates when they share a brand block and
    * sit within [[FsSizeBand]] of each other; each candidate is scored by
    * the weighted agreement vector over (name-JW tier, type, size) and
    * classified match / possible. This is the step UP from the pairwise
    * scorers above: q_fuzzy_* emit one-field similarity, this fuses
    * multi-field evidence into a calibrated decision — the linkage output
    * an MDM pipeline hands to the merge step (and the clerical-review
    * queue: the 'possible' band).
    *
    * Shape at 100 TB: candidates come from a brand equi-join (never
    * all-pairs) with the size band pruning inside the block; the JW
    * kernel — the expensive comparator — runs only on block-mates. At
    * bigger dimension cardinality the block key widens to
    * (brand, size DIV 8) with two-sided bucket probes, same shape. The
    * weight sum is a per-row projection; the output is pruned to
    * score >= 0 (non-matches, the overwhelming mass, never leave the
    * executors).
    */
  def fsLinkage(part: DataFrame): DataFrame = {
    // the block key is (brand, size-bucket), not brand alone: the r13 sf1
    // anchor measured brand-only blocking at ~45× wall for 10× rows —
    // block depth grows linearly with the dimension, so the equi-join
    // generated |block|² pairs before the size-band filter could run.
    // Bucketing size by FsSizeBand+1 with ±1 two-sided probes covers the
    // |Δsize| ≤ FsSizeBand band EXACTLY (a band-mate's bucket differs by
    // at most 1), each qualifying pair matches exactly ONE probe (no
    // dedup needed), and the join generates ~3/|buckets| of the pairs —
    // output identical by construction, so the oracle is unchanged
    val bw = FsSizeBand + 1
    val a = part.select(col("p_partkey").as("k1"), col("p_name").as("n1"),
      col("p_brand").as("brand"), col("p_type").as("t1"), col("p_size").as("s1"))
      .withColumn("bkt", expr(s"CAST(s1 DIV $bw AS BIGINT)"))
    val b = part.select(col("p_partkey").as("k2"), col("p_name").as("n2"),
      col("p_brand").as("brand"), col("p_type").as("t2"), col("p_size").as("s2"))
      .withColumn("d", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("bkt", expr(s"CAST(s2 DIV $bw AS BIGINT)") + col("d"))
      .drop("d")
    fsScore(a.join(b, Seq("brand", "bkt"))
      .filter(col("k1") < col("k2") &&
        abs(col("s1") - col("s2")) <= FsSizeBand)
      .drop("bkt"))
  }

  /** The FS agreement-vector scorer over a frame carrying
    * (k1, k2, n1, n2, t1, t2, s1, s2) — shared by the batch linkage
    * above and the streaming twin's readback (StreamQueries.streamErFs)
    * so both paths emit identical scores by construction.
    */
  private[graft] def fsScore(cand: DataFrame): DataFrame =
    cand
      // LOSSLESS JW PREFILTER (VERDICT r13 Next #5): the O(L) bound
      // screen gates the O(L*window) kernel. A pair needs the exact
      // jw_micro only when (a) the bound says it COULD reach the weak
      // tier, or (b) type AND size both agree — the one case where a
      // name-disagreeing pair still survives the score >= 0 cut (best
      // other sum with >=1 disagreement is 1280 < |FsNameDis| = 1650,
      // so every skipped pair is provably dropped below). Skipped pairs
      // take the -1 sentinel, which classifies FsNameDis exactly like
      // any true jw < JwMicroMin would — output-identical by
      // construction, same oracle (soundness spec-pinned in
      // StringSimSpec over every real block-mate pair).
      .withColumn("need_jw",
        graft.functions.JaroWinklerExpression.jwMayReach(
          col("n1"), col("n2"), JwMicroMin) ||
          (col("t1") === col("t2") &&
            abs(col("s1") - col("s2")) <= FsSizeTol))
      .withColumn("jw_micro",
        when(col("need_jw"),
          floor(jaroWinkler(col("n1"), col("n2")) * lit(1000000.0)).cast("long"))
          .otherwise(lit(-1L)))
      .withColumn("w_name",
        when(col("jw_micro") >= FsJwStrong, FsNameStrong)
          .when(col("jw_micro") >= JwMicroMin, FsNameWeak)
          .otherwise(FsNameDis))
      .withColumn("w_type",
        when(col("t1") === col("t2"), FsTypeAgree).otherwise(FsTypeDis))
      .withColumn("w_size",
        when(abs(col("s1") - col("s2")) <= FsSizeTol, FsSizeAgree)
          .otherwise(FsSizeDis))
      .withColumn("score", col("w_name") + col("w_type") + col("w_size"))
      .filter(col("score") >= 0)
      .withColumn("cls",
        when(col("score") >= FsMatchMin, lit("match")).otherwise(lit("possible")))
      .select(col("k1"), col("k2"), col("jw_micro"), col("score"), col("cls"))

  /** FS score cutoffs for the threshold sweep (milli-log-odds). */
  val FsSweepMilli: Seq[Long] = Seq(0L, 1750L, 3500L, 5250L)

  /** FS-classifier threshold sweep — candidate-pair counts surviving
    * each milli-log-odds cutoff, all off ONE scored candidate frame:
    * the match-threshold dial (where between "possible" and "match" to
    * draw the line) priced before a clerical-review budget is set.
    */
  def fsThresholdSweep(part: DataFrame): DataFrame = {
    val scored = materialize(fsLinkage(part).select(col("score")))
    FsSweepMilli.map { t =>
      scored.filter(col("score") >= t)
        .agg(count(lit(1)).as("n_pairs"))
        .select(lit(t).as("threshold_milli"), col("n_pairs"))
    }.reduce(_.unionByName(_))
  }

  /** Linkage-quality evaluation of the FS classifier — the
    * precision/recall audit an MDM team runs before trusting a weight
    * set: every brand-blocked size-banded candidate (NO score filter —
    * negatives count here) is labelled with the classifier decision
    * (score >= 0) and a GOLD standard (exact name equality — the one
    * label this synthetic dimension can assert), then folded into one
    * confusion-matrix row with precision/recall in exact ppm (integer
    * division; -1 when undefined). The shape is the FS candidate join +
    * one aggregate; evaluation never leaves the executors.
    */
  def fsEval(part: DataFrame): DataFrame = {
    val a = part.select(col("p_partkey").as("k1"), col("p_name").as("n1"),
      col("p_brand").as("brand"), col("p_type").as("t1"), col("p_size").as("s1"))
    val b = part.select(col("p_partkey").as("k2"), col("p_name").as("n2"),
      col("p_brand").as("brand"), col("p_type").as("t2"), col("p_size").as("s2"))
    val cand = a.join(b, Seq("brand"))
      .filter(col("k1") < col("k2") &&
        abs(col("s1") - col("s2")) <= FsSizeBand)
      // the eval keeps NEGATIVES (no score filter), but the bound screen
      // still applies: a pair the bound rules out scores FsNameDis
      // without the kernel ever running — same w_name either way
      .withColumn("jw_micro",
        when(graft.functions.JaroWinklerExpression.jwMayReach(
            col("n1"), col("n2"), JwMicroMin),
          floor(jaroWinkler(col("n1"), col("n2")) * lit(1000000.0)).cast("long"))
          .otherwise(lit(-1L)))
      .withColumn("score",
        when(col("jw_micro") >= FsJwStrong, FsNameStrong)
          .when(col("jw_micro") >= JwMicroMin, FsNameWeak).otherwise(FsNameDis)
        + when(col("t1") === col("t2"), FsTypeAgree).otherwise(FsTypeDis)
        + when(abs(col("s1") - col("s2")) <= FsSizeTol, FsSizeAgree)
          .otherwise(FsSizeDis))
      .select((col("score") >= 0).cast("long").as("pred"),
        (col("n1") === col("n2")).cast("long").as("gold"))
    cand.agg(
        sum(when(col("pred") === 1L && col("gold") === 1L, 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") === 1L && col("gold") === 0L, 1L).otherwise(0L)).as("fp"),
        sum(when(col("pred") === 0L && col("gold") === 1L, 1L).otherwise(0L)).as("fn"),
        sum(when(col("pred") === 0L && col("gold") === 0L, 1L).otherwise(0L)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        expr("CASE WHEN tp + fp = 0 THEN -1 ELSE tp * 1000000 DIV (tp + fp) END")
          .as("precision_ppm"),
        expr("CASE WHEN tp + fn = 0 THEN -1 ELSE tp * 1000000 DIV (tp + fn) END")
          .as("recall_ppm"))
  }

  /** Sorted-neighborhood window: pairs within [[SnW]] positions of the
    * global sort order are candidates.
    */
  val SnW = 4

  /** Sorted-neighborhood blocking (Hernandez & Stolfo, SIGMOD'95) — the
    * third classic ER candidate generator beside equi-blocking
    * (blockedPairs) and banded LSH (DedupOps): sort every record by a
    * fuzzy key, slide a window of [[SnW]], emit all in-window pairs.
    * Here the key is the account balance in exact cents (custkey
    * tiebreak), screening for near-balance duplicate accounts — the
    * shape matters more than the field: SN finds matches equi-blocks
    * miss when the blocking field itself is dirty, because closeness in
    * ANY total order survives single-field typos that change a hash.
    *
    * The scale problem is that SN needs GLOBAL ranks, and a global
    * row_number window is the single-partition scale-killer this engine
    * bans (the q_rfm note). So ranks are computed by TWO-PHASE ranking:
    * range-partition on the sort key, per-partition row_number (a window
    * PARTITIONED by the range bucket — distributed), then add each
    * partition's global offset, built from the #partitions-row count
    * frame. Correctness does not depend on where the range boundaries
    * land: rank = rows-before-me under a total order (the key embeds the
    * unique tiebreak). Pair generation is then a bucketed equi-join on
    * rank DIV W with the adjacent-bucket probe — the same
    * one-sided-explode trick as the FS size band, never a cross join.
    */
  def snPairs(customer: DataFrame): DataFrame = {
    val keyed = customer.select(col("c_custkey").as("k"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal"))
      .repartitionByRange(col("bal"), col("k"))
      .sortWithinPartitions(col("bal"), col("k"))
      .withColumn("pid", spark_partition_id())
    val localW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(col("bal"), col("k"))
    val local = keyed.withColumn("rn", row_number().over(localW))
    // per-range-partition counts -> exclusive prefix offsets: a
    // #partitions-row frame, windowed over itself (rows = parallelism,
    // not data) and broadcast back onto the ranked rows
    val cntW = org.apache.spark.sql.expressions.Window.orderBy(col("pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("pid")).agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(cntW), lit(0L)))
      .select(col("pid"), col("off"))
    val ranked = local.join(broadcast(offsets), "pid")
      .select(col("k"), col("bal"), (col("off") + col("rn")).as("rk"))
    val a = ranked.select(col("rk").as("r1"), col("k").as("k1"), col("bal").as("b1"))
      .withColumn("bk", expr(s"r1 DIV $SnW"))
    val b = ranked.select(col("rk").as("r2"), col("k").as("k2"), col("bal").as("b2"))
      .withColumn("bk", explode(array(expr(s"r2 DIV $SnW"), expr(s"r2 DIV $SnW - 1"))))
    a.join(b, Seq("bk"))
      .filter(col("r2") > col("r1") && col("r2") - col("r1") <= SnW)
      .select(col("k1"), col("k2"), (col("r2") - col("r1")).as("rank_dist"),
        abs(col("b2") - col("b1")).as("bal_diff_cents"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_er_fs_score" -> ((s, dir) => fsLinkage(Tables.part(s, dir))),
    "q_er_fs_sweep" -> ((s, dir) => fsThresholdSweep(Tables.part(s, dir))),
    "q_er_fs_eval" -> ((s, dir) => fsEval(Tables.part(s, dir))),
    "q_er_sn_pairs" -> ((s, dir) => snPairs(Tables.customer(s, dir))),
    "q_fuzzy_lev_pairs" -> ((s, dir) => levPairs(Tables.part(s, dir))),
    "q_fuzzy_jw_pairs" -> ((s, dir) => jwPairs(Tables.part(s, dir))),
    "q_entity_resolve" -> ((s, dir) => entityClusters(Tables.part(s, dir))),
    "q_entity_resolve_incr" -> ((s, dir) => entityClustersIncremental(Tables.part(s, dir)))
  )

  /** FS oracle scoring CTEs, shared by the batch oracle and the streaming
    * twin's (which adds the batch-touching filter).
    */
  private val fsScoreCte =
    s"""WITH cand AS (SELECT a.p_partkey AS k1, b.p_partkey AS k2,
       |   CAST(floor(jaro_winkler_similarity(a.p_name, b.p_name)
       |     * 1000000.0) AS BIGINT) AS jw_micro,
       |   a.p_type AS t1, b.p_type AS t2, a.p_size AS s1, b.p_size AS s2
       |  FROM part a JOIN part b
       |    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
       |   AND abs(a.p_size - b.p_size) <= $FsSizeBand),
       | w AS (SELECT k1, k2, jw_micro,
       |   (CASE WHEN jw_micro >= $FsJwStrong THEN $FsNameStrong
       |         WHEN jw_micro >= $JwMicroMin THEN $FsNameWeak
       |         ELSE $FsNameDis END)
       |   + (CASE WHEN t1 = t2 THEN $FsTypeAgree ELSE $FsTypeDis END)
       |   + (CASE WHEN abs(s1 - s2) <= $FsSizeTol THEN $FsSizeAgree
       |      ELSE $FsSizeDis END) AS score
       |  FROM cand)
       |SELECT k1, k2, jw_micro, score,
       | CASE WHEN score >= $FsMatchMin THEN 'match' ELSE 'possible' END AS cls
       |FROM w WHERE score >= 0""".stripMargin

  /** Oracle for the streaming twin: the full FS linkage filtered to pairs
    * touching the arrived slice — identical answers, the incremental-
    * family plan-swap contract.
    */
  private[graft] val fsStreamSql =
    s"""$fsScoreCte
       | AND (k1 % ${DedupOps.IncrMod} = ${DedupOps.IncrRem}
       |   OR k2 % ${DedupOps.IncrMod} = ${DedupOps.IncrRem})""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_er_fs_score" -> fsScoreCte,
    "q_er_fs_sweep" -> FsSweepMilli.map { t =>
      s"""SELECT CAST($t AS BIGINT) AS threshold_milli, count(*) AS n_pairs
         |FROM ($fsScoreCte) p WHERE score >= $t""".stripMargin
    }.mkString("\nUNION ALL\n"),

    "q_er_fs_eval" ->
      s"""WITH cand AS (SELECT a.p_partkey AS k1, b.p_partkey AS k2,
         |   CAST(floor(jaro_winkler_similarity(a.p_name, b.p_name)
         |     * 1000000.0) AS BIGINT) AS jw_micro,
         |   a.p_name AS n1, b.p_name AS n2,
         |   a.p_type AS t1, b.p_type AS t2, a.p_size AS s1, b.p_size AS s2
         |  FROM part a JOIN part b
         |    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
         |   AND abs(a.p_size - b.p_size) <= $FsSizeBand),
         | lab AS (SELECT
         |   CASE WHEN (CASE WHEN jw_micro >= $FsJwStrong THEN $FsNameStrong
         |         WHEN jw_micro >= $JwMicroMin THEN $FsNameWeak
         |         ELSE $FsNameDis END)
         |     + (CASE WHEN t1 = t2 THEN $FsTypeAgree ELSE $FsTypeDis END)
         |     + (CASE WHEN abs(s1 - s2) <= $FsSizeTol THEN $FsSizeAgree
         |        ELSE $FsSizeDis END) >= 0 THEN 1 ELSE 0 END AS pred,
         |   CASE WHEN n1 = n2 THEN 1 ELSE 0 END AS gold
         |  FROM cand),
         | m AS (SELECT
         |   CAST(sum(CASE WHEN pred = 1 AND gold = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |   CAST(sum(CASE WHEN pred = 1 AND gold = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |   CAST(sum(CASE WHEN pred = 0 AND gold = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |   CAST(sum(CASE WHEN pred = 0 AND gold = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM lab)
         |SELECT tp, fp, fn, tn,
         | CASE WHEN tp + fp = 0 THEN -1 ELSE tp * 1000000 // (tp + fp) END
         |   AS precision_ppm,
         | CASE WHEN tp + fn = 0 THEN -1 ELSE tp * 1000000 // (tp + fn) END
         |   AS recall_ppm
         |FROM m""".stripMargin,

    // the oracle replays the two-phase rank as one plain global window
    // (DuckDB at sf0.01 — no scale constraint); the ENGINE is what must
    // avoid it (the q_rfm_cuts contract)
    "q_er_sn_pairs" ->
      s"""WITH r AS (SELECT c_custkey AS k,
         |   CAST(round(c_acctbal * 100) AS BIGINT) AS bal,
         |   row_number() OVER (
         |     ORDER BY CAST(round(c_acctbal * 100) AS BIGINT), c_custkey) AS rk
         |  FROM customer)
         |SELECT a.k AS k1, b.k AS k2, b.rk - a.rk AS rank_dist,
         | abs(b.bal - a.bal) AS bal_diff_cents
         |FROM r a JOIN r b ON b.rk > a.rk AND b.rk - a.rk <= $SnW""".stripMargin,

    "q_fuzzy_lev_pairs" ->
      s"""$blockedPairsCte
         |SELECT n1, n2, levenshtein(n1, n2) AS lev FROM p
         |WHERE levenshtein(n1, n2) <= $LevMax""".stripMargin,

    "q_fuzzy_jw_pairs" ->
      s"""$blockedPairsCte
         |SELECT n1, n2, jw_micro FROM (
         | SELECT n1, n2,
         |  CAST(floor(jaro_winkler_similarity(n1, n2) * 1000000.0) AS BIGINT)
         |    AS jw_micro
         | FROM p) t
         |WHERE jw_micro >= $JwMicroMin""".stripMargin,

    // transitive closure replayed as a recursive CTE (the q_dedup_clusters
    // oracle shape) over the JW pair list
    "q_entity_resolve" -> entityResolveSql,

    // identical oracle ON PURPOSE: maintaining yesterday's labels with
    // batch-touching pairs is a plan swap over the same pair set — the
    // full-recompute transitive closure is the answer it must reproduce
    "q_entity_resolve_incr" -> entityResolveSql
  )

  private val entityResolveSql =
    s"""$blockedPairsCte,
       |jw AS (SELECT n1, n2 FROM p
       |  WHERE CAST(floor(jaro_winkler_similarity(n1, n2) * 1000000.0) AS BIGINT)
       |    >= $JwMicroMin),
       |e AS (SELECT n1 AS d1, n2 AS d2 FROM jw
       |  UNION ALL SELECT n2, n1 FROM jw)
       |SELECT a AS name, min(b) AS entity_id FROM (
       | WITH RECURSIVE reach(a, b) AS (
       |   SELECT name AS a, name AS b FROM n
       |   UNION
       |   SELECT r.a, e.d2 AS b FROM reach r JOIN e ON r.b = e.d1)
       | SELECT a, b FROM reach) z
       |GROUP BY a""".stripMargin
}
