package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.RunOnce.materialize
import graft.{RunOnce, Tables}
import graft.load.DimLoader

/** Shuffle-management operators — the partitioning techniques a 100 TB
  * deployment leans on, each expressed so the DuckDB oracle proves the
  * RESULT is identical to the naive plan while the physical plan differs:
  *
  *   - bucketed co-located join: both sides pre-bucketed on the join key
  *     into the same bucket count → sort-merge join with ZERO exchange
  *     (asserted in ShuffleOpsSpec). At scale this is how a fact table
  *     repeatedly joined on the same key amortizes its shuffle: pay it
  *     once at write time, never at read time.
  *   - salted two-phase aggregation: a skewed group key is widened with a
  *     salt for the first (heavy) partial aggregate so one hot key
  *     spreads over N reducers, then re-aggregated without the salt. The
  *     algebra re-merges exactly (sums of sums, sums of counts) — the
  *     oracle runs the direct single-phase SQL.
  */
object ShuffleOps {

  val Buckets = 8
  val Salts = 16

  private def dsum(c: org.apache.spark.sql.Column, scale: Int = 2) =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Build the bucketed tables once per (session, sfDir) — the POINT of
    * bucketing is paying the layout shuffle at write time so every later
    * join reads co-located buckets for free, so the build belongs in
    * warmup (Bench pre-calls this untimed, the way stream fixtures
    * pre-write), not inside every join. Rebuilds when the session's
    * tables came from a different sfDir.
    */
  def warmBucketedTables(spark: SparkSession, dir: String): Unit = synchronized {
    val confKey = "spark.graft.bucketed.dir"
    val fresh = spark.conf.getOption(confKey).contains(dir) &&
      spark.catalog.tableExists("orders_bkt") &&
      spark.catalog.tableExists("customer_bkt")
    if (!fresh) {
      DimLoader.dropTableAndLocation(spark, "orders_bkt")
      DimLoader.dropTableAndLocation(spark, "customer_bkt")
      Tables.orders(spark, dir)
        .select(col("o_custkey"), col("o_totalprice"))
        .write.bucketBy(Buckets, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable("orders_bkt")
      Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
        .write.bucketBy(Buckets, "c_custkey").sortBy("c_custkey")
        .mode("overwrite").saveAsTable("customer_bkt")
      spark.conf.set(confKey, dir)
    }
  }

  /** Join over orders/customer bucketed by the join key. With matching
    * bucket counts the sort-merge join reads co-located buckets directly
    * — no Exchange in the plan.
    */
  def bucketedSegmentRevenue(spark: SparkSession, dir: String): DataFrame = {
    warmBucketedTables(spark, dir)
    bucketedJoinPlan(spark)
  }

  /** The join over the already-bucketed tables (separated so tests can
    * assert its physical plan has no shuffle).
    */
  def bucketedJoinPlan(spark: SparkSession): DataFrame =
    spark.table("orders_bkt")
      .hint("merge") // force SMJ so the no-exchange property is visible
      .join(spark.table("customer_bkt"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))

  /** Salted two-phase aggregate over a deliberately skewed key (~45% of
    * orders share one status). Phase 1 groups on (key, salt) — the hot
    * key's rows spread across `Salts` reducers; phase 2 merges partials
    * on the key alone. Identical result to the direct group-by.
    */
  def saltedStatusRevenue(spark: SparkSession, dir: String): DataFrame = {
    val salted = Tables.orders(spark, dir)
      .withColumn("salt", (col("o_orderkey") % Salts).cast("int"))
      .groupBy(col("o_orderstatus"), col("salt"))
      .agg(count(lit(1)).as("pn"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("psum"))
    salted.groupBy(col("o_orderstatus"))
      .agg(sum(col("pn")).as("n_orders"),
        sum(col("psum")).cast("double").as("revenue"))
  }

  /** Salted (replicated-dim) join over a deliberately skewed key: the
    * fact keys down to 3 hot values (o_orderkey % 3), which in a plain
    * shuffle join lands ~50k rows on 3 reducers. The fact side salts
    * (key, o_orderkey % Salts); the DIM side is exploded once per salt
    * value — dim rows are small by definition, so the replication is
    * `Salts × |dim|` — and the join key becomes (key, salt): the hot
    * key's rows spread over `Salts` reducers. Identical result to the
    * unsalted join (oracle runs that); AQE's skew-join split is the
    * automatic variant, this is the explicit one for when the skew is
    * known and stable.
    */
  def saltedSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fact = Tables.orders(spark, dir)
      .select((col("o_orderkey") % 3).as("k"), col("o_totalprice"),
        (col("o_orderkey") % Salts).cast("int").as("salt"))
    val dim = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma")).toDF("k", "tier")
      .crossJoin(spark.range(0, Salts).select(col("id").cast("int").as("salt")))
    fact.join(dim, Seq("k", "salt"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
  }

  /** The same skewed join as [[saltedSkewJoin]] left UNSALTED — the plan
    * AQE's OptimizeSkewedJoin is meant to fix at runtime. Shared by the
    * registry closure (which materializes it under the forced-shuffle
    * confs) and the spec (which pins `skew=true` in the final adaptive
    * plan).
    */
  def aqeSkewJoinPlan(spark: SparkSession, dir: String): DataFrame = {
    // the skewedKeys shape, amplified: 7 of every 8 orderkeys collapse
    // onto hot key 0 (~87% of the mass in ONE shuffle partition), the
    // rest spread over 96 cold residues — a hot/median ratio far past
    // any skewedPartitionFactor, unlike a uniform key set whose
    // partitions all sit at the median. The pre-repartition gives the
    // join shuffle MULTIPLE map tasks: AQE splits a skewed reduce
    // partition at map-output granularity, so a single-row-group local
    // read (one mapper) is unsplittable no matter how skewed — at 100 TB
    // the fact side always has thousands of mappers; this restores that
    // shape at test scale
    val fact = Tables.orders(spark, dir).repartition(8)
      .select(when(col("o_orderkey") % 8 =!= 7, lit(0L))
        .otherwise(col("o_orderkey") % 97).as("k"), col("o_totalprice"))
    val dim = spark.range(0L, 97L).select(col("id").as("k"),
      expr("CASE id % 3 WHEN 0 THEN 'alpha' WHEN 1 THEN 'beta' " +
        "ELSE 'gamma' END").as("tier"))
    fact.join(dim, Seq("k"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
  }

  /** AQE skew-join twin of q_salted_join (VERDICT r13 Next #6) — the
    * engine knowing when NOT to hand-roll: salting is the right tool
    * when the skew is known and stable; when it isn't, the built-in
    * answer is `spark.sql.adaptive.skewJoin` splitting the oversized
    * shuffle partitions at runtime (each hot chunk joins a replica of
    * the matching build rows — the same replicate-the-small-side algebra
    * salting does by hand, decided from measured map output instead of
    * prior knowledge). Confs force the shuffle path at test scale: the
    * 3-row dim must not broadcast (that would dissolve the skew rather
    * than split it), and the skew thresholds scale down to the sf0.01
    * partition sizes exactly as a 100 TB deployment leaves them at their
    * MB-scale defaults. The join materializes eagerly (localCheckpoint)
    * while the confs hold, then every conf is restored — the returned
    * frame is plain data, so downstream harness writes replan nothing.
    */
  def aqeSkewJoin(spark: SparkSession, dir: String): DataFrame =
    RunOnce.withConf(spark, Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB")) {
      aqeSkewJoinPlan(spark, dir).localCheckpoint()
    }

  /** Bloom capacity for the pruning filter — sized generously above the
    * dim-subset cardinality at every test SF (false-positive rate only
    * costs extra rows into the exact join, never correctness).
    */
  val BloomItems = 100000L

  /** Bloom-filter-pruned join — the explicit form of Spark's runtime
    * filter (InjectRuntimeFilter): build a bloom over the (filtered) dim
    * side's join keys, broadcast the one-row sketch, and prune fact rows
    * BEFORE the join shuffle with a might-contain test on the same
    * xxhash64. At 100 TB this is the difference between shuffling the
    * full fact table and shuffling the ~selectivity fraction of it when
    * the dim is too big to broadcast outright (a bloom over millions of
    * keys is a few MB; the dim itself would be GBs). False positives
    * pass the bloom and die in the exact join, so the result is
    * bit-identical to the plain join — which is what the oracle runs.
    * Uses Spark's own BloomFilterAggregate/BloomFilterMightContain
    * catalyst expressions (the ones InjectRuntimeFilter plants), via the
    * documented SqlBridge seam.
    */
  def bloomPrunedJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.SqlBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val dim = Tables.part(spark, dir).filter(col("p_size") === 1)
      .select(col("p_partkey"), col("p_name"))
    // the bloom build rides as a SCALAR SUBQUERY (might_contain requires
    // a constant or scalar-subquery bloom side — the same shape
    // InjectRuntimeFilter plants), so the whole operator stays one lazy plan
    val bf = dim.select(SqlBridge.column(
      new BloomFilterAggregate(
        SqlBridge.expression(xxhash64(col("p_partkey"))), BloomItems)
        .toAggregateExpression()).as("bf"))
    val pruned = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"))
      .filter(SqlBridge.column(BloomFilterMightContain(
        ScalarSubquery(bf.queryExecution.analyzed),
        SqlBridge.expression(xxhash64(col("l_partkey"))))))
    pruned.join(dim, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_name"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
  }

  /** Misra–Gries summary size for q_heavy_hitters: every key above
    * n/(MgCapacity+1) frequency is guaranteed caught.
    */
  val MgCapacity = 8

  /** Heavy-hitters invariant over a deliberately skewed key (even order
    * keys collapse onto key 0 ≈ half the mass; odd rows keep their
    * customer key, each far below threshold). The sketch CONTENT is
    * merge-order-dependent, so — exactly like q_approx_distinct and
    * q_approx_quantiles — the oracle-checked claim is the sketch's
    * mathematical guarantee: every key with frequency > n/(K+1) appears
    * in the summary, undercounted by at most n/(K+1). Threshold math
    * stays in exact integers (cnt·(K+1) > n), no division.
    */
  /** The skewed key projection shared by batch and streaming MG rows. */
  def skewedKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.balanced(spark, Tables.orders(spark, dir), Seq("o_orderkey"))
      .select(when(col("o_orderkey") % 2 === 0, lit(0L))
        .otherwise(col("o_custkey")).as("k"))

  /** Evaluate the MG guarantees of a one-row (mg, n_rows) sketch frame
    * against the exact key counts — shared by the batch q_heavy_hitters
    * and its streaming twin (whose sketch accumulated across
    * micro-batches; the guarantee is merge-order-independent, which is
    * exactly why the same oracle row covers both).
    */
  def mgInvariantRow(keyed: DataFrame, sketch: DataFrame): DataFrame =
    keyed.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(sketch))
      .filter(col("cnt") * (MgCapacity + 1) > col("n_rows"))
      .select(col("k"), col("cnt"), col("n_rows"),
        element_at(col("mg"), col("k")).as("est"))
      .agg(
        max(col("n_rows")).as("n_rows"),
        count(lit(1)).as("n_heavy"),
        min(when(col("est").isNotNull, 1).otherwise(0)).as("found"),
        min(when((col("cnt") - coalesce(col("est"), lit(0L))) * (MgCapacity + 1)
          <= col("n_rows"), 1).otherwise(0)).as("bound"))
      // coalesce ALL aggregate outputs: on a zero-row keyed input the
      // heavy set is empty and max/min return NULL while the oracle
      // emits 0/1s
      .select(coalesce(col("n_rows"), lit(0L)).as("n_rows"), col("n_heavy"),
        coalesce(col("found"), lit(1)).as("all_heavy_found"),
        coalesce(col("bound"), lit(1)).as("undercount_within_bound"))

  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val keyed = skewedKeys(spark, dir)
    val sketch = keyed.agg(
      graft.functions.MisraGriesAggregate.mgSketch(col("k"), MgCapacity).as("mg"),
      count(lit(1)).as("n_rows"))
    mgInvariantRow(keyed, sketch)
  }

  /** (source, word-hash-key) rows shared by the per-group MG query and its
    * streaming twin. The corpus has no naturally heavy word (max word mass
    * ≈5% per source vs the n/(K+1)≈11% threshold), so a deterministic
    * hash-collapse plants one: every word whose portable hash ≡ 0 mod 3
    * folds onto key 0 (~1/3 of the mass per source) — the per-group
    * analog of skewedKeys' even-orderkey collapse, reproducible in the
    * DuckDB oracle because the hash is the PortableSql ladder.
    */
  def sourceWordKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        explode(org.apache.spark.sql.functions.split(col("text"), " ")).as("w"))
      .withColumn("h", expr(graft.functions.PortableSql.strHash("w")))
      .select(col("source"),
        when(col("h") % 3 === 0, lit(0L)).otherwise(col("h")).as("k"))

  /** Grouped form of [[mgInvariantRow]]: one guarantee row PER group.
    * The sketch frame is one K-entry buffer per group — bounded by the
    * source dimension's cardinality, so it broadcasts; the exact counts
    * stay distributed and the heavy filter prunes them to the (tiny)
    * per-group heavy sets before the final fold.
    */
  def mgInvariantPerGroup(keyed: DataFrame, sketches: DataFrame): DataFrame =
    keyed.groupBy(col("source"), col("k")).agg(count(lit(1)).as("cnt"))
      .join(broadcast(sketches), "source")
      .filter(col("cnt") * (MgCapacity + 1) > col("n_rows"))
      .select(col("source"), col("cnt"), col("n_rows"),
        element_at(col("mg"), col("k")).as("est"))
      .groupBy(col("source"))
      .agg(
        max(col("n_rows")).as("n_rows"),
        count(lit(1)).as("n_heavy"),
        min(when(col("est").isNotNull, 1).otherwise(0)).as("all_heavy_found"),
        min(when((col("cnt") - coalesce(col("est"), lit(0L))) * (MgCapacity + 1)
          <= col("n_rows"), 1).otherwise(0)).as("undercount_within_bound"))

  /** Per-source heavy hitters: ONE mergeable Misra–Gries buffer per
    * `source` group (the TypedImperativeAggregate rides the ordinary
    * hash-aggregate path, so partial buffers map-side combine and the
    * shuffle carries K entries per group per partition — the grouped
    * petabyte-column answer, same argument as q_heavy_hitters). Eviction
    * is deterministic given the buffers: update decrements ALL counters
    * when full, merge subtracts the (K+1)-th largest count — both
    * key-independent rules, no arbitrary tie-breaking. The oracle checks
    * the per-group guarantee rows (every heavy key caught, undercount
    * within n/(K+1)), which hold for ANY merge order.
    */
  def heavyPerSource(spark: SparkSession, dir: String): DataFrame = {
    // feeds both the sketch build and the exact-count audit
    val keyed = materialize(sourceWordKeys(spark, dir))
    val sketches = keyed.groupBy(col("source")).agg(
      graft.functions.MisraGriesAggregate.mgSketch(col("k"), MgCapacity).as("mg"),
      count(lit(1)).as("n_rows"))
    mgInvariantPerGroup(keyed, sketches)
  }

  /** Probe keys for the CM point-estimate compare: the planted hot key
    * plus three ordinary customer keys.
    */
  val CmProbes = Seq(0L, 101L, 202L, 303L)

  /** Count-Min point estimates vs exact counts. CM is linear (cells are
    * sums), so unlike the MG row this compares the EXACT estimates: the
    * DuckDB oracle rebuilds every probed cell relationally with the same
    * portable hash ladder and must reproduce the sketch's numbers
    * bit-for-bit — plus the never-undercounts guarantee as a flag.
    */
  def cmEstimates(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.CountMinAggregate.{cellSql, cmSketch, Depth, Width}
    val keyed = skewedKeys(spark, dir)
    val sketch = keyed.agg(cmSketch(col("k")).as("cm"))
    val est = (0 until Depth)
      .map(d => expr(s"element_at(cm, CAST($d * $Width + ${cellSql("k", d)} AS INT) + 1)"))
      .reduce(least(_, _))
    CmProbes.toDF("k")
      .join(keyed.groupBy(col("k")).agg(count(lit(1)).as("cnt")), Seq("k"), "left")
      .crossJoin(broadcast(sketch))
      .select(col("k"), coalesce(col("cnt"), lit(0L)).as("exact_cnt"),
        est.as("cm_est"))
      .withColumn("never_undercounts",
        (col("cm_est") >= col("exact_cnt")).cast("int"))
  }

  /** KMV sketch size: rel. std. error ~ 1/sqrt(k-2) ~ 13%. */
  val KmvK = 64

  /** K-minimum-values distinct-count sketch per group, with EXACT
    * cross-engine parity (the q_cm_sketch discipline, not the invariant
    * fallback): hashes come from the portable seed ladder, the sketch is
    * the bounded TopKRowsAggregate heap over negated hashes (mergeable,
    * map-side combined — the shuffle carries k rows per group per
    * partition), and the estimate (k-1)*M DIV h_k is integer arithmetic
    * the DuckDB oracle reproduces bit-for-bit with a rank window.
    *
    * The input is deduplicated on (group, hash) first — one shuffle that
    * a production KMV folds into the sketch buffer itself (a k-bounded
    * hash set); the heap + pre-distinct splits the same semantics into
    * composable pieces. `exact_d` counts distinct KEYS (not hashes), so
    * the emitted relative-error flag audits the estimator against truth
    * including any hash-collision loss.
    */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableSql
    val M = 1000000007L
    val keys = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("flag"), col("l_partkey").as("k"))
      .distinct()
    val exact = keys.groupBy("flag").agg(count(lit(1)).as("exact_d"))
    val sketch = keys
      .select(col("flag"), expr(PortableSql.seedLadderSql("k", M)).as("h"))
      .distinct()
      .groupBy("flag")
      .agg(graft.functions.TopKAggregate.topKRows(
        struct((-col("h")).cast("double").as("value"), col("h").as("id")), KmvK)
        .as("top"))
      .select(col("flag"),
        when(size(col("top")) < KmvK, size(col("top")).cast("long"))
          .otherwise(expr(s"${KmvK - 1}L * ${M}L DIV element_at(top, $KmvK).id"))
          .as("kmv_est"))
    exact.join(sketch, "flag")
      .select(col("flag"), col("exact_d"), col("kmv_est"),
        (abs(col("kmv_est") - col("exact_d")).cast("double") /
          col("exact_d") <= 0.5).cast("int").as("within_4sigma"))
  }

  /** Pairwise audience-overlap estimation from per-group KMV sketches —
    * the sketch SET-OPERATION layer on top of [[kmvDistinct]]: for every
    * unordered event-type pair, estimate |A∪B|, |A∩B| and Jaccard from
    * the two k-minimum-values sketches alone, audited against the exact
    * overlap. This is how a 100 TB pipeline answers "how much do these
    * two sources/audiences overlap" WITHOUT the exact distinct join:
    * each group keeps a k-row mergeable sketch (built here with the same
    * bounded TopKRowsAggregate heap, map-side combined), the pairwise
    * math runs on |groups|² × k rows — thousands, not billions — and
    * adding a source never reshuffles the fact table.
    *
    * Estimators (all integer arithmetic, bit-for-bit in DuckDB):
    * the union sketch is the k smallest of the two sketches' union;
    * est_union = (k-1)·M DIV h_k (exact count when the union sketch is
    * under-full); ρ = |union sketch ∩ A ∩ B| / k_union is the standard
    * KMV Jaccard estimator (emitted in ppm), and est_inter =
    * n_both·est_union DIV k_union. The exact intersection (one
    * user-keyed equi-join) and exact union ride along so the row audits
    * its own estimator, kmvDistinct-style.
    */
  def kmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableSql
    val keys = overlapKeys(spark, dir)
    val sk = keys
      .select(col("t"), expr(PortableSql.seedLadderSql("u", KmvOverlapM)).as("h"))
      .distinct()
      .groupBy("t")
      .agg(graft.functions.TopKAggregate.topKRows(
        struct((-col("h")).cast("double").as("value"), col("h").as("id")), KmvK)
        .as("top"))
      // topKRows orders by value desc = h asc: hs is the ascending sketch
      .select(col("t"), expr("transform(top, x -> x.id)").as("hs"))
    kmvOverlapFromSketches(sk, keys)
  }

  val KmvOverlapM = 1000000007L

  /** The (event_type, user) audience incidence both overlap forms share. */
  def overlapKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type").as("t"), col("user_id").as("u"))
      .distinct()

  /** The pairwise estimator arithmetic off a (t, ascending-sketch) frame —
    * shared by [[kmvOverlap]] and the streaming twin (which accumulates
    * the same sketches in the state store), so both score through
    * literally the same expressions.
    */
  def kmvOverlapFromSketches(sk: DataFrame, keys: DataFrame): DataFrame = {
    val M = KmvOverlapM
    val k = KmvK
    val d = keys.groupBy("t").agg(count(lit(1)).as("nd"))
    val exact = keys.as("a").join(keys.as("b"),
        col("a.u") === col("b.u") && col("a.t") < col("b.t"))
      .groupBy(col("a.t").as("src_a"), col("b.t").as("src_b"))
      .agg(count(lit(1)).as("exact_inter"))
    sk.as("a").join(sk.as("b"), col("a.t") < col("b.t"))
      .select(col("a.t").as("src_a"), col("b.t").as("src_b"),
        col("a.hs").as("h1"), col("b.hs").as("h2"))
      .withColumn("un", expr(s"slice(array_sort(array_distinct(concat(h1, h2))), 1, $k)"))
      .withColumn("ku", size(col("un")).cast("long"))
      .withColumn("n_both",
        size(expr("array_intersect(array_intersect(un, h1), h2)")).cast("long"))
      .withColumn("est_union", when(col("ku") < k, col("ku"))
        .otherwise(expr(s"${k - 1}L * ${M}L DIV element_at(un, $k)")))
      .withColumn("est_inter", expr("n_both * est_union DIV ku"))
      .withColumn("jaccard_est_ppm", expr("n_both * 1000000 DIV ku"))
      .join(exact, Seq("src_a", "src_b"), "left")
      .join(d.select(col("t").as("src_a"), col("nd").as("nda")), "src_a")
      .join(d.select(col("t").as("src_b"), col("nd").as("ndb")), "src_b")
      .select(col("src_a"), col("src_b"),
        coalesce(col("exact_inter"), lit(0L)).as("exact_inter"),
        (col("nda") + col("ndb") - coalesce(col("exact_inter"), lit(0L)))
          .as("exact_union"),
        col("ku"), col("n_both"), col("est_union"), col("est_inter"),
        col("jaccard_est_ppm"))
      .withColumn("within_4sigma",
        (abs(col("est_union") - col("exact_union")).cast("double") /
          col("exact_union") <= 0.5).cast("int"))
  }

  /** Bucketed INTERVAL join — the scale answer for a range predicate with
    * NO equi key (Spark's only native plan for `point BETWEEN lo AND hi`
    * is a nested-loop join, quadratic at 100 TB): intervals explode to
    * the coarse time buckets they cover, points map to their single
    * bucket, and the match becomes a hash EQUI-join on the bucket plus a
    * residual range filter. A point's bucket holds at most one copy of
    * each interval, so no pair dedup is needed. Bucket width is the dial:
    * ≥ the max interval span keeps the explode factor ≤ 2; a hot bucket
    * (event burst inside one week) is ordinary join skew, which AQE
    * skew-split handles. Fixture: every 1000th order opens a 7-day audit
    * window; output counts shipments falling in each window, zero-count
    * windows included via the final left join.
    */
  def intervalJoinBucketed(s: SparkSession, dir: String): DataFrame = {
    val day = "86400000"
    val w = Tables.orders(s, dir).filter(col("o_orderkey") % 1000 === 0)
      .select(col("o_orderkey").as("win_id"),
        expr(s"unix_millis(CAST(o_orderdate AS TIMESTAMP)) DIV $day").as("d0"))
      .withColumn("d1", col("d0") + 6)
    val wb = w.withColumn("bucket", explode(expr("sequence(d0 DIV 7, d1 DIV 7)")))
    val pts = Tables.lineitem(s, dir)
      .select(expr(s"unix_millis(CAST(l_shipdate AS TIMESTAMP)) DIV $day").as("d"))
      .withColumn("bucket", expr("d DIV 7"))
    val counts = pts.join(wb, Seq("bucket"))
      .filter(col("d") >= col("d0") && col("d") <= col("d1"))
      .groupBy(col("win_id")).agg(count(lit(1)).as("n"))
    w.join(counts, Seq("win_id"), "left")
      .select(col("win_id"), coalesce(col("n"), lit(0L)).as("n_shipments"))
  }

  /** The SAME interval-count answer, but written as the naive band join
    * and left to the RangeJoinRewrite optimizer rule — the user writes
    * `p >= lo AND p <= lo + 6` and the session plans the bucketed
    * equi-join automatically (PlanShapeSpec pins that no nested-loop
    * join survives). Shares q_interval_join's oracle semantics.
    */
  def intervalJoinAuto(s: SparkSession, dir: String): DataFrame = {
    graft.plans.RangeJoinRewrite.ensureInjected(s)
    val day = "86400000"
    val w = Tables.orders(s, dir).filter(col("o_orderkey") % 1000 === 0)
      .select(col("o_orderkey").as("win_id"),
        expr(s"unix_millis(CAST(o_orderdate AS TIMESTAMP)) DIV $day").as("d0"))
    val pts = Tables.lineitem(s, dir)
      .select(expr(s"unix_millis(CAST(l_shipdate AS TIMESTAMP)) DIV $day").as("d"))
    val counts = pts.join(w,
        col("d") >= col("d0") && col("d") <= col("d0") + lit(6L))
      .groupBy(col("win_id")).agg(count(lit(1)).as("n"))
    w.join(counts, Seq("win_id"), "left")
      .select(col("win_id"), coalesce(col("n"), lit(0L)).as("n_shipments"))
  }

  /** JOIN-SIZE ESTIMATION from Count-Min sketch inner products — the
    * planner/DBA tool that predicts |A ⋈ B| without running the join:
    * est_d = Σ_w cmA[d][w]·cmB[d][w] per depth row, min over depths —
    * an overestimate by construction (AMS/CM inner-product bound), which
    * the emitted flag audits against the exact size. At 100 TB the two
    * sketch builds are each ONE mergeable aggregate pass (a 1 KB buffer
    * per partition shuffled), while the exact answer needs the real
    * shuffle — that asymmetry is the whole point of the estimator. All
    * arithmetic integer, the q_cm_sketch parity discipline.
    */
  def cmJoinSize(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.CountMinAggregate.{cmSketch, Depth, Width}
    val ev = Tables.events(spark, dir)
    def side(t: String) =
      ev.filter(col("event_type") === t).select(col("user_id").as("k"))
    val sa = side("purchase").agg(cmSketch(col("k")).as("cma"))
    val sb = side("click").agg(cmSketch(col("k")).as("cmb"))
    val est = (0 until Depth).map { d =>
      expr(s"""aggregate(transform(sequence(0, ${Width - 1}),
              |  w -> element_at(cma, $d * $Width + w + 1)
              |     * element_at(cmb, $d * $Width + w + 1)),
              |CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin)
    }.reduce(least(_, _))
    val exact = side("purchase").groupBy(col("k")).agg(count(lit(1)).as("na"))
      .join(side("click").groupBy(col("k")).agg(count(lit(1)).as("nb")), Seq("k"))
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("exact_size"))
    sa.crossJoin(sb).crossJoin(broadcast(exact))
      .select(col("exact_size"), est.as("cm_est"),
        (est >= col("exact_size")).cast("int").as("never_underestimates"))
  }

  /** 32-bit lane for the bitmap rollup: the shared CASE ladder maps
    * user_id's bit position to its power of two (neither dialect
    * guarantees column-valued shift counts, and 32 lanes keep every
    * word positive — no sign-bit corner).
    */
  private[graft] def bitmapLane(e: String = "user_id", duck: Boolean): String = {
    val arms = (0 until 32).map(k => s"WHEN ${k}::BIGINT THEN ${1L << k}")
      .map(a => if (duck) a else a.replace("::BIGINT", ""))
      .mkString(" ")
    s"CASE (($e) % 32) $arms END"
  }

  /** Exact distinct-user counts per (event_type, day) via BITMAP BLOCK
    * aggregation — the roaring/Druid groupBitmap technique: user_id
    * maps to (block = id DIV 32, bit = id % 32); a first aggregate ORs
    * the per-row one-hot words per (key, block); a second sums
    * bit_count per key. Why at 100 TB: the first aggregate map-side
    * combines to AT MOST |keys|·|id-space|/32 words no matter how many
    * raw events repeat a user — the shuffle carries pre-ORed words, not
    * user ids, and the blocks are mergeable across days/partitions the
    * way HLL registers are, but EXACT. n_blocks audits density (ids
    * packed tight by the generator → blocks ~32 dense).
    */
  def bitmapDistinct(events: DataFrame): DataFrame = {
    val e = events.select(col("event_type"),
      expr("unix_micros(ts) DIV 86400000000").as("day"),
      expr("user_id DIV 32").as("block"),
      expr(bitmapLane(duck = false)).as("w"))
    e.groupBy(col("event_type"), col("day"), col("block"))
      .agg(expr("bit_or(w)").as("word"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(expr("bit_count(word)")).as("n_users"),
        count(lit(1)).as("n_blocks"))
  }

  /** Join-key skew audit — the pre-flight profile that DECIDES whether a
    * key needs the q_salted_agg / q_salted_join treatment before the
    * expensive shuffle runs: per-key row counts bucketed by integer bit
    * length (log2 occupancy histogram — the classic count-of-counts
    * profile, no window anywhere), each bucket with its key count, row
    * mass, and row share in ppm, plus the global max-key/mean-key ratio
    * (the skew factor AQE's skewedPartitionFactor thresholds on). Two
    * hash aggregates + a 1-row broadcast; the per-key frame is bounded
    * by key cardinality, never raw rows.
    */
  def skewAudit(lineitem: DataFrame): DataFrame = {
    import graft.functions.PortableSql.bitLen
    val pk = lineitem.groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
    val tot = pk.agg(sum(col("cnt")).as("tot"), count(lit(1)).as("n_keys"),
      max(col("cnt")).as("max_cnt"))
    pk.withColumn("cnt_bits", expr(s"CAST(${bitLen("cnt", 40)} AS BIGINT)"))
      .groupBy(col("cnt_bits"))
      .agg(count(lit(1)).as("bucket_keys"), sum(col("cnt")).as("bucket_rows"))
      .crossJoin(broadcast(tot))
      .select(col("cnt_bits"), col("bucket_keys"), col("bucket_rows"),
        expr("bucket_rows * 1000000 DIV tot").as("rows_ppm"),
        // nested division keeps the intermediate at max_cnt·1e6 even at
        // cluster-scale key counts (max_cnt·n_keys·1e6 would overflow);
        // mean >= 1 because every counted key has >= 1 row
        expr("max_cnt * 1000000 DIV (tot DIV n_keys)").as("skew_ratio_ppm"))
  }

  /** Bloom-filter geometry: m = 2^16 bits as 32-bit lanes in 2048
    * blocks, k = 2 multiplicative hashes. The multiply stays under 2^63
    * for keys < ~3.5e9; larger id spaces would pre-fold the key
    * (key % 2^31) first.
    */
  val BloomBits = 65536

  /** Portable integer Bloom filter with an OBSERVED false-positive-rate
    * audit — the companion proof to q_bloom_join (which trusts Spark's
    * native runtime filter): members (parts with p_size <= 25) set k=2
    * bits via multiplicative hashing into the [[bitmapLane]] 32-bit-lane
    * word frame (per-block `bit_or`, map-side combined — the
    * q_bitmap_distinct build); every part then probes both bits through
    * two BROADCAST joins on the block id, and the row reports members
    * missed (must be 0 — Bloom filters have no false negatives),
    * observed false positives among non-members, and the exact fpr in
    * ppm. Everything integer, bit-exact cross-engine; the filter frame
    * is 2048 words no matter the corpus size.
    */
  def bloomFpr(part: DataFrame): DataFrame = {
    val m = BloomBits
    def h1(p: String) = s"(($p) * 2654435761) % $m"
    def h2(p: String) = s"(($p) * 40503 + 12345) % $m"
    val members = part.filter(col("p_size") <= 25).select(col("p_partkey").as("p"))
    val words = members
      .select(explode(array(expr(h1("p")), expr(h2("p")))).as("h"))
      .select(expr("h DIV 32").as("block"),
        expr(bitmapLane("h", duck = false)).as("w"))
      .groupBy(col("block")).agg(expr("bit_or(w)").as("word"))
    val probes = part.select(col("p_partkey").as("p"),
      (col("p_size") <= 25).as("member"),
      expr(h1("p_partkey")).as("hp1"), expr(h2("p_partkey")).as("hp2"))
    val tested = probes
      .join(broadcast(words.select(col("block").as("bk1"), col("word").as("w1"))),
        expr("hp1 DIV 32") === col("bk1"), "left_outer")
      .join(broadcast(words.select(col("block").as("bk2"), col("word").as("w2"))),
        expr("hp2 DIV 32") === col("bk2"), "left_outer")
      .withColumn("hit",
        coalesce(expr(s"(w1 DIV (${bitmapLane("hp1", duck = false)})) % 2"), lit(0L)) === 1 &&
        coalesce(expr(s"(w2 DIV (${bitmapLane("hp2", duck = false)})) % 2"), lit(0L)) === 1)
    tested.agg(
        lit(m.toLong).as("m_bits"),
        sum(when(col("member"), 1L).otherwise(0L)).as("n_members"),
        sum(when(!col("member"), 1L).otherwise(0L)).as("n_nonmembers"),
        sum(when(col("member") && !col("hit"), 1L).otherwise(0L)).as("n_member_miss"),
        sum(when(!col("member") && col("hit"), 1L).otherwise(0L)).as("n_false_pos"))
      .withColumn("fpr_ppm", expr("n_false_pos * 1000000 DIV n_nonmembers"))
  }

  /** Columns profiled by the dictionary-encoding audit. */
  val DictCols: Seq[String] = Seq("l_returnflag", "l_linestatus",
    "l_quantity", "l_partkey", "l_suppkey")

  /** Dictionary-encoding benefit audit — the storage-planning table
    * behind a 100 TB parquet layout decision: per column, the distinct
    * count, the dictionary index width ceil(log2(n_distinct)) from the
    * bitLen ladder, and the projected savings vs a flat 64-bit slot in
    * exact ppm. Low-cardinality columns (returnflag: 3 values → 2 bits)
    * are the compression jackpots; key columns barely dictionary at
    * all — exactly the contrast the table shows. One unpivoted scan +
    * one (col, value) aggregate; the per-column frames never exceed
    * column cardinality.
    */
  def dictAudit(lineitem: DataFrame): DataFrame = {
    import graft.functions.PortableSql.bitLen
    val tall = lineitem.selectExpr(
      s"""stack(${DictCols.length}, ${DictCols.map(c =>
           s"'$c', CAST($c AS STRING)").mkString(", ")}) AS (col, v)""")
    tall.groupBy(col("col"))
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("v")).as("n_distinct"))
      .withColumn("dict_bits", expr(s"CAST(${bitLen("n_distinct", 40)} AS BIGINT)"))
      .withColumn("savings_ppm", expr("(64 - dict_bits) * 1000000 DIV 64"))
  }

  /** Deterministic point-lookup key for the bucket-pruning audit. */
  val BucketProbeKey = 37L

  /** Bucket-PRUNING point lookup — the read-path payoff the bucketed
    * layout buys beyond zero-exchange joins: an equality filter on the
    * bucket key scans ONE of the [[Buckets]] buckets
    * (`SelectedBucketsCount: 1 out of 8` in the scan node, spec-pinned),
    * so a key probe touches 1/8th of the files no matter the table
    * size. The oracle runs the same filter+aggregate on the raw table —
    * layout changes the plan, never the answer.
    */
  def bucketPointLookup(spark: SparkSession, dir: String): DataFrame = {
    warmBucketedTables(spark, dir)
    // autoBucketedScan drops the bucketed read when no operator needs
    // the distribution — which also forfeits bucket PRUNING, the whole
    // point here. Pin it off just for PLANNING (forcing executedPlan
    // freezes the scan node; AQE never revisits scan bucketing).
    RunOnce.withConf(spark,
        Map("spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")) {
      val df = spark.table("orders_bkt")
        .filter(col("o_custkey") === BucketProbeKey)
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("total_cents"))
        .select(lit(BucketProbeKey).as("o_custkey"), col("n_orders"),
          coalesce(col("total_cents"), lit(0L)).as("total_cents"))
      df.queryExecution.executedPlan // freeze the pruned scan
      df
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bucket_prune" -> ((s, dir) => bucketPointLookup(s, dir)),
    "q_dict_audit" -> ((s, dir) => dictAudit(Tables.lineitem(s, dir))),
    "q_bloom_fpr" -> ((s, dir) => bloomFpr(Tables.part(s, dir))),
    "q_skew_audit" -> ((s, dir) => skewAudit(Tables.lineitem(s, dir))),
    "q_bitmap_distinct" -> ((s, dir) => bitmapDistinct(Tables.events(s, dir))),
    "q_interval_join" -> ((s, dir) => intervalJoinBucketed(s, dir)),
    "q_interval_join_auto" -> ((s, dir) => intervalJoinAuto(s, dir)),
    "q_cm_join_size" -> ((s, dir) => cmJoinSize(s, dir)),
    "q_kmv_distinct" -> ((s, dir) => kmvDistinct(s, dir)),
    "q_kmv_overlap" -> ((s, dir) => kmvOverlap(s, dir)),
    "q_cm_sketch" -> ((s, dir) => cmEstimates(s, dir)),
    "q_heavy_hitters" -> ((s, dir) => heavyHitters(s, dir)),
    "q_heavy_per_source" -> ((s, dir) => heavyPerSource(s, dir)),
    "q_bloom_join" -> ((s, dir) => bloomPrunedJoin(s, dir)),
    "q_bucketed_join" -> ((s, dir) => bucketedSegmentRevenue(s, dir)),
    "q_salted_agg" -> ((s, dir) => saltedStatusRevenue(s, dir)),
    "q_salted_join" -> ((s, dir) => saltedSkewJoin(s, dir)),
    "q_skew_aqe" -> ((s, dir) => aqeSkewJoin(s, dir)),
    // A9: HLL approximate distinct. Raw sketch counts differ between
    // engines (different HLL impls), so the oracle-checked claim is the
    // accuracy INVARIANT: each engine's own estimate lands within 5% of
    // the exact distinct count. rsd=0.02: the default 0.05 (~1-sigma 5%)
    // missed deterministically at sf0.01 (6.67%), while 0.02 measures
    // 0.0-0.6% error at every SF — 8x margin — and its sketch costs a
    // fraction of the rsd=0.01 one this query shipped with (which alone
    // was ~1.5s of the bench: register count grows ~1/rsd^2).
    "q_approx_distinct" -> ((s, dir) => {
      // r20: the former one-shot countDistinct + approx_count_distinct
      // planned a multi-distinct Expand (every row duplicated through the
      // exchange) and ran the HLL partial aggregate on EVERY scan task —
      // and an rsd=0.02 HLL buffer is hundreds of long columns, whose
      // UnsafeProjection source text each task must re-render before the
      // codegen cache can even be consulted (measured: ~0.3 CPU-s per
      // task of pure code-text construction, 21 tasks). HLL registers
      // are duplicate-insensitive, so aggregating over the DISTINCT keys
      // is value-identical: exact = count of distinct non-null keys,
      // approx = the same register states the raw rows would set. The
      // distinct is a map-side partial aggregate (shuffles unique keys,
      // no Expand, §2.3), and the wide HLL buffer exists only on the
      // few post-shuffle tasks. balanced keeps the single-row-group scan
      // parallel (r19: keyed on the unique order id for pruning).
      Tables.balanced(s, Tables.orders(s, dir), Seq("o_orderkey"))
        .select(col("o_custkey")).distinct().agg(
          count(col("o_custkey")).as("exact_custs"),
          approx_count_distinct(col("o_custkey"), 0.02).as("approx"))
        .select(col("exact_custs"),
          (abs(col("approx") - col("exact_custs")).cast("double") /
            col("exact_custs") <= 0.05).as("approx_within_5pct"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q_bucket_prune" ->
      s"""SELECT CAST($BucketProbeKey AS BIGINT) AS o_custkey,
         | count(*) AS n_orders,
         | CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0)
         |   AS BIGINT) AS total_cents
         |FROM orders WHERE o_custkey = $BucketProbeKey""".stripMargin,

    "q_dict_audit" -> {
      import graft.functions.PortableSql.bitLen
      val tall = DictCols.map(c =>
        s"SELECT '$c' AS col, CAST($c AS VARCHAR) AS v FROM lineitem")
        .mkString("\n  UNION ALL ")
      s"""WITH tall AS ($tall),
         | g AS (SELECT col, count(*) AS n_rows,
         |   count(DISTINCT v) AS n_distinct FROM tall GROUP BY 1)
         |SELECT col, n_rows, n_distinct,
         | CAST(${bitLen("n_distinct", 40)} AS BIGINT) AS dict_bits,
         | (64 - CAST(${bitLen("n_distinct", 40)} AS BIGINT)) * 1000000 // 64
         |   AS savings_ppm
         |FROM g""".stripMargin
    },

    "q_bloom_fpr" -> {
      val m = BloomBits
      s"""WITH members AS (SELECT p_partkey AS p FROM part WHERE p_size <= 25),
         | hs AS (SELECT unnest([(p * 2654435761) % $m,
         |   (p * 40503 + 12345) % $m]) AS h FROM members),
         | words AS MATERIALIZED (SELECT h // 32 AS block,
         |   bit_or(${bitmapLane("h", duck = true)}) AS word
         |  FROM hs GROUP BY 1),
         | probes AS (SELECT p_partkey AS p, p_size <= 25 AS member,
         |   (p_partkey * 2654435761) % $m AS hp1,
         |   (p_partkey * 40503 + 12345) % $m AS hp2 FROM part),
         | tested AS (SELECT member,
         |   coalesce((w1.word // (${bitmapLane("hp1", duck = true)})) % 2, 0) = 1
         |   AND coalesce((w2.word // (${bitmapLane("hp2", duck = true)})) % 2, 0) = 1
         |     AS hit
         |  FROM probes
         |  LEFT JOIN words w1 ON hp1 // 32 = w1.block
         |  LEFT JOIN words w2 ON hp2 // 32 = w2.block)
         |SELECT CAST($m AS BIGINT) AS m_bits,
         | CAST(sum(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
         | CAST(sum(CASE WHEN member THEN 0 ELSE 1 END) AS BIGINT) AS n_nonmembers,
         | CAST(sum(CASE WHEN member AND NOT hit THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_member_miss,
         | CAST(sum(CASE WHEN NOT member AND hit THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_false_pos,
         | CAST(sum(CASE WHEN NOT member AND hit THEN 1 ELSE 0 END) AS BIGINT)
         |   * 1000000 // CAST(sum(CASE WHEN member THEN 0 ELSE 1 END) AS BIGINT)
         |   AS fpr_ppm
         |FROM tested""".stripMargin
    },

    "q_skew_audit" -> {
      import graft.functions.PortableSql.bitLen
      s"""WITH pk AS (SELECT l_partkey, count(*) AS cnt
         |  FROM lineitem GROUP BY 1),
         | tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot,
         |   count(*) AS n_keys, max(cnt) AS max_cnt FROM pk),
         | b AS (SELECT CAST(${bitLen("cnt", 40)} AS BIGINT) AS cnt_bits,
         |   count(*) AS bucket_keys, CAST(sum(cnt) AS BIGINT) AS bucket_rows
         |  FROM pk GROUP BY 1)
         |SELECT cnt_bits, bucket_keys, bucket_rows,
         | bucket_rows * 1000000 // tot AS rows_ppm,
         | max_cnt * 1000000 // (tot // n_keys) AS skew_ratio_ppm
         |FROM b, tot""".stripMargin
    },

    // the oracle is the NAIVE distinct — proving the bitmap-block
    // arithmetic computes exactly it (the bucketed-join proof pattern)
    "q_bitmap_distinct" ->
      """SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        | count(DISTINCT user_id) AS n_users,
        | count(DISTINCT user_id // 32) AS n_blocks
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_cm_join_size" -> {
      import graft.functions.CountMinAggregate.{cellSql, Depth}
      def cells(src: String) = (0 until Depth)
        .map(d => s"SELECT $d AS d, ${cellSql("k", d)} AS cell, count(*) AS n FROM $src GROUP BY 2")
        .mkString("\n  UNION ALL ")
      val spine = (0 until Depth).map(d => s"($d)").mkString(", ")
      s"""WITH p AS (SELECT user_id AS k FROM events WHERE event_type = 'purchase'),
         | c AS (SELECT user_id AS k FROM events WHERE event_type = 'click'),
         | ca AS (${cells("p")}),
         | cb AS (${cells("c")}),
         | prods AS (SELECT ca.d, CAST(sum(ca.n * cb.n) AS BIGINT) AS s
         |  FROM ca JOIN cb ON ca.d = cb.d AND ca.cell = cb.cell GROUP BY 1),
         | est AS (SELECT min(coalesce(prods.s, 0)) AS cm_est
         |  FROM (VALUES $spine) spine(d) LEFT JOIN prods ON spine.d = prods.d),
         | ex AS (SELECT CAST(coalesce(sum(a.n * b.n), 0) AS BIGINT) AS exact_size
         |  FROM (SELECT k, count(*) AS n FROM p GROUP BY 1) a
         |  JOIN (SELECT k, count(*) AS n FROM c GROUP BY 1) b ON a.k = b.k)
         |SELECT exact_size, CAST(cm_est AS BIGINT) AS cm_est,
         | CAST(CASE WHEN cm_est >= exact_size THEN 1 ELSE 0 END AS INT)
         |   AS never_underestimates
         |FROM ex, est""".stripMargin
    },

    // Same relational answer as q_interval_join — the rule-rewritten
    // naive join must agree with the hand-bucketed plan AND the oracle.
    "q_interval_join_auto" ->
      """WITH w AS (SELECT o_orderkey AS win_id,
        |   epoch_ms(o_orderdate) // 86400000 AS d0,
        |   epoch_ms(o_orderdate) // 86400000 + 6 AS d1
        |  FROM orders WHERE o_orderkey % 1000 = 0),
        | c AS (SELECT win_id, count(*) AS n
        |  FROM w JOIN lineitem
        |    ON epoch_ms(l_shipdate) // 86400000 BETWEEN d0 AND d1
        |  GROUP BY 1)
        |SELECT w.win_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_shipments
        |FROM w LEFT JOIN c ON w.win_id = c.win_id""".stripMargin,

    // The oracle is the PLAIN inequality join the bucketed plan rewrites.
    "q_interval_join" ->
      """WITH w AS (SELECT o_orderkey AS win_id,
        |   epoch_ms(o_orderdate) // 86400000 AS d0,
        |   epoch_ms(o_orderdate) // 86400000 + 6 AS d1
        |  FROM orders WHERE o_orderkey % 1000 = 0),
        | c AS (SELECT win_id, count(*) AS n
        |  FROM w JOIN lineitem
        |    ON epoch_ms(l_shipdate) // 86400000 BETWEEN d0 AND d1
        |  GROUP BY 1)
        |SELECT w.win_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_shipments
        |FROM w LEFT JOIN c ON w.win_id = c.win_id""".stripMargin,
    // KMV: the oracle recomputes the k-th smallest distinct hash with a
    // rank window and must hit the sketch's integer estimate exactly
    "q_kmv_distinct" -> {
      val M = 1000000007L
      val h = graft.functions.PortableSql.seedLadderSql("k", M)
      s"""WITH keys AS (SELECT DISTINCT l_returnflag AS flag, l_partkey AS k
         |   FROM lineitem),
         | ex AS (SELECT flag, count(*) AS exact_d FROM keys GROUP BY 1),
         | hs AS (SELECT DISTINCT flag, $h AS h FROM keys),
         | r AS (SELECT flag, h,
         |    row_number() OVER (PARTITION BY flag ORDER BY h) AS rn,
         |    count(*) OVER (PARTITION BY flag) AS nh
         |   FROM hs),
         | est AS (SELECT flag,
         |    CASE WHEN max(nh) < $KmvK THEN max(nh)
         |         ELSE CAST(${KmvK - 1} AS BIGINT) * $M // max(CASE WHEN rn = $KmvK THEN h END)
         |    END AS kmv_est
         |   FROM r GROUP BY 1)
         |SELECT flag, exact_d, kmv_est,
         | CAST(abs(kmv_est - exact_d) * 1.0 / exact_d <= 0.5 AS INT)
         |   AS within_4sigma
         |FROM ex JOIN est USING (flag)""".stripMargin
    },

    // KMV set operations: the oracle rebuilds every pair's union sketch
    // relationally (rank windows, no list functions) and must reproduce
    // each integer estimate exactly
    "q_kmv_overlap" -> {
      val M = KmvOverlapM
      val k = KmvK
      val h = graft.functions.PortableSql.seedLadderSql("u", M)
      s"""WITH keys AS (SELECT DISTINCT event_type AS t, user_id AS u FROM events),
         | d AS (SELECT t, count(*) AS nd FROM keys GROUP BY 1),
         | ex AS (SELECT a.t AS src_a, b.t AS src_b, count(*) AS exact_inter
         |   FROM keys a JOIN keys b ON a.u = b.u AND a.t < b.t GROUP BY 1, 2),
         | hs AS (SELECT DISTINCT t, $h AS h FROM keys),
         | r AS (SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rn
         |   FROM hs),
         | sk AS (SELECT t, h FROM r WHERE rn <= $k),
         | pr AS (SELECT a.t AS src_a, b.t AS src_b FROM d a JOIN d b ON a.t < b.t),
         | pu AS (SELECT src_a, src_b, h,
         |    row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS urn
         |   FROM (SELECT DISTINCT pr.src_a, pr.src_b, s.h
         |     FROM pr JOIN sk s ON s.t = pr.src_a OR s.t = pr.src_b) z),
         | u AS (SELECT * FROM pu WHERE urn <= $k),
         | agg AS (SELECT u.src_a, u.src_b,
         |    CAST(count(*) AS BIGINT) AS ku,
         |    max(CASE WHEN urn = $k THEN u.h END) AS kth,
         |    CAST(sum(CASE WHEN ia.h IS NOT NULL AND ib.h IS NOT NULL
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_both
         |   FROM u LEFT JOIN sk ia ON ia.t = u.src_a AND ia.h = u.h
         |          LEFT JOIN sk ib ON ib.t = u.src_b AND ib.h = u.h
         |   GROUP BY 1, 2),
         | est AS (SELECT src_a, src_b, ku, n_both,
         |    CASE WHEN ku < $k THEN ku
         |         ELSE CAST(${k - 1} AS BIGINT) * $M // kth END AS est_union
         |   FROM agg)
         |SELECT est.src_a, est.src_b,
         | coalesce(ex.exact_inter, 0) AS exact_inter,
         | da.nd + db.nd - coalesce(ex.exact_inter, 0) AS exact_union,
         | ku, n_both, est_union,
         | n_both * est_union // ku AS est_inter,
         | n_both * 1000000 // ku AS jaccard_est_ppm,
         | CAST(abs(est_union - (da.nd + db.nd - coalesce(ex.exact_inter, 0)))
         |   * 1.0 / (da.nd + db.nd - coalesce(ex.exact_inter, 0)) <= 0.5 AS INT)
         |   AS within_4sigma
         |FROM est
         |LEFT JOIN ex ON est.src_a = ex.src_a AND est.src_b = ex.src_b
         |JOIN d da ON da.t = est.src_a
         |JOIN d db ON db.t = est.src_b""".stripMargin
    },

    // CM is linear, so the oracle rebuilds the probed cells relationally
    // and matches the sketch's estimates EXACTLY
    "q_cm_sketch" -> {
      import graft.functions.CountMinAggregate.{cellSql, Depth}
      val rows = (0 until Depth).map(d =>
        s""" c$d AS (SELECT ${cellSql("k", d)} AS cell, count(*) AS cnt
           |   FROM keyed GROUP BY 1)""".stripMargin).mkString(",\n")
      val joins = (0 until Depth).map(d =>
        s"LEFT JOIN c$d x$d ON x$d.cell = ${cellSql("p.k", d)}").mkString("\n ")
      val least = (0 until Depth).map(d => s"coalesce(x$d.cnt, 0)").mkString(", ")
      s"""WITH keyed AS (SELECT CASE WHEN o_orderkey % 2 = 0 THEN 0
         |   ELSE o_custkey END AS k FROM orders),
         |$rows,
         | probes AS (SELECT CAST(k AS BIGINT) AS k
         |   FROM (VALUES ${CmProbes.map(k => s"($k)").mkString(", ")}) v(k)),
         | exact AS (SELECT k, count(*) AS cnt FROM keyed GROUP BY k)
         |SELECT p.k, CAST(coalesce(e.cnt, 0) AS BIGINT) AS exact_cnt,
         | CAST(least($least) AS BIGINT) AS cm_est,
         | CAST(least($least) >= coalesce(e.cnt, 0) AS INT) AS never_undercounts
         |FROM probes p
         | LEFT JOIN exact e ON e.k = p.k
         | $joins""".stripMargin
    },

    // the sketch is engine-local; the oracle asserts its GUARANTEE: the
    // exact heavy set (computable relationally) is always caught within
    // the n/(K+1) undercount bound, so those flags are provably 1
    "q_heavy_hitters" ->
      s"""WITH keyed AS (SELECT CASE WHEN o_orderkey % 2 = 0 THEN 0
         |   ELSE o_custkey END AS k FROM orders),
         | tot AS (SELECT count(*) AS n FROM keyed),
         | heavy AS (SELECT k, count(*) AS cnt FROM keyed GROUP BY k
         |   HAVING count(*) * ${MgCapacity + 1} > (SELECT n FROM tot))
         |SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n_rows,
         | count(*) AS n_heavy,
         | 1 AS all_heavy_found, 1 AS undercount_within_bound
         |FROM heavy""".stripMargin,

    // grouped MG: one guarantee row per source; the planted key-0 mass
    // (~1/3) is provably heavy, so flags are provably 1 per group and
    // groups whose heavy set would be empty cannot occur by construction
    "q_heavy_per_source" -> {
      val h = graft.functions.PortableSql.strHash("w")
      s"""WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS w
         |   FROM documents),
         | keyed AS (SELECT source,
         |   CASE WHEN h % 3 = 0 THEN 0 ELSE h END AS k
         |   FROM (SELECT source, $h AS h FROM w) h0),
         | tot AS (SELECT source, count(*) AS n FROM keyed GROUP BY 1),
         | cnts AS (SELECT source, k, count(*) AS cnt FROM keyed GROUP BY 1, 2)
         |SELECT c.source, CAST(t.n AS BIGINT) AS n_rows,
         | count(*) AS n_heavy,
         | 1 AS all_heavy_found, 1 AS undercount_within_bound
         |FROM cnts c JOIN tot t USING (source)
         |WHERE c.cnt * ${MgCapacity + 1} > t.n
         |GROUP BY 1, 2""".stripMargin
    },

    // the bloom is pruning-only: false positives die in the exact join,
    // so the plain join IS the oracle
    "q_bloom_join" ->
      """SELECT p_name, count(*) AS n_items,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size = 1
        |GROUP BY p_name""".stripMargin,

    "q_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q_salted_agg" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "q_salted_join" ->
      """SELECT CASE o_orderkey % 3 WHEN 0 THEN 'alpha' WHEN 1 THEN 'beta'
        |   ELSE 'gamma' END AS tier,
        | count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1""".stripMargin,

    // AQE's runtime skew split is plan-only — the oracle is the plain
    // join algebra over the same hot-key projection
    "q_skew_aqe" ->
      """SELECT CASE k % 3 WHEN 0 THEN 'alpha' WHEN 1 THEN 'beta'
        |   ELSE 'gamma' END AS tier,
        | count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM (SELECT CASE WHEN o_orderkey % 8 <> 7 THEN 0
        |       ELSE o_orderkey % 97 END AS k, o_totalprice
        |      FROM orders) f
        |GROUP BY 1""".stripMargin,

    "q_approx_distinct" ->
      """SELECT count(DISTINCT o_custkey) AS exact_custs,
        | abs(approx_count_distinct(o_custkey) - count(DISTINCT o_custkey))
        |   / CAST(count(DISTINCT o_custkey) AS DOUBLE) <= 0.05
        |   AS approx_within_5pct
        |FROM orders""".stripMargin
  )
}
