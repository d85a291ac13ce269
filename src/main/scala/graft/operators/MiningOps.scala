package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.RunOnce.materialize
import graft.Tables

/** Behavioral mining over the warehouse — the segmentation and
  * co-occurrence analyses the reference's BI layer implies (customer
  * tiles + channel mix on the dashboard, README.md:83-97), computed
  * natively.
  */
object MiningOps {

  /** RFM customer segmentation: per-customer recency (latest order day),
    * frequency (order count), monetary (exact cents), each cut into
    * quartiles by `ntile(4)` under a deterministic (metric, custkey)
    * total order, then counted per 3-digit RFM code. One shuffle builds
    * the per-customer frame; the three ntile windows run over that
    * one-row-per-customer frame, not the fact table. At 100 TB the exact
    * ntile swaps for approx-quantile cut points broadcast against the
    * same frame (sketch-cut segmentation); the code structure — metrics
    * pass, cut pass, code rollup — is the deployment shape.
    */
  def rfmSegments(orders: DataFrame): DataFrame = {
    val m = orders.groupBy(col("o_custkey").as("cust"))
      .agg(max(expr("CAST(o_orderdate AS DATE)")).as("last_day"),
        count(lit(1)).as("f"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("m"))
      .select(col("cust"), datediff(col("last_day"), lit("1970-01-01")).as("r"),
        col("f"), col("m"))
    def quart(c: String) =
      ntile(4).over(Window.orderBy(col(c).asc, col("cust").asc))
    m.select(col("cust"),
        quart("r").as("r_q"), quart("f").as("f_q"), quart("m").as("m_q"))
      .groupBy((col("r_q") * 100 + col("f_q") * 10 + col("m_q")).as("rfm_code"))
      .agg(count(lit(1)).as("customers"))
  }

  /** Range-bucket count for the distributed-selection RFM variant. */
  val RfmCutBuckets = 256

  /** RFM segmentation WITHOUT the global ntile window — the 100 TB swap
    * rfmSegments' scaladoc promises. Cut points (the values at global
    * ranks ceil(kN/4), k = 1..3, under the (v, cust) total order) are
    * found by EXACT distributed selection: range-bucket the metric
    * values (256 buckets), aggregate per-bucket counts, prefix-sum them
    * with a tiny bucket×bucket theta-join (≤256² rows — no window at
    * all), locate the bucket holding each target rank, then take the
    * local order statistic with a row_number PARTITIONED by
    * (metric, cut) — the plan's only windows run over single buckets,
    * never the corpus. This beats the approx-percentile sketch the
    * in-code note first suggested: same no-global-sort bound, but the
    * cut points are exact, so the DuckDB oracle pins them bit-for-bit
    * (sketches are not cross-engine reproducible).
    *
    * Tile semantics differ from ntile at TIES by design (sketch/cut
    * segmentation puts equal values in one tile; ntile splits them by
    * cust to equalize tile sizes), so this is a SIBLING query row with
    * its own oracle, not a drop-in ntile replacement: tile(v) =
    * 1 + #{k : v > cut_k}.
    */
  def rfmSegmentsCuts(orders: DataFrame): DataFrame = {
    val b = RfmCutBuckets
    val m = orders.groupBy(col("o_custkey").as("cust"))
      .agg(max(expr("CAST(o_orderdate AS DATE)")).as("last_day"),
        count(lit(1)).as("f"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("m"))
      .select(col("cust"), datediff(col("last_day"), lit("1970-01-01")).as("r"),
        col("f"), col("m"))
    val mf = m.selectExpr("cust",
      """stack(3, 'r', CAST(r AS BIGINT), 'f', CAST(f AS BIGINT),
        |         'm', CAST(m AS BIGINT)) AS (metric, v)""".stripMargin)
    val st = mf.groupBy("metric")
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"),
        count(lit(1)).as("n"))
    // bucket ids are monotone in v and tie-stable (equal v ⇒ equal bkt),
    // so earlier buckets hold strictly smaller values — the invariant
    // the rank arithmetic below rides on
    val mb = mf.join(broadcast(st), "metric")
      .withColumn("bkt", expr(s"((v - mn) * $b) DIV (mx - mn + 1)"))
      .select(col("metric"), col("cust"), col("v"), col("bkt"))
    val bc = mb.groupBy("metric", "bkt").agg(count(lit(1)).as("cnt"))
    val cum = bc.as("a").join(bc.as("b"),
        col("a.metric") === col("b.metric") && col("b.bkt") <= col("a.bkt"))
      .groupBy(col("a.metric").as("metric"), col("a.bkt").as("bkt"))
      .agg(sum(col("b.cnt")).as("cum"), max(col("a.cnt")).as("cnt"))
    val ranks = st.selectExpr("metric", "n", "explode(array(1, 2, 3)) AS k")
      .withColumn("rk", expr("(k * n + 3) DIV 4"))
    // the bucket containing global rank rk, and the rank's offset in it
    val cb = ranks.join(cum, "metric").filter(col("cum") >= col("rk"))
      .groupBy("metric", "k", "rk")
      .agg(min_by(struct(col("bkt"), col("cum"), col("cnt")), col("bkt")).as("s"))
      .select(col("metric"), col("k"),
        col("s.bkt").as("bkt"),
        (col("rk") - (col("s.cum") - col("s.cnt"))).as("local_rk"))
    val w = Window.partitionBy(col("metric"), col("k"))
      .orderBy(col("v").asc, col("cust").asc)
    val cuts = cb.join(mb, Seq("metric", "bkt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === col("local_rk"))
      .select(col("metric"), col("v").as("cut"))
    val tiles = mf.join(broadcast(cuts), "metric")
      .groupBy("cust", "metric")
      .agg((lit(1) + sum(when(col("v") > col("cut"), 1).otherwise(0))).as("tile"))
    tiles.groupBy("cust")
      .agg((max(when(col("metric") === "r", col("tile"))) * 100 +
        max(when(col("metric") === "f", col("tile"))) * 10 +
        max(when(col("metric") === "m", col("tile")))).cast("long").as("rfm_code"))
      .groupBy("rfm_code").agg(count(lit(1)).as("customers"))
  }

  /** Market-basket co-purchase: brand pairs appearing on the same order.
    * Reduce FIRST, pair SECOND: one broadcast join tags each line's
    * brand, a distinct collapses to (order, brand) — the frame the pair
    * join actually needs, bounded by distinct brands per basket — and
    * only then the self-join emits ordered pairs (b1 < b2 directly, so
    * no least/greatest normalize and no post-join dedup). Pair counts
    * stay linear in orders x brands-per-basket²; pairing partkey-level
    * lines and deduping afterwards measured ~3x the task CPU for the
    * same answer.
    */
  /** Sorted distinct brand set per order — ONE shuffle on the order key
    * (map-side partial collect_set), subsuming the former
    * (order, brand)-distinct shuffle. The basket arrays are tiny
    * (brands-per-basket elements), so the per-order row is narrower than
    * the incidence rows it replaces. Shared by the whole co-purchase
    * family (coPurchase, assocRules, GraphOps' edge builders).
    */
  private[operators] def orderBrandSets(spark: SparkSession, dir: String): DataFrame = {
    val brands = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"))
    // NOT balanced: measured at sf0.1, repartitioning the scan made this
    // SLOWER (3.0s -> 3.9-4.7s; task cpu 2.9s -> 11.6s) — the wall here
    // is dominated by cold whole-stage-codegen compile (process cpu 8.5s
    // vs task cpu 2.9s), which extra exchanges only add stages to. At
    // multi-row-group scale the scan parallelizes by itself.
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .join(broadcast(brands), col("pk") === col("p_partkey"))
      .groupBy(col("ok"))
      .agg(sort_array(collect_set(col("p_brand"))).as("bs"))
  }

  /** Ordered (b1 < b2) brand pairs expanded per basket from the sorted
    * set array — the map-side replacement for the incidence self-join
    * (r19 optimization): the former plan re-shuffled the distinct
    * incidence onto the order key for BOTH join arms and joined (4
    * Exchanges, 1 join); expanding i<j pairs from the per-order array is
    * shuffle-free, so the pair aggregate is the only exchange left after
    * [[orderBrandSets]]' one. Pair volume is unchanged — ordered pairs
    * within each basket — so counts match the join form exactly.
    */
  private[operators] def basketPairs(sets: DataFrame): DataFrame =
    sets.select(explode(expr(
        "flatten(transform(bs, (x, i) -> " +
        "transform(slice(bs, i + 2, size(bs) - i - 1), " +
        "y -> struct(x AS b1, y AS b2))))")).as("pr"))
      .select(col("pr.b1").as("b1"), col("pr.b2").as("b2"))

  def coPurchase(spark: SparkSession, dir: String): DataFrame =
    basketPairs(orderBrandSets(spark, dir))
      .groupBy(col("b1"), col("b2"))
      .agg(count(lit(1)).as("n_orders"))

  /** Directed association rules a => b over the brand co-purchase
    * incidence — the market-basket classic (Agrawal et al. SIGMOD'93)
    * scored in EXACT integer ppm: confidence = P(b | a) as
    * `n_ab * 1e6 DIV n_a`, lift = confidence / P(b) computed as the
    * NESTED truncating division `conf_ppm * n_total DIV n_b` — nesting
    * (rather than one big product) keeps every intermediate under
    * conf_ppm·|orders| ~ 2^50 even at cluster-scale order counts, where
    * the naive `n_ab · n_total · 1e6` overflows int64. Both directions
    * of each unordered pair are emitted (confidence is asymmetric; lift
    * is shared). Shape: one distinct + self-join for pair supports (the
    * q_copurchase plan), one |brands|-row support aggregate broadcast
    * back, a 1-row total broadcast — nothing beyond the pair join grows
    * with data volume.
    */
  def assocRules(spark: SparkSession, dir: String): DataFrame = {
    // one basket-array frame feeds all three faces (pairs, per-brand
    // supports, order total): one row per order, tiny arrays
    val sets = materialize(orderBrandSets(spark, dir))
    val pair = basketPairs(sets)
      .groupBy(col("b1"), col("b2"))
      .agg(count(lit(1)).as("n_ab"))
    val both = pair.select(col("b1").as("antecedent"), col("b2").as("consequent"), col("n_ab"))
      .unionByName(pair.select(col("b2").as("antecedent"), col("b1").as("consequent"), col("n_ab")))
    val single = sets.select(explode(col("bs")).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("n_b"))
    val tot = sets.agg(count(lit(1)).as("n_total"))
    both
      .join(broadcast(single.select(col("b").as("antecedent"), col("n_b").as("n_a"))), "antecedent")
      .join(broadcast(single.select(col("b").as("consequent"), col("n_b"))), "consequent")
      .crossJoin(broadcast(tot))
      .withColumn("conf_ppm", expr("n_ab * 1000000 DIV n_a"))
      .withColumn("lift_ppm", expr("conf_ppm * n_total DIV n_b"))
      .select(col("antecedent"), col("consequent"), col("n_ab"), col("n_a"),
        col("n_b"), col("conf_ppm"), col("lift_ppm"))
  }

  /** Per-segment repurchase-interval summary — the customer-lifecycle
    * metric (how long until a customer orders again) sliced by market
    * segment: per-customer inter-order gaps via ONE lag window
    * partitioned by customer, then the per-segment DOUBLED median (two
    * central order statistics summed — division-free, the
    * q_conversion_lag trick) plus max and count. Ties in the gap sort
    * share their value, so the rank selection is deterministic
    * cross-engine even where row identity is not. Windows: customer-
    * partitioned lag, segment-partitioned rank — never global.
    */
  def repurchaseGaps(orders: DataFrame, customer: DataFrame): DataFrame = {
    val o = orders.select(col("o_custkey").as("cust"),
      expr("CAST(o_orderdate AS DATE)").as("d"), col("o_orderkey").as("ok"))
    val wc = Window.partitionBy(col("cust")).orderBy(col("d"), col("ok"))
    val gaps = o.withColumn("prev", lag(col("d"), 1).over(wc))
      .filter(col("prev").isNotNull)
      .select(col("cust"), datediff(col("d"), col("prev")).cast("long").as("gap"))
    val seg = customer.select(col("c_custkey").as("cust"),
      col("c_mktsegment").as("segment"))
    val ws = Window.partitionBy(col("segment"))
    val r = gaps.join(broadcast(seg), "cust")
      .withColumn("rn", row_number().over(ws.orderBy(col("gap"), col("cust"))))
      .withColumn("n", count(lit(1)).over(ws))
    r.groupBy(col("segment")).agg(
      max(col("n")).as("n_gaps"),
      max(col("gap")).as("max_gap_days"),
      (sum(when(col("rn") === expr("(n + 1) DIV 2"), col("gap")).otherwise(0L)) +
        sum(when(col("rn") === expr("(n + 2) DIV 2"), col("gap")).otherwise(0L)))
        .as("p50x2_gap_days"))
  }

  /** Revenue-concentration (Pareto) audit per brand tier — how much of
    * the order book the top TWENTY percent of suppliers carry: supplier
    * revenue (exact cents) ranked once over the DIM-SIZED supplier
    * frame, the 80/20 cut at ceil(n/5), shares in exact ppm. The only
    * window runs over one-row-per-supplier; the fact table contributes
    * a single map-side-combined aggregate.
    */
  def supplierPareto(lineitem: DataFrame): DataFrame = {
    // `rev` feeds both the scalar total and the ranked scan
    val rev = materialize(lineitem.groupBy(col("l_suppkey").as("sk"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("cents")))
    val tot = rev.agg(count(lit(1)).as("n"), sum(col("cents")).as("tot"))
    rev
      .withColumn("rn", row_number().over(
        Window.orderBy(col("cents").desc, col("sk").asc)))
      .crossJoin(broadcast(tot))
      .agg(max(col("n")).as("n_suppliers"),
        max(expr("(n + 4) DIV 5")).as("top_n"),
        max(col("tot")).as("total_cents"),
        sum(when(col("rn") <= expr("(n + 4) DIV 5"), col("cents")).otherwise(0L))
          .as("top_cents"))
      .withColumn("top_share_ppm", expr("top_cents * 1000000 DIV total_cents"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_rfm" -> ((s, dir) => rfmSegments(Tables.orders(s, dir))),
    "q_rfm_cuts" -> ((s, dir) => rfmSegmentsCuts(Tables.orders(s, dir))),
    "q_copurchase" -> ((s, dir) => coPurchase(s, dir)),
    "q_assoc_rules" -> ((s, dir) => assocRules(s, dir)),
    "q_repurchase_gaps" -> ((s, dir) =>
      repurchaseGaps(Tables.orders(s, dir), Tables.customer(s, dir))),
    "q_supplier_pareto" -> ((s, dir) => supplierPareto(Tables.lineitem(s, dir)))
  )

  def oracleSql: Map[String, String] = Map(
    "q_rfm" ->
      """WITH m AS (SELECT o_custkey AS cust,
        |   CAST(date_diff('day', DATE '1970-01-01',
        |     CAST(max(o_orderdate) AS DATE)) AS INT) AS r,
        |   count(*) AS f,
        |   sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS m
        |  FROM orders GROUP BY 1),
        |q AS (SELECT cust,
        |   ntile(4) OVER (ORDER BY r, cust) AS r_q,
        |   ntile(4) OVER (ORDER BY f, cust) AS f_q,
        |   ntile(4) OVER (ORDER BY m, cust) AS m_q
        |  FROM m)
        |SELECT r_q * 100 + f_q * 10 + m_q AS rfm_code,
        |       count(*) AS customers
        |FROM q GROUP BY 1""".stripMargin,

    // the oracle reproduces the cut ranks with a plain window (DuckDB at
    // sf0.01 — no scale constraint); the ENGINE is what must avoid it
    "q_rfm_cuts" ->
      """WITH m AS (SELECT o_custkey AS cust,
        |   CAST(date_diff('day', DATE '1970-01-01',
        |     CAST(max(o_orderdate) AS DATE)) AS INT) AS r,
        |   count(*) AS f,
        |   sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS m
        |  FROM orders GROUP BY 1),
        |mf AS (SELECT cust, 'r' AS metric, CAST(r AS BIGINT) AS v FROM m
        |  UNION ALL SELECT cust, 'f', CAST(f AS BIGINT) FROM m
        |  UNION ALL SELECT cust, 'm', CAST(m AS BIGINT) FROM m),
        |st AS (SELECT metric, count(*) AS n FROM mf GROUP BY 1),
        |rk AS (SELECT metric, k, (k * n + 3) // 4 AS rk
        |  FROM st CROSS JOIN (VALUES (1), (2), (3)) t(k)),
        |ordered AS (SELECT metric, v,
        |   row_number() OVER (PARTITION BY metric ORDER BY v, cust) AS rn
        |  FROM mf),
        |cuts AS (SELECT r.metric, o.v AS cut
        |  FROM rk r JOIN ordered o ON o.metric = r.metric AND o.rn = r.rk),
        |tiles AS (SELECT cust, metric,
        |   1 + sum(CASE WHEN v > cut THEN 1 ELSE 0 END) AS tile
        |  FROM mf JOIN cuts USING (metric) GROUP BY 1, 2),
        |codes AS (SELECT cust,
        |   CAST(max(CASE WHEN metric = 'r' THEN tile END) * 100 +
        |        max(CASE WHEN metric = 'f' THEN tile END) * 10 +
        |        max(CASE WHEN metric = 'm' THEN tile END) AS BIGINT) AS rfm_code
        |  FROM tiles GROUP BY 1)
        |SELECT rfm_code, count(*) AS customers FROM codes GROUP BY 1""".stripMargin,

    "q_repurchase_gaps" ->
      """WITH o AS (SELECT o_custkey AS cust, CAST(o_orderdate AS DATE) AS d,
        |   o_orderkey AS ok FROM orders),
        | g AS (SELECT cust,
        |   CAST(date_diff('day', lag(d, 1) OVER w, d) AS BIGINT) AS gap
        |  FROM o WINDOW w AS (PARTITION BY cust ORDER BY d, ok)),
        | gs AS (SELECT c_mktsegment AS segment, gap, cust
        |  FROM g JOIN customer ON cust = c_custkey WHERE gap IS NOT NULL),
        | r AS (SELECT segment, gap,
        |   row_number() OVER (PARTITION BY segment ORDER BY gap, cust) AS rn,
        |   count(*) OVER (PARTITION BY segment) AS n FROM gs)
        |SELECT segment, CAST(max(n) AS BIGINT) AS n_gaps,
        | CAST(max(gap) AS BIGINT) AS max_gap_days,
        | CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN gap ELSE 0 END) +
        |  sum(CASE WHEN rn = (n + 2) // 2 THEN gap ELSE 0 END) AS BIGINT)
        |   AS p50x2_gap_days
        |FROM r GROUP BY 1""".stripMargin,

    "q_supplier_pareto" ->
      """WITH rev AS (SELECT l_suppkey AS sk,
        |   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |     AS cents
        |  FROM lineitem GROUP BY 1),
        | t AS (SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS tot FROM rev),
        | r AS (SELECT cents,
        |   row_number() OVER (ORDER BY cents DESC, sk) AS rn FROM rev)
        |SELECT max(n) AS n_suppliers,
        | CAST(max((n + 4) // 5) AS BIGINT) AS top_n,
        | max(tot) AS total_cents,
        | CAST(sum(CASE WHEN rn <= (n + 4) // 5 THEN cents ELSE 0 END) AS BIGINT)
        |   AS top_cents,
        | CAST(sum(CASE WHEN rn <= (n + 4) // 5 THEN cents ELSE 0 END) AS BIGINT)
        |   * 1000000 // max(tot) AS top_share_ppm
        |FROM r, t""".stripMargin,

    "q_assoc_rules" ->
      """WITH ob AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS b
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |pair AS (SELECT a.b AS b1, o2.b AS b2, count(*) AS n_ab
        |  FROM ob a JOIN ob o2 ON a.ok = o2.ok AND a.b < o2.b GROUP BY 1, 2),
        |dirs AS (SELECT b1 AS antecedent, b2 AS consequent, n_ab FROM pair
        |  UNION ALL SELECT b2, b1, n_ab FROM pair),
        |single AS (SELECT b, count(*) AS n_b FROM ob GROUP BY 1),
        |tot AS (SELECT count(DISTINCT ok) AS n_total FROM ob)
        |SELECT antecedent, consequent, n_ab,
        | sa.n_b AS n_a, sc.n_b AS n_b,
        | n_ab * 1000000 // sa.n_b AS conf_ppm,
        | (n_ab * 1000000 // sa.n_b) * n_total // sc.n_b AS lift_ppm
        |FROM dirs
        |JOIN single sa ON sa.b = antecedent
        |JOIN single sc ON sc.b = consequent
        |CROSS JOIN tot""".stripMargin,

    "q_copurchase" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk,
        |   p_brand AS b FROM lineitem JOIN part ON l_partkey = p_partkey),
        |pairs AS (SELECT DISTINCT a.ok,
        |   least(a.b, b.b) AS b1, greatest(a.b, b.b) AS b2
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  WHERE a.b <> b.b)
        |SELECT b1, b2, count(*) AS n_orders
        |FROM pairs GROUP BY 1, 2""".stripMargin
  )
}
