package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.RunOnce.materialize
import graft.Tables

/** Ordered event-sequence analytics over the `events` stream — the
  * dashboard layer the reference delegates to Power BI over its BigQuery
  * fact table (README.md:79-98 lists funnel-style tiles; the engine
  * answers them natively).
  *
  * Every operator here shuffles ONCE on `user_id` and keeps all later
  * stages on that same partitioning (window functions and re-aggregations
  * reuse the exchange), so at 100 TB the cost is one hash-distribution of
  * the event log; nothing ever orders events globally.
  *
  * Timestamps enter as exact integer micros (`unix_micros` ==  DuckDB
  * `epoch_us`, the parity pair already pinned by q_sessionize /
  * q_scd2_intervals), and money enters as integer cents, so every
  * oracle-compared value is integer arithmetic or a single final IEEE
  * division — no accumulation-order-dependent floating point.
  */
object SequenceOps {

  /** events projected to the integer-time working set.
    *
    * POSITIVE-MICROS CONTRACT: every day/week bucketing downstream pairs
    * Spark `DIV` (truncates toward zero) with DuckDB `//` (floors) —
    * identical only for non-negative operands. The generated event
    * timestamps are all post-1970 so the contract holds; pre-epoch data
    * would silently diverge one bucket on every negative timestamp.
    */
  private def prep(events: DataFrame): DataFrame =
    events.select(col("user_id"), col("event_id"), col("event_type"),
      unix_micros(col("ts")).as("t"), col("value"))

  /** Ordered conversion funnel view -> click -> purchase: a user counts
    * at stage k only with an event at time >= their first qualifying
    * stage-(k-1) event. Three conditional min-aggregates chained by
    * equi-joins on `user_id`; every stage groups and joins on the same
    * key, so AQE plans one shuffle and the stage frames are
    * one-row-per-user (tiny, broadcastable at any scale — per-user state
    * never exceeds one timestamp per stage, the streaming-friendly
    * formulation).
    */
  def funnel(events: DataFrame): DataFrame =
    stageFrame(events)
      .agg(count(col("t1")).as("n1"), count(col("t2")).as("n2"),
        count(col("t3")).as("n3"))
      .selectExpr(
        """stack(3, '1_view', n1, '2_click', n2, '3_purchase', n3)
          |AS (stage, users)""".stripMargin)

  /** The shared per-user stage-time frame (t1 = first view, t2 = first
    * qualifying click, t3 = first qualifying purchase; later stages null
    * when unreached): funnel counts the non-null columns, conversionLag
    * consumes (t1, t3) — ONE definition of the qualification semantics
    * (and one CTE block on the oracle side).
    *
    * ONE scan + ONE shuffle: a running-min window ordered by
    * (t, stage_rank, event_id) computes "first view at-or-before me"
    * (v1) and "first qualifying click at-or-before me" (c2) per row, and
    * one per-user aggregate (reusing the window's hash partitioning —
    * no second exchange) takes the three conditional mins. The r6 shape
    * chained three groupBy+join stages whose union re-computed the
    * chain per branch: 6 event scans and 6 exchanges in the funnel plan.
    *
    * The stage_rank tie-break (view < click < purchase at equal t) is
    * what makes the running window equal the join-on-global-min
    * semantics INCLUDING timestamp ties: the batch qualification is
    * inclusive (click qualifies when t_click >= t1), so at equal t the
    * earlier stage must already be visible to the later one — ranking
    * stages, not event_ids, guarantees that; among same-stage ties only
    * the min time matters, so their relative order is irrelevant.
    */
  private def stageFrame(events: DataFrame): DataFrame = {
    val stageRank = when(col("event_type") === "view", 0)
      .when(col("event_type") === "click", 1)
      .when(col("event_type") === "purchase", 2).otherwise(3)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), stageRank, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prep(events)
      .withColumn("v1",
        min(when(col("event_type") === "view", col("t"))).over(w))
      .withColumn("c2",
        min(when(col("event_type") === "click" && col("t") >= col("v1"),
          col("t"))).over(w))
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("t"))).as("t1"),
        min(when(col("event_type") === "click" && col("t") >= col("v1"),
          col("t"))).as("t2"),
        min(when(col("event_type") === "purchase" && col("t") >= col("c2"),
          col("t"))).as("t3"))
  }

  /** Weekly cohort retention: cohort = the user's first `signup` week
    * (integer epoch-day DIV 7 — positive range, so floor-div vs
    * trunc-div cannot diverge between engines), retention cell =
    * distinct users from that cohort active k weeks later. Two
    * aggregates on `user_id` + one on the (cohort, offset) pair; the
    * cohort frame is one row per user.
    */
  def cohortRetention(events: DataFrame): DataFrame = {
    val e = prep(events).withColumn("d", expr("t DIV 86400000000"))
    val cohort = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("d")).as("d0"))
    e.join(cohort, "user_id")
      .filter(col("d") >= col("d0"))
      .select(col("user_id"), expr("d0 DIV 7").as("cohort_week"),
        expr("(d - d0) DIV 7").as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(count_distinct(col("user_id")).as("users"))
  }

  /** First-order Markov transition matrix of the event-type sequence:
    * per-user `lag` over (t, event_id) order — the deterministic
    * tie-break every windowed events query here uses — then a global
    * count per (prev, next) pair and a row-normalized probability. The
    * window shuffles on user_id; the pair aggregate reduces 25 cells, and
    * `p` is one integer-ratio division (deterministic IEEE, no sums of
    * doubles).
    */
  def transitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val pairs = prep(events)
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("n"))
    val wp = Window.partitionBy(col("prev"))
    pairs.withColumn("p",
      round(col("n").cast("double") / sum(col("n")).over(wp).cast("double"), 6))
  }

  /** Time-weighted average event value per user (the TWAP the reference's
    * finance domain implies): each observation holds until the user's
    * next event, weights are exact micros durations, values are exact
    * integer cents, and the only floating-point step is the final
    * weighted-mean division. sum(cents*dur) is bounded by
    * max_cents * user_time_span ~ 2^53 at any event density, so the
    * BIGINT accumulators cannot overflow.
    */
  def twap(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    prep(events)
      .withColumn("t_next", lead(col("t"), 1).over(w))
      .filter(col("t_next").isNotNull)
      .select(col("user_id"), (col("t_next") - col("t")).as("dur"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy("user_id")
      .agg(sum(col("dur")).as("wtot"), sum(col("cents") * col("dur")).as("wsum"))
      // zero-span guard: a user whose >=2 events all share one microsecond
      // has wtot = 0, where Spark's 0/0 yields NaN but DuckDB's yields
      // NULL — filter the degenerate group on BOTH sides (oracle: HAVING)
      // instead of hashing an engine-dependent division artifact.
      .filter(col("wtot") > 0)
      .select(col("user_id"),
        round(col("wsum").cast("double") / col("wtot").cast("double") / 100.0, 6)
          .as("twap"))
  }

  /** Last-touch attribution: every purchase is credited to the user's
    * most recent preceding (or simultaneous) click — the running
    * `last(click, ignoreNulls)` window over the same (t, event_id)
    * order every operator here uses, which is linear per user, not the
    * quadratic purchase x click range join. Purchases before any click
    * stay unattributed (null). One shuffle on user_id.
    */
  /** Power-iteration rounds for the stationary distribution. */
  val StationaryIters = 8

  /** Stationary distribution of the event-type Markov chain — where the
    * q_transitions matrix SETTLES: the long-run share of each event
    * type if users kept walking the observed transition kernel, the
    * load-mix forecast. Fixed-point integer power iteration in ppm
    * (p_ij = n·1e6 DIV row_total; v' = Σ v_i·p_ij DIV 1e6 — truncating
    * division is bit-exact cross-engine; truncation leaks ≤ |types| ppm
    * of mass per round, reported, never renormalized). Each round is
    * one broadcast join + aggregate over the |types|²-cell kernel, the
    * q_emb_power_iter plan shape; [[StationaryIters]] rounds unrolled
    * in the oracle.
    */
  def markovStationary(events: DataFrame,
      iters: Int = StationaryIters): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    stationaryFromPairs(prep(events)
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("prev"), col("event_type").as("next")), iters)
  }

  /** The kernel build + power iteration on a bare (prev, next) pair
    * frame — split out so the streaming twin can feed state-emitted
    * transition pairs through the identical arithmetic.
    */
  private[graft] def stationaryFromPairs(pairs: DataFrame,
      iters: Int = StationaryIters): DataFrame = {
    val kernel = pairs
      .groupBy(col("prev"), col("next"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total",
        sum(col("n")).over(Window.partitionBy(col("prev"))))
      .select(col("prev"), col("next"),
        expr("n * 1000000 DIV row_total").as("p_ppm"))
      .localCheckpoint()
    val types = kernel.select(col("prev").as("et")).distinct()
    val k = types.agg(count(lit(1)).as("k"))
    var v = types.crossJoin(broadcast(k))
      .select(col("et"), expr("1000000 DIV k").as("v"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      v = kernel.join(broadcast(v), kernel("prev") === v("et"))
        .groupBy(col("next").as("et2"))
        .agg(sum(expr("v * p_ppm DIV 1000000")).as("v"))
        .select(col("et2").as("et"), col("v"))
        .localCheckpoint()
    }
    v.select(col("et").as("event_type"), col("v").as("stationary_ppm"))
  }

  /** Conversion-deadline sweep points (micros): 1 h / 1 d / 7 d. */
  val ConvDeadlinesUs: Seq[Long] =
    Seq(3600000000L, 86400000000L, 604800000000L)

  /** Conversion-deadline sweep — completed view→click→purchase funnels
    * whose end-to-end latency lands inside each candidate SLA window,
    * all off the ONE shared [[stageFrame]] (conditional sums, no
    * re-funnel per deadline). Where q_conversion_lag summarizes the
    * latency distribution, this prices the attribution-window choice:
    * how many conversions a 1-hour / 1-day / 7-day deadline would
    * credit.
    */
  def conversionDeadlineSweep(events: DataFrame): DataFrame = {
    val sums = ConvDeadlinesUs.zipWithIndex.map { case (d, i) =>
      sum(when(col("t3").isNotNull && col("t3") - col("t1") <= d, 1L)
        .otherwise(0L)).as(s"c$i")
    }
    val agg = stageFrame(events)
      .agg(sums.head, (sums.tail :+ count(col("t3")).as("n_converted")): _*)
    agg.selectExpr(
      s"""stack(${ConvDeadlinesUs.length},
         |${ConvDeadlinesUs.zipWithIndex
             .map { case (d, i) => s" CAST($d AS BIGINT), c$i" }.mkString(",")})
         | AS (deadline_us, n_within)""".stripMargin,
      "n_converted")
  }

  /** Offset aligning the (possibly negative) Pearson numerator across
    * engines' division semantics (|r| <= 1, so 10000 dwarfs any
    * milli-scaled value).
    */
  val CorrBig = 10000L

  /** Daily-count Pearson CORRELATION matrix across event types — actual
    * r values in exact milli units, not just the rational parts
    * (q_autocorr ships num/den because sqrt wasn't portable; the staged
    * integer-Newton isqrt in PortableSql closes that gap): per unordered
    * type pair over the SHARED complete day spine, r_milli =
    * (n·Σxy − ΣxΣy)·1000 DIV (isqrt(n·Σx²−Σx²)·isqrt(n·Σy²−Σy²)),
    * offset-aligned for the negative-numerator case. The pair join and
    * the isqrt column chains all run on spine- and |types|²-sized
    * frames; PropertySpec pins the isqrt kernel across its domain.
    *
    * DOMAIN BOUND (int64, like the CUSUM/lift kernels): the alignment
    * `num * 1000 + CorrBig * den` needs |num| < 2^63/1000 and
    * den = isqrt(dx)*isqrt(dy) < 2^63/CorrBig ≈ 9.2e14 — dx,dy are
    * n·Σx²−(Σx)² over DAILY counts, so with counts up to c over D days
    * den ~ D·c², and c ≈ 1e5 over D ≈ 1000 days (3 years) keeps den
    * ≈ 1e13 with 90× headroom. Hourly-level counts or 1e6+/day corpora
    * should pre-scale the counts (divide by a constant) before the
    * moment sums; Spark would wrap silently where DuckDB errors.
    */
  def dailyTypeCorrelation(events: DataFrame): DataFrame = {
    import graft.functions.PortableSql.isqrtSql
    val d = events
      .select(col("event_type"), expr("unix_micros(ts) DIV 86400000000").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("cnt"))
    val span = d.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = d.select(col("event_type")).distinct()
      .crossJoin(broadcast(span))
      .select(col("event_type"), explode(expr("sequence(d0, d1)")).as("day"))
    val x = spine.join(d, Seq("event_type", "day"), "left_outer")
      .select(col("event_type"), col("day"), coalesce(col("cnt"), lit(0L)).as("v"))
    val pairs = x.as("a")
      .join(x.select(col("event_type").as("et_b"), col("day").as("day_b"),
        col("v").as("w")),
        col("day_b") === col("a.day") && col("a.event_type") < col("et_b"))
      .groupBy(col("a.event_type").as("type_a"), col("et_b").as("type_b"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sx"), sum(col("w")).as("sy"),
        sum(col("v") * col("v")).as("sxx"), sum(col("w") * col("w")).as("syy"),
        sum(col("v") * col("w")).as("sxy"))
      .withColumn("num", expr("n * sxy - sx * sy"))
      .withColumn("dx", expr("n * sxx - sx * sx"))
      .withColumn("dy", expr("n * syy - sy * sy"))
    pairs
      .withColumn("rx", expr(isqrtSql("dx", duck = false)))
      .withColumn("ry", expr(isqrtSql("dy", duck = false)))
      .withColumn("den", col("rx") * col("ry"))
      .filter(col("den") > 0) // constant series carry no correlation
      .withColumn("r_milli",
        expr(s"(num * 1000 + $CorrBig * den) DIV den - $CorrBig"))
      .select(col("type_a"), col("type_b"), col("n").as("n_days"), col("r_milli"))
  }

  /** Session-gap sweep points (ms): 10 min / 30 min / 60 min. */
  val SessionGapsMs: Seq[Long] = Seq(600000L, 1800000L, 3600000L)

  /** Session-gap SENSITIVITY sweep — the tuning table behind
    * q_sessionize's hardcoded 30-minute constant: total session count at
    * each candidate gap, all three read off ONE user-partitioned lag
    * pass (a session starts where the inter-event gap exceeds the
    * candidate — counting starts needs no per-gap re-sessionization,
    * just three conditional sums in one aggregate). A stable count
    * across gaps means the choice doesn't matter; a cliff localizes the
    * natural session boundary.
    */
  def sessionGapSweep(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("tms").asc, col("event_id").asc)
    val d = events
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("tms"))
      .withColumn("prev", lag(col("tms"), 1).over(byUser))
    val sums = SessionGapsMs.zipWithIndex.map { case (g, i) =>
      sum(when(col("prev").isNull || col("tms") - col("prev") > g, 1L)
        .otherwise(0L)).as(s"s$i")
    }
    val agg = d.agg(sums.head, (sums.tail :+ count(lit(1)).as("n_events")): _*)
    agg.selectExpr(
      s"""stack(${SessionGapsMs.length},
         |${SessionGapsMs.zipWithIndex
             .map { case (g, i) => s" CAST($g AS BIGINT), s$i" }.mkString(",")})
         | AS (gap_ms, n_sessions)""".stripMargin,
      "n_events")
  }

  /** Autocorrelation lag range (daily-count series, lags 1..7 — the
    * weekly-periodicity sweep).
    */
  val AutocorrMaxLag = 7

  /** Lag-k autocorrelation statistics of the daily event-count series
    * per type — the periodicity detector (a lag-7 peak = weekly rhythm;
    * a flat sweep = stationary load) capacity planning and anomaly
    * baselines ride on. The day spine is COMPLETE per type (gap days
    * count 0 — the q_ts_fill spine pattern; skipping gaps would shift
    * every lag), and the emitted statistics are EXACT integers: per
    * (type, lag) the pair count, Σx, Σy, Σxy and the Pearson numerator
    * n·Σxy − Σx·Σy (normalization needs a sqrt, so the rational parts
    * ship and the reader divides). Shape: counts aggregate once;
    * the lag sweep is one 7-way explode of the |types|·|days| spine
    * frame joined back to itself on (type, day+k) — spine-sized, never
    * event-sized.
    */
  def autocorr(events: DataFrame, maxLag: Int = AutocorrMaxLag): DataFrame =
    lagPairs(events, maxLag)
      .groupBy(col("event_type"), col("k"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"))
      .withColumn("corr_num", expr("n_pairs * sxy - sx * sy"))

  /** The (type, lag, x, y) aligned-pair frame over the complete per-type
    * day spine — shared by [[autocorr]] (exact rational statistics) and
    * [[autocorrR]] (actual r values via the portable isqrt).
    */
  private def lagPairs(events: DataFrame, maxLag: Int): DataFrame = {
    val d = events
      .select(col("event_type"), expr("unix_micros(ts) DIV 86400000000").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("cnt"))
    val spine = d.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type"), explode(expr("sequence(d0, d1)")).as("day"))
    val x = spine.join(d, Seq("event_type", "day"), "left_outer")
      .select(col("event_type"), col("day"), coalesce(col("cnt"), lit(0L)).as("x"))
    val xa = x.withColumn("k", explode(expr(s"sequence(CAST(1 AS BIGINT), $maxLag)")))
    val xb = x.select(col("event_type").as("et_b"), col("day").as("day_b"),
      col("x").as("y"))
    xa.join(xb, xa("event_type") === col("et_b") && col("day_b") === xa("day") + col("k"))
      .select(xa("event_type"), col("k"), col("x"), col("y"))
  }

  /** [[autocorr]] completed to ACTUAL correlation values: r in exact
    * milli units per (type, lag) via the q_corr_daily isqrt + offset
    * arithmetic — the sweep a seasonality monitor actually thresholds
    * (a lag-7 spike above ~300 milli = weekly rhythm). Shares
    * [[dailyTypeCorrelation]]'s int64 DOMAIN BOUND: den must stay below
    * 2^63/CorrBig ≈ 9.2e14 (daily counts ≤ ~1e5 over a few years).
    */
  def autocorrR(events: DataFrame, maxLag: Int = AutocorrMaxLag): DataFrame = {
    import graft.functions.PortableSql.isqrtSql
    lagPairs(events, maxLag)
      .groupBy(col("event_type"), col("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .withColumn("num", expr("n * sxy - sx * sy"))
      .withColumn("dx", expr("n * sxx - sx * sx"))
      .withColumn("dy", expr("n * syy - sy * sy"))
      .withColumn("rx", expr(isqrtSql("dx", duck = false)))
      .withColumn("ry", expr(isqrtSql("dy", duck = false)))
      .withColumn("den", col("rx") * col("ry"))
      .filter(col("den") > 0)
      .withColumn("r_milli",
        expr(s"(num * 1000 + $CorrBig * den) DIV den - $CorrBig"))
      .select(col("event_type"), col("k"), col("n").as("n_pairs"), col("r_milli"))
  }

  /** Position-based (U-shaped) multi-touch attribution — the sibling of
    * last-touch [[attribution]]: every click in a purchase's JOURNEY
    * (clicks after the previous purchase, before this one) gets credit —
    * 40% first touch, 40% last touch, the middle 20% split evenly — in
    * EXACT integer ppm, with the middle-split truncation residue folded
    * into the FIRST touch so each journey's credits sum to exactly 1e6
    * (spec-pinned). Journey ids are the running purchase count (one
    * user-partitioned window); clicks join their journey's purchase on
    * (user, journey) — all shuffles on the user key, per-journey rank
    * windows partitioned by (user, journey), never global.
    */
  def attributionPosition(events: DataFrame): DataFrame = {
    val wPrev = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val e = prep(events)
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("jid",
        coalesce(sum(when(col("event_type") === "purchase", 1L)).over(wPrev), lit(0L)))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("jid"), col("event_id").as("click_id"), col("t"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("jid"), col("event_id").as("purchase_id"))
    val wj = Window.partitionBy(col("user_id"), col("jid"))
    val ranked = clicks.join(purchases, Seq("user_id", "jid"))
      .withColumn("pos", row_number().over(wj.orderBy(col("t"), col("click_id"))).cast("long"))
      .withColumn("n", count(lit(1)).over(wj))
    ranked.select(col("user_id"), col("purchase_id"), col("click_id"), col("pos"),
      expr("""CASE WHEN n = 1 THEN CAST(1000000 AS BIGINT)
             | WHEN n = 2 THEN 500000
             | WHEN pos = n THEN 400000
             | WHEN pos = 1 THEN 400000 + 200000 - (n - 2) * (200000 DIV (n - 2))
             | ELSE 200000 DIV (n - 2) END""".stripMargin).as("credit_ppm"))
  }

  def attribution(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prep(events)
      .withColumn("last_click",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("last_click").as("click_id"))
  }

  /** Conversion-latency summary over funnel completers: view-to-purchase
    * lag in exact integer micros, summarized with count / max / DOUBLED
    * median — the sum of the two central order statistics, which is the
    * median x2 without any division. The doubling matters: interpolated
    * percentiles on 1e11-magnitude micros differ between engines by one
    * ulp (observed at sf0.1: ...225.5 vs ...225.50006, where a double's
    * ulp is 6e-5 and round-to-6-decimals is a no-op), so the only safe
    * cross-engine median at this magnitude is pure integer arithmetic.
    * The two central ranks come from exact distributed selection
    * ([[SampleOps.withValueRanks]] — bucket-partitioned windows only),
    * NOT a global row_number: even though the converters frame is one
    * row per converting user, |users| through a single partition is
    * still the named scale-killer class. Ties in lag_us rank
    * arbitrarily, which is immaterial — equal values at a rank select
    * the same VALUE. One aggregate over the ranked frame preserves the
    * empty-input one-row-of-NULLs contract (pinned in SequencePlanSpec).
    */
  def conversionLag(events: DataFrame): DataFrame = {
    val lags = stageFrame(events).filter(col("t3").isNotNull)
      .select((col("t3") - col("t1")).as("lag_us"))
    SampleOps.withValueRanks(lags, "lag_us", "lag_us")
      .agg(max(col("n")).as("n_converted"),
        max(col("lag_us")).as("max_lag_us"),
        (sum(when(col("rn") === expr("(n + 1) DIV 2"), col("lag_us")).otherwise(0L)) +
          sum(when(col("rn") === expr("(n + 2) DIV 2"), col("lag_us")).otherwise(0L)))
          .as("p50x2_lag_us"))
  }

  /** Positive-numerator offset for the Theil-Sen slope division — the
    * PQ codebook floor-division-alignment trick: Spark's DIV truncates
    * toward zero while DuckDB's // floors, so negative slopes would
    * round differently; adding dwk*OFF makes every numerator positive
    * (where truncate == floor in both engines) and subtracting OFF
    * restores the value exactly.
    */
  val TheilSenOff = 10000000000000L // 1e13 >> |dy| * 1e6 / dwk

  /** Theil-Sen robust trend per event type (Theil 1950 / Sen 1968) — the
    * median of all pairwise slopes over the weekly count series, the
    * outlier-proof alternative to least squares (one wild week moves an
    * OLS slope arbitrarily; it moves this one not at all until half the
    * pairs are wild). Slopes are exact integer micro-units per week
    * (floor division aligned across engines via [[TheilSenOff]]), and
    * the median is the engine-wide DOUBLED median — the sum of the two
    * central order statistics, division-free (the q_conversion_lag
    * rationale). Shape: the weekly series is |types| x |weeks| (tiny),
    * pair generation is a type-keyed equi self-join, and the median
    * window partitions BY TYPE — groups parallelize, nothing global.
    */
  def theilSenTrend(events: DataFrame): DataFrame = {
    val wk = materialize(events.groupBy(col("event_type"),
        expr("unix_millis(ts) DIV 604800000").as("wk"))
      .agg(count(lit(1)).as("y")))
    val pairs = wk.as("a").join(wk.as("b"),
        col("a.event_type") === col("b.event_type") && col("a.wk") < col("b.wk"))
      .select(col("a.event_type").as("event_type"),
        expr(s"((b.y - a.y) * 1000000 + (b.wk - a.wk) * ${TheilSenOff}L)" +
          s" DIV (b.wk - a.wk) - ${TheilSenOff}L").as("slope_micro"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("slope_micro"))
    val cw = Window.partitionBy(col("event_type"))
    pairs.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(cw))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_pairs"),
        (sum(when(col("rn") === expr("(n + 1) DIV 2"), col("slope_micro"))
            .otherwise(0L)) +
          sum(when(col("rn") === expr("(n + 2) DIV 2"), col("slope_micro"))
            .otherwise(0L))).as("slope2_micro"))
  }

  /** Path mining: counts of the event-type trigrams users actually walk
    * (the "what do people do before purchasing" view). Two leads over
    * the per-user (t, event_id) window — one shuffle — then a global
    * count per path string (5^3 = 125 groups max).
    */
  def eventPaths(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    prep(events)
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
  }

  val HopSizeMs = 6L * 3600 * 1000
  val HopSlideMs = 2L * 3600 * 1000

  /** Hopping (sliding) event-time windows via Spark's native
    * `window(ts, size, slide)` — the generator expression that emits
    * each event into size/slide = 3 overlapping windows before the
    * aggregate (the same operator Structured Streaming plans for
    * sliding counts; here exercised in batch where the oracle can
    * reconstruct the window set relationally from integer ms). Exact
    * cents; one shuffle on the window start.
    */
  def hoppingRevenue(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), s"$HopSizeMs milliseconds",
        s"$HopSlideMs milliseconds").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      .select(unix_millis(col("w.start")).as("start_ms"), col("n"), col("cents"))

  val VelocityN = 3
  val VelocitySpanUs = 3600L * 1000000 // 3 events within one hour

  /** Velocity flags — the classic card-fraud rule the reference's risk
    * scoring implies: an event is a BURST TRIGGER when it is the
    * [[VelocityN]]-th event of its user within [[VelocitySpanUs]]
    * (t - lag(t, N-1) <= span — one lag over the per-user window, no
    * self-join over the span). Emits per-user burst counts and the
    * first trigger time; exact integer micros end to end.
    */
  def velocityFlags(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    prep(events)
      .withColumn("span", col("t") - lag(col("t"), VelocityN - 1).over(w))
      .filter(col("span").isNotNull && col("span") <= VelocitySpanUs)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_bursts"), min(col("t")).as("first_burst_us"))
  }

  /** Daily + weekly active users — the engagement tiles every dashboard
    * leads with. DAU is one distinct per day; WAU avoids the
    * count-distinct-over-sliding-window trap (a range frame cannot
    * dedup) by EXPLODING each (user, active-day) into the 7 window days
    * it contributes to, deduping, and counting — a bounded x7 expansion
    * of the per-(user, day) frame, never of the event log. Integer
    * epoch days throughout.
    */
  def dauWau(events: DataFrame): DataFrame = {
    val ud = prep(events)
      .select(col("user_id"), expr("t DIV 86400000000").as("day"))
      .distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(expr("sequence(day, day + 6)")).as("wday"))
      .distinct()
      .groupBy(col("wday").as("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
  }

  /** Peak concurrency — the classic interval sweep-line: build 30-min-gap
    * user sessions (the q_sessionize rule), drop a +1 at each session
    * start and a -1 just after its end, and the running sum of net
    * deltas over time IS the number of concurrently-active sessions; the
    * answer is its maximum and the earliest instant achieving it (the
    * "peak concurrent users" capacity metric). Deltas are pre-aggregated
    * per timestamp, so tie-ordering inside an instant never matters.
    *
    * The sweep needs a GLOBAL ordered cumsum — the single-partition
    * scale-killer — so it runs as the bucket two-pass (the
    * q_sample_budget / q_skyline decomposition): hourly-bucketed local
    * running sums, bucket offsets from the bucket-count frame (rows =
    * #buckets, not data), one broadcast join back. Output is one row.
    */
  def maxOverlap(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("tms").asc, col("event_id").asc)
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessions = materialize(events
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("tms"))
      .withColumn("prev", lag(col("tms"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev").isNull || col("tms") - col("prev") > 1800000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("is_new")).over(running))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("tms")).as("s"), max(col("tms")).as("e")))
    val net = sessions.select(col("s").as("t"), lit(1L).as("d"))
      .unionAll(sessions.select((col("e") + 1L).as("t"), lit(-1L).as("d")))
      .groupBy(col("t")).agg(sum(col("d")).as("net"))
      .withColumn("bk", expr("t DIV 3600000"))
    val bw = Window.partitionBy(col("bk")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = net.withColumn("run", sum(col("net")).over(bw))
    val offW = Window.orderBy(col("bk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = net.groupBy(col("bk")).agg(sum(col("net")).as("bsum"))
      .withColumn("off", coalesce(sum(col("bsum")).over(offW), lit(0L)))
      .select(col("bk"), col("off"))
    // conc feeds its own max (the scalar crossJoin) AND the peak filter
    val conc = materialize(local.join(broadcast(off), "bk")
      .select(col("t"), (col("run") + col("off")).as("conc")))
    conc
      .crossJoin(broadcast(conc.agg(max(col("conc")).as("peak"))))
      .filter(col("conc") === col("peak"))
      .crossJoin(broadcast(sessions.agg(count(lit(1)).as("n_sessions"))))
      .groupBy(col("n_sessions"), col("peak"))
      .agg(min(col("t")).as("peak_at_ms"))
      .select(col("n_sessions"), col("peak"), col("peak_at_ms"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_max_overlap" -> ((s, dir) => maxOverlap(Tables.events(s, dir))),
    "q_dau_wau" -> ((s, dir) => dauWau(Tables.events(s, dir))),
    "q_velocity_flags" -> ((s, dir) => velocityFlags(Tables.events(s, dir))),
    "q_hopping_window" -> ((s, dir) => hoppingRevenue(Tables.events(s, dir))),
    "q_event_paths" -> ((s, dir) => eventPaths(Tables.events(s, dir))),
    "q_theilsen_trend" -> ((s, dir) => theilSenTrend(Tables.events(s, dir))),
    "q_attribution" -> ((s, dir) => attribution(Tables.events(s, dir))),
    "q_attrib_position" -> ((s, dir) => attributionPosition(Tables.events(s, dir))),
    "q_autocorr" -> ((s, dir) => autocorr(Tables.events(s, dir))),
    "q_autocorr_r" -> ((s, dir) => autocorrR(Tables.events(s, dir))),
    "q_session_gap_sweep" -> ((s, dir) => sessionGapSweep(Tables.events(s, dir))),
    "q_conversion_sweep" -> ((s, dir) => conversionDeadlineSweep(Tables.events(s, dir))),
    "q_corr_daily" -> ((s, dir) => dailyTypeCorrelation(Tables.events(s, dir))),
    "q_markov_stationary" -> ((s, dir) => markovStationary(Tables.events(s, dir))),
    "q_conversion_lag" -> ((s, dir) => conversionLag(Tables.events(s, dir))),
    "q_funnel" -> ((s, dir) => funnel(Tables.events(s, dir))),
    "q_cohort_retention" -> ((s, dir) => cohortRetention(Tables.events(s, dir))),
    "q_transitions" -> ((s, dir) => transitions(Tables.events(s, dir))),
    "q_twap" -> ((s, dir) => twap(Tables.events(s, dir)))
  )

  /** Shared oracle CTE block for the three funnel stages (t1 carried
    * through) — one definition of the qualification semantics, mirrored
    * by stageFrames.
    */
  private val stagesCte =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
      |s1 AS (SELECT user_id, min(t) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(t) AS t2, min(t1) AS t1 FROM e JOIN s1 USING (user_id)
      |       WHERE event_type = 'click' AND t >= t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(t) AS t3, min(t1) AS t1 FROM e JOIN s2 USING (user_id)
      |       WHERE event_type = 'purchase' AND t >= t2 GROUP BY 1)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_theilsen_trend" ->
      s"""WITH wk AS (SELECT event_type, epoch_ms(ts) // 604800000 AS wk,
         |   count(*) AS y FROM events GROUP BY 1, 2),
         | p AS (SELECT a.event_type,
         |   ((b.y - a.y) * 1000000 + (b.wk - a.wk) * $TheilSenOff)
         |     // (b.wk - a.wk) - $TheilSenOff AS slope_micro
         |  FROM wk a JOIN wk b
         |    ON a.event_type = b.event_type AND a.wk < b.wk),
         | r AS (SELECT event_type, slope_micro,
         |   row_number() OVER (PARTITION BY event_type ORDER BY slope_micro) AS rn,
         |   count(*) OVER (PARTITION BY event_type) AS n FROM p)
         |SELECT event_type, CAST(max(n) AS BIGINT) AS n_pairs,
         | CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN slope_micro ELSE 0 END)
         |  + sum(CASE WHEN rn = (n + 2) // 2 THEN slope_micro ELSE 0 END)
         |  AS BIGINT) AS slope2_micro
         |FROM r GROUP BY event_type""".stripMargin,

    // the sweep replayed with one plain global window (DuckDB at sf0.01
    // — no scale constraint); the ENGINE is what must avoid it
    "q_max_overlap" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS tms FROM events),
        | g AS (SELECT user_id, event_id, tms,
        |   CASE WHEN lag(tms) OVER w IS NULL
        |     OR tms - lag(tms) OVER w > 1800000 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id)),
        | sids AS (SELECT user_id, tms,
        |   sum(is_new) OVER (PARTITION BY user_id ORDER BY tms, event_id
        |     ROWS UNBOUNDED PRECEDING) AS session_id FROM g),
        | sess AS (SELECT user_id, session_id, min(tms) AS s, max(tms) AS e
        |  FROM sids GROUP BY 1, 2),
        | net AS (SELECT t, CAST(sum(d) AS BIGINT) AS net FROM (
        |   SELECT s AS t, 1 AS d FROM sess
        |   UNION ALL SELECT e + 1 AS t, -1 AS d FROM sess) z GROUP BY t),
        | conc AS (SELECT t, sum(net) OVER (ORDER BY t
        |   ROWS UNBOUNDED PRECEDING) AS conc FROM net)
        |SELECT (SELECT count(*) FROM sess) AS n_sessions,
        | CAST(max(conc) AS BIGINT) AS peak,
        | CAST(min(t) FILTER (WHERE conc = (SELECT max(conc) FROM conc))
        |   AS BIGINT) AS peak_at_ms
        |FROM conc""".stripMargin,
    "q_dau_wau" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        | dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
        | w AS (SELECT DISTINCT user_id, day + k AS wday
        |   FROM ud CROSS JOIN generate_series(0, 6) s(k)),
        | wau AS (SELECT wday AS day, count(*) AS wau FROM w GROUP BY 1)
        |SELECT day, dau, wau FROM dau JOIN wau USING (day)""".stripMargin,

    "q_velocity_flags" ->
      s"""WITH l AS (
         | SELECT user_id,
         |  epoch_us(ts) AS t,
         |  epoch_us(ts) - lag(epoch_us(ts), ${VelocityN - 1}) OVER
         |    (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS span
         | FROM events)
         |SELECT user_id, count(*) AS n_bursts, min(t) AS first_burst_us
         |FROM l WHERE span IS NOT NULL AND span <= $VelocitySpanUs
         |GROUP BY 1""".stripMargin,

    // slide divides size exactly, so every event lands in size/slide
    // windows: the oracle rebuilds them with a generate_series cross
    // join over integer ms — an independent plan for the same set
    "q_hopping_window" ->
      s"""SELECT start_ms, count(*) AS n,
         | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         |FROM (
         | SELECT (epoch_ms(ts) // $HopSlideMs - k) * $HopSlideMs AS start_ms, value
         | FROM events CROSS JOIN
         |   generate_series(0, ${HopSizeMs / HopSlideMs - 1}) s(k)) t
         |GROUP BY 1""".stripMargin,

    "q_event_paths" ->
      """SELECT path, count(*) AS n FROM (
        | SELECT concat_ws('>', event_type,
        |   lead(event_type, 1) OVER w, lead(event_type, 2) OVER w) AS path,
        |  lead(event_type, 2) OVER w AS e3
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)) t
        |WHERE e3 IS NOT NULL GROUP BY 1""".stripMargin,

    "q_corr_daily" -> {
      import graft.functions.PortableSql.isqrtSql
      val ctes =
        s"""c0 AS (SELECT *, ${isqrtSql("dx", duck = true)} AS rx,
           |  ${isqrtSql("dy", duck = true)} AS ry FROM p)""".stripMargin
      val last = "c0"
      s"""WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |   count(*) AS cnt FROM events GROUP BY 1, 2),
         | sp AS (SELECT t.event_type, s.day FROM
         |  (SELECT DISTINCT event_type FROM d) t,
         |  (SELECT unnest(generate_series(min(day), max(day))) AS day FROM d) s),
         | x AS (SELECT sp.event_type, sp.day, coalesce(d.cnt, 0) AS v
         |  FROM sp LEFT JOIN d ON sp.event_type = d.event_type
         |   AND sp.day = d.day),
         | p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
         |   count(*) AS n,
         |   CAST(sum(a.v) AS BIGINT) AS sx, CAST(sum(b.v) AS BIGINT) AS sy,
         |   CAST(sum(a.v * a.v) AS BIGINT) AS sxx,
         |   CAST(sum(b.v * b.v) AS BIGINT) AS syy,
         |   CAST(sum(a.v * b.v) AS BIGINT) AS sxy,
         |   count(*) * CAST(sum(a.v * b.v) AS BIGINT)
         |     - CAST(sum(a.v) AS BIGINT) * CAST(sum(b.v) AS BIGINT) AS num,
         |   count(*) * CAST(sum(a.v * a.v) AS BIGINT)
         |     - CAST(sum(a.v) AS BIGINT) * CAST(sum(a.v) AS BIGINT) AS dx,
         |   count(*) * CAST(sum(b.v * b.v) AS BIGINT)
         |     - CAST(sum(b.v) AS BIGINT) * CAST(sum(b.v) AS BIGINT) AS dy
         |  FROM x a JOIN x b ON a.day = b.day AND a.event_type < b.event_type
         |  GROUP BY 1, 2),
         |$ctes
         |SELECT type_a, type_b, n AS n_days,
         | (num * 1000 + $CorrBig * (rx * ry)) // (rx * ry) - $CorrBig AS r_milli
         |FROM $last WHERE rx * ry > 0""".stripMargin
    },

    "q_conversion_sweep" -> {
      val branches = ConvDeadlinesUs.map { d =>
        s"""SELECT CAST($d AS BIGINT) AS deadline_us,
           | CAST(sum(CASE WHEN t3 - t1 <= $d THEN 1 ELSE 0 END) AS BIGINT)
           |   AS n_within,
           | count(*) AS n_converted
           |FROM s3""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$stagesCte
         |$branches""".stripMargin
    },

    "q_markov_stationary" -> {
      val rounds = (1 to StationaryIters).map { i =>
        val p = i - 1
        s"""v$i AS MATERIALIZED (SELECT next AS et,
           |   CAST(sum(v * p_ppm // 1000000) AS BIGINT) AS v
           |  FROM kernel JOIN v$p ON kernel.prev = v$p.et GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (SELECT prev, next, count(*) AS n FROM (
         |   SELECT event_type AS next,
         |    lag(event_type, 1) OVER (PARTITION BY user_id
         |      ORDER BY epoch_us(ts), event_id) AS prev
         |   FROM events) z WHERE prev IS NOT NULL GROUP BY 1, 2),
         | kernel AS MATERIALIZED (SELECT prev, next,
         |   CAST(n * 1000000 // CAST(sum(n) OVER (PARTITION BY prev)
         |     AS BIGINT) AS BIGINT) AS p_ppm FROM pairs),
         | t0 AS (SELECT DISTINCT prev AS et FROM kernel),
         | kk AS (SELECT count(*) AS k FROM t0),
         | v0 AS (SELECT et, CAST(1000000 // k AS BIGINT) AS v FROM t0, kk),
         |$rounds
         |SELECT et AS event_type, v AS stationary_ppm
         |FROM v$StationaryIters""".stripMargin
    },

    "q_session_gap_sweep" -> {
      val branches = SessionGapsMs.map { g =>
        s"""SELECT CAST($g AS BIGINT) AS gap_ms,
           | CAST(sum(CASE WHEN prev IS NULL OR tms - prev > $g
           |   THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           | count(*) AS n_events
           |FROM d""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH d AS (SELECT user_id, epoch_ms(ts) AS tms,
         |   lag(epoch_ms(ts), 1) OVER (PARTITION BY user_id
         |     ORDER BY epoch_ms(ts), event_id) AS prev
         |  FROM events)
         |$branches""".stripMargin
    },

    "q_autocorr_r" -> {
      import graft.functions.PortableSql.isqrtSql
      s"""WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |   count(*) AS cnt FROM events GROUP BY 1, 2),
         | sp AS (SELECT event_type, unnest(generate_series(min(day), max(day)))
         |   AS day FROM d GROUP BY event_type),
         | x AS (SELECT sp.event_type, sp.day, coalesce(d.cnt, 0) AS x
         |  FROM sp LEFT JOIN d ON sp.event_type = d.event_type
         |   AND sp.day = d.day),
         | xa AS (SELECT event_type, day, x,
         |   unnest(generate_series(1, $AutocorrMaxLag)) AS k FROM x),
         | g AS (SELECT xa.event_type, CAST(xa.k AS BIGINT) AS k,
         |   count(*) AS n,
         |   CAST(sum(xa.x) AS BIGINT) AS sx, CAST(sum(b.x) AS BIGINT) AS sy,
         |   CAST(sum(xa.x * xa.x) AS BIGINT) AS sxx,
         |   CAST(sum(b.x * b.x) AS BIGINT) AS syy,
         |   CAST(sum(xa.x * b.x) AS BIGINT) AS sxy
         |  FROM xa JOIN x b ON xa.event_type = b.event_type
         |   AND b.day = xa.day + xa.k
         |  GROUP BY 1, 2),
         | e AS (SELECT event_type, k, n,
         |   n * sxy - sx * sy AS num,
         |   n * sxx - sx * sx AS dx,
         |   n * syy - sy * sy AS dy FROM g),
         | r AS (SELECT *, ${isqrtSql("dx", duck = true)} AS rx,
         |   ${isqrtSql("dy", duck = true)} AS ry FROM e)
         |SELECT event_type, k, n AS n_pairs,
         | (num * 1000 + $CorrBig * (rx * ry)) // (rx * ry) - $CorrBig AS r_milli
         |FROM r WHERE rx * ry > 0""".stripMargin
    },

    "q_autocorr" ->
      s"""WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |   count(*) AS cnt FROM events GROUP BY 1, 2),
         | sp AS (SELECT event_type, unnest(generate_series(min(day), max(day)))
         |   AS day FROM d GROUP BY event_type),
         | x AS (SELECT sp.event_type, sp.day, coalesce(d.cnt, 0) AS x
         |  FROM sp LEFT JOIN d ON sp.event_type = d.event_type
         |   AND sp.day = d.day),
         | xa AS (SELECT event_type, day, x,
         |   unnest(generate_series(1, $AutocorrMaxLag)) AS k FROM x)
         |SELECT xa.event_type, CAST(xa.k AS BIGINT) AS k,
         | count(*) AS n_pairs,
         | CAST(sum(xa.x) AS BIGINT) AS sx,
         | CAST(sum(b.x) AS BIGINT) AS sy,
         | CAST(sum(xa.x * b.x) AS BIGINT) AS sxy,
         | count(*) * CAST(sum(xa.x * b.x) AS BIGINT)
         |   - CAST(sum(xa.x) AS BIGINT) * CAST(sum(b.x) AS BIGINT) AS corr_num
         |FROM xa JOIN x b ON xa.event_type = b.event_type
         |  AND b.day = xa.day + xa.k
         |GROUP BY 1, 2""".stripMargin,

    "q_attrib_position" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
        |   coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |     OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS jid
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        | c AS (SELECT user_id, jid, event_id AS click_id, t FROM e
        |  WHERE event_type = 'click'),
        | p AS (SELECT user_id, jid, event_id AS purchase_id FROM e
        |  WHERE event_type = 'purchase'),
        | r AS (SELECT c.user_id, p.purchase_id, c.click_id,
        |   row_number() OVER (PARTITION BY c.user_id, c.jid
        |     ORDER BY c.t, c.click_id) AS pos,
        |   count(*) OVER (PARTITION BY c.user_id, c.jid) AS n
        |  FROM c JOIN p ON c.user_id = p.user_id AND c.jid = p.jid)
        |SELECT user_id, purchase_id, click_id, pos,
        | CASE WHEN n = 1 THEN 1000000
        |  WHEN n = 2 THEN 500000
        |  WHEN pos = n THEN 400000
        |  WHEN pos = 1 THEN 400000 + 200000 - (n - 2) * (200000 // (n - 2))
        |  ELSE 200000 // (n - 2) END AS credit_ppm
        |FROM r""".stripMargin,

    "q_attribution" ->
      """SELECT user_id, purchase_id, click_id FROM (
        | SELECT user_id, event_id AS purchase_id, event_type,
        |  last_value(CASE WHEN event_type = 'click' THEN event_id END
        |    IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_id
        | FROM events) t
        |WHERE event_type = 'purchase'""".stripMargin,

    "q_conversion_lag" ->
      s"""$stagesCte,
        |r AS (SELECT t3 - t1 AS lag_us,
        |       row_number() OVER (ORDER BY t3 - t1) AS rn,
        |       count(*) OVER () AS n FROM s3)
        |SELECT max(n) AS n_converted, max(lag_us) AS max_lag_us,
        |  CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN lag_us ELSE 0 END) +
        |   sum(CASE WHEN rn = (n + 2) // 2 THEN lag_us ELSE 0 END) AS BIGINT)
        |    AS p50x2_lag_us
        |FROM r""".stripMargin,

    "q_funnel" ->
      s"""$stagesCte
        |SELECT '1_view' AS stage, count(*) AS users FROM s1
        |UNION ALL SELECT '2_click', count(*) FROM s2
        |UNION ALL SELECT '3_purchase', count(*) FROM s3""".stripMargin,

    "q_cohort_retention" ->
      """WITH e AS (SELECT user_id, event_type,
        |            epoch_us(ts) // 86400000000 AS d FROM events),
        |c AS (SELECT user_id, min(d) AS d0 FROM e
        |      WHERE event_type = 'signup' GROUP BY 1)
        |SELECT d0 // 7 AS cohort_week, (d - d0) // 7 AS week_offset,
        |       count(DISTINCT user_id) AS users
        |FROM e JOIN c USING (user_id) WHERE d >= d0
        |GROUP BY 1, 2""".stripMargin,

    "q_transitions" ->
      """WITH p AS (
        |  SELECT prev, event_type AS next, count(*) AS n FROM (
        |    SELECT event_type, lag(event_type) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
        |    FROM events) t
        |  WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev, next, n,
        |  round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY prev) AS DOUBLE), 6) AS p
        |FROM p""".stripMargin,

    "q_twap" ->
      """WITH e AS (
        |  SELECT user_id,
        |    lead(epoch_us(ts)) OVER w - epoch_us(ts) AS dur,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT user_id,
        |  round(CAST(sum(cents * dur) AS DOUBLE) / CAST(sum(dur) AS DOUBLE) / 100.0, 6)
        |    AS twap
        |FROM e WHERE dur IS NOT NULL GROUP BY 1
        |HAVING sum(dur) > 0""".stripMargin
  )
}
