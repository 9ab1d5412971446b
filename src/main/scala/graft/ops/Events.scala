package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Engine

/** Event-analytics aggregate family — the reference engine's
  * distinctive behavioral-analytics surface (`windowFunnel`,
  * `retention`, `sequenceMatch`, cohort rollups; ClickHouse 25.7
  * parametric aggregates, reference `Dockerfile:102-126` pinned
  * binary). Re-expressed Spark-first over the `events` table:
  *
  *  - The per-user state these parametric aggregates keep in the
  *    native engine (a buffer of matching timestamps) maps to ONE
  *    shuffle on `user_id` + conditional aggregation (retention,
  *    sequence-match: O(1) state per user; funnel: a conditional-min
  *    cascade, one bounded aggregation per level — never a per-user
  *    event buffer). No UDFs/UDAFs — everything below is Catalyst
  *    expressions, so partial aggregation and codegen apply.
  *  - At 100 TB the shuffle key is `user_id` (high-cardinality,
  *    uniform); all four queries share that partitioning, and the
  *    final rollups are a handful of groups — partial-agg carries
  *    per-task states, not rows, through the second exchange.
  */
object Events {
  type Q = (SparkSession, String) => DataFrame

  private val HOURS24_US = 24L * 3600L * 1000000L

  /** E6: `windowFunnel(24h)(ts, view, click, purchase)` — per user,
    * the deepest funnel level reached with the chain anchored at the
    * FIRST view: t1 = min ts(view); t2 = first click strictly after
    * t1 within t1+24h; t3 = first purchase strictly after t2 within
    * t1+24h. Implemented as a CONDITIONAL-MIN CASCADE of
    * chained partition-constant window minimums: t1 = min view ts over
    * the user partition; t2 = min click ts in (t1, t1+24h] (t1 is a
    * materialized column by then — no nested windows); t3 = min
    * purchase ts in (t2, t1+24h]. Per-group state is a single
    * timestamp at every stage, never a buffer of the user's event
    * history (the r7 `collect_list` fold kept O(events-per-user)
    * state per group, the unbounded-buffer shape that melts on a
    * power user at 100 TB; VERDICT r7 #2). The three windows and the
    * per-user collapse all share ONE hashpartitioning(user_id)
    * exchange — no joins, nothing AQE-dependent (an earlier r8 form
    * cascaded through per-level self-joins: same bounded state but 3
    * extra shuffles and run-to-run plan variance). Equivalence to the
    * ordered fold (incl. out-of-order arrival) is pinned in
    * `EdgeSemanticsSpec`; no-collect_list in `PlanShapeSpec`. */
  private def e6WindowFunnel(spark: SparkSession, dir: String): DataFrame = {
    val wu = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    Engine.events(spark, dir)
      .select(col("user_id"), col("event_type").as("et"), unix_micros(col("ts")).as("t"))
      .withColumn("t1", min(when(col("et") === "view", col("t"))).over(wu))
      .withColumn("t2", min(when(col("et") === "click" &&
        col("t") > col("t1") && col("t") <= col("t1") + HOURS24_US, col("t"))).over(wu))
      .withColumn("t3", min(when(col("et") === "purchase" &&
        col("t") > col("t2") && col("t") <= col("t1") + HOURS24_US, col("t"))).over(wu))
      .groupBy("user_id")
      .agg(max(
        when(col("t3").isNotNull, 3)
          .when(col("t2").isNotNull, 2)
          .when(col("t1").isNotNull, 1)
          .otherwise(0)).cast("int").as("funnel_level"))
      .groupBy("funnel_level")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("funnel_level")
  }

  /** E7: `retention(week1, week2, week3)` — per user booleans
    * r1 = active in week 1; r2 = r1 AND active week 2; r3 = r1 AND
    * active week 3 (the reference's retention semantics: later
    * conditions only count on top of the first). O(1) state per user
    * (three ORed booleans), one row out. */
  private def e7Retention(spark: SparkSession, dir: String): DataFrame = {
    def in(lo: String, hi: String): Column =
      col("ts") >= lit(lo).cast("timestamp") && col("ts") < lit(hi).cast("timestamp")
    val perUser = Engine.events(spark, dir)
      .groupBy("user_id")
      .agg(
        max(in("2024-01-01", "2024-01-08").cast("int")).as("c1"),
        max(in("2024-01-08", "2024-01-15").cast("int")).as("c2"),
        max(in("2024-01-15", "2024-01-22").cast("int")).as("c3"))
    perUser.agg(
        sum(col("c1")).cast("long").as("r1"),
        sum((col("c1") === 1 && col("c2") === 1).cast("int")).cast("long").as("r2"),
        sum((col("c1") === 1 && col("c3") === 1).cast("int")).cast("long").as("r3"))
      .select(
        col("r1"), col("r2"), col("r3"),
        round(col("r2").cast("double") / col("r1").cast("double"), 6).as("week2_rate"),
        round(col("r3").cast("double") / col("r1").cast("double"), 6).as("week3_rate"))
  }

  /** E8: `sequenceMatch('(?1).*(?2)')` — does any event matching cond1
    * precede (strictly) any event matching cond2 for the user? For an
    * existence pattern this needs no event buffer at all:
    * min ts(cond1) < max ts(cond2). Two pairs are declared (signup→
    * purchase, view→error); state per user is 4 timestamps. */
  private def e8SequenceMatch(spark: SparkSession, dir: String): DataFrame = {
    def tsIf(et: String, f: Column => Column): Column =
      f(when(col("event_type") === et, col("ts")))
    Engine.events(spark, dir)
      .groupBy("user_id")
      .agg(
        tsIf("signup", min).as("first_signup"),
        tsIf("purchase", max).as("last_purchase"),
        tsIf("view", min).as("first_view"),
        tsIf("error", max).as("last_error"))
      .agg(
        count(lit(1)).cast("long").as("n_users"),
        sum((col("first_signup") < col("last_purchase")).cast("int"))
          .cast("long").as("n_signup_then_purchase"),
        sum((col("first_view") < col("last_error")).cast("int"))
          .cast("long").as("n_view_then_error"))
  }

  /** E9: weekly cohort retention matrix — users bucketed by the week
    * of their first event; for each (cohort, weeks-since) cell the
    * distinct active users. The classic product-analytics rollup the
    * reference serves with `retention`/`uniq` over a materialized
    * first-touch dictionary. Two shuffles, both on user_id (the
    * first-touch aggregate and the join re-use the same partitioning);
    * the final (cohort × week) grid is tiny. */
  private def e9CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Engine.events(spark, dir)
    val firsts = ev.groupBy("user_id")
      .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_week"))
    ev.join(firsts, "user_id")
      .select(
        col("user_id"), col("cohort_week"),
        (datediff(date_trunc("week", col("ts")).cast("date"), col("cohort_week")) / 7)
          .cast("int").as("weeks_since"))
      .groupBy("cohort_week", "weeks_since")
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy("cohort_week", "weeks_since")
  }

  /** E10: `sequenceCount('(?1)(?2)')` — the number of NON-OVERLAPPING
    * view→purchase chains per user. No per-user event buffer: greedy
    * left-to-right matching equals `n_purchases − max(0, max prefix
    * excess of purchases over views)` (the ballot-problem identity),
    * so one windowed running sum + one aggregate computes it exactly.
    * Shuffle on user_id (shared with the rest of the family); output
    * is the chain-count histogram. */
  private def e10SequenceCount(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val step = when(col("event_type") === "purchase", 1L).otherwise(-1L)
    Engine.events(spark, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_type"), sum(step).over(w).as("deficit"))
      .groupBy("user_id")
      .agg(
        sum((col("event_type") === "purchase").cast("long")).as("n_b"),
        greatest(max(col("deficit")), lit(0L)).as("max_deficit"))
      .select(col("user_id"), (col("n_b") - col("max_deficit")).as("n_chains"))
      .groupBy("n_chains")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("n_chains")
  }

  /** E11: rate-anomaly detection — hourly event counts per type
    * z-scored against that type's own mean/σ, |z| ≥ 2 flagged. Two
    * one-row-per-group shuffles (hourly rollup, per-type moments); σ
    * uses the population form and z is rounded on both engines. The
    * sample std of counts is exact integer sums → double at the end,
    * so the compare is stable. */
  private def e11AnomalyZscore(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Engine.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    hourly
      .withColumn("mu", avg(col("n")).over(w))
      .withColumn("sigma", stddev_pop(col("n")).over(w))
      .withColumn("z", (col("n") - col("mu")) / col("sigma"))
      .filter(abs(col("z")) >= 2)
      .select(col("event_type"),
        date_format(col("h"), "yyyy-MM-dd HH:mm").as("hour_s"),
        col("n"), round(col("z"), 4).as("z"))
      .orderBy("event_type", "hour_s")
  }

  /** E6b: `windowFunnel(…, 'strict_order')` — ANY intervening event
    * kills the chain, so a chain is exactly a CONSECUTIVE run
    * view→click→purchase in arrival order. That collapses the fold
    * into `lead()`s: level(view at t) = 1 + [next event is click ≤
    * t+24h] (+ [the one after is purchase ≤ t+24h]); per-user funnel =
    * max over views. Scale: one shuffle on user_id, window state is
    * two leads — no per-user event buffer at all (cheaper than e6's
    * sorted-list fold). Arrival order = event_id (ns-vs-µs tie rule,
    * see d20). */
  private def e6bFunnelStrict(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("event_id")
    val t = unix_micros(col("ts"))
    val lvl =
      when(col("event_type") === "view",
        lit(1) +
          when(lead(col("event_type"), 1).over(w) === "click" &&
              lead(t, 1).over(w) <= t + HOURS24_US,
            lit(1) +
              when(lead(col("event_type"), 2).over(w) === "purchase" &&
                  lead(t, 2).over(w) <= t + HOURS24_US, 1).otherwise(0))
            .otherwise(0))
        .otherwise(0)
    Engine.events(spark, dir)
      .withColumn("lvl", lvl)
      .groupBy("user_id")
      .agg(max(col("lvl")).as("funnel_level"))
      .groupBy("funnel_level")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("funnel_level")
  }

  /** E12: `sequenceNextNode` — path analysis: after a given anchor
    * event, what happens next? One `lead()` per user stream (arrival
    * order), rolled up into the next-event distribution per anchor
    * type. The window state is a single lead — no per-user buffer;
    * one shuffle on user_id then a tiny rollup. */
  private def e12SequenceNextNode(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("event_id")
    Engine.events(spark, dir)
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("anchor"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("pct", round(lit(100.0) * col("n") /
        sum("n").over(org.apache.spark.sql.expressions.Window.partitionBy("anchor")), 4))
      .orderBy("anchor", "next_type")
  }

  /** E13: time-to-convert — the funnel's latency dimension: per user,
    * the gap from FIRST view to the first subsequent purchase (≤24h),
    * rolled into a latency distribution (count, min/median/p90 in
    * minutes). Two conditional-min aggregations per user — O(1) state,
    * one shuffle — then a 1-group exact-percentile rollup. */
  private def e13TimeToConvert(spark: SparkSession, dir: String): DataFrame = {
    val t = unix_micros(col("ts"))
    val perUser = Engine.events(spark, dir)
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "view", t)).as("first_view"))
    val purchases = Engine.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), t.as("pt"))
    perUser.filter(col("first_view").isNotNull)
      .join(purchases, Seq("user_id"))
      .filter(col("pt") > col("first_view") && col("pt") <= col("first_view") + HOURS24_US)
      .groupBy("user_id")
      .agg(((min(col("pt")) - first(col("first_view"))) / 60000000.0).as("mins"))
      .agg(
        count(lit(1)).as("n_converted"),
        round(min(col("mins")), 4).as("min_mins"),
        round(expr("percentile(mins, 0.5)"), 4).as("median_mins"),
        round(expr("percentile(mins, 0.9)"), 4).as("p90_mins"))
  }

  /** E15: RFM segmentation — the classic customer-analytics rollup:
    * recency / frequency / monetary per customer, each quartiled
    * (ntile with a total-order tiebreak so bucket edges are
    * deterministic), customers grouped by RFM code. One shuffle for
    * the per-customer rollup; the three ntiles share ONE tagged
    * distributed-rank staging pass (r20). */
  private def e15RfmSegmentation(spark: SparkSession, dir: String): DataFrame = {
    // Per-customer rollup GROWS with the data, so the r13 form's three
    // bare global ntile windows were three single-task sorts of the
    // whole customer base (the bench log's `No Partition Defined`
    // warnings — VERDICT r13 #2's pattern beyond d34/d35). Each
    // quartile now runs [[DistRank.ntile]] (range-exchange + staged
    // rank + closed-form remainder rule — bit-identical to the
    // builtin, DuckDB's flat window stays the oracle); the rollup is
    // staged once so the three rank passes and the final join all read
    // one materialization instead of re-aggregating orders 4×.
    val per = Engine.stage(Engine.t(spark, dir, "orders")
      .groupBy("o_custkey")
      .agg(
        max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("freq"),
        sum(graft.CH.dec(col("o_totalprice"))).as("monetary")), dir, "e15_per")
    // r20: ONE staged rank pass for all three quartiles (the d36
    // shared-marginal trick): the three keyed copies union with a tag
    // and ride [[DistRank.groupedNtile]] with the tag as the group key
    // — one range exchange + one stage write + one offset collect where
    // the r16 form ran DistRank.ntile three times (three stage writes,
    // three collects, three join-backs). Each key casts to a common
    // DECIMAL(38,6) carrier exactly (unix_date int / long count /
    // decimal sum all embed losslessly), so the (key desc,
    // custkey) order — and therefore every bucket edge — is
    // bit-identical to the per-key form (unix_micros for the timestamp
    // key); DuckDB's three flat ntile windows stay the oracle that
    // pins it.
    val key = col("key")
    val tagged = per.select(col("o_custkey"), lit(0).as("tag"),
        unix_micros(col("last_order")).cast("decimal(38,6)").as("key"))
      .unionByName(per.select(col("o_custkey"), lit(1).as("tag"),
        col("freq").cast("decimal(38,6)").as("key")))
      .unionByName(per.select(col("o_custkey"), lit(2).as("tag"),
        col("monetary").cast("decimal(38,6)").as("key")))
    val buckets = DistRank.groupedNtile(spark, dir, "e15_rank_all", tagged,
      Seq("tag"), Seq(key.desc, col("o_custkey")), 4, "b")
    val wide = buckets.groupBy("o_custkey").agg(
      max(when(col("tag") === 0, col("b"))).as("r"),
      max(when(col("tag") === 1, col("b"))).as("f"),
      max(when(col("tag") === 2, col("b"))).as("m"))
    per.select("o_custkey", "monetary")
      .join(wide, "o_custkey")
      .withColumn("segment", concat(col("r"), col("f"), col("m")))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("monetary")).cast("double").as("segment_value"))
      .orderBy("segment")
  }

  /** E16: `maxIntersections` — the reference's interval-overlap
    * parametric aggregate: the maximum number of concurrently-open
    * intervals. Intervals derive deterministically from events
    * (duration = 60·(1 + event_id mod 30) seconds). Classic sweep:
    * +1 at each start, −1 at each end (half-open — at an exact
    * boundary the −1 applies first, so back-to-back intervals never
    * double-count), running sum, global max.
    *
    * Scale shape: a GLOBAL running sum would be one task sorting the
    * whole corpus, so it is computed with the same two-level prefix
    * sum as l17: HOUR-chunk windows cumsum locally in parallel (hours,
    * not days — the chunk is the parallelism unit, and a day-grained
    * chunking caps the stage at #days tasks), hour totals (thousands
    * of rows for years of data) prefix-sum on one tiny task and
    * broadcast back as offsets. DuckDB's flat whole-table window is
    * the oracle, pinning the decomposition. */
  private def e16MaxConcurrent(spark: SparkSession, dir: String): DataFrame = {
    val durUs = (lit(60L) * (lit(1L) + pmod(col("event_id"), lit(30L)))) * lit(1000000L)
    val iv = Engine.events(spark, dir)
      .select(unix_micros(col("ts")).as("s"), (unix_micros(col("ts")) + durUs).as("e"))
    val pts = iv.select(col("s").as("t"), lit(1).as("d"))
      .unionByName(iv.select(col("e").as("t"), lit(-1).as("d")))
      .withColumn("chunk", (col("t") / lit(3600000000L)).cast("long"))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy("chunk").orderBy(col("t"), col("d"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val local = pts.withColumn("run_local", sum(col("d")).over(wLocal))
    // tiny per-hour table: exclusive prefix of chunk sums → offsets
    val wChunks = org.apache.spark.sql.expressions.Window.orderBy("chunk")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = pts.groupBy("chunk").agg(sum(col("d")).as("chunk_sum"))
      .withColumn("offset", coalesce(sum(col("chunk_sum")).over(wChunks), lit(0L)))
      .select("chunk", "offset")
    local.join(broadcast(offsets), "chunk")
      .select((col("run_local") + col("offset")).as("run"))
      .agg(max(col("run")).cast("int").as("max_concurrent"),
        (count(lit(1)) / 2).cast("long").as("n_intervals"))
  }

  /** E17 (the batch face of j3's streaming sessionize — CH
    * gaps-and-islands idiom over `events`): split each user's
    * timeline into maximal sessions at gaps > 30 min with the
    * lag+cumulative-sum rewrite, then roll up the per-user session
    * counts into a bounded histogram. All windows are PARTITIONED BY
    * user_id (per-user data is bounded by human behavior, not corpus
    * size, so no single task ever sees more than one user's rows at
    * any scale) and the output is O(distinct session counts). Every
    * quantity is an exact integer — session ids by cumulative sum of
    * 0/1 markers, durations in microseconds — so the DuckDB replay is
    * bit-exact. Tie order inside a user is pinned by (ts, event_id).
    * Ref: DanielCasali/clickhouseocp pins ClickHouse v25.7 (the
    * windowFunnel/retention family's session sibling). */
  private def e17SessionsGap(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("t", "event_id")
    val marked = Engine.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("t"), col("event_id"))
      .withColumn("prev", lag("t", 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull || col("t") - col("prev") > lit(1800000000L), 1L)
          .otherwise(0L))
    val perUser = marked
      .withColumn("sid", sum("new_s").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("ne"), (max("t") - min("t")).as("dur_us"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("ne").as("n_events"),
        sum("dur_us").as("dur_us"))
    perUser.groupBy("n_sessions")
      .agg(count(lit(1)).as("users"), sum("n_events").as("events"),
        sum("dur_us").as("dur_us"))
      .orderBy("n_sessions")
  }

  val queries: Map[String, Q] = Map(
    "e17_sessions_gap" -> (e17SessionsGap _),
    "e16_max_concurrent" -> (e16MaxConcurrent _),
    "e15_rfm_segmentation" -> (e15RfmSegmentation _),
    "e13_time_to_convert" -> (e13TimeToConvert _),
    "e12_sequence_next_node" -> (e12SequenceNextNode _),
    "e6b_window_funnel_strict" -> (e6bFunnelStrict _),
    "e11_anomaly_zscore" -> (e11AnomalyZscore _),
    "e10_sequence_count" -> (e10SequenceCount _),
    "e6_window_funnel" -> (e6WindowFunnel _),
    "e7_retention" -> (e7Retention _),
    "e8_sequence_match" -> (e8SequenceMatch _),
    "e9_cohort_retention" -> (e9CohortRetention _))

  val oracles: Map[String, String] = Map(
    "e17_sessions_gap" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id FROM events),
        |m AS (SELECT user_id, t, event_id,
        |    CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |sid AS (SELECT user_id, t,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |sess AS (SELECT user_id, sid, count(*) AS ne, max(t) - min(t) AS dur_us
        |  FROM sid GROUP BY user_id, sid),
        |pu AS (SELECT user_id, count(*) AS n_sessions,
        |    CAST(sum(ne) AS BIGINT) AS n_events, CAST(sum(dur_us) AS BIGINT) AS dur_us
        |  FROM sess GROUP BY user_id)
        |SELECT n_sessions, count(*) AS users,
        |  CAST(sum(n_events) AS BIGINT) AS events,
        |  CAST(sum(dur_us) AS BIGINT) AS dur_us
        |FROM pu GROUP BY n_sessions ORDER BY n_sessions""".stripMargin,
    "e16_max_concurrent" ->
      """WITH iv AS (SELECT ts AS s,
        |    ts + (60 * (1 + (event_id % 30))) * INTERVAL 1 SECOND AS e FROM events),
        |pts AS (SELECT s AS t, 1 AS d FROM iv UNION ALL SELECT e AS t, -1 AS d FROM iv),
        |run AS (SELECT sum(d) OVER (ORDER BY t, d ROWS UNBOUNDED PRECEDING) AS r FROM pts)
        |SELECT CAST(max(r) AS INT) AS max_concurrent,
        |  CAST(count(*) / 2 AS BIGINT) AS n_intervals FROM run""".stripMargin,
    "e15_rfm_segmentation" ->
      """WITH per AS (SELECT o_custkey, max(o_orderdate) AS last_order,
        |    count(*) AS freq, sum(CAST(o_totalprice AS DECIMAL(12,2))) AS monetary
        |  FROM orders GROUP BY 1),
        |rfm AS (SELECT
        |    ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS r,
        |    ntile(4) OVER (ORDER BY freq DESC, o_custkey) AS f,
        |    ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m,
        |    monetary
        |  FROM per)
        |SELECT CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR) AS segment,
        |  count(*) AS n_customers,
        |  CAST(CAST(sum(monetary) AS VARCHAR) AS DOUBLE) AS segment_value
        |FROM rfm GROUP BY 1 ORDER BY 1""".stripMargin,
    "e13_time_to_convert" ->
      """WITH fv AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS first_view
        |  FROM events GROUP BY 1),
        |conv AS (SELECT e.user_id,
        |    (min(epoch_us(e.ts)) - min(fv.first_view)) / 60000000.0 AS mins
        |  FROM events e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' AND fv.first_view IS NOT NULL
        |    AND epoch_us(e.ts) > fv.first_view
        |    AND epoch_us(e.ts) <= fv.first_view + 86400000000
        |  GROUP BY 1)
        |SELECT count(*) AS n_converted,
        |  round(min(mins), 4) AS min_mins,
        |  round(quantile_cont(mins, 0.5), 4) AS median_mins,
        |  round(quantile_cont(mins, 0.9), 4) AS p90_mins
        |FROM conv""".stripMargin,
    "e12_sequence_next_node" ->
      """WITH nx AS (SELECT event_type AS anchor,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS next_type
        |  FROM events)
        |SELECT anchor, next_type, count(*) AS n,
        |  round(100.0 * count(*) / (sum(count(*)) OVER (PARTITION BY anchor)), 4) AS pct
        |FROM nx WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "e6b_window_funnel_strict" ->
      """WITH l AS (SELECT user_id, event_type, epoch_us(ts) AS t,
        |    lead(event_type, 1) OVER w AS et1, lead(epoch_us(ts), 1) OVER w AS t1,
        |    lead(event_type, 2) OVER w AS et2, lead(epoch_us(ts), 2) OVER w AS t2
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
        |lv AS (SELECT user_id,
        |    CASE WHEN event_type = 'view' THEN 1 +
        |      CASE WHEN et1 = 'click' AND t1 <= t + 86400000000 THEN 1 +
        |        CASE WHEN et2 = 'purchase' AND t2 <= t + 86400000000 THEN 1 ELSE 0 END
        |      ELSE 0 END
        |    ELSE 0 END AS lvl
        |  FROM l),
        |pu AS (SELECT user_id, max(lvl) AS funnel_level FROM lv GROUP BY 1)
        |SELECT CAST(funnel_level AS INT) AS funnel_level, count(*) AS n_users
        |FROM pu GROUP BY 1 ORDER BY 1""".stripMargin,
    "e11_anomaly_zscore" ->
      """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |z AS (SELECT event_type, h, n,
        |    avg(n) OVER (PARTITION BY event_type) AS mu,
        |    stddev_pop(n) OVER (PARTITION BY event_type) AS sigma
        |  FROM hourly)
        |SELECT event_type, strftime(h, '%Y-%m-%d %H:%M') AS hour_s, n,
        |  round((n - mu) / sigma, 4) AS z
        |FROM z WHERE abs((n - mu) / sigma) >= 2
        |ORDER BY event_type, hour_s""".stripMargin,
    "e10_sequence_count" ->
      """WITH d AS (SELECT user_id, event_type,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS deficit
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |pu AS (SELECT user_id,
        |    CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_b,
        |    greatest(CAST(max(deficit) AS BIGINT), 0) AS max_deficit
        |  FROM d GROUP BY 1)
        |SELECT n_b - max_deficit AS n_chains, count(*) AS n_users
        |FROM pu GROUP BY 1 ORDER BY 1""".stripMargin,
    "e6_window_funnel" ->
      """WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN t1 ON e.user_id = t1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > t1.t1 AND e.ts <= t1.t1 + INTERVAL 24 HOUR GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN t2 ON e.user_id = t2.user_id
        |       JOIN t1 ON e.user_id = t1.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > t2.t2 AND e.ts <= t1.t1 + INTERVAL 24 HOUR GROUP BY 1),
        |lv AS (SELECT u.user_id,
        |         CASE WHEN t3.t3 IS NOT NULL THEN 3 WHEN t2.t2 IS NOT NULL THEN 2
        |              WHEN t1.t1 IS NOT NULL THEN 1 ELSE 0 END AS funnel_level
        |       FROM (SELECT DISTINCT user_id FROM events) u
        |       LEFT JOIN t1 ON u.user_id = t1.user_id
        |       LEFT JOIN t2 ON u.user_id = t2.user_id
        |       LEFT JOIN t3 ON u.user_id = t3.user_id)
        |SELECT CAST(funnel_level AS INT) AS funnel_level, count(*) AS n_users
        |FROM lv GROUP BY 1 ORDER BY 1""".stripMargin,
    "e7_retention" ->
      """WITH pu AS (SELECT user_id,
        |    max(CASE WHEN ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08' THEN 1 ELSE 0 END) AS c1,
        |    max(CASE WHEN ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15' THEN 1 ELSE 0 END) AS c2,
        |    max(CASE WHEN ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-22' THEN 1 ELSE 0 END) AS c3
        |  FROM events GROUP BY 1)
        |SELECT CAST(sum(c1) AS BIGINT) AS r1,
        |  CAST(sum(CASE WHEN c1 = 1 AND c2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r2,
        |  CAST(sum(CASE WHEN c1 = 1 AND c3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r3,
        |  round(CAST(sum(CASE WHEN c1 = 1 AND c2 = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(sum(c1) AS DOUBLE), 6) AS week2_rate,
        |  round(CAST(sum(CASE WHEN c1 = 1 AND c3 = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(sum(c1) AS DOUBLE), 6) AS week3_rate
        |FROM pu""".stripMargin,
    "e8_sequence_match" ->
      """WITH pu AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
        |    max(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
        |    max(CASE WHEN event_type = 'error' THEN ts END) AS last_error
        |  FROM events GROUP BY 1)
        |SELECT count(*) AS n_users,
        |  CAST(sum(CASE WHEN first_signup < last_purchase THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_then_purchase,
        |  CAST(sum(CASE WHEN first_view < last_error THEN 1 ELSE 0 END) AS BIGINT) AS n_view_then_error
        |FROM pu""".stripMargin,
    "e9_cohort_retention" ->
      """WITH firsts AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY 1)
        |SELECT f.cohort_week,
        |  CAST(date_diff('day', f.cohort_week, CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS INT) AS weeks_since,
        |  count(DISTINCT e.user_id) AS n_active
        |FROM events e JOIN firsts f ON e.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
