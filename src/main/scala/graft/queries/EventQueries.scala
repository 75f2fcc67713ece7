package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{AsOfJoin, Pin}

/** Time-series / event queries over the `events` fixture: tumbling-window
  * aggregation (batch twin of the streaming op), sessionization, as-of
  * join. The streaming variants (watermarks, late data, state) live in
  * graft.streaming and are pinned by golden specs; these batch twins are
  * oracle-checked so the *semantics* (bucketing, gap rules, as-of matching)
  * are independently verified.
  *
  * NOTE events.ts is nanosecond-precision in parquet; Spark truncates to
  * µs. Oracle queries only ever use date_trunc'd values (FIXTURES.md).
  */
object EventQueries extends QueryModule {

  private val qTumbling = Q(
    "q_window_tumbling",
    (s, d) => Tables.events(s, d)
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("w_start"), col("event_type")),
    Some("""SELECT CAST(time_bucket(INTERVAL 10 MINUTE, ts) AS TIMESTAMP) AS w_start,
             event_type, count(*) AS n, round(sum(value), 4) AS sum_value
           FROM events
           GROUP BY time_bucket(INTERVAL 10 MINUTE, ts), event_type
           ORDER BY w_start, event_type"""))

  // Sliding windows as batch (10-minute windows sliding by 5): each event
  // lands in two windows. DuckDB emulates the slide with two time_bucket
  // origins UNIONed (offset 0 and -5 minutes).
  private val qSliding = Q(
    "q_window_sliding",
    (s, d) => Tables.events(s, d)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("n"))
      .orderBy(col("w_start")),
    Some("""SELECT w_start, count(*) AS n FROM (
             SELECT CAST(time_bucket(INTERVAL 10 MINUTE, ts) AS TIMESTAMP) AS w_start
             FROM events
             UNION ALL
             SELECT CAST(time_bucket(INTERVAL 10 MINUTE, ts, INTERVAL 5 MINUTE) AS TIMESTAMP) AS w_start
             FROM events) t
           GROUP BY w_start ORDER BY w_start"""))

  private val qHourly = Q(
    "q_window_hourly_users",
    (s, d) => Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(
        countDistinct(col("user_id")).as("uniq_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("hour")),
    Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             count(DISTINCT user_id) AS uniq_users, count(*) AS n_events
           FROM events GROUP BY date_trunc('hour', ts) ORDER BY hour"""))

  // As-of join: each purchase matched to the user's most recent prior (or
  // simultaneous) signup — implemented with the union+window trick (no
  // pairwise join at all; one shuffle on user_id). Oracle is the ANSI
  // greatest-prior-timestamp formulation.
  private val qAsOf = Q(
    "q_join_asof",
    (s, d) => {
      // Second-truncated event times on both engines: events.ts is ns in
      // parquet, µs in Spark — raw comparisons would disagree at sub-µs.
      val ev = Tables.events(s, d).withColumn("tss", date_trunc("second", col("ts")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("tss"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("tss"))
      AsOfJoin.nearestPrior(
          purchases, signups,
          leftKey = "user_id", rightKey = "user_id",
          leftTime = "tss", rightTime = "tss")
        .select(col("event_id"), col("asof_ts").as("matched_ts"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT p.event_id,
             CAST(max(date_trunc('second', s.ts)) AS TIMESTAMP) AS matched_ts
           FROM events p LEFT JOIN events s
             ON s.user_id = p.user_id AND s.event_type = 'signup'
                AND date_trunc('second', s.ts) <= date_trunc('second', p.ts)
           WHERE p.event_type = 'purchase'
           GROUP BY p.event_id ORDER BY p.event_id"""))

  // Forward as-of: each purchase matched to the EARLIEST same-user signup
  // at or after it ("next event after" — the other as-of direction; same
  // single-shuffle union+window shape, frame flipped). Oracle is the ANSI
  // least-following-timestamp formulation.
  private val qAsOfFwd = Q(
    "q_join_asof_fwd",
    (s, d) => {
      val ev = Tables.events(s, d).withColumn("tss", date_trunc("second", col("ts")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("tss"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("tss"))
      AsOfJoin.nearestFollowing(
          purchases, signups,
          leftKey = "user_id", rightKey = "user_id",
          leftTime = "tss", rightTime = "tss")
        .select(col("event_id"), col("asof_ts").as("matched_ts"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT p.event_id,
             CAST(min(date_trunc('second', s.ts)) AS TIMESTAMP) AS matched_ts
           FROM events p LEFT JOIN events s
             ON s.user_id = p.user_id AND s.event_type = 'signup'
                AND date_trunc('second', s.ts) >= date_trunc('second', p.ts)
           WHERE p.event_type = 'purchase'
           GROUP BY p.event_id ORDER BY p.event_id"""))

  // Sessionization (batch gaps-and-islands): new session when the gap to
  // the previous event of the same user exceeds 5 minutes. The batch twin
  // of session_window; oracle is the classic lag+cumsum SQL.
  private val qSessionize = Q(
    "q_sessionize",
    (s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("tss"), col("event_id"))
      val sess = Tables.events(s, d)
        .withColumn("tss", date_trunc("second", col("ts")))
        .withColumn("prev_ts", lag(col("tss"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("tss")) - unix_timestamp(col("prev_ts")) > 300, 1L)
            .otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sess.groupBy(col("user_id"), col("sess_id"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("tss")).as("sess_start"))
        .orderBy(col("user_id"), col("sess_id"))
    },
    Some("""WITH g0 AS (
             SELECT user_id, event_id,
               CAST(date_trunc('second', ts) AS TIMESTAMP) AS tss
             FROM events),
           g1 AS (
             SELECT user_id, event_id, tss,
               CASE WHEN lag(tss, 1) OVER w IS NULL
                      OR CAST(epoch(tss) AS BIGINT) - CAST(epoch(lag(tss, 1) OVER w) AS BIGINT) > 300
                    THEN 1 ELSE 0 END AS new_sess
             FROM g0
             WINDOW w AS (PARTITION BY user_id ORDER BY tss, event_id)),
           g2 AS (
             SELECT user_id, tss,
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY tss, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
             FROM g1)
           SELECT user_id, sess_id, count(*) AS n_events, min(tss) AS sess_start
           FROM g2 GROUP BY user_id, sess_id ORDER BY user_id, sess_id"""))

  // Stream-static join shape (batch twin): events enriched with a
  // broadcast dimension derived from customer.
  private val qEnrich = Q(
    "q_event_enrich",
    (s, d) => Tables.events(s, d)
      .join(broadcast(Tables.customer(s, d)),
        col("user_id") === col("c_custkey"), "inner")
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("c_mktsegment"), col("event_type")),
    Some("""SELECT c_mktsegment, event_type, count(*) AS n,
             round(sum(value), 4) AS sum_value
           FROM events JOIN customer ON user_id = c_custkey
           GROUP BY c_mktsegment, event_type
           ORDER BY c_mktsegment, event_type"""))

  // Interval-join batch twin (of StreamingOps.intervalJoin): purchases
  // matched to same-user clicks in the 5 minutes leading up to them. The
  // non-equi time conjunct rides the user_id equi key, so this plans as a
  // hash/sort-merge join + filter — never a cartesian (same posture as
  // q_join_range).
  private val qIntervalJoin = Q(
    "q_event_interval_join",
    (s, d) => {
      val ev = Tables.events(s, d).withColumn("tss", date_trunc("second", col("ts")))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"), col("tss").as("pts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("cid"), col("user_id").as("cuser"),
          col("tss").as("cts"))
      p.join(c, col("user_id") === col("cuser") &&
          col("cts") >= col("pts") - expr("INTERVAL 5 MINUTES") &&
          col("cts") <= col("pts"))
        .groupBy(col("pid"))
        .agg(count(lit(1)).as("n_clicks"), max(col("cts")).as("last_click"))
        .orderBy(col("pid"))
    },
    Some("""SELECT p.event_id AS pid, count(*) AS n_clicks,
             max(CAST(date_trunc('second', c.ts) AS TIMESTAMP)) AS last_click
           FROM events p JOIN events c
             ON c.user_id = p.user_id AND c.event_type = 'click'
             AND date_trunc('second', c.ts) >= date_trunc('second', p.ts) - INTERVAL 5 MINUTE
             AND date_trunc('second', c.ts) <= date_trunc('second', p.ts)
           WHERE p.event_type = 'purchase'
           GROUP BY p.event_id ORDER BY pid"""))

  // Stateful-dedup batch twin: first event per (user_id, event_type).
  private val qDedupFirst = Q(
    "q_event_dedup_first",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(date_trunc("second", col("ts")), col("event_id"))
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"))
        .orderBy(col("user_id"), col("event_type"))
    },
    Some("""SELECT user_id, event_type, event_id FROM (
             SELECT user_id, event_type, event_id,
               row_number() OVER (PARTITION BY user_id, event_type
                 ORDER BY date_trunc('second', ts), event_id) AS rn
             FROM events) t
           WHERE rn = 1 ORDER BY user_id, event_type"""))

  // Conversion funnel: of the users who viewed, how many purchased
  // within an hour of their FIRST view. The per-user first-view agg
  // collapses the view side to one row per user before the range
  // condition, so the purchase match is an equi-key (user) semi join
  // with a time post-filter — never an event×event blow-up. Two scalar
  // aggregates cross-join into the one-row result (both broadcastable by
  // construction).
  private val qFunnel = Q(
    "q_funnel",
    (s, d) => {
      // module invariant (FIXTURES.md): events.ts is ns in parquet, µs in
      // Spark — every oracle comparison runs on second-truncated time so
      // sub-µs residue can never flip a boundary between engines
      val ev = Tables.events(s, d)
        .withColumn("tss", date_trunc("second", col("ts")))
      val firstViews = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"))
        .agg(min(col("tss")).as("first_view"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("tss").as("p_ts"))
      val converted = firstViews
        .join(purchases, col("user_id") === col("p_user") &&
          col("p_ts") > col("first_view") &&
          col("p_ts") <= col("first_view") + expr("INTERVAL 1 HOUR"),
          "left_semi")
        .agg(count(lit(1)).as("n_converted"))
      firstViews.agg(count(lit(1)).as("n_viewers"))
        .crossJoin(broadcast(converted))
        .select(col("n_viewers"), col("n_converted"),
          round(col("n_converted") / col("n_viewers"), 4).as("conv_rate"))
    },
    Some("""WITH fv AS (
             SELECT user_id, min(date_trunc('second', ts)) AS first_view
             FROM events WHERE event_type = 'view' GROUP BY user_id),
           conv AS (
             SELECT count(*) AS n_converted FROM fv
             WHERE EXISTS (SELECT 1 FROM events p
                           WHERE p.event_type = 'purchase'
                             AND p.user_id = fv.user_id
                             AND date_trunc('second', p.ts) > fv.first_view
                             AND date_trunc('second', p.ts) <=
                                 fv.first_view + INTERVAL 1 HOUR))
           SELECT (SELECT count(*) FROM fv) AS n_viewers, n_converted,
                  round(n_converted / (SELECT count(*) FROM fv), 4) AS conv_rate
           FROM conv"""))

  // Weekly retention cohorts: users grouped by the week of their first
  // event, counted in each later week they were active. Plan: one
  // per-user min, one (user, week) distinct, one equi join back on user,
  // one count per (cohort, offset) — all narrow-key shuffles of at most
  // |users| × |weeks| rows; nothing quadratic, nothing global.
  private val qCohort = Q(
    "q_retention_cohort",
    (s, d) => {
      val ev = Tables.events(s, d)
      val cohorts = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort_ts"))
      val activeWeeks = ev
        .select(col("user_id").as("a_user"),
          date_trunc("week", col("ts")).as("wk"))
        .distinct()
      activeWeeks
        .join(cohorts, col("a_user") === col("user_id"))
        .select(col("cohort_ts").cast("date").as("cohort_week"),
          (datediff(col("wk"), col("cohort_ts")) / 7).cast("int").as("week_offset"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },
    Some("""WITH cohorts AS (
             SELECT user_id, date_trunc('week', min(ts)) AS cohort_ts
             FROM events GROUP BY user_id),
           active AS (
             SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
             FROM events)
           SELECT CAST(cohort_ts AS DATE) AS cohort_week,
                  CAST(date_diff('day', cohort_ts, wk) // 7 AS INT) AS week_offset,
                  count(*) AS n_users
           FROM active JOIN cohorts USING (user_id)
           GROUP BY 1, 2 ORDER BY 1, 2"""))

  // Ordered 3-step funnel (view → click → purchase, each strictly after
  // the previous): three chained per-user min-aggs, each conditioned on
  // the previous step's timestamp — three narrow passes over the same
  // user-keyed shuffle, never an event×event×event join. Counts drop
  // monotonically by construction.
  private val qFunnelSteps = Q(
    "q_funnel_steps",
    (s, d) => {
      // second-truncated time throughout — the module's ns-vs-µs oracle
      // invariant (see q_funnel)
      val ev = Tables.events(s, d)
        .withColumn("tss", date_trunc("second", col("ts")))
      def firstOf(tpe: String, after: org.apache.spark.sql.DataFrame,
          afterCol: String, out: String) =
        ev.filter(col("event_type") === tpe)
          .select(col("user_id").as("u"), col("tss"))
          .join(after, col("u") === col("user_id"))
          .filter(col("tss") > col(afterCol))
          .groupBy(col("u"))
          .agg(min(col("tss")).as(out))
          .withColumnRenamed("u", "user_id")
      val step1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("tss")).as("t1"))
      val step2 = firstOf("click", step1, "t1", "t2")
      val step3 = firstOf("purchase", step2, "t2", "t3")
      step1.agg(count(lit(1)).as("n_view"))
        .crossJoin(broadcast(step2.agg(count(lit(1)).as("n_view_click"))))
        .crossJoin(broadcast(step3.agg(count(lit(1)).as("n_view_click_purchase"))))
    },
    Some("""WITH s1 AS (
             SELECT user_id, min(date_trunc('second', ts)) AS t1 FROM events
             WHERE event_type = 'view' GROUP BY user_id),
           s2 AS (
             SELECT e.user_id, min(date_trunc('second', e.ts)) AS t2
             FROM events e JOIN s1 ON e.user_id = s1.user_id
             WHERE e.event_type = 'click'
               AND date_trunc('second', e.ts) > s1.t1
             GROUP BY e.user_id),
           s3 AS (
             SELECT e.user_id, min(date_trunc('second', e.ts)) AS t3
             FROM events e JOIN s2 ON e.user_id = s2.user_id
             WHERE e.event_type = 'purchase'
               AND date_trunc('second', e.ts) > s2.t2
             GROUP BY e.user_id)
           SELECT (SELECT count(*) FROM s1) AS n_view,
                  (SELECT count(*) FROM s2) AS n_view_click,
                  (SELECT count(*) FROM s3) AS n_view_click_purchase"""))

  // Clickstream path analysis: top transition bigrams (event_type →
  // next event_type per user). One user-partitioned lead() window (the
  // partition key is the shuffle key — no global ordering anywhere),
  // then an ordinary count rollup over ≤ |types|² keys.
  private val qEventPaths = Q(
    "q_event_paths",
    (s, d) => {
      // second-truncated ordering + event_id tiebreak: truncation widens
      // ties, but event_id resolves them IDENTICALLY in both engines —
      // raw ts would order by ns in DuckDB and µs here (module invariant)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tss"), col("event_id"))
      Tables.events(s, d)
        .withColumn("tss", date_trunc("second", col("ts")))
        .select(col("user_id"), col("tss"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("event_type"), col("next_type"))
        .limit(10)
    },
    Some("""SELECT event_type, next_type, n FROM (
             SELECT event_type, next_type, count(*) AS n FROM (
               SELECT event_type,
                      lead(event_type, 1) OVER (PARTITION BY user_id
                        ORDER BY date_trunc('second', ts), event_id)
                        AS next_type
               FROM events) t
             WHERE next_type IS NOT NULL
             GROUP BY event_type, next_type)
           ORDER BY n DESC, event_type, next_type LIMIT 10"""))

  // PageRank (k=3, d=0.85, weighted) over the event-transition graph —
  // the iterative sparse matrix-vector computation (the other classic
  // iterative graph op next to DedupClusters' connected components),
  // used in data curation as a link-authority quality signal. Each
  // iteration is: edges ⋈ ranks on src (ranks is O(|nodes|) and rides
  // the same src-hash partitioning every round — one reusable
  // exchange), then a per-dst fold of incoming contributions. Dangling
  // nodes keep the standard simplified semantics (their mass leaks;
  // identical on both engines).
  //
  // Determinism: the per-dst inflow folds doubles in SORTED src order
  // via a HOF fold on both engines (the LmScore pattern) — a plain
  // sum() would be summation-order-nondeterministic across layouts.
  // In-degree here is ≤ |event types|, so the collect_list is bounded;
  // the production variant at web scale swaps the fold for plain sum()
  // and accepts fp-association noise below the rounding cut. The
  // fixed-k loop unrolls to k CTE stages in the oracle, so DuckDB
  // replays every iteration value-exactly.
  /** The event-transition graph: consecutive event types per user →
    * weighted (src, dst, w) edges, materialized once (without the
    * localCheckpoint every PageRank iteration would replay the
    * scan + window).
    */
  private def transitionEdges(s: SparkSession, d: String) = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tss"), col("event_id"))
    Pin(Tables.events(s, d)
      .withColumn("tss", date_trunc("second", col("ts")))
      .select(col("user_id"), col("tss"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .select(col("event_type").as("src"), col("next_type").as("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w")))
  }

  private val qPagerank = Q(
    "q_pagerank",
    (s, d) => {
      val edges = transitionEdges(s, d)
      val outw = edges.groupBy(col("src"))
        .agg(sum(col("w")).cast("double").as("ow"))
      val e = edges.join(outw, "src")
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
      val n = nodes.count().toDouble // O(|event types|) driver scalar
      var ranks = nodes.withColumn("r", lit(1.0 / n))
      for (_ <- 1 to 3) {
        val contribs = e.join(ranks, col("src") === col("node"))
          .select(col("dst"), col("src"),
            (col("r") * col("w") / col("ow")).as("c"))
        val folded = contribs.groupBy(col("dst"))
          .agg(aggregate(array_sort(collect_list(struct(col("src"), col("c")))),
            lit(0.0), (acc, x) => acc + x.getField("c")).as("inflow"))
        ranks = nodes.join(folded, col("node") === col("dst"), "left")
          .select(col("node"),
            (lit(0.15 / n) + lit(0.85) * coalesce(col("inflow"), lit(0.0)))
              .as("r"))
      }
      ranks.select(col("node"), round(col("r"), 6).as("rank"))
        .orderBy(col("node"))
    },
    Some("""WITH seq AS (
             SELECT event_type,
                    lead(event_type, 1) OVER (PARTITION BY user_id
                      ORDER BY date_trunc('second', ts), event_id) AS next_type
             FROM events),
           e0 AS (SELECT event_type AS src, next_type AS dst, count(*) AS w
                  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
           outw AS (SELECT src, CAST(sum(w) AS DOUBLE) AS ow FROM e0 GROUP BY src),
           e AS (SELECT e0.src, e0.dst, e0.w, outw.ow FROM e0 JOIN outw USING (src)),
           nodes AS (SELECT DISTINCT src AS node FROM e0
                     UNION SELECT DISTINCT dst FROM e0),
           nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
           r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
           c1 AS (SELECT e.dst, list_reduce(list(r0.r * e.w / e.ow ORDER BY e.src),
                         (a, b) -> a + b) AS inflow
                  FROM e JOIN r0 ON r0.node = e.src GROUP BY e.dst),
           r1 AS (SELECT nodes.node,
                    0.15 / nn.n + 0.85 * coalesce(c1.inflow, 0.0) AS r
                  FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.dst = nodes.node),
           c2 AS (SELECT e.dst, list_reduce(list(r1.r * e.w / e.ow ORDER BY e.src),
                         (a, b) -> a + b) AS inflow
                  FROM e JOIN r1 ON r1.node = e.src GROUP BY e.dst),
           r2 AS (SELECT nodes.node,
                    0.15 / nn.n + 0.85 * coalesce(c2.inflow, 0.0) AS r
                  FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.dst = nodes.node),
           c3 AS (SELECT e.dst, list_reduce(list(r2.r * e.w / e.ow ORDER BY e.src),
                         (a, b) -> a + b) AS inflow
                  FROM e JOIN r2 ON r2.node = e.src GROUP BY e.dst),
           r3 AS (SELECT nodes.node,
                    0.15 / nn.n + 0.85 * coalesce(c3.inflow, 0.0) AS r
                  FROM nodes CROSS JOIN nn LEFT JOIN c3 ON c3.dst = nodes.node)
           SELECT node, round(r, 6) AS rank FROM r3 ORDER BY node"""))

  // PageRank with FULL standard semantics (operators/PageRank): iterate
  // to L∞ convergence (eps=1e-10, the strictest stop that still
  // converges fast on a damped walk) with dangling-mass redistribution,
  // so total rank mass is conserved at exactly 1 — the hardened form of
  // q_pagerank's documented fixed-k/leaky simplifications. No DuckDB
  // oracle by declared design: the iteration count is data-dependent
  // (an unrollable CTE would hard-code k), so the driver records the
  // rows-only check and PageRankSpec pins values — exact equality vs a
  // plain-Scala power iteration replaying the same sorted fold order,
  // mass conservation, convergence vs the cap, and the O(1) plan-depth
  // guarantee of the per-iteration localCheckpoint.
  private val qPagerankConverged = Q(
    "q_pagerank_converged",
    (s, d) => {
      val res = graft.operators.PageRank.run(s, transitionEdges(s, d),
        damping = 0.85, eps = 1e-10, maxIter = 60)
      res.ranks.select(col("node"), round(col("r"), 6).as("rank"))
        .orderBy(col("node"))
    })

  override def queries: Seq[Q] = Seq(
    qTumbling, qSliding, qHourly, qAsOf, qAsOfFwd, qSessionize, qEnrich,
    qIntervalJoin, qDedupFirst, qFunnel, qCohort, qFunnelSteps, qEventPaths,
    qPagerank, qPagerankConverged)
}
