package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Batch event-analytics operators over the `events` table — the classic
  * product-analytics trio (sessionize / funnel / retention) every
  * analytics engine is asked for, here as single declarative plans.
  *
  * Parity discipline: ALL event-time arithmetic runs on exact MICROSECOND
  * longs (`unix_micros` / DuckDB `epoch_us`) — second-floored casts would
  * split sessions differently from the oracle whenever a gap straddles the
  * threshold inside a second, and money sums go through the same
  * cents-as-long trick the streaming family established (t1).
  *
  * Scale notes: every operator is one shuffle on `user_id` (window or
  * groupBy) plus driver-free aggregation — user-partitioned analytics is
  * the textbook well-distributed workload; no global windows anywhere.
  */
object EventOps {
  import Relational.Q

  private def us(c: org.apache.spark.sql.Column) = unix_micros(c)

  /** Core gap-sessionizer over (user_id, event_id, ts_us, value) — a gap
    * STRICTLY greater than `gapUs` opens a new session; (ts_us, event_id)
    * is the total order (the id tiebreak pins same-microsecond events).
    * Exposed for the ScalaCheck law that pits it against a driver-side
    * brute-force sessionizer on adversarial inputs (exact-gap boundaries,
    * timestamp ties) the fixture may not contain. */
  /** The flagging half of [[sessionize]]: every input row tagged with its
    * session_no (lag-gap flag → running sum over the same user window) —
    * all input columns flow through, so session-scoped analytics (e17)
    * can aggregate whatever they carry. */
  private[graft] def sessionFlags(ev: org.apache.spark.sql.DataFrame,
      gapUs: Long): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    ev.withColumn("new_sess",
        when(lag(col("ts_us"), 1).over(w).isNull ||
          col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1L).otherwise(0L))
      .withColumn("session_no",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  private[graft] def sessionize(ev: org.apache.spark.sql.DataFrame,
      gapUs: Long): org.apache.spark.sql.DataFrame = {
    sessionFlags(ev, gapUs).groupBy(col("user_id"), col("session_no"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("sess_start_us"),
        max(col("ts_us")).as("sess_end_us"),
        sum(Relational.cents(col("value"))).as("value_cents"))
  }

  /** E1: gap-based batch sessionization (30-min inactivity boundary) —
    * the batch twin of the streaming session window (t3): lag-gap flag →
    * running sum = session number → per-session rollup. Window is
    * partitioned by user: sessions build in parallel per user, never a
    * global sort. */
  val e1Sessionize: Q = (s, d) =>
    sessionize(
      Tables.events(s, d).withColumn("ts_us", us(col("ts"))),
      gapUs = 1800L * 1000000)

  /** E2: signup→purchase conversion funnel (24 h window) — per user: first
    * signup, then the first purchase within 24 h of it. Two filtered
    * min-aggregations and one join, all keyed on user_id. */
  val e2Funnel: Q = (s, d) => {
    val dayUs = 86400L * 1000000
    val ev = Tables.events(s, d).withColumn("ts_us", us(col("ts")))
    val signups = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("signup_us"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"))
      .join(signups, Seq("user_id"))
      .where(col("ts_us") >= col("signup_us") &&
        col("ts_us") <= col("signup_us") + dayUs)
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("first_purchase_us"))
    signups.join(purchases, Seq("user_id"), "left")
      .select(col("user_id"), col("signup_us"), col("first_purchase_us"),
        col("first_purchase_us").isNotNull.as("converted"))
  }

  /** E3: weekly cohort retention — cohort = Monday-truncated week of the
    * user's first event; one row per (cohort week, week offset) with the
    * distinct active users. Week offsets are exact integer division on
    * µs-longs, so both engines bucket identically. */
  val e3Retention: Q = (s, d) => {
    val weekUs = 604800L * 1000000
    val ev = Tables.events(s, d).withColumn("ts_us", us(col("ts")))
    val first = ev.groupBy(col("user_id")).agg(
      min(col("ts_us")).as("first_us"),
      us(date_trunc("week", min(col("ts")))).as("cohort_week_us"))
    ev.select(col("user_id"), col("ts_us"))
      .join(first, Seq("user_id"))
      .withColumn("week_offset",
        ((col("ts_us") - col("first_us")) / weekUs).cast("long"))
      .groupBy(col("cohort_week_us"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
  }

  /** E4: event-transition matrix — first-order Markov statistics over each
    * user's event stream (the "what do users do next" table product
    * analytics asks for, and the sequence prior a behavioral-cloning
    * dataset builder samples from). Per user, events total-ordered by
    * (ts_us, event_id) exactly like e1; every adjacent step contributes
    * one (from_type → to_type) observation; probabilities normalize per
    * source state. ONE user-partitioned window (the same partitioning e1
    * already shuffles on — a warehouse would reuse the layout) + one
    * 5×5-scale pair aggregation; the per-from normalizer is a window over
    * the tiny aggregate, never a second pass over events. */
  /** Transition core over ANY frame: `by` partitions the streams, `order`
    * totally orders within one, `typeCol` is the state. Exposed to the
    * pipeline registry as `transitions`. */
  private[graft] def transitionsFrames(ev: org.apache.spark.sql.DataFrame,
      by: String, order: Seq[String], typeCol: String): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col(by)).orderBy(order.map(col): _*)
    val steps = ev
      .withColumn("to_type", lead(col(typeCol), 1).over(w))
      .where(col("to_type").isNotNull)
    val counts = steps
      .groupBy(col(typeCol).as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_steps"))
    counts.withColumn("p",
      round(col("n_steps") / sum(col("n_steps")).over(Window.partitionBy(col("from_type"))), 6))
  }

  val e4Transitions: Q = (s, d) =>
    transitionsFrames(
      Tables.events(s, d).withColumn("ts_us", us(col("ts"))),
      by = "user_id", order = Seq("ts_us", "event_id"), typeCol = "event_type")

  /** E5: time-series gap fill — the densification step every downstream
    * forecaster/anomaly-detector needs: each user's activity as a DENSE
    * hourly series between their first and last event, zero rows minted
    * for silent hours. Hour buckets are exact µs-long floors
    * (`ts_us - ts_us % 3600e6`), the spine is `sequence()` + `explode`
    * generated FROM the per-user bounds aggregate — never a driver loop,
    * never a global calendar crossjoin — and the spine⋈counts join is
    * keyed on (user_id, hour_us), the same key both sides just aggregated
    * on. Spine size is Σ_user(active-span hours), bounded by
    * users × corpus span — at 100 TB the per-user window keeps every
    * partition small, and a user's whole series lands in one partition. */
  /** e5 core over ANY (key, ts, value) stream with a caller-chosen bucket
    * width. Exposed to the pipeline registry as `gap_fill`. */
  private[graft] def gapFillFrames(ev: org.apache.spark.sql.DataFrame,
      key: String, tsCol: String, valueCol: String,
      bucketUs: Long): org.apache.spark.sql.DataFrame = {
    val base = Tables.microTs(ev, tsCol)
      .withColumn("ts_us", us(col(tsCol)))
      .withColumn("bucket_us", col("ts_us") - col("ts_us") % bucketUs)
    val counts = base.groupBy(col(key), col("bucket_us"))
      .agg(count(lit(1)).as("n"), sum(Relational.cents(col(valueCol))).as("c"))
    // bounds derive from the (key, bucket) AGGREGATE, not from base (r21,
    // guide §2.4): aggregating base separately re-scanned the event table
    // (and re-paid the per-row µs arithmetic) for a min/max the
    // bucket-level rollup already determines — min/max of bucket_us over
    // distinct (key, bucket) rows equals min/max over the raw rows. Both
    // consumers now sit on the SAME (key, bucket) exchange, so
    // ReuseExchange runs the scan + rollup once.
    val bounds = counts.groupBy(col(key))
      .agg(min(col("bucket_us")).as("b0"), max(col("bucket_us")).as("b1"))
    val spine = bounds.select(col(key),
      explode(sequence(col("b0"), col("b1"), lit(bucketUs))).as("bucket_us"))
    spine.join(counts, Seq(key, "bucket_us"), "left")
      .select(col(key), col("bucket_us"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        coalesce(col("c"), lit(0L)).as("value_cents"))
  }

  val e5GapFill: Q = (s, d) =>
    gapFillFrames(Tables.events(s, d), key = "user_id", tsCol = "ts",
      valueCol = "value", bucketUs = 3600L * 1000000)
      .withColumnRenamed("bucket_us", "hour_us")

  /** E6: growth accounting — new users per hour + running cumulative
    * distinct users (the "total users over time" chart). Distinctness
    * never needs a running-distinct state: a user is NEW exactly once
    * (their min-ts hour), so one per-user min-agg → per-hour count →
    * running sum OVER THE HOUR-LEVEL AGGREGATE. The only ordered window
    * runs over ~hours rows, not events — at 100 TB that aggregate is tens
    * of thousands of rows no matter the corpus size, so the unpartitioned
    * cumulative window is safe by construction. */
  val e6CumulativeUsers: Q = (s, d) => {
    val hourUs = 3600L * 1000000
    val first = Tables.events(s, d)
      .withColumn("ts_us", us(col("ts")))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("first_us"))
      .withColumn("hour_us", col("first_us") - col("first_us") % hourUs)
    val hourly = first.groupBy(col("hour_us")).agg(count(lit(1)).as("n_new"))
    hourly.withColumn("cum_users",
      sum(col("n_new")).over(Window.orderBy(col("hour_us"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** E7: RFM segmentation — the classic customer-value table: per user,
    * Recency (days since last event, vs the corpus max as "now"),
    * Frequency (event count) and Monetary (cents sum), banded 1-5 and
    * composed into the 3-digit RFM segment code. Bands are FIXED
    * business-rule thresholds evaluated per row — not global quintile
    * ntile ranks, which would force every user through ONE unpartitioned
    * sort (the classic RFM scale trap); with fixed bands the whole
    * operator is one user-keyed aggregation plus a broadcast 1-row "now",
    * embarrassingly parallel at any user count. All-integer output. */
  val e7Rfm: Q = (s, d) => {
    val ev = Tables.events(s, d).withColumn("ts_us", us(col("ts")))
    val now = ev.agg(max(col("ts_us")).as("now_us"))
    val per = ev.groupBy(col("user_id")).agg(
      max(col("ts_us")).as("last_us"),
      count(lit(1)).as("f"),
      sum(Relational.cents(col("value"))).as("m_cents"))
    per.crossJoin(broadcast(now))
      .withColumn("r_days", expr("(now_us - last_us) div 86400000000"))
      .withColumn("r_score",
        when(col("r_days") <= 0, 5).when(col("r_days") <= 1, 4)
          .when(col("r_days") <= 3, 3).when(col("r_days") <= 7, 2).otherwise(1))
      .withColumn("f_score",
        when(col("f") >= 80, 5).when(col("f") >= 70, 4)
          .when(col("f") >= 60, 3).when(col("f") >= 50, 2).otherwise(1))
      .withColumn("m_score",
        when(col("m_cents") >= 500000, 5).when(col("m_cents") >= 400000, 4)
          .when(col("m_cents") >= 300000, 3).when(col("m_cents") >= 200000, 2).otherwise(1))
      .withColumn("segment",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .select(col("user_id"), col("r_days"), col("f"), col("m_cents"),
        col("r_score"), col("f_score"), col("m_score"), col("segment"))
  }

  /** E8: rolling active users — per-day DAU and trailing-7-day WAU (the
    * engagement chart every product team draws first). Sliding COUNT
    * DISTINCT has no bounded-state window form; the scalable identity is
    * offset-explode: each distinct (user, day) row votes for the 7 target
    * days it keeps the user "weekly active" on, and WAU is a plain
    * count-distinct per target day. Explode factor is the window length
    * (7), applied to the already-deduped user-day table — event volume
    * never multiplies. Days are integer day numbers (µs div 86400e6), so
    * every column is integer-exact cross-engine. Target days are inner-
    * joined back to days with actual activity, so no phantom trailing
    * days appear after the corpus end. */
  val e8ActiveUsers: Q = (s, d) => {
    val dayUs = 86400L * 1000000L
    val ud = Tables.events(s, d)
      .select(col("user_id"), expr(s"unix_micros(ts) div $dayUs").as("day"))
      .distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + lit(6))).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau7"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau7"))
  }

  /** E9: trailing-window anomaly detection — flag hours whose spend sits
    * more than 3σ from the user's own trailing-24-hour baseline (the
    * fraud/abuse/incident alert every event pipeline grows). Two scale
    * decisions: the baseline is a bounded ROWS frame over the e5
    * gap-filled series (dense hours make "24 rows" mean "24 hours" — on
    * the raw event stream the frame would silently span idle days), and
    * the 3σ test runs in EXACT integer arithmetic: |x−μ|>3σ with μ=S/n,
    * σ²=(nQ−S²)/n² multiplies through to (n·x−S)² > 9·(nQ−S²) — counts,
    * sums and squares of cents-longs only, so the flag is bit-identical
    * cross-engine (a float z-score would wobble at band edges). Frames
    * needing ≥8 baseline hours emit; only flagged rows are returned.
    * Magnitudes: cents ≤ ~1e6/hour, n ≤ 24 ⇒ every term < 6e14, far
    * inside Long. One user-keyed window shuffle total (shared with the
    * gap-fill spine's). */
  val e9Anomaly: Q = (s, d) => {
    val series = gapFillFrames(Tables.events(s, d), key = "user_id",
      tsCol = "ts", valueCol = "value", bucketUs = 3600L * 1000000)
    val w = Window.partitionBy(col("user_id")).orderBy(col("bucket_us"))
      .rowsBetween(-24, -1)
    val dev = col("n_base") * col("value_cents") - col("s_base")
    series
      // the square is projected BEFORE the window (r21): as an inline
      // window-input expression it forced Catalyst to split a second
      // Window operator (plans/r21/e9_anomaly_after.txt pre-fix,
      // operators 19-21) — three frame aggregates over plain columns
      // collapse into ONE Window pass over the series
      .withColumn("v2", col("value_cents") * col("value_cents"))
      .withColumn("n_base", count(col("value_cents")).over(w))
      .withColumn("s_base", sum(col("value_cents")).over(w))
      .withColumn("q_base", sum(col("v2")).over(w))
      .where(col("n_base") >= 8 &&
        dev * dev > lit(9L) * (col("n_base") * col("q_base") - col("s_base") * col("s_base")))
      .select(col("user_id"), col("bucket_us").as("hour_us"),
        col("value_cents"), col("n_base"), col("s_base"), col("q_base"))
  }

  /** E10: top-k user-journey paths — sequential-pattern mining's workhorse
    * query: each user's first 5 events (event-time order, id tie-break)
    * become a path string, paths are counted across users, and the top 20
    * most-common journeys come out. Scale shape: ONE user-keyed window
    * (same exchange e1/e4 use) trims to 5 rows per user BEFORE any
    * collection, so the per-user array is O(5) regardless of how many
    * events a hot user has; the path aggregate's cardinality is bounded by
    * the type-alphabet^5, not user count; the global top-k is O(paths).
    * The collect_list is made order-independent by sorting (rn, type)
    * structs — partition order never leaks into the path string. */
  /** e10 core over ANY partitioned ordered typed stream: first `k` steps
    * per `by` key become the path, top `topN` paths by incidence. Exposed
    * to the registry as `event_paths`. */
  private[graft] def eventPathsFrames(ev: org.apache.spark.sql.DataFrame,
      by: String, order: Seq[String], typeCol: String,
      k: Int, topN: Int): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col(by)).orderBy(order.map(col): _*)
    val firstK = ev.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k)
      .select(col(by), col("_rn"), col(typeCol))
    val paths = firstK.groupBy(col(by))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("_rn"), col(typeCol)))),
          x => x.getField(typeCol)),
        ">").as("path"))
    paths.groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(topN)
  }

  val e10EventPaths: Q = (s, d) =>
    eventPathsFrames(
      Tables.events(s, d).withColumn("ts_us", us(col("ts"))),
      by = "user_id", order = Seq("ts_us", "event_id"),
      typeCol = "event_type", k = 5, topN = 20)

  /** e11 core over ANY typed event stream: histogram of the lag between a
    * user's first `fromType` and their first subsequent `toType`,
    * bucketed to whole hours and capped at `capHours` (the open tail
    * bucket). Exposed to the registry as `conversion_lag`. */
  private[graft] def conversionLagFrames(ev: org.apache.spark.sql.DataFrame,
      fromType: String, toType: String, capHours: Int): org.apache.spark.sql.DataFrame = {
    val hourUs = 3600L * 1000000
    val from = ev.where(col("event_type") === fromType)
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("from_us"))
    val to = ev.where(col("event_type") === toType)
      .select(col("user_id"), col("ts_us"))
      .join(from, Seq("user_id"))
      .where(col("ts_us") >= col("from_us"))
      .groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("to_us"), min(col("from_us")).as("from_us"))
    to.withColumn("lag_hours",
        least(((col("to_us") - col("from_us")) / hourUs).cast("long"), lit(capHours.toLong)))
      .groupBy(col("lag_hours")).agg(count(lit(1)).as("n_users"))
  }

  /** E11: conversion-lag distribution — "how long from first view to
    * first purchase?", the time-to-convert histogram behind every funnel
    * dashboard. Two user-keyed min-aggregations and one histogram
    * groupBy; the first-view side shuffles (user_id, µs-long) pairs only,
    * and the histogram's key space is `capHours`+1 buckets regardless of
    * user count. Lag math is exact µs-long division (truncation = floor
    * for the non-negative lags the `>=` join guarantees), so both engines
    * bucket identically. */
  val e11ConversionLag: Q = (s, d) =>
    conversionLagFrames(
      Tables.events(s, d).withColumn("ts_us", us(col("ts"))),
      fromType = "view", toType = "purchase", capHours = 48)

  /** E12: last-touch conversion attribution (24 h lookback) — every
    * purchase is attributed to the user's most recent PRIOR click/view
    * within the window, else 'direct': the marketing-attribution rollup
    * behind "which channel drove this revenue", and the credit-assignment
    * primitive behavioral datasets label conversions with.
    *
    * Plan: ONE user-keyed window (the e1/e4 exchange) carries the last
    * touch as a (ts, type) struct via last(ignoreNulls) over an
    * unbounded-to-previous-row frame — running state per user is one
    * struct, never a per-user event buffer, and the naive alternative
    * (purchases × touches inequality self-join) never appears. The
    * channel rollup aggregates alphabet-sized keys. Total order
    * (ts_us, event_id) pins same-microsecond ties; cents-long revenue
    * sums are partitioning-independent. */
  val e12Attribution: Q = (s, d) =>
    attributionFrames(
      Tables.events(s, d).withColumn("ts_us", us(col("ts"))),
      touchTypes = Seq("click", "view"), target = "purchase",
      lookbackUs = 86400L * 1000000)

  /** e12 core over ANY (user_id, event_id, event_type, ts_us, value)
    * stream with caller-chosen touch types, conversion type and lookback
    * — registry name `attribution`. */
  private[graft] def attributionFrames(ev: org.apache.spark.sql.DataFrame,
      touchTypes: Seq[String], target: String, lookbackUs: Long): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("lt",
        last(
          when(col("event_type").isin(touchTypes.map(x => x: Any): _*),
            struct(col("ts_us").as("t_us"), col("event_type").as("ch"))),
          ignoreNulls = true).over(w))
      .where(col("event_type") === target)
      .withColumn("channel",
        when(col("lt").isNotNull && col("lt.t_us") >= col("ts_us") - lookbackUs,
          col("lt.ch")).otherwise(lit("direct")))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(Relational.cents(col("value"))).as("attributed_cents"))
  }

  /** E13: ordered k-step funnel — each step's first occurrence must
    * FOLLOW the previous step's (e2 generalized past two steps and freed
    * of its fixed window): per user, t₁ = first signup, t₂ = first view
    * at-or-after t₁, t₃ = first purchase at-or-after t₂; partial funnels
    * keep their depth. The product-analytics "activation path" report
    * and the multi-step conversion label a sequence model trains on.
    *
    * Plan: one filtered min-agg per step, each joined on user_id — k
    * user-keyed aggregations co-partitioned on the SAME key (one
    * logical exchange family, AQE reuses the partitioning), left joins
    * preserve drop-off. Never a window over the whole stream and never
    * an inequality self-join: each step's filter lands BEFORE its
    * aggregation, so step frames shrink monotonically. */
  val e13FunnelSteps: Q = (s, d) =>
    funnelStepsFrames(
      Tables.events(s, d).withColumn("ts_us", us(col("ts"))),
      Seq("signup", "view", "purchase"))

  /** e13 core over ANY (user_id, event_type, ts_us) stream and ordered
    * step-type list — registry name `funnel_steps`. */
  private[graft] def funnelStepsFrames(ev: org.apache.spark.sql.DataFrame,
      steps: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val first = ev.where(col("event_type") === steps.head)
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("s1_us"))
    val full = steps.zipWithIndex.drop(1).foldLeft(first) {
      case (acc, (step, i)) =>
        val prev = s"s${i}_us"
        val cur = s"s${i + 1}_us"
        val next = ev.where(col("event_type") === step)
          .select(col("user_id"), col("ts_us"))
          .join(acc.select(col("user_id"), col(prev)), Seq("user_id"))
          .where(col("ts_us") >= col(prev))
          .groupBy(col("user_id")).agg(min(col("ts_us")).as(cur))
        acc.join(next.select(col("user_id"), col(cur)), Seq("user_id"), "left")
    }
    val depth = steps.indices.drop(1)
      .map(i => when(col(s"s${i + 1}_us").isNotNull, 1L).otherwise(0L))
      .foldLeft(lit(1L))(_ + _)
    full.withColumn("depth", depth)
  }

  /** e14 core over ANY keyed typed event stream: MATCH_RECOGNIZE-style
    * sequence-pattern counting. Each key's events, totally ordered by
    * `order`, become a character sequence (each type contributes its
    * FIRST letter — distinct across the fixture's five types; a
    * production wiring passes an explicit alphabet map), and `pattern` —
    * a regex over that alphabet — is counted non-overlapping leftmost
    * per key. One key-partitioned window (the e1/e4/e10 exchange) is the
    * only shuffle; the per-key string is bounded by that key's event
    * count, the same per-key state every MATCH_RECOGNIZE engine holds.
    *
    * Determinism: partition order never reaches the string — events sort
    * by (order…, type char) structs inside `array_sort`, the same
    * µs+id total order the other event ops pin. Patterns must be written
    * in the Java∩RE2 common syntax (the l18 rule) and such that
    * leftmost-FIRST (Java) and leftmost-first RE2 agree — character-class
    * runs like `v[vc]*p` are safe: the class excludes the terminator, so
    * greedy and lazy expansion reach the identical match set. */
  private[graft] def patternMatchFrames(ev: org.apache.spark.sql.DataFrame,
      by: String, order: Seq[String], typeCol: String,
      pattern: String): org.apache.spark.sql.DataFrame = {
    val seqs = ev
      .select(col(by), struct((order.map(col) :+
        substring(col(typeCol), 1, 1).as("ch")): _*).as("st"))
      .groupBy(col(by))
      .agg(array_join(
        transform(array_sort(collect_list(col("st"))), x => x.getField("ch")),
        "").as("sq"))
    seqs.select(col(by), regexp_count(col("sq"), lit(pattern)).as("n_matches"))
      .where(col("n_matches") > 0)
  }

  /** E14: event-sequence pattern matching (the MATCH_RECOGNIZE / funnel-
    * regex primitive): count each user's browse-to-buy runs — a view,
    * any run of views/clicks, ending in a purchase (`v[vc]*p`). e2/e13
    * ask "did the user ever convert"; e14 counts EVERY completed run and
    * is the general form (any regex over the event alphabet). */
  val e14PatternMatch: Q = (s, d) =>
    patternMatchFrames(
      Tables.events(s, d).withColumn("ts_us", us(col("ts"))),
      by = "user_id", order = Seq("ts_us", "event_id"),
      typeCol = "event_type", pattern = "v[vc]*p")

  /** E15: exponentially-weighted trailing spend (EWMA) per user-hour —
    * the smoothed baseline behind alerting/forecast dashboards, where
    * e9's equal-weight 3σ window over-reacts to old history. α = 1/2
    * with an 8-hour horizon makes every weight a power of two, so the
    * whole series is ALL-INTEGER: ewma256 = Σ_{j=0..7} 2^(7−j)·cents(t−j)
    * ≡ 256·EWMA (truncated tail < 1 cent of weight) — no float ever
    * crosses engines (the e9 rule). Runs over the e5 gap-filled dense
    * spine, so "8 rows back" IS "8 hours back" even across silent hours;
    * the only exchange is the same user-keyed window every event op
    * shuffles on, and the 8 lags fold into ONE window pass. */
  val e15Ewma: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("hour_us"))
    val series = gapFillFrames(Tables.events(s, d), key = "user_id",
      tsCol = "ts", valueCol = "value", bucketUs = 3600L * 1000000)
      .withColumnRenamed("bucket_us", "hour_us")
    val ewma = (0 to 7)
      .map(j => lag(col("value_cents"), j, 0L).over(w) * lit(1L << (7 - j)))
      .reduce(_ + _)
    series.select(col("user_id"), col("hour_us"), ewma.as("ewma256"))
  }

  /** E16: behavioral-cadence profile (the bot-detection / abuse-triage
    * primitive): per-user inter-event-gap statistics — gap count, exact
    * median and p90 gap, and the burst fraction (gaps ≤ 1 s) as an
    * all-integer per-mille. Scripted traffic shows up as tiny medians
    * and high burst shares; humans as heavy-tailed gaps. One user-keyed
    * window (the shared event exchange) computes gaps, one aggregation
    * profiles them; users with a single event carry no gap and drop out.
    * Exact `percentile` over integer µs gaps lands on .0/.5 doubles both
    * engines reproduce (the l15/l32 parity rule); the burst share stays
    * integer via floor-division per-mille. 100 TB swap: approx_percentile,
    * same plan (the l15b argument). */
  val e16Cadence: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, d)
      .withColumn("ts_us", us(col("ts")))
      .withColumn("gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .where(col("gap").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_gaps"),
        expr("percentile(gap, 0.5D)").as("med_gap_us"),
        expr("percentile(gap, 0.9D)").as("p90_gap_us"),
        sum(when(col("gap") <= 1000000L, 1L).otherwise(0L)).as("n_burst"))
      .select(col("user_id"), col("n_gaps"), col("med_gap_us"),
        col("p90_gap_us"),
        floor(col("n_burst") * 1000 / col("n_gaps")).as("burst_permille"))
  }

  /** E17: within-session funnel — did the VISIT convert? e2 asks "did the
    * user ever convert"; e17 scopes conversion to the session (the visit-
    * level conversion rate every product dashboard leads with): a session
    * converts iff it contains a view AND a purchase at-or-after the first
    * view. Rides e1's session flags (same user-keyed window — the one
    * exchange), then one (user, session) rollup with filtered min/max —
    * conversion needs no second pass and no join. */
  val e17SessionFunnel: Q = (s, d) => {
    val flagged = sessionFlags(
      Tables.events(s, d).withColumn("ts_us", us(col("ts"))),
      gapUs = 1800L * 1000000)
    flagged.groupBy(col("user_id"), col("session_no"))
      .agg(
        count(lit(1)).as("n_events"),
        min(when(col("event_type") === "view", col("ts_us"))).as("first_view_us"),
        max(when(col("event_type") === "purchase", col("ts_us"))).as("last_purchase_us"))
      .select(col("user_id"), col("session_no"), col("n_events"),
        col("first_view_us"),
        coalesce(col("first_view_us").isNotNull &&
          col("last_purchase_us") >= col("first_view_us"), lit(false))
          .as("converted"))
  }

  /** The banded purchase × touch pairs e18 and e19 credit over, from an
    * event stream carrying the exact-µs `ts_us`: every `touches` event in
    * the `band`-µs lookback before (or at) a `target` event. Pairing
    * purchases with touches is the classic inequality-join trap; the j10
    * banding restores an equi key — both sides bucket time by the
    * lookback width, each purchase probes its 2 spanned buckets, and the
    * exact µs predicate runs inside (user, bucket) hash-join buckets, so
    * it is never a nested loop.
    * @return the purchases (user_id, pid, pts, cents) and the pairs
    *         (pid, cents, channel, tts, tid) */
  private def bandedTouchPairs(ev: org.apache.spark.sql.DataFrame,
      touches: Seq[String], target: String, band: Long)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val p = ev.where(col("event_type") === target)
      .select(col("user_id"), col("event_id").as("pid"),
        col("ts_us").as("pts"), Relational.cents(col("value")).as("cents"))
    val t = ev.where(col("event_type").isin(touches: _*))
      .select(col("user_id"), col("event_type").as("channel"),
        col("ts_us").as("tts"), col("event_id").as("tid"))
      .withColumn("bucket", floor(col("tts") / band))
    val pb = p.withColumn("b0", floor(col("pts") / band))
      .select(col("user_id"), col("pid"), col("pts"), col("cents"),
        explode(array(col("b0") - 1, col("b0"))).as("bucket"))
    // SHUFFLE_HASH: pb is the purchase stream ×2 via explode — corpus-scale
    // with the static through-Generate estimate lie (the l5 trap class,
    // r16 TrapSweep); the banded join shuffles on (user, bucket), where
    // build maps are bounded by one user-day's purchases.
    val pairs = pb.hint("shuffle_hash").join(t, Seq("user_id", "bucket"))
      .where(col("tts") > col("pts") - band && col("tts") <= col("pts"))
      .select(col("pid"), col("cents"), col("channel"), col("tts"), col("tid"))
    (p, pairs)
  }

  /** E18: LINEAR multi-touch attribution over ANY typed event stream
    * (registry `linear_attribution`; the declared e18 pins click/view →
    * purchase, 24 h) — e12's last-touch twin for the other standard
    * credit model: every touch in the lookback shares the
    * purchase's value equally ('direct' when no touch). Credit splits in
    * exact integer micro-cents via floor division (the flooring loses
    * < n_touches µ¢ per purchase and is engine-identical); the
    * per-purchase touch count is a purchase-keyed window over the
    * [[bandedTouchPairs]] rows, never a second events pass. */
  private[graft] def linearAttributionFrames(ev0: org.apache.spark.sql.DataFrame,
      tsCol: String, touches: Seq[String], target: String,
      band: Long): org.apache.spark.sql.DataFrame = {
    val ev = Tables.microTs(ev0, tsCol)
      .withColumn("ts_us", us(col(tsCol)))
    val (p, touchPairs) = bandedTouchPairs(ev, touches, target, band)
    val pairs = touchPairs.select(col("pid"), col("cents"), col("channel"))
    val wP = Window.partitionBy(col("pid"))
    val credits = pairs
      .withColumn("n_touch", count(lit(1)).over(wP))
      .select(col("channel"),
        floor(col("cents") * 1000000L / col("n_touch")).as("credit_ucents"))
    val direct = p
      .join(pairs.select(col("pid")).distinct(), Seq("pid"), "left_anti")
      .select(lit("direct").as("channel"),
        (col("cents") * 1000000L).as("credit_ucents"))
    credits.unionByName(direct)
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_credits"),
        sum(col("credit_ucents")).as("credit_ucents"))
  }

  val e18LinearAttribution: Q = (s, d) =>
    linearAttributionFrames(Tables.events(s, d), tsCol = "ts",
      touches = Seq("click", "view"), target = "purchase",
      band = 86400L * 1000000)

  /** E19: position-based (U-shaped) attribution — the third standard
    * credit model after last-touch (e12) and linear (e18): the FIRST and
    * LAST touch in the lookback each take 40%, the middles share the
    * remaining 20% (single touch takes all; a pair splits 50/50). Same
    * [[bandedTouchPairs]] as e18; position comes from ONE purchase-keyed
    * window over the pair rows — (tts, tid) total order, the µs+id rule —
    * and shares are integer parts-per-million, so credits are exact
    * BIGINTs cross-engine. */
  val e19PositionAttribution: Q = (s, d) => {
    val ev = Tables.events(s, d).withColumn("ts_us", us(col("ts")))
    val (p, pairs) = bandedTouchPairs(ev, Seq("click", "view"), "purchase",
      band = 86400L * 1000000)
    val wP = Window.partitionBy(col("pid")).orderBy(col("tts"), col("tid"))
    val wN = Window.partitionBy(col("pid"))
    val share = when(col("n_touch") === 1, lit(1000000L))
      .when(col("n_touch") === 2, lit(500000L))
      .when(col("rn") === 1 || col("rn") === col("n_touch"), lit(400000L))
      .otherwise(floor(lit(200000L) / (col("n_touch") - 2)))
    val credits = pairs
      .withColumn("rn", row_number().over(wP))
      .withColumn("n_touch", count(lit(1)).over(wN))
      .select(col("channel"), (col("cents") * share).as("credit"))
    val direct = p
      .join(pairs.select(col("pid")).distinct(), Seq("pid"), "left_anti")
      .select(lit("direct").as("channel"), (col("cents") * 1000000L).as("credit"))
    credits.unionByName(direct)
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_credits"), sum(col("credit")).as("credit_ppm"))
  }

  val queries: Map[String, Q] = Map(
    "e19_position_attribution" -> e19PositionAttribution,
    "e18_linear_attribution" -> e18LinearAttribution,
    "e17_session_funnel" -> e17SessionFunnel,
    "e16_cadence" -> e16Cadence,
    "e15_ewma" -> e15Ewma,
    "e14_pattern_match" -> e14PatternMatch,
    "e1_sessionize" -> e1Sessionize,
    "e12_attribution" -> e12Attribution,
    "e13_funnel_steps" -> e13FunnelSteps,
    "e2_funnel" -> e2Funnel,
    "e3_retention" -> e3Retention,
    "e4_transitions" -> e4Transitions,
    "e5_gap_fill" -> e5GapFill,
    "e6_cumulative_users" -> e6CumulativeUsers,
    "e7_rfm" -> e7Rfm,
    "e8_active_users" -> e8ActiveUsers,
    "e9_anomaly" -> e9Anomaly,
    "e10_event_paths" -> e10EventPaths,
    "e11_conversion_lag" -> e11ConversionLag
  )

  val oracle: Map[String, String] = Map(
    "e19_position_attribution" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
                            epoch_us(ts) AS ts_us, value FROM events),
            p AS (SELECT user_id, event_id AS pid, ts_us AS pts,
                         CAST(round(value * 100) AS BIGINT) AS cents
                  FROM ev WHERE event_type = 'purchase'),
            t AS (SELECT user_id, event_type AS channel, ts_us AS tts,
                         event_id AS tid
                  FROM ev WHERE event_type IN ('click', 'view')),
            pairs AS (SELECT p.pid, p.cents, t.channel, t.tts, t.tid
                      FROM p JOIN t ON p.user_id = t.user_id
                      WHERE t.tts > p.pts - 86400000000 AND t.tts <= p.pts),
            pos AS (SELECT pid, cents, channel,
                           row_number() OVER (PARTITION BY pid
                                              ORDER BY tts, tid) AS rn,
                           count(*) OVER (PARTITION BY pid) AS n_touch
                    FROM pairs),
            credits AS (
              SELECT channel,
                     cents * CASE WHEN n_touch = 1 THEN 1000000
                                  WHEN n_touch = 2 THEN 500000
                                  WHEN rn = 1 OR rn = n_touch THEN 400000
                                  ELSE 200000 // (n_touch - 2) END AS credit
              FROM pos
              UNION ALL
              SELECT 'direct' AS channel, cents * 1000000 AS credit
              FROM p WHERE pid NOT IN (SELECT pid FROM pairs))
         SELECT channel, CAST(count(*) AS BIGINT) AS n_credits,
                CAST(sum(credit) AS BIGINT) AS credit_ppm
         FROM credits GROUP BY 1""",
    "e18_linear_attribution" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
                            epoch_us(ts) AS ts_us, value FROM events),
            p AS (SELECT user_id, event_id AS pid, ts_us AS pts,
                         CAST(round(value * 100) AS BIGINT) AS cents
                  FROM ev WHERE event_type = 'purchase'),
            t AS (SELECT user_id, event_type AS channel, ts_us AS tts
                  FROM ev WHERE event_type IN ('click', 'view')),
            pairs AS (SELECT p.pid, p.cents, t.channel
                      FROM p JOIN t ON p.user_id = t.user_id
                      WHERE t.tts > p.pts - 86400000000 AND t.tts <= p.pts),
            credits AS (
              SELECT channel,
                     cents * 1000000 // count(*) OVER (PARTITION BY pid)
                       AS credit_ucents
              FROM pairs
              UNION ALL
              SELECT 'direct' AS channel, cents * 1000000 AS credit_ucents
              FROM p WHERE pid NOT IN (SELECT pid FROM pairs))
         SELECT channel, CAST(count(*) AS BIGINT) AS n_credits,
                CAST(sum(credit_ucents) AS BIGINT) AS credit_ucents
         FROM credits GROUP BY 1""",
    "e17_session_funnel" ->
      """WITH o AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
                  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
           FROM o)
         SELECT user_id, session_no, count(*) AS n_events,
                min(CASE WHEN event_type = 'view' THEN ts_us END) AS first_view_us,
                coalesce(min(CASE WHEN event_type = 'view' THEN ts_us END) IS NOT NULL
                         AND max(CASE WHEN event_type = 'purchase' THEN ts_us END)
                             >= min(CASE WHEN event_type = 'view' THEN ts_us END),
                         false) AS converted
         FROM s GROUP BY 1, 2""",
    "e16_cadence" ->
      """WITH g AS (SELECT user_id,
                           epoch_us(ts) - lag(epoch_us(ts)) OVER
                             (PARTITION BY user_id
                              ORDER BY epoch_us(ts), event_id) AS gap
                    FROM events)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
                CAST(quantile_cont(gap, 0.5) AS DOUBLE) AS med_gap_us,
                CAST(quantile_cont(gap, 0.9) AS DOUBLE) AS p90_gap_us,
                CAST(sum(CASE WHEN gap <= 1000000 THEN 1 ELSE 0 END) * 1000
                     // count(*) AS BIGINT) AS burst_permille
         FROM g WHERE gap IS NOT NULL GROUP BY 1""",
    "e15_ewma" ->
      """WITH ev AS (SELECT user_id,
                            epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
                            value
                     FROM events),
            b AS (SELECT user_id, min(hour_us) AS h0, max(hour_us) AS h1
                  FROM ev GROUP BY 1),
            spine AS (SELECT user_id,
                             unnest(range(h0, h1 + 1, 3600000000)) AS hour_us
                      FROM b),
            c AS (SELECT user_id, hour_us,
                         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
                  FROM ev GROUP BY 1, 2),
            g AS (SELECT spine.user_id, spine.hour_us,
                         coalesce(c.cents, 0) AS cents
                  FROM spine LEFT JOIN c
                    ON spine.user_id = c.user_id AND spine.hour_us = c.hour_us)
         SELECT user_id, hour_us,
                CAST(128 * cents
                   + 64 * coalesce(lag(cents, 1) OVER win, 0)
                   + 32 * coalesce(lag(cents, 2) OVER win, 0)
                   + 16 * coalesce(lag(cents, 3) OVER win, 0)
                   +  8 * coalesce(lag(cents, 4) OVER win, 0)
                   +  4 * coalesce(lag(cents, 5) OVER win, 0)
                   +  2 * coalesce(lag(cents, 6) OVER win, 0)
                   +  1 * coalesce(lag(cents, 7) OVER win, 0) AS BIGINT) AS ewma256
         FROM g WINDOW win AS (PARTITION BY user_id ORDER BY hour_us)""",
    "e14_pattern_match" ->
      """WITH sq AS (SELECT user_id,
                            string_agg(substr(event_type, 1, 1), ''
                                       ORDER BY epoch_us(ts), event_id) AS sq
                     FROM events GROUP BY 1)
         SELECT user_id,
                CAST(len(regexp_extract_all(sq, 'v[vc]*p')) AS BIGINT) AS n_matches
         FROM sq WHERE len(regexp_extract_all(sq, 'v[vc]*p')) > 0""",
    "e13_funnel_steps" ->
      """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS s1_us
                     FROM events WHERE event_type = 'signup' GROUP BY 1),
            s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS s2_us
                   FROM events e JOIN s1 USING (user_id)
                   WHERE e.event_type = 'view' AND epoch_us(e.ts) >= s1.s1_us
                   GROUP BY 1),
            s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS s3_us
                   FROM events e JOIN s2 USING (user_id)
                   WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s2.s2_us
                   GROUP BY 1)
         SELECT s1.user_id, s1_us, s2_us, s3_us,
                CAST(1 + CASE WHEN s2_us IS NULL THEN 0 ELSE 1 END
                       + CASE WHEN s3_us IS NULL THEN 0 ELSE 1 END AS BIGINT) AS depth
         FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""",
    "e12_attribution" ->
      """WITH ev AS (SELECT event_id, user_id, event_type,
                            epoch_us(ts) AS ts_us, value FROM events),
            lt AS (SELECT *,
                     last_value(CASE WHEN event_type IN ('click', 'view')
                                     THEN struct_pack(t_us := ts_us, ch := event_type)
                                END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
                   FROM ev)
         SELECT CASE WHEN lt IS NOT NULL AND lt.t_us >= ts_us - 86400000000
                     THEN lt.ch ELSE 'direct' END AS channel,
                CAST(count(*) AS BIGINT) AS n_purchases,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS attributed_cents
         FROM lt WHERE event_type = 'purchase'
         GROUP BY 1""",
    "e11_conversion_lag" ->
      """WITH fv AS (SELECT user_id, min(epoch_us(ts)) AS from_us
                     FROM events WHERE event_type = 'view' GROUP BY 1),
            fb AS (SELECT e.user_id, min(epoch_us(e.ts)) AS to_us,
                          min(fv.from_us) AS from_us
                   FROM events e JOIN fv ON e.user_id = fv.user_id
                   WHERE e.event_type = 'purchase'
                     AND epoch_us(e.ts) >= fv.from_us
                   GROUP BY 1)
         SELECT least((to_us - from_us) // 3600000000, 48) AS lag_hours,
                count(*) AS n_users
         FROM fb GROUP BY 1""",
    "e10_event_paths" ->
      """WITH r AS (SELECT user_id, event_type,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
               FROM r WHERE rn <= 5 GROUP BY user_id)
         SELECT path, count(*) AS n_users FROM p GROUP BY path
         ORDER BY n_users DESC, path LIMIT 20""",
    "e4_transitions" ->
      """WITH st AS (
           SELECT event_type AS from_type,
                  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
           FROM events),
         c AS (SELECT from_type, to_type, count(*) AS n_steps
               FROM st WHERE to_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n_steps,
                round(n_steps * 1.0 / sum(n_steps) OVER (PARTITION BY from_type), 6) AS p
         FROM c""",
    "e1_sessionize" ->
      """WITH o AS (
           SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
                  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
           FROM o)
         SELECT user_id, session_no, count(*) AS n_events,
                min(ts_us) AS sess_start_us, max(ts_us) AS sess_end_us,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM s GROUP BY 1, 2""",
    "e2_funnel" ->
      """WITH su AS (SELECT user_id, min(epoch_us(ts)) AS signup_us
                     FROM events WHERE event_type = 'signup' GROUP BY 1),
            pu AS (SELECT e.user_id, min(epoch_us(e.ts)) AS first_purchase_us
                   FROM events e JOIN su ON e.user_id = su.user_id
                   WHERE e.event_type = 'purchase'
                     AND epoch_us(e.ts) >= su.signup_us
                     AND epoch_us(e.ts) <= su.signup_us + 86400000000
                   GROUP BY 1)
         SELECT su.user_id, su.signup_us, pu.first_purchase_us,
                pu.first_purchase_us IS NOT NULL AS converted
         FROM su LEFT JOIN pu ON su.user_id = pu.user_id""",
    "e3_retention" ->
      """WITH f AS (SELECT user_id, min(epoch_us(ts)) AS first_us,
                           epoch_us(date_trunc('week', min(ts))) AS cohort_week_us
                    FROM events GROUP BY 1)
         SELECT f.cohort_week_us,
                (epoch_us(e.ts) - f.first_us) // 604800000000 AS week_offset,
                count(DISTINCT e.user_id) AS active_users
         FROM events e JOIN f ON e.user_id = f.user_id
         GROUP BY 1, 2""",
    "e5_gap_fill" ->
      """WITH ev AS (SELECT user_id,
                            epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
                            value
                     FROM events),
            b AS (SELECT user_id, min(hour_us) AS h0, max(hour_us) AS h1
                  FROM ev GROUP BY 1),
            spine AS (SELECT user_id,
                             unnest(range(h0, h1 + 1, 3600000000)) AS hour_us
                      FROM b),
            c AS (SELECT user_id, hour_us, count(*) AS n,
                         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
                  FROM ev GROUP BY 1, 2)
         SELECT spine.user_id, spine.hour_us,
                coalesce(c.n, 0) AS n_events,
                coalesce(c.cents, 0) AS value_cents
         FROM spine LEFT JOIN c
           ON spine.user_id = c.user_id AND spine.hour_us = c.hour_us""",
    "e6_cumulative_users" ->
      """WITH f AS (SELECT user_id, min(epoch_us(ts)) AS first_us
                    FROM events GROUP BY 1),
            hourly AS (SELECT first_us - first_us % 3600000000 AS hour_us,
                              count(*) AS n_new
                       FROM f GROUP BY 1)
         SELECT hour_us, n_new,
                CAST(sum(n_new) OVER (ORDER BY hour_us
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
         FROM hourly""",
    "e7_rfm" ->
      """WITH now AS (SELECT max(epoch_us(ts)) AS now_us FROM events),
            per AS (SELECT user_id, max(epoch_us(ts)) AS last_us, count(*) AS f,
                           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS m_cents
                    FROM events GROUP BY 1),
            scored AS (
              SELECT user_id,
                     (now_us - last_us) // 86400000000 AS r_days, f, m_cents,
                     CASE WHEN (now_us - last_us) // 86400000000 <= 0 THEN 5
                          WHEN (now_us - last_us) // 86400000000 <= 1 THEN 4
                          WHEN (now_us - last_us) // 86400000000 <= 3 THEN 3
                          WHEN (now_us - last_us) // 86400000000 <= 7 THEN 2
                          ELSE 1 END AS r_score,
                     CASE WHEN f >= 80 THEN 5 WHEN f >= 70 THEN 4
                          WHEN f >= 60 THEN 3 WHEN f >= 50 THEN 2
                          ELSE 1 END AS f_score,
                     CASE WHEN m_cents >= 500000 THEN 5 WHEN m_cents >= 400000 THEN 4
                          WHEN m_cents >= 300000 THEN 3 WHEN m_cents >= 200000 THEN 2
                          ELSE 1 END AS m_score
              FROM per CROSS JOIN now)
         SELECT user_id, r_days, f, m_cents, r_score, f_score, m_score,
                r_score * 100 + f_score * 10 + m_score AS segment
         FROM scored""",
    "e8_active_users" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
                     FROM events),
            dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
            tgt AS (SELECT DISTINCT user_id, day + k AS day
                    FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS k) ks),
            wau AS (SELECT day, count(*) AS wau7 FROM tgt GROUP BY 1)
         SELECT dau.day, dau.dau, wau.wau7
         FROM dau JOIN wau USING (day)""",
    "e9_anomaly" ->
      """WITH ev AS (SELECT user_id,
                            epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
                            value
                     FROM events),
            b AS (SELECT user_id, min(hour_us) AS h0, max(hour_us) AS h1
                  FROM ev GROUP BY 1),
            spine AS (SELECT user_id,
                             unnest(range(h0, h1 + 1, 3600000000)) AS hour_us
                      FROM b),
            c AS (SELECT user_id, hour_us,
                         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
                  FROM ev GROUP BY 1, 2),
            srs AS (SELECT spine.user_id, spine.hour_us,
                           coalesce(c.cents, 0) AS value_cents
                    FROM spine LEFT JOIN c USING (user_id, hour_us)),
            w AS (SELECT user_id, hour_us, value_cents,
                         count(value_cents) OVER win AS n_base,
                         CAST(sum(value_cents) OVER win AS BIGINT) AS s_base,
                         CAST(sum(value_cents * value_cents) OVER win AS BIGINT) AS q_base
                  FROM srs
                  WINDOW win AS (PARTITION BY user_id ORDER BY hour_us
                                 ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
         SELECT user_id, hour_us, value_cents, n_base, s_base, q_base
         FROM w
         WHERE n_base >= 8
           AND (n_base * value_cents - s_base) * (n_base * value_cents - s_base)
               > 9 * (n_base * q_base - s_base * s_base)"""
  )
}
