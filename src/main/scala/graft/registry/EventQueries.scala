package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._

/** Event-time queries: windows, sessions, funnels, as-of joins,
  * paths and anomaly detection over `events`.
  */
object EventQueries {

  /** Events with `ts` normalized to epoch-MICROS BIGINT regardless of
    * the physical parquet timestamp type. The driver has generated the
    * table as TIMESTAMP(NANOS) in some rounds (Spark reads it as a
    * nanos-long under the legacy flag) and TIMESTAMP(MICROS) in others
    * (Spark reads it as a native TimestampType, micros internally), so
    * the physical type is detected from the scanned schema instead of
    * assumed. All event-time operators (windowing, sessionize, as-of)
    * consume micros; DuckDB reads either physical type at micros via
    * epoch_us(ts), so the oracle compare is precision-aligned in both
    * layouts.
    */
  private def eventsMicros(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // TIMESTAMP(MICROS) without isAdjustedToUTC reads as TIMESTAMP_NTZ;
    // DuckDB's epoch_us treats the same naive wall-clock as UTC, so the
    // NTZ→instant cast must happen under a UTC session zone for the two
    // engines to agree (Verify already sets it session-wide; this makes
    // eventsMicros self-sufficient under any caller).
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = s.read.parquet(s"$dir/events.parquet")
    val tsUs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts")
        .cast(org.apache.spark.sql.types.TimestampType))
    }
    raw.withColumn("ts", tsUs)
  }

  val defs: Seq[QueryDef] = Seq(
    // Event-time window aggregation: tumbling 1-hour windows over the
    // events stream table (ts normalized to micros by eventsMicros —
    // physical-type-adaptive), bucketed with the window() operator. The
    // bucket is emitted as EPOCH SECONDS (window.start cast long) —
    // window alignment and the epoch cast are both timezone-independent,
    // so the oracle compare holds in any session timezone (a date_format
    // rendering would depend on spark.sql.session.timeZone).
    QueryDef("time_window_agg", (s, dir) => {
      val ev = eventsMicros(s, dir)
      ev.withColumn("event_ts", timestamp_micros(col("ts")))
        .groupBy(window(col("event_ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          min(col("value")).as("min_v"), max(col("value")).as("max_v"))
        .select(
          col("window.start").cast("long").as("hour_epoch"),
          col("event_type"), col("cnt"), col("min_v"), col("max_v"))
    },
      ("SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) " +
        "AS hour_epoch, event_type, count(*) AS cnt, " +
        "min(value) AS min_v, max(value) AS max_v " +
        "FROM events GROUP BY 1, 2")),

    // Islands-and-gaps interval coverage: every event carries a
    // 15-minute interval; overlapping/touching intervals merge per
    // user (running-MAX end, not lag — nested intervals stay
    // correct) and the census is all exact epoch-micros BIGINTs.
    QueryDef("interval_coverage", (s, dir) =>
      EventOps.intervalCoverage(
        eventsMicros(s, dir).select(col("event_id"), col("user_id"),
          col("ts")),
        durUs = 900L * 1000000L)
        .orderBy("user_id"),
      // the same running-max island rule over epoch micros; island
      // coverage = max(t)+dur − min(t), contiguous by construction
      ("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t
         |  FROM events),
         |w AS (SELECT user_id, event_id, t,
         |  max(t + 900000000) OVER (PARTITION BY user_id
         |    ORDER BY t, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |    AS pme FROM e),
         |i AS (SELECT user_id, t,
         |  sum(CASE WHEN pme IS NULL OR t > pme THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY user_id ORDER BY t, event_id
         |      ROWS UNBOUNDED PRECEDING) AS island FROM w),
         |g AS (SELECT user_id, island,
         |    CAST(count(*) AS BIGINT) AS n_events,
         |    max(t) + 900000000 - min(t) AS covered
         |  FROM i GROUP BY 1, 2)
         |SELECT user_id, CAST(sum(n_events) AS BIGINT) AS n_events,
         |  CAST(count(*) AS BIGINT) AS n_islands,
         |  CAST(sum(covered) AS BIGINT) AS covered_us,
         |  CAST(max(covered) AS BIGINT) AS longest_island_us
         |FROM g GROUP BY user_id ORDER BY user_id"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Gap-based sessionization (30-min gap): lag boundary + running-sum
    // numbering over ONE (shuffle, sort) on user_id. Timestamps are
    // micros on both sides (eventsMicros / epoch_us): micros is the
    // finest precision DuckDB reads from either parquet timestamp
    // layout, and the sf0.01 stream is collision-free at micros.
    QueryDef("sessionize", (s, dir) =>
      EventOps.sessionize(
        eventsMicros(s, dir).select(col("event_id"), col("user_id"),
          col("ts")),
        gapNs = EventOps.SessionGapNs / 1000)
        .select(col("event_id"), col("user_id"), col("session_idx")),
      (s"""SELECT event_id, user_id,
         |  CAST(sum(b) OVER (PARTITION BY user_id
         |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |  AS session_idx
         |FROM (SELECT event_id, user_id, epoch_us(ts) AS us,
         |  CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
         |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
         |    > ${EventOps.SessionGapNs / 1000} THEN 1 ELSE 0 END AS b
         |  FROM events)"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // HOPPING (sliding) event-time windows in batch: 1-hour windows
    // every 30 minutes — each event lands in exactly two windows. The
    // oracle replays the expansion arithmetically (each event's two
    // half-hour-aligned window starts), so the window() operator's
    // hop semantics are pinned value-exactly, complementing the
    // tumbling time_window_agg and the streaming sliding specs.
    QueryDef("time_window_hopping", (s, dir) => {
      val ev = eventsMicros(s, dir)
      ev.withColumn("event_ts", timestamp_micros(col("ts")))
        .groupBy(window(col("event_ts"), "1 hour", "30 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").cast("long").as("win_start_epoch"),
          col("event_type"), col("cnt"))
    },
      // hop expansion replayed arithmetically: an event at t belongs
      // to the two 30-min-aligned 1-hour windows starting at
      // floor(t/30min) and that minus one hop
      ("WITH e AS (SELECT event_type, " +
        "epoch_us(ts) // 1800000000 AS slot FROM events), " +
        "x AS (SELECT event_type, " +
        "unnest([slot, slot - 1]) * 1800 AS win_start_epoch FROM e) " +
        "SELECT win_start_epoch, event_type, count(*) AS cnt " +
        "FROM x GROUP BY 1, 2")),

    // Time-based RANGE window frame: per event, the user's trailing
    // one-hour spend — rangeBetween over the epoch-micros ordering
    // key, so equal timestamps are peers and the frame is TIME, not
    // row count (window_running_sum pins the ROWS flavor). Amounts
    // ride as integer cents (round(value*100) is exact in IEEE double
    // for 2-decimal values in both engines), so the sums hash.
    QueryDef("trailing_hour_sum", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        .rangeBetween(-3600000000L, 0L)
      eventsMicros(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("trail_cents", sum(col("cents")).over(w))
        .select(col("event_id"), col("user_id"),
          col("ts").as("ts_us"), col("trail_cents"))
    },
      // RANGE frame replay: identical time-window semantics (peers at
      // equal ts share a frame) on BIGINT micros and integer cents
      ("SELECT event_id, user_id, epoch_us(ts) AS ts_us, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (" +
        "PARTITION BY user_id ORDER BY epoch_us(ts) " +
        "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) " +
        "AS BIGINT) AS trail_cents FROM events")),

    // Cohort retention matrix: weekly cohorts by first event, distinct
    // active users per (cohort, weeks-since) — integer week indices
    // via `div` on epoch micros.
    QueryDef("cohort_retention", (s, dir) =>
      EventOps.cohortRetention(
        eventsMicros(s, dir).select(col("user_id"), col("ts"))),
      // week indices by integer division of epoch micros — both
      // engines stay in BIGINT end to end
      (s"""WITH e AS (SELECT user_id,
         |  epoch_us(ts) // ${EventOps.WeekUs} AS wk FROM events),
         |f AS (SELECT user_id, min(wk) AS cohort_wk FROM e
         |  GROUP BY user_id),
         |a AS (SELECT DISTINCT user_id, wk FROM e)
         |SELECT f.cohort_wk, a.wk - f.cohort_wk AS weeks_since,
         |  count(*) AS active_users
         |FROM a JOIN f USING (user_id) GROUP BY 1, 2"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Two-step conversion funnel: signup → purchase within one week
    // of the user's FIRST signup.
    QueryDef("event_funnel", (s, dir) =>
      EventOps.conversionFunnel(
        eventsMicros(s, dir)
          .select(col("user_id"), col("event_type"), col("ts")),
        "signup", "purchase"),
      (s"""WITH s AS (SELECT user_id, min(epoch_us(ts)) AS t0
         |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
         |c AS (SELECT DISTINCT e.user_id FROM events e
         |  JOIN s ON s.user_id = e.user_id
         |  WHERE e.event_type = 'purchase'
         |  AND epoch_us(e.ts) >= s.t0
         |  AND epoch_us(e.ts) <= s.t0 + ${EventOps.WeekUs})
         |SELECT count(*) AS started_users,
         |  CAST(sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS converted_users
         |FROM s LEFT JOIN c ON c.user_id = s.user_id"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // As-of join composed from a window carry-forward (no range join,
    // no self-join): every click paired with the most recent purchase
    // at-or-before it by the same user. NULL (no prior purchase) → -1
    // sentinel so no nullable column reaches the comparator. Oracled
    // against DuckDB's native ASOF LEFT JOIN; micros for the same
    // precision reason as sessionize.
    QueryDef("asof_prior_purchase", (s, dir) =>
      EventOps.withAsofTs(
        eventsMicros(s, dir).select(col("event_id"), col("user_id"),
          col("ts"), col("event_type")),
        col("event_type") === "purchase", "purchase_ts")
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts").as("ts_us"),
          coalesce(col("purchase_ts"), lit(-1L)).as("prior_purchase_us")),
      ("SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, " +
        "COALESCE(epoch_us(r.ts), -1) AS prior_purchase_us " +
        "FROM (SELECT * FROM events WHERE event_type = 'click') l " +
        "ASOF LEFT JOIN " +
        "(SELECT * FROM events WHERE event_type = 'purchase') r " +
        "ON l.user_id = r.user_id AND l.ts >= r.ts")),

    // The same as-of lookup through the NATIVE operator (AsofJoin
    // logical node -> AsofJoinStrategy -> AsofJoinExec merge): each
    // side shuffles on its own key and the join is one forward-only
    // merge per partition. Oracle identical to asof_prior_purchase.
    QueryDef("asof_join_native", (s, dir) => {
      val ev = eventsMicros(s, dir).select(col("event_id"), col("user_id"),
        col("ts"), col("event_type"))
      graft.plans.Asof.joinBackward(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user_id"), col("ts").as("p_ts")),
        "user_id", "p_user_id", "ts", "p_ts")
        .select(col("event_id"), col("user_id"), col("ts").as("ts_us"),
          coalesce(col("p_ts"), lit(-1L)).as("prior_purchase_us"))
    },
      ("SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, " +
        "COALESCE(epoch_us(r.ts), -1) AS prior_purchase_us " +
        "FROM (SELECT * FROM events WHERE event_type = 'click') l " +
        "ASOF LEFT JOIN " +
        "(SELECT * FROM events WHERE event_type = 'purchase') r " +
        "ON l.user_id = r.user_id AND l.ts >= r.ts")),

    // Forward direction of the native operator: each click's NEXT
    // purchase (smallest purchase ts >= click ts, same user).
    QueryDef("asof_next_purchase", (s, dir) => {
      val ev = eventsMicros(s, dir).select(col("event_id"), col("user_id"),
        col("ts"), col("event_type"))
      graft.plans.Asof.joinForward(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user_id"), col("ts").as("p_ts")),
        "user_id", "p_user_id", "ts", "p_ts")
        .select(col("event_id"), col("user_id"), col("ts").as("ts_us"),
          coalesce(col("p_ts"), lit(-1L)).as("next_purchase_us"))
    },
      // DuckDB's ASOF with <= picks the SMALLEST r.ts >= l.ts — the
      // forward direction, verified on a hand case before relying on it
      ("SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, " +
        "COALESCE(epoch_us(r.ts), -1) AS next_purchase_us " +
        "FROM (SELECT * FROM events WHERE event_type = 'click') l " +
        "ASOF LEFT JOIN " +
        "(SELECT * FROM events WHERE event_type = 'purchase') r " +
        "ON l.user_id = r.user_id AND l.ts <= r.ts")),

    // Incremental sessionization (the nightly-batch shape): fold the
    // second half-month of events into the first half's session
    // TABLE — prior sessions compressed to one pseudo-event each —
    // and the oracle is the full batch recompute over all events, so
    // the gate checks incremental == batch EXACTLY.
    QueryDef("sessionize_incremental", (s, dir) => {
      val ev = eventsMicros(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"))
      val cutoffUs = 1705363200000000L // 2024-01-16T00:00Z
      val gapUs = EventOps.SessionGapNs / 1000
      val prior = EventOps.sessionSummaries(
        ev.filter(col("ts") < cutoffUs), gapUs)
      EventOps.sessionsIncremental(prior,
          ev.filter(col("ts") >= cutoffUs), gapUs)
        .orderBy("user_id", "session_start")
    },
      // the BATCH recompute over all events — incremental must equal
      // it exactly (that is the operator's contract)
      (s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id
         |  FROM events),
         |x AS (SELECT user_id, us, event_id,
         |  CASE WHEN us - lag(us) OVER (PARTITION BY user_id
         |    ORDER BY us, event_id) > ${EventOps.SessionGapNs / 1000}
         |    THEN 1 ELSE 0 END AS b FROM e),
         |s AS (SELECT user_id, us,
         |  sum(b) OVER (PARTITION BY user_id ORDER BY us, event_id
         |    ROWS UNBOUNDED PRECEDING) AS sidx FROM x)
         |SELECT user_id, min(us) AS session_start,
         |  max(us) AS session_end, CAST(count(*) AS BIGINT)
         |  AS n_events
         |FROM s GROUP BY user_id, sidx
         |ORDER BY user_id, session_start"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Top ordered 3-step event paths: one ordered per-user array,
    // sliding triples generated array-side (zero joins), exact
    // counts — the path analysis above the Markov matrix.
    QueryDef("event_paths", (s, dir) =>
      EventOps.topPaths(
        eventsMicros(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type")),
        k = 50, minCount = 5),
      // ordered list() aggregation + sliding slices; exact counts,
      // full tie order at the top-k boundary
      ("""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
         |  event_type FROM events),
         |s AS (SELECT user_id,
         |  list(event_type ORDER BY us, event_id) AS tk FROM e
         |  GROUP BY user_id),
         |tr AS (SELECT unnest(list_transform(range(1, len(tk) - 1),
         |  i -> {'a': tk[i], 'b': tk[i+1], 'c': tk[i+2]})) AS p
         |  FROM s WHERE len(tk) >= 3),
         |pc AS (SELECT p.a AS step1, p.b AS step2, p.c AS step3,
         |  CAST(count(*) AS BIGINT) AS path_cnt FROM tr
         |  GROUP BY 1, 2, 3 HAVING count(*) >= 5)
         |SELECT * FROM pc
         |ORDER BY path_cnt DESC, step1, step2, step3 LIMIT 50"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Three-step ordered funnel (view → click → purchase, each step
    // within a week of the previous anchor, anchors at the earliest
    // qualifying event): per stage one filtered scan + one user join
    // + one min — the surviving-user frame only shrinks.
    QueryDef("funnel_3step", (s, dir) =>
      EventOps.funnelSteps(
        eventsMicros(s, dir)
          .select(col("user_id"), col("ts"), col("event_type")),
        steps = Seq("view", "click", "purchase")),
      // per-stage min-anchor CTEs; counts replay exactly
      {
        val wk = EventOps.WeekUs
        s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type
           |  FROM events),
           |s1 AS (SELECT user_id, min(us) AS t FROM e
           |  WHERE event_type = 'view' GROUP BY user_id),
           |s2 AS (SELECT e.user_id, min(us) AS t FROM e
           |  JOIN s1 ON s1.user_id = e.user_id
           |  WHERE e.event_type = 'click' AND e.us > s1.t
           |    AND e.us <= s1.t + $wk GROUP BY e.user_id),
           |s3 AS (SELECT e.user_id, min(us) AS t FROM e
           |  JOIN s2 ON s2.user_id = e.user_id
           |  WHERE e.event_type = 'purchase' AND e.us > s2.t
           |    AND e.us <= s2.t + $wk GROUP BY e.user_id)
           |SELECT * FROM (
           |  SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step_type,
           |    CAST(count(*) AS BIGINT) AS users FROM s1
           |  UNION ALL SELECT 2, 'click', count(*) FROM s2
           |  UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
           |ORDER BY step_idx"""
          .stripMargin.replaceAll("\\s+", " ").trim
      }),

    // Ingest-telemetry spike detection, EWMA flavor: each hourly
    // bucket vs the 2^k-weighted sum of its previous 8 OBSERVED
    // buckets — scaled-integer weights, cross-multiplied verdict, no
    // float accumulation, null until a full history exists.
    // (ewma_num coalesces to 0 for the incomplete-history rows AFTER
    // the spike verdict: a null in the dump would be sort-unstable in
    // any engine's row-order-insensitive compare, and 0 is
    // unambiguous — observed history always sums to ≥ 255)
    QueryDef("ewma_anomaly", (s, dir) =>
      Anomaly.ewmaSpikes(eventsMicros(s, dir)
          .select(col("event_type"), col("ts")))
        .select(col("event_type"), col("bucket"), col("cnt"),
          coalesce(col("ewma_num"), lit(0L)).as("ewma_num"),
          col("is_spike"))
        .orderBy("event_type", "bucket"),
      // the 8-lag weighted sum replayed under one WINDOW clause;
      // verdict by integer cross-multiplication
      {
        val terms = (1 to 8)
          .map(d => s"lag(cnt, $d) OVER win * ${1L << (8 - d)}")
          .mkString(" + ")
        "WITH b AS (SELECT event_type, " +
          "epoch_us(ts) // 3600000000 AS bucket, " +
          "CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2), " +
          s"w AS (SELECT event_type, bucket, cnt, $terms AS ewma_num " +
          "FROM b WINDOW win AS " +
          "(PARTITION BY event_type ORDER BY bucket)) " +
          "SELECT event_type, bucket, cnt, " +
          "coalesce(ewma_num, 0) AS ewma_num, " +
          "CASE WHEN ewma_num IS NULL THEN FALSE " +
          "ELSE cnt * 255 > ewma_num * 2 END AS is_spike " +
          "FROM w ORDER BY event_type, bucket"
      }),

    // Seasonal flavor: each bucket vs the leave-one-out mean of its
    // (key, hour-of-day) slot — cnt·(n−1) > 2·(Σ−cnt) exact.
    QueryDef("seasonal_anomaly", (s, dir) =>
      Anomaly.seasonalSpikes(eventsMicros(s, dir)
          .select(col("event_type"), col("ts")))
        .select(col("event_type"), col("bucket"), col("cnt"),
          col("slot"), col("base_cnt"), col("base_n"), col("is_spike"))
        .orderBy("event_type", "bucket"),
      // leave-one-out slot baseline, all-BIGINT
      ("WITH b AS (SELECT event_type, " +
        "epoch_us(ts) // 3600000000 AS bucket, " +
        "CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2), " +
        "s AS (SELECT event_type, bucket, cnt, bucket % 24 AS slot " +
        "FROM b), " +
        "w AS (SELECT *, CAST(sum(cnt) OVER " +
        "(PARTITION BY event_type, slot) - cnt AS BIGINT) " +
        "AS base_cnt, CAST(count(*) OVER " +
        "(PARTITION BY event_type, slot) - 1 AS BIGINT) AS base_n " +
        "FROM s) " +
        "SELECT event_type, bucket, cnt, slot, base_cnt, base_n, " +
        "(base_n > 0 AND cnt * base_n > base_cnt * 2) AS is_spike " +
        "FROM w ORDER BY event_type, bucket")),

    // First-order Markov transition matrix over per-user event
    // sequences: exact (from, to) counts off ONE sessionize-shaped
    // window shuffle, with P(to|from) as a single IEEE division of
    // two exact BIGINTs — the behavioral-model fit analytics runs on
    // a clickstream.
    QueryDef("markov_transitions", (s, dir) =>
      EventOps.markovTransitions(
        eventsMicros(s, dir).select(col("event_id"), col("user_id"),
          col("ts"), col("event_type")))
        .orderBy("from_type", "to_type"),
      // lead-window transition replay; P(to|from) is one IEEE
      // division of two exact BIGINTs
      ("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
         |  event_type FROM events),
         |t AS (SELECT event_type AS from_type,
         |  lead(event_type) OVER (PARTITION BY user_id
         |    ORDER BY us, event_id) AS to_type FROM e),
         |c AS (SELECT from_type, to_type,
         |  CAST(count(*) AS BIGINT) AS n_trans FROM t
         |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
         |SELECT from_type, to_type, n_trans,
         |  CAST(sum(n_trans) OVER (PARTITION BY from_type) AS BIGINT)
         |    AS row_total,
         |  CAST(n_trans AS DOUBLE) /
         |    CAST(sum(n_trans) OVER (PARTITION BY from_type)
         |      AS DOUBLE) AS p_trans
         |FROM c ORDER BY from_type, to_type"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Inter-arrival burstiness census: per-user consecutive gaps (in
    // epoch micros) folded into doubling buckets — gap counts, dwell
    // sums, exact min/max per bucket; bucket 0 = exact timestamp
    // ties. One sessionize-shaped shuffle, then a bounded aggregate.
    QueryDef("interarrival_census", (s, dir) =>
      EventOps.interarrivalCensus(
        eventsMicros(s, dir).select(
          col("event_id"), col("user_id"), col("ts"))),
      // gaps at micros on both sides (eventsMicros / epoch_us); the
      // (ts, event_id) tiebreak fixes per-row order, though the gap
      // multiset is already determined by the timestamps alone
      ("""WITH g AS (SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (
         |  PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
         |  AS gap FROM events)
         |SELECT CASE WHEN gap = 0 THEN CAST(0 AS BIGINT)
         |    ELSE CAST(length(bin(gap)) AS BIGINT) END AS bucket,
         |  count(*) AS n_gaps, CAST(sum(gap) AS BIGINT) AS gap_sum,
         |  CAST(min(gap) AS BIGINT) AS min_gap,
         |  CAST(max(gap) AS BIGINT) AS max_gap
         |FROM g WHERE gap IS NOT NULL GROUP BY 1"""
        .stripMargin.replaceAll("\\s+", " ").trim)))
}
