package graft
package certs

import org.apache.spark.sql.functions._

import graft.ops.EventWindows
import graft.sources.Tables

/** Event-stream certificates over `events`, run as batch queries:
  * windows, sessions, as-of joins, funnels and time-series resampling. */
object Events {

  def all: Seq[Cert] = Seq(
    // typed JSON payload extraction over the events stream table
    Cert("events_props_stats", (s, d) =>
      EventWindows.propsStats(Tables.events(s, d)).orderBy(col("event_type")),
      "WITH e AS (SELECT event_type, CAST(json_extract(props, '$.k') AS INT) AS k FROM events) " +
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, round(avg(k), 4) AS avg_k, " +
        "min(k) AS min_k, max(k) AS max_k " +
        "FROM e GROUP BY event_type ORDER BY event_type"),
    // Spark 4 VariantType over semi-structured props: the raw JSON is
    // nested into a richer deterministic document, parsed ONCE to a
    // variant (binary-encoded, no schema inference pass), then probed
    // by path — nested object, array index, and a missing path
    // through try_variant_get. At 100 TB variant parse is map-only
    // and the binary encoding probes without re-tokenizing the text
    Cert("events_props_variant", (s, d) => {
      val j = concat(lit("{\"orig\": "), col("props"),
        lit(", \"tag\": \"t"), (col("event_id") % 3).cast("string"),
        lit("\", \"arr\": ["), (col("event_id") % 5).cast("string"),
        lit(","), (col("event_id") % 7).cast("string"), lit("]}"))
      Tables.events(s, d)
        .select(col("event_id"), parse_json(j).as("v"))
        .select(col("event_id"),
          variant_get(col("v"), "$.orig.k", "bigint").as("k"),
          variant_get(col("v"), "$.tag", "string").as("tag"),
          variant_get(col("v"), "$.arr[1]", "bigint").as("arr1"),
          coalesce(try_variant_get(col("v"), "$.missing", "bigint"), lit(-1L)).as("missing"))
        .orderBy(col("event_id"))
    },
      // the variant probes replayed over DuckDB JSON paths (both
      // engines' array indexes are 0-based JSONPath)
      "WITH j AS (SELECT event_id, '{\"orig\": ' || props || ', \"tag\": \"t' || " +
        "(event_id % 3) || '\", \"arr\": [' || (event_id % 5) || ',' || (event_id % 7) || ']}' AS js " +
        "FROM events) " +
        "SELECT event_id, CAST(json_extract(js, '$.orig.k') AS BIGINT) AS k, " +
        "json_extract_string(js, '$.tag') AS tag, " +
        "CAST(json_extract(js, '$.arr[1]') AS BIGINT) AS arr1, " +
        "CAST(-1 AS BIGINT) AS missing " +
        "FROM j ORDER BY event_id"),

    // ----- event-time windows (M4 / ST6 extensions)
    Cert("events_tumbling_hourly", (s, d) =>
      EventWindows.tumblingHourly(Tables.events(s, d))
        .orderBy(col("win_start"), col("event_type")),
      "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS win_start, event_type, " +
        "CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 2) AS total_value " +
        "FROM events GROUP BY 1, 2 ORDER BY win_start, event_type"),
    Cert("events_sliding_hourly", (s, d) =>
      EventWindows.slidingHourly(Tables.events(s, d)).orderBy(col("win_start")),
      "WITH x AS (SELECT user_id, unnest([time_bucket(INTERVAL '30 minutes', ts), " +
        "time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws FROM events) " +
        "SELECT strftime(ws, '%Y-%m-%d %H:%M') AS win_start, CAST(count(*) AS BIGINT) AS n_events, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM x GROUP BY ws ORDER BY win_start"),
    // nearest as-of: every click matched to its |Δt|-closest purchase
    // on the key (ties → earlier) — backward-only alignment is wrong
    // when the nearest reading sits just ahead; two window carries
    // over ONE per-key sort, zero row explosion
    Cert("events_asof_nearest", (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click").select(
        col("user_id"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("t"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), unix_micros(col("ts")).as("t"))
        .agg(max(col("event_id")).as("purchase_id"))
      graft.ops.AsOf.asofJoinNearest(clicks, purchases, "user_id", "t",
          Seq("purchase_id"))
        .select(col("user_id"), col("click_id"),
          col("near_purchase_id").as("purchase_id"), col("near_t").as("purchase_t"))
        .orderBy(col("user_id"), col("click_id"))
    },
      // quadratic-per-key ground truth: rank every purchase by |Δt|
      // then (earlier first) and keep the winner; clicks with no
      // purchase on the key survive with nulls via the LEFT JOIN
      asofNearestSql),
    // ... and the NEAREST variant through the native operator: the
    // stalled merge head IS the forward candidate, so min-|Δt| falls
    // out of the same sweep — same query, same oracle as the composed
    // events_asof_nearest
    Cert("events_asof_nearest_native", (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click").select(
        col("user_id"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("t"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), unix_micros(col("ts")).as("t"))
        .agg(max(col("event_id")).as("purchase_id"))
      graft.plans.AsOfJoinNative.asofJoinNearest(clicks, purchases, "user_id", "t",
          Seq("purchase_id"))
        .select(col("user_id"), col("click_id"),
          col("near_purchase_id").as("purchase_id"), col("near_t").as("purchase_t"))
        .orderBy(col("user_id"), col("click_id"))
    },
      asofNearestSql),
    // interval×interval overlap join (binned, per-user): click and
    // purchase attention windows that overlap — the temporal-conflict
    // shape; pairs come from shared (user, bin) equi-joins, multi-bin
    // duplicates suppressed arithmetically, never all-pairs
    Cert("events_overlap_join", (s, d) => {
      val ev = Tables.events(s, d)
      def side(t: String, idAs: String, sAs: String, eAs: String) =
        ev.filter(col("event_type") === t).select(
          col("user_id"), col("event_id").as(idAs),
          unix_micros(col("ts")).as(sAs),
          (unix_micros(col("ts")) + lit(3600L * 1000000L)).as(eAs))
      graft.ops.RangeJoin.binnedOverlapJoin(
          side("click", "click_id", "a_start", "a_end"),
          "a_start", "a_end",
          side("purchase", "purchase_id", "b_start", "b_end"),
          "b_start", "b_end",
          Seq("user_id"), binWidth = 3600L * 1000000L)
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          ((least(col("a_end"), col("b_end")) - greatest(col("a_start"), col("b_start")))
            / lit(1000000L)).cast("long").as("overlap_sec"))
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    },
      // brute-force theta ground truth for the binned overlap join
      "WITH oa AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS a_start, " +
        "epoch_us(ts) + 3600000000 AS a_end FROM events WHERE event_type = 'click'), " +
        "ob AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS b_start, " +
        "epoch_us(ts) + 3600000000 AS b_end FROM events WHERE event_type = 'purchase') " +
        "SELECT user_id, click_id, purchase_id, " +
        "CAST((least(a_end, b_end) - greatest(a_start, b_start)) // 1000000 AS BIGINT) AS overlap_sec " +
        "FROM oa JOIN ob USING (user_id) WHERE a_start <= b_end AND b_start <= a_end " +
        "ORDER BY user_id, click_id, purchase_id"),
    // negative space of sessionization: per-user silences above 6h —
    // the heartbeat/SLA outage-candidate monitor
    Cert("events_gaps", (s, d) =>
      EventWindows.gaps(Tables.events(s, d), 21600)
        .orderBy(col("user_id"), col("event_id")),
      // consecutive-event silence above the threshold, µs-exact
      "WITH eg AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, " +
        "lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us, " +
        "lag(event_id) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_event_id " +
        "FROM events) " +
        "SELECT user_id, prev_event_id, event_id, " +
        "CAST((ts_us - prev_us) // 1000000 AS BIGINT) AS gap_sec FROM eg " +
        "WHERE prev_us IS NOT NULL AND ts_us - prev_us > 21600000000 " +
        "ORDER BY user_id, event_id"),
    // both production session rules at once: 6h inactivity gap closes,
    // 2h hard cap splits marathons (the rule session_window can't say)
    Cert("events_capped_sessions", (s, d) =>
      EventWindows.cappedSessions(Tables.events(s, d), 21600, 7200)
        .orderBy(col("user_id"), col("session_start_us")),
      // gap-islands by running flag sum, cap sub-slots from island start
      "WITH cs0 AS (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us FROM events), " +
        "cs1 AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER " +
        "(PARTITION BY user_id ORDER BY ts_us, event_id) > 21600000000 THEN 1 ELSE 0 END AS new_island FROM cs0), " +
        "cs2 AS (SELECT *, sum(new_island) OVER " +
        "(PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS island FROM cs1), " +
        "cs3 AS (SELECT *, CAST((ts_us - min(ts_us) OVER (PARTITION BY user_id, island)) // 7200000000 AS BIGINT) AS sub FROM cs2) " +
        "SELECT user_id, min(ts_us) AS session_start_us, max(ts_us) AS session_end_us, " +
        "CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 2) AS session_value " +
        "FROM cs3 GROUP BY user_id, island, sub ORDER BY user_id, session_start_us"),
    Cert("events_sessions", (s, d) =>
      EventWindows.sessions(Tables.events(s, d))
        .orderBy(col("user_id"), col("session_start")),
      "WITH o AS (SELECT user_id, ts, value, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), " +
        "m AS (SELECT *, CASE WHEN prev IS NULL OR ts - prev >= INTERVAL '10 minutes' THEN 1 ELSE 0 END AS new_s FROM o), " +
        "g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM m) " +
        "SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M') AS session_start, " +
        "CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 2) AS session_value " +
        "FROM g GROUP BY user_id, sid ORDER BY user_id, session_start"),
    // cohort retention curve: first-seen day × day offset → distinct
    // users, within a week of activation
    Cert("events_retention", (s, d) =>
      EventWindows.retention(Tables.events(s, d), 7)
        .orderBy(col("cohort_day"), col("day_offset")),
      // first-seen day per user, datediff offsets, distinct users
      "WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events " +
        "WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
        "f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id) " +
        "SELECT cohort_day, CAST(date_diff('day', cohort_day, day) AS INT) AS day_offset, " +
        "CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users " +
        "FROM e JOIN f ON e.user_id = f.user_id " +
        "WHERE date_diff('day', cohort_day, day) <= 7 " +
        "GROUP BY cohort_day, day_offset ORDER BY cohort_day, day_offset"),
    // k-step ordered-subsequence match (view → click → purchase) as one
    // per-user string + one anchored regex — the funnel generalization
    // without k-way self-joins
    Cert("events_sequence_match", (s, d) =>
      EventWindows.sequenceMatch(Tables.events(s, d),
          Seq("view", "click", "purchase"))
        .orderBy(col("user_id")),
      // same time-order path string (NULLs dropped before the sort — the
      // engines' null ordering differs), same anchored subsequence regex
      "SELECT user_id, CAST(count(*) AS INT) AS n_events, " +
        "regexp_matches(string_agg(event_type, ',' ORDER BY ts, event_id), " +
        "'(^|,)view,(.*,)?click,(.*,)?purchase(,|$)') AS matched " +
        "FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL " +
        "GROUP BY user_id ORDER BY user_id"),
    // sequence mining: top-25 consecutive event-type trigrams — two
    // leads over the per-user order, then a vocabulary-scale count
    Cert("events_frequent_paths", (s, d) =>
      EventWindows.frequentPaths(Tables.events(s, d), 25)
        .orderBy(col("rank")),
      // same two leads over the same (ts, event_id) per-user order
      "WITH l AS (SELECT user_id, event_type AS t0, " +
        "lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t1, " +
        "lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2 FROM events), " +
        "p AS (SELECT t0 || '>' || t1 || '>' || t2 AS path FROM l " +
        "WHERE t1 IS NOT NULL AND t2 IS NOT NULL), " +
        "c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_paths FROM p GROUP BY path) " +
        "SELECT path, n_paths, CAST(row_number() OVER (ORDER BY n_paths DESC, path) AS INT) AS rank " +
        "FROM c QUALIFY row_number() OVER (ORDER BY n_paths DESC, path) <= 25 ORDER BY rank"),
    // as-of join (ops.AsOf): each click joined to the user's latest
    // purchase at-or-before it — single window pass, no range explosion;
    // the oracle is DuckDB's NATIVE ASOF LEFT JOIN, so the operator's
    // semantics (inclusive bound, left-outer nulls, per-(key,ts) right
    // dedup) are certified against an independent implementation
    Cert("events_asof_join", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val tieW = Window.partitionBy(col("user_id"), col("ts")).orderBy(col("event_id").desc)
      val purchases = ev.filter(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(tieW)).filter(col("rn") === 1)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      graft.ops.AsOf.asofJoinBackward(
        clicks, purchases, "user_id", "ts", Seq("event_id", "value"))
        .select(col("click_id"), col("user_id"),
          col("asof_event_id").as("purchase_id"),
          round(col("asof_value"), 2).as("purchase_value"),
          date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"))
        .orderBy(col("click_id"))
    },
      asofBackwardSql),
    // the NATIVE as-of join — custom LogicalPlan + SparkStrategy +
    // merge-sweep SparkPlan (plans/AsOfJoinExec.scala) — must produce
    // byte-identical output to the composed window formulation above:
    // same query, same DuckDB ASOF JOIN oracle
    Cert("events_asof_native", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val tieW = Window.partitionBy(col("user_id"), col("ts")).orderBy(col("event_id").desc)
      val purchases = ev.filter(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(tieW)).filter(col("rn") === 1)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      graft.plans.AsOfJoinNative.asofJoinBackward(
        clicks, purchases, "user_id", "ts", Seq("event_id", "value"))
        .select(col("click_id"), col("user_id"),
          col("asof_event_id").as("purchase_id"),
          round(col("asof_value"), 2).as("purchase_value"),
          date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"))
        .orderBy(col("click_id"))
    },
      asofBackwardSql),
    // trailing per-user event rate over a value-based RANGE frame
    Cert("events_rolling_rate", (s, d) =>
      EventWindows.rollingRate(Tables.events(s, d), windowSec = 3600)
        .orderBy(col("event_id")),
      // RANGE (value-based) frame → tie handling is deterministic on both
      "SELECT event_id, user_id, CAST(count(*) OVER (PARTITION BY user_id " +
        "ORDER BY epoch_us(ts) RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) " +
        "AS n_window FROM events ORDER BY event_id"),
    // gap-filled 6h grid per user, last observation carried forward —
    // point-in-time materialization; first slot observes by
    // construction, carry ranked at microsecond precision
    Cert("events_resample_ffill", (s, d) =>
      EventWindows.resampleFfill(Tables.events(s, d), stepMinutes = 360)
        .orderBy(col("user_id"), col("slot_sec")),
      // per-user 6h slot grid, last-in-slot at microsecond precision
      // (ties by event_id), forward fill via IGNORE NULLS last_value
      s"WITH $resampleChainSql " +
        "SELECT user_id, slot_sec, value_ffill, is_observed FROM rs " +
        "ORDER BY user_id, slot_sec"),
    // rolling z-score over the resampled series, moments in exact
    // integer cents so the |z| > 2 flag boundary is engine-exact
    Cert("events_anomalies", (s, d) =>
      EventWindows.anomalies(Tables.events(s, d), stepMinutes = 360)
        .orderBy(col("user_id"), col("slot_sec")),
      // trailing-8-slot z-score; moments in exact integer cents, the
      // zero-variance guard an exact integer compare, |z| > 2 on
      // bit-identical doubles
      s"WITH $resampleChainSql, " +
        "ac AS (SELECT user_id, slot_sec, CAST(round(value_ffill * 100.0, 0) AS BIGINT) AS cents FROM rs), " +
        "aw AS (SELECT user_id, slot_sec, cents, count(*) OVER w AS wn, " +
        "sum(cents) OVER w AS s1, sum(cents * cents) OVER w AS s2 FROM ac " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY slot_sec ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)) " +
        "SELECT user_id, slot_sec, cents, round(z, 4) AS z FROM " +
        "(SELECT user_id, slot_sec, cents, " +
        "(cents - s1 / 8.0) / sqrt((s2 - s1 * s1 / 8.0) / 8.0) AS z " +
        "FROM aw WHERE wn = 8 AND s2 * 8 > s1 * s1) " +
        "WHERE abs(z) > 2.0 ORDER BY user_id, slot_sec"),
    // click → purchase conversion funnel per user
    Cert("events_funnel", (s, d) =>
      EventWindows.funnel(Tables.events(s, d), "click", "purchase")
        .orderBy(col("user_id")),
      // two-step conditional-min funnel; integer-floor gap on both engines
      "WITH f AS (SELECT user_id, min(ts) AS first_from FROM events " +
        "WHERE event_type = 'click' GROUP BY user_id), " +
        "t AS (SELECT p.user_id, min(p.ts) AS first_to FROM events p " +
        "JOIN f ON p.user_id = f.user_id " +
        "WHERE p.event_type = 'purchase' AND p.ts >= f.first_from GROUP BY p.user_id) " +
        "SELECT f.user_id, strftime(f.first_from, '%Y-%m-%d %H:%M') AS first_from, " +
        "t.first_to IS NOT NULL AS converted, " +
        "CAST((epoch_us(t.first_to) - epoch_us(f.first_from)) // 1000000 AS BIGINT) AS gap_sec " +
        "FROM f LEFT JOIN t ON f.user_id = t.user_id ORDER BY f.user_id"),
    // binned range join (ops.RangeJoin): each error event opens a 10-minute
    // incident window; count click/view traffic inside it. The binned
    // equi-join replaces the BroadcastNestedLoopJoin Catalyst would pick
    // for the raw BETWEEN predicate (RangeJoinSpec asserts the plan);
    // the oracle runs the plain inequality join in DuckDB
    Cert("events_range_join", (s, d) => {
      val ev = Tables.events(s, d)
      val tenMinUs = 600L * 1000 * 1000
      val errs = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"),
          unix_micros(col("ts")).as("win_s"),
          (unix_micros(col("ts")) + tenMinUs).as("win_e"))
      val traffic = ev.filter(col("event_type").isin("click", "view"))
        .select(col("event_id").as("hit_id"),
          unix_micros(col("ts")).as("hit_us"), col("value"))
      val hits = graft.ops.RangeJoin
        .binnedPointIntervalJoin(traffic, "hit_us", errs, "win_s", "win_e", tenMinUs)
        .groupBy(col("err_id"))
        .agg(count(lit(1)).as("n_hits"), round(sum(col("value")), 2).as("total_value"))
      errs.select(col("err_id"))
        .join(hits, Seq("err_id"), "left")
        .select(col("err_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("total_value"), lit(0.0)), 2).as("total_value"))
        .orderBy(col("err_id"))
    },
      "WITH e AS (SELECT event_id AS err_id, epoch_us(ts) AS win_s, " +
        "epoch_us(ts) + 600000000 AS win_e FROM events WHERE event_type = 'error'), " +
        "p AS (SELECT event_id, epoch_us(ts) AS pu, value FROM events " +
        "WHERE event_type IN ('click', 'view')) " +
        "SELECT e.err_id, CAST(count(p.event_id) AS BIGINT) AS n_hits, " +
        "round(COALESCE(sum(p.value), 0), 2) AS total_value " +
        "FROM e LEFT JOIN p ON p.pu BETWEEN e.win_s AND e.win_e " +
        "GROUP BY e.err_id ORDER BY err_id"),
    // the SAME query written the natural way (raw BETWEEN join) with the
    // Catalyst rule injected via experimental.extraOptimizations: the
    // optimizer rewrites the nested-loop join to the binned plan and the
    // result must stay identical (same oracle as events_range_join).
    // localCheckpoint materializes while the rule is active — the rule
    // list is restored before this function returns
    Cert("events_range_join_auto", (s, d) => {
      val ev = Tables.events(s, d)
      val tenMinUs = 600L * 1000 * 1000
      val errs = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"),
          unix_micros(col("ts")).as("win_s"),
          (unix_micros(col("ts")) + tenMinUs).as("win_e"))
      val traffic = ev.filter(col("event_type").isin("click", "view"))
        .select(col("event_id").as("hit_id"),
          unix_micros(col("ts")).as("hit_us"), col("value"))
      val prev = s.experimental.extraOptimizations
      s.experimental.extraOptimizations =
        prev :+ graft.plans.BinnedRangeJoinRule(tenMinUs)
      val hits = try {
        traffic
          .join(errs, col("hit_us") >= col("win_s") && col("hit_us") <= col("win_e"))
          .groupBy(col("err_id"))
          .agg(count(lit(1)).as("n_hits"), round(sum(col("value")), 2).as("total_value"))
          .localCheckpoint()
      } finally s.experimental.extraOptimizations = prev
      errs.select(col("err_id"))
        .join(hits, Seq("err_id"), "left")
        .select(col("err_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("total_value"), lit(0.0)), 2).as("total_value"))
        .orderBy(col("err_id"))
    },
      "WITH e AS (SELECT event_id AS err_id, epoch_us(ts) AS win_s, " +
        "epoch_us(ts) + 600000000 AS win_e FROM events WHERE event_type = 'error'), " +
        "p AS (SELECT event_id, epoch_us(ts) AS pu, value FROM events " +
        "WHERE event_type IN ('click', 'view')) " +
        "SELECT e.err_id, CAST(count(p.event_id) AS BIGINT) AS n_hits, " +
        "round(COALESCE(sum(p.value), 0), 2) AS total_value " +
        "FROM e LEFT JOIN p ON p.pu BETWEEN e.win_s AND e.win_e " +
        "GROUP BY e.err_id ORDER BY err_id")
  )

  /** min-|Δt| nearest as-of (ties: earlier right, then larger id via
    * the pre-dedup) — shared by the composed two-window formulation
    * and the native merge-sweep nearest. */
  private val asofNearestSql =
    "WITH nlc AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS t " +
      "FROM events WHERE event_type = 'click'), " +
      "nrp AS (SELECT user_id, epoch_us(ts) AS t, max(event_id) AS purchase_id " +
      "FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) " +
      "SELECT user_id, click_id, purchase_id, rt AS purchase_t FROM " +
      "(SELECT l.user_id, l.click_id, r.purchase_id, r.t AS rt, abs(l.t - r.t) AS dt " +
      "FROM nlc l LEFT JOIN nrp r USING (user_id)) " +
      "QUALIFY row_number() OVER (PARTITION BY user_id, click_id ORDER BY dt, rt) = 1 " +
      "ORDER BY user_id, click_id"

  /** DuckDB's native ASOF JOIN — the shared oracle for BOTH as-of
    * formulations (composed window and native physical operator). */
  private val asofBackwardSql =
    "WITH l AS (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'), " +
      "r AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase' " +
      "QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1) " +
      "SELECT l.click_id, l.user_id, r.event_id AS purchase_id, " +
      "round(r.value, 2) AS purchase_value, " +
      "strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts " +
      "FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts " +
      "ORDER BY click_id"

  /** Full-batch logistic-regression GD mirrored in SQL (the Pca chain
    * discipline): per-row float-quantized sigmoid (absorbing the
    * engines' exp ulp noise), float-quantized gradient sums, exact
    * fixed-order weight updates re-quantized per iteration. Mirrors
    * Classifier.train(iters = 20, lr = 10.0). */
  /** Per-user 6h resample grid with forward fill, as a CTE chain
    * ending in `rs(user_id, slot_sec, value_ffill, is_observed)` —
    * shared by events_resample_ffill and events_anomalies. */
  private val resampleChainSql: String =
    "sl AS (SELECT user_id, event_id, value, " +
      "epoch_us(ts) // 21600000000 AS slot, epoch_us(ts) AS ts_us FROM events " +
      "WHERE user_id IS NOT NULL AND value IS NOT NULL), " +
      "lastv AS (SELECT user_id, slot, value FROM sl " +
      "QUALIFY row_number() OVER (PARTITION BY user_id, slot ORDER BY ts_us DESC, event_id DESC) = 1), " +
      "grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS slot FROM " +
      "(SELECT user_id, min(slot) AS lo, max(slot) AS hi FROM sl GROUP BY user_id)), " +
      "rs AS (SELECT g.user_id AS user_id, CAST(g.slot * 21600 AS BIGINT) AS slot_sec, " +
      "last_value(l.value IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.slot " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill, " +
      "l.value IS NOT NULL AS is_observed " +
      "FROM grid g LEFT JOIN lastv l ON g.user_id = l.user_id AND g.slot = l.slot)"
}
