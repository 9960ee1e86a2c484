package graft.queries

import graft.QueryPack
import graft.model.EngineConfig
import graft.stream.EventPipeline

/** Driver-contract query for the streaming path: the flagship decision
  * computed through readStream → per-table stateful fold must equal the
  * batch formulation — so it shares the batch oracle (stream/batch parity is
  * itself the property under test). */
object StreamQueries {
  val pack: QueryPack = QueryPack(
    queries = Map(
      "stream_should_optimize" -> ((s, dir) =>
        EventPipeline.decisionsViaStream(s, dir, EngineConfig())),
      "session_windows" -> ((s, dir) =>
        EventPipeline.sessionWindows(graft.ops.EventOps.events(s, dir))),
      "window_metrics" -> ((s, dir) =>
        EventPipeline.windowedMetrics(
          graft.ops.EventOps.events(s, dir), "1 hour")),
      "event_funnel" -> ((s, dir) =>
        graft.ops.EventAnalytics.funnel(graft.ops.EventOps.events(s, dir))),
      "event_attribution" -> ((s, dir) =>
        EventPipeline.attribution(graft.ops.EventOps.events(s, dir))),
      "event_cohorts" -> ((s, dir) =>
        graft.ops.EventAnalytics.cohorts(graft.ops.EventOps.events(s, dir)))),
    oracles = Map(
      "stream_should_optimize" ->
        DecisionQueries.pack.oracles("should_optimize"),
      // Gaps-and-islands in epoch millis; a session breaks when the gap
      // since the previous event is at least 30 min (Spark merges events
      // whose [t, t+gap) ranges overlap; a touch at exactly t+gap merges).
      "session_windows" ->
        """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms FROM events),
          |m AS (
          |  SELECT user_id, ts_ms,
          |    CASE WHEN lag(ts_ms) OVER w IS NULL
          |           OR ts_ms - lag(ts_ms) OVER w > 1800000
          |         THEN 1 ELSE 0 END AS new_s
          |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)),
          |s AS (
          |  SELECT user_id, ts_ms,
          |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          |  FROM m)
          |SELECT user_id,
          |  min(ts_ms) AS session_start_ms,
          |  max(ts_ms) + 1800000 AS session_end_ms,
          |  count(*) AS n_events
          |FROM s GROUP BY user_id, sid""".stripMargin,

      // Ordered funnel: each stage's first-occurrence time must strictly
      // follow the previous stage's.
      "event_funnel" ->
        """WITH e AS (
          |  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
          |t1 AS (SELECT user_id, min(ts_ms) AS t1 FROM e
          |       WHERE event_type = 'view' GROUP BY 1),
          |t2 AS (SELECT e.user_id, min(ts_ms) AS t2 FROM e
          |       JOIN t1 USING (user_id)
          |       WHERE event_type = 'click' AND ts_ms > t1 GROUP BY 1),
          |t3 AS (SELECT e.user_id, min(ts_ms) AS t3 FROM e
          |       JOIN t2 USING (user_id)
          |       WHERE event_type = 'purchase' AND ts_ms > t2 GROUP BY 1)
          |SELECT '1_view' AS stage, count(*) AS n_users FROM t1
          |UNION ALL SELECT '2_click', count(*) FROM t2
          |UNION ALL SELECT '3_purchase', count(*) FROM t3""".stripMargin,

      // Cohort = first-activity UTC day; matrix of distinct users per
      // (cohort, day offset). Integer epoch-day arithmetic on both sides.
      "event_cohorts" ->
        """WITH e AS (
          |  SELECT user_id,
          |    (epoch_ms(ts) // 86400000) * 86400000 AS day_ms FROM events),
          |c AS (SELECT user_id, min(day_ms) AS cohort_ms FROM e GROUP BY 1)
          |SELECT cohort_ms,
          |  CAST((day_ms - cohort_ms) // 86400000 AS BIGINT) AS day_offset,
          |  count(DISTINCT user_id) AS n_users
          |FROM e JOIN c USING (user_id)
          |GROUP BY 1, 2""".stripMargin,

      // interval join in epoch millis, horizon-inclusive on both ends —
      // the batch twin of the watermarked stream-stream attribution join
      "event_attribution" ->
        """WITH e AS (
          |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type
          |  FROM events)
          |SELECT v.user_id, v.event_id AS view_id,
          |  p.event_id AS purchase_id,
          |  p.ts_ms - v.ts_ms AS lag_ms
          |FROM e v JOIN e p ON p.user_id = v.user_id
          |  AND v.event_type = 'view' AND p.event_type = 'purchase'
          |  AND p.ts_ms >= v.ts_ms AND p.ts_ms <= v.ts_ms + 1800000""".stripMargin,

      "window_metrics" ->
        """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
          |  event_type,
          |  count(*) AS n_events,
          |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
          |    AS value_cents
          |FROM events GROUP BY 1, 2""".stripMargin))
}
