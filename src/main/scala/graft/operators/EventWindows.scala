package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time windowing over the `events` table (SURVEY.md §2.11: the
  * reference is batch-only, so this is the streaming-capable extension —
  * each transform takes any DataFrame with (ts, user_id, event_type,
  * value), so the SAME function runs on `spark.read` (batch, oracle-checked
  * here) and `spark.readStream` (see graft.streaming.StreamingTwin, which
  * adds watermarks).
  *
  * Scale: tumbling/sliding aggregation is a hash-agg on (window, type) —
  * partial aggregation map-side, one shuffle. Sessionization uses Spark's
  * native session_window (state-store backed in streaming; a window
  * function over user partitions in batch).
  */
object EventWindows {

  /** Tumbling 1-hour counts/sums per event type — sort-free core, legal on
    * both batch and streaming inputs. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
      .select(
        date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Batch/oracle form of [[tumblingAgg]] with deterministic output order. */
  def tumbling(events: DataFrame): DataFrame =
    tumblingAgg(events).orderBy("win_start", "event_type")

  /** Sliding 1-hour windows every 30 minutes (each event lands in 2) —
    * sort-free core, batch or streaming. */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
      .select(
        date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Batch/oracle form of [[slidingAgg]] with deterministic output order. */
  def sliding(events: DataFrame): DataFrame =
    slidingAgg(events).orderBy("win_start", "event_type")

  /** Gap-based sessionization (30-minute inactivity gap) per user, via
    * Spark's native session_window. */
  def sessionize(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes").as("win"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(
        col("user_id"),
        date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("win.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")

  def defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q67_event_funnel",
      // Ordered conversion funnel: per user, the first view → first
      // click AFTER that view → first purchase AFTER that click; the
      // output is the per-stage user count (the funnel chart's bars).
      // Shape: three tiny per-user min-aggregates off one scan, joined
      // on user — one shuffle by user_id; no self-join of raw events
      // against raw events.
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("t_view"))
        val c = ev.filter(col("event_type") === "click").as("c")
          .join(v, "user_id")
          .filter(col("ts") >= col("t_view"))
          .groupBy("user_id").agg(min("ts").as("t_click"))
        val p = ev.filter(col("event_type") === "purchase").as("p")
          .join(c, "user_id")
          .filter(col("ts") >= col("t_click"))
          .groupBy("user_id").agg(min("ts").as("t_purchase"))
        val stages = v.select(lit("1_view").as("stage"), col("user_id"))
          .unionByName(c.select(lit("2_click").as("stage"), col("user_id")))
          .unionByName(p.select(lit("3_purchase").as("stage"), col("user_id")))
        stages.groupBy("stage").agg(countDistinct("user_id").as("users"))
          .orderBy("stage")
      },
      Some("""WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
             |WHERE event_type = 'view' GROUP BY 1),
             |c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
             |JOIN v ON e.user_id = v.user_id AND e.ts >= v.t_view
             |WHERE e.event_type = 'click' GROUP BY 1),
             |p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
             |JOIN c ON e.user_id = c.user_id AND e.ts >= c.t_click
             |WHERE e.event_type = 'purchase' GROUP BY 1),
             |stages AS (SELECT '1_view' AS stage, user_id FROM v
             |UNION ALL SELECT '2_click', user_id FROM c
             |UNION ALL SELECT '3_purchase', user_id FROM p)
             |SELECT stage, count(DISTINCT user_id) AS users
             |FROM stages GROUP BY stage ORDER BY stage""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q68_event_transitions",
      // Behavioral transition matrix: per user, consecutive event-type
      // pairs in time order (lead window), counted corpus-wide — the
      // Markov-chain view of session behavior. One window shuffle by
      // user, one tiny groupBy; ties in ts broken by event_id so the
      // sequence is total.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        Tables.events(s, dir)
          .withColumn("next_type", lead("event_type", 1).over(
            Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
          .agg(count(lit(1)).as("transitions"))
          .orderBy("from_type", "to_type")
      },
      Some("""WITH seq AS (SELECT user_id, event_type,
             |lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
             |FROM events)
             |SELECT event_type AS from_type, next_type AS to_type, count(*) AS transitions
             |FROM seq WHERE next_type IS NOT NULL
             |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q60_tumbling_window",
      (s, dir) => tumbling(Tables.events(s, dir)),
      // Spark's window() aligns to the epoch; date_trunc('hour') is the
      // same alignment for 1-hour tumbling.
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
             |event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin.replace("\n", " ")),
      bench = true),

    QueryDef(
      "q61_sliding_window",
      (s, dir) => sliding(Tables.events(s, dir)),
      // Each event belongs to 2 sliding windows: starts at its 30-min
      // bucket and 30 min before. to_timestamp(floor(epoch/1800)*1800)
      // reproduces Spark's epoch-aligned bucketing.
      Some("""WITH x AS (SELECT event_type, value,
             |to_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 - k * 1800) AS win_start
             |FROM events, LATERAL (SELECT unnest([0, 1]) AS k) g)
             |SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
             |count(*) AS cnt, round(sum(value), 2) AS sum_value
             |FROM x GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q62_sessionize",
      (s, dir) => sessionize(Tables.events(s, dir)),
      // session_window semantics: an event extends the session iff it is
      // strictly before prev_end = prev_ts + gap; session end = last ts +
      // gap. Reproduced with lag + conditional cumsum.
      Some("""WITH o AS (SELECT user_id, ts, value,
             |lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
             |FROM events),
             |m AS (SELECT user_id, ts, value,
             |CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) >= 1800000000 THEN 1 ELSE 0 END AS brk
             |FROM o),
             |sid AS (SELECT user_id, ts, value,
             |sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
             |FROM m)
             |SELECT user_id,
             |strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             |strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
             |count(*) AS n_events, round(sum(value), 2) AS sum_value
             |FROM sid GROUP BY user_id, sess
             |ORDER BY user_id, session_start""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q124_retention_cohorts",
      // Daily retention cohorts — the classic product-analytics matrix:
      // users grouped by the DATE of their first event, each cohort's
      // active-user count at every day offset, and the retention rate
      // against the cohort size. Scale shape: one user-keyed aggregate
      // for the cohort date, one user-keyed distinct for activity days,
      // a user-keyed join between them, then a (cohort, offset)
      // aggregate — nothing wider than the user key ever shuffles, and
      // the cohort-size table (≤ one row per day) broadcasts.
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("d"))
        val coh = ev.groupBy("user_id").agg(min("d").as("cohort_d"))
        val act = ev.distinct()
        val sizes = coh.groupBy("cohort_d").agg(count(lit(1)).as("cohort_n"))
        act.join(coh, "user_id")
          .withColumn("offset_d", datediff(col("d"), col("cohort_d")).cast("long"))
          .groupBy("cohort_d", "offset_d")
          .agg(count(lit(1)).as("n_active"))
          .join(broadcast(sizes), "cohort_d")
          .withColumn("retention", expr("round(n_active * 1.0D / cohort_n, 4)"))
          .select(col("cohort_d").cast("string").as("cohort_d"), col("offset_d"),
            col("n_active"), col("cohort_n"), col("retention"))
          .orderBy("cohort_d", "offset_d")
      },
      Some("""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
             |coh AS (SELECT user_id, min(d) AS cohort_d FROM ev GROUP BY 1),
             |act AS (SELECT DISTINCT user_id, d FROM ev),
             |sizes AS (SELECT cohort_d, CAST(count(*) AS BIGINT) AS cohort_n FROM coh GROUP BY 1),
             |a AS (SELECT cohort_d, CAST(d - cohort_d AS BIGINT) AS offset_d,
             |CAST(count(*) AS BIGINT) AS n_active
             |FROM act JOIN coh USING (user_id) GROUP BY 1, 2)
             |SELECT strftime(a.cohort_d, '%Y-%m-%d') AS cohort_d, offset_d, n_active, cohort_n,
             |round(n_active * 1.0 / cohort_n, 4) AS retention
             |FROM a JOIN sizes USING (cohort_d)
             |ORDER BY cohort_d, offset_d""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q126_session_paths",
      // Top session journeys: each session's first ≤3 event types in
      // time order (ties broken by event_id), counted corpus-wide — the
      // path-analysis view that q68's single-step transition matrix
      // cannot express. Session assignment is q62's lag + conditional
      // cumsum (the oracle-able twin of session_window, same ≥30 min
      // break rule). Every window is user- or session-keyed; the path
      // space is bounded by |event_types|³ regardless of corpus size,
      // so the final aggregate is tiny and the top-20 is TakeOrdered.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val sid = Tables.events(s, dir)
          .withColumn("prev", lag("ts", 1).over(w))
          .withColumn("brk", when(col("prev").isNull ||
            expr("unix_micros(ts) - unix_micros(prev)") >= 1800000000L, 1L).otherwise(0L))
          .withColumn("sess", sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        sid
          .withColumn("rn", row_number().over(
            Window.partitionBy("user_id", "sess").orderBy(col("ts"), col("event_id"))))
          .filter(col("rn") <= 3)
          .groupBy("user_id", "sess")
          .agg(array_join(Folds.orderedList(col("event_type"), col("rn")), ">").as("path"))
          .groupBy("path").agg(count(lit(1)).as("n_sessions"))
          .orderBy(col("n_sessions").desc, col("path")).limit(20)
      },
      Some("""WITH o AS (SELECT user_id, ts, event_id, event_type,
             |lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events),
             |m AS (SELECT *, CASE WHEN prev IS NULL
             |OR epoch_us(ts) - epoch_us(prev) >= 1800000000 THEN 1 ELSE 0 END AS brk FROM o),
             |sid AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM m),
             |r AS (SELECT user_id, sess, event_type,
             |row_number() OVER (PARTITION BY user_id, sess ORDER BY ts, event_id) AS rn FROM sid),
             |p AS (SELECT user_id, sess, array_to_string(list(event_type ORDER BY rn), '>') AS path
             |FROM r WHERE rn <= 3 GROUP BY 1, 2)
             |SELECT path, count(*) AS n_sessions FROM p GROUP BY 1
             |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin.replace("\n", " ")))
  )
}
