package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 closers, part 4 — interval analytics, dimension lifecycle,
  * graph closure, and the deep-correlation relational shape:
  *
  *  - q162 per-day peak concurrency: the sweep-line over session
  *    intervals (+1 at start, −1 at end, running sum), computed in the
  *    SEGMENTED two-pass form — a day-partitioned local prefix sum plus
  *    a carry-in offset from the tiny per-day delta totals — instead of
  *    one global ordered window. This is the textbook distributed
  *    prefix-scan decomposition: the only global ordering runs over the
  *    day-level aggregate (≤ one row per day), never over events.
  *  - q163 SCD Type-2 dimension build: three deterministic attribute
  *    snapshots collapsed into validity intervals via change-detection
  *    windows (keep first-or-changed, valid_to = next valid_from − 1)
  *    — the warehouse dimension-history operator the reference's
  *    existing-wins merge (scrappy.py:339-352) flattens away.
  *  - q164 triangle counting on the df-capped shingle-share graph, in
  *    the degree-oriented form: each undirected edge is directed from
  *    its lower (degree, id) endpoint, so every triangle is counted
  *    exactly once and the wedge join's fan-out is bounded by the max
  *    OUT-degree ≈ O(√m) — the classic MR triangle-count bound — not
  *    by the max raw degree a hub node would otherwise contribute.
  *  - q165 sole-late-supplier (the TPC-H Q21 shape): a doubly
  *    correlated EXISTS / NOT-EXISTS over the same fact table,
  *    expressed as one semi join + one anti join on the order key —
  *    the deepest correlated-subquery pattern in the relational
  *    surface (q86 covers the scalar-correlation case).
  *
  * Scale notes (also in SCALE.md):
  *  - q162: session intervals come from the same session_window
  *    aggregate as q62 (user-keyed, one shuffle); the sweep is then two
  *    delta rows PER SESSION (not per event), a day-partitioned window,
  *    and a day-level carry table small enough to broadcast at any
  *    corpus size. Peak-within-instant is well defined: ends sort
  *    before starts at the same timestamp (half-open [start, end)
  *    intervals), and RANGE-frame ties make the running values a
  *    deterministic set on both engines.
  *  - q163: one doc-keyed shuffle; both windows run per doc_id over ≤ 3
  *    rows. At 100 TB the version union is a multi-snapshot scan and
  *    the collapse stays a keyed window — no global state.
  *  - q164: the edge builder is q114's df-capped inverted index (a
  *    shingle above the cap is dropped BEFORE the self-join, so no
  *    boilerplate n-gram can quadratically explode a bucket); the
  *    wedge join runs on the oriented edge list partitioned by src.
  *  - q165: every join keys on l_orderkey — late×all and late×late are
  *    co-partitioned semi/anti joins (bucketing makes them co-located);
  *    supplier is broadcast-sized by the TPC-H constant ratio.
  */
object Corpus5 {

  /** Session intervals [start, end) under q62's exact session_window
    * semantics (30-minute inactivity gap; end = last ts + gap). */
  private def sessionIntervals(ev: DataFrame): DataFrame =
    ev.groupBy(session_window(col("ts"), "30 minutes").as("win"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("win.start").as("st"), col("win.end").as("en"))

  /** q62's lag + conditional-cumsum reproduction of session_window,
    * yielding one row per session with its [st, en) interval. */
  private val sessDuckCte =
    """o AS (SELECT user_id, ts,
      |lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events),
      |m AS (SELECT user_id, ts,
      |CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) >= 1800000000 THEN 1 ELSE 0 END AS brk
      |FROM o),
      |sid AS (SELECT user_id, ts,
      |sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      |FROM m),
      |s AS (SELECT user_id, min(ts) AS st, max(ts) + INTERVAL 30 MINUTE AS en
      |FROM sid GROUP BY user_id, sess)""".stripMargin.replace("\n", " ")

  /** Closed-form attribute value per snapshot version (q163). Version 2
    * edits every 5th doc, version 3 edits every 3rd — overlapping
    * subsets, so histories of length 1, 2, and 3 all occur. */
  private val a2Spark = "CASE WHEN doc_id % 5 = 0 THEN concat(source, '+r2') ELSE source END"
  private val a2Duck = "CASE WHEN doc_id % 5 = 0 THEN source || '+r2' ELSE source END"
  private def attrSpark =
    s"CASE WHEN v = 1 THEN source WHEN v = 2 THEN $a2Spark " +
      s"ELSE CASE WHEN doc_id % 3 = 0 THEN concat($a2Spark, '+r3') ELSE $a2Spark END END"
  private def attrDuck =
    s"CASE WHEN v = 1 THEN source WHEN v = 2 THEN $a2Duck " +
      s"ELSE CASE WHEN doc_id % 3 = 0 THEN $a2Duck || '+r3' ELSE $a2Duck END END"

  /** q114's df-capped shingle-share edge list, one row per undirected
    * pair (u < v). Shared with Corpus5Spec so the spec's brute-force
    * triangle recount runs on exactly the graph the query saw. */
  private[graft] def shingleEdges(docs: DataFrame): DataFrame = {
    val sh = Corpus.cappedShingles(docs, 8)
    sh.as("a").join(sh.as("b"),
        col("a.sg") === col("b.sg") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("u"), col("b.doc_id").as("v")).distinct()
  }

  def defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q162_peak_concurrency",
      // PER-DAY PEAK CONCURRENT SESSIONS — the segmented sweep-line.
      // Deltas: +1 at session start, −1 at session end (half-open
      // intervals: at the same instant ends apply before starts, which
      // the ORDER BY ts, delta ascending gives for free since −1 < 1).
      // max_concurrency(day) = carry_in(day) + greatest(0, max(local
      // running sum)), where carry_in is the cumulative delta total of
      // all PRIOR days: the greatest(0, ·) term is the day's MIDNIGHT
      // level — a day whose first deltas are session ends (all-negative
      // prefix) peaks at midnight, at exactly carry. Days crossed by
      // sessions but containing no deltas at all come from a day spine
      // over [min, max] delta days and report the flat carry level —
      // so sessions spanning midnight are counted in every day they
      // cross, including delta-free middle days, without clipping or
      // interval explosion (r4 advice).
      (s, dir) => {
        val sess = sessionIntervals(Tables.events(s, dir))
        val deltas = sess.select(col("st").as("ts"), lit(1).as("delta"))
          .unionByName(sess.select(col("en").as("ts"), lit(-1).as("delta")))
          .withColumn("d", to_date(col("ts")))
        val loc = deltas.withColumn("run",
          sum("delta").over(Window.partitionBy("d").orderBy("ts", "delta")))
        val pd = loc.groupBy("d").agg(
          sum("delta").as("tot"), max("run").as("mx"),
          sum(when(col("delta") === 1, 1).otherwise(0)).as("sessions_started"),
          sum(when(col("delta") === -1, 1).otherwise(0)).as("sessions_ended"))
        val spine = pd.agg(min("d").as("d0"), max("d").as("d1"))
          .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
        val full = spine.join(pd, Seq("d"), "left")
        // The ONLY unpartitioned window: runs over the ≤-one-row-per-day
        // aggregate, never over events or sessions.
        val carryW = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
        full.withColumn("carry", coalesce(sum("tot").over(carryW), lit(0L)))
          .select(col("d").as("day"),
            coalesce(col("sessions_started"), lit(0L)).as("sessions_started"),
            coalesce(col("sessions_ended"), lit(0L)).as("sessions_ended"),
            (col("carry") + greatest(lit(0L), coalesce(col("mx"), lit(0L))))
              .as("max_concurrency"))
          .orderBy("day")
      },
      Some(s"""WITH $sessDuckCte,
              |dl AS (SELECT st AS ts, 1 AS delta FROM s UNION ALL SELECT en AS ts, -1 AS delta FROM s),
              |dd AS (SELECT CAST(ts AS DATE) AS d, ts, delta FROM dl),
              |loc AS (SELECT d, delta,
              |sum(delta) OVER (PARTITION BY d ORDER BY ts, delta) AS run FROM dd),
              |pd AS (SELECT d, sum(delta) AS tot, max(run) AS mx,
              |sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS sessions_started,
              |sum(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS sessions_ended
              |FROM loc GROUP BY d),
              |sp AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
              |FROM (SELECT min(d) AS d0, max(d) AS d1 FROM pd)),
              |f AS (SELECT sp.d, pd.tot, pd.mx, pd.sessions_started, pd.sessions_ended
              |FROM sp LEFT JOIN pd ON sp.d = pd.d)
              |SELECT d AS day, CAST(coalesce(sessions_started, 0) AS BIGINT) AS sessions_started,
              |CAST(coalesce(sessions_ended, 0) AS BIGINT) AS sessions_ended,
              |CAST(coalesce(sum(tot) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + greatest(0, coalesce(mx, 0)) AS BIGINT) AS max_concurrency
              |FROM f ORDER BY day""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q163_scd2_dimension",
      // SCD TYPE-2 DIMENSION BUILD — three deterministic snapshots of a
      // per-document attribute collapsed into validity intervals.
      // Change detection keeps a version iff it is the doc's first or
      // differs from the previous version (lag); valid_to = next kept
      // valid_from − 1, open rows get the 99 sentinel and is_current=1.
      // The interval set tiles [1, 3] per doc with no gaps or overlaps
      // by construction (Corpus5Spec asserts it).
      (s, dir) => {
        val vers = Tables.documents(s, dir).select(col("doc_id"), col("source"))
          .select(col("doc_id"), col("source"),
            explode(expr("array(1, 2, 3)")).as("v"))
          .withColumn("attr", expr(attrSpark))
        val wv = Window.partitionBy("doc_id").orderBy("v")
        vers.withColumn("prev", lag("attr", 1).over(wv))
          .filter(col("prev").isNull || col("attr") =!= col("prev"))
          .withColumn("valid_to",
            coalesce(lead("v", 1).over(wv) - 1, lit(99)))
          .select(col("doc_id"), col("attr"), col("v").as("valid_from"),
            col("valid_to"),
            when(col("valid_to") === 99, 1).otherwise(0).as("is_current"))
          .orderBy("doc_id", "valid_from")
      },
      Some(s"""WITH vers AS (SELECT doc_id, source, unnest([1, 2, 3]) AS v FROM documents),
              |va AS (SELECT doc_id, v, $attrDuck AS attr FROM vers),
              |ch AS (SELECT doc_id, v, attr,
              |lag(attr) OVER (PARTITION BY doc_id ORDER BY v) AS prev FROM va),
              |kept AS (SELECT doc_id, v, attr FROM ch WHERE prev IS NULL OR attr <> prev),
              |fin AS (SELECT doc_id, attr, v AS valid_from,
              |coalesce(lead(v) OVER (PARTITION BY doc_id ORDER BY v) - 1, 99) AS valid_to FROM kept)
              |SELECT doc_id, attr, valid_from, valid_to,
              |CASE WHEN valid_to = 99 THEN 1 ELSE 0 END AS is_current
              |FROM fin ORDER BY doc_id, valid_from""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q164_triangle_count",
      // DEGREE-ORIENTED TRIANGLE COUNT over the q114/q116 df-capped
      // shingle-share graph. Each undirected edge points from its
      // lower (degree, id) endpoint; the orientation is acyclic, so
      // the wedge join e1(a→b) ⋈ e2(b→c) checked against e3(a→c)
      // finds each triangle exactly once. Output: top-20 documents by
      // triangle participation + the global total as doc_id = −1 (a
      // node's count ≤ total, so the total row always sorts first).
      (s, dir) => {
        val e0 = shingleEdges(Tables.documents(s, dir))
        val deg = e0.select(col("u").as("n")).unionByName(e0.select(col("v").as("n")))
          .groupBy("n").agg(count(lit(1)).as("dg"))
        val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
        val ed = e0
          .join(deg.select(col("n").as("u"), col("dg").as("du")), "u")
          .join(deg.select(col("n").as("v"), col("dg").as("dv")), "v")
          .select(when(fwd, col("u")).otherwise(col("v")).as("src"),
            when(fwd, col("v")).otherwise(col("u")).as("dst"))
        val tri = ed.as("e1")
          .join(ed.as("e2"), col("e1.dst") === col("e2.src"))
          .join(ed.as("e3"),
            col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
          .select(col("e1.src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"))
        val pern = tri.select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
          .orderBy(col("n_tri").desc, col("doc_id")).limit(20)
        val total = tri.agg(count(lit(1)).as("n_tri"))
          .select(lit(-1L).as("doc_id"), col("n_tri"))
        pern.unionByName(total).orderBy(col("n_tri").desc, col("doc_id"))
      },
      Some(s"""WITH ${Corpus.cappedShinglesDuckCte(8)},
              |e0 AS MATERIALIZED (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
              |FROM sh a JOIN sh b ON a.sg = b.sg AND a.doc_id < b.doc_id),
              |deg AS MATERIALIZED (SELECT n, count(*) AS dg FROM
              |(SELECT u AS n FROM e0 UNION ALL SELECT v AS n FROM e0) z GROUP BY n),
              |ed AS MATERIALIZED (SELECT
              |CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v) THEN u ELSE v END AS src,
              |CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v) THEN v ELSE u END AS dst
              |FROM e0 JOIN deg du ON e0.u = du.n JOIN deg dv ON e0.v = dv.n),
              |tri AS MATERIALIZED (SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
              |FROM ed e1 JOIN ed e2 ON e1.dst = e2.src
              |JOIN ed e3 ON e3.src = e1.src AND e3.dst = e2.dst),
              |pern AS (SELECT doc_id, count(*) AS n_tri FROM
              |(SELECT unnest([x, y, z]) AS doc_id FROM tri) z GROUP BY doc_id
              |ORDER BY n_tri DESC, doc_id LIMIT 20),
              |tot AS (SELECT CAST(-1 AS BIGINT) AS doc_id, count(*) AS n_tri FROM tri)
              |SELECT doc_id, CAST(n_tri AS BIGINT) AS n_tri FROM
              |(SELECT * FROM pern UNION ALL SELECT * FROM tot) z
              |ORDER BY n_tri DESC, doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q165_sole_late_supplier",
      // THE TPC-H Q21 SHAPE — suppliers who were the ONLY late shipper
      // in a multi-supplier order ("late" = shipped > 90 days after
      // the order date; this schema has no commit/receipt dates).
      // EXISTS(other supplier in the order) → left_semi;
      // NOT EXISTS(other LATE supplier in the order) → left_anti;
      // both correlated on l_orderkey + a supplier inequality residual.
      // Each late line counts once, as in Q21's per-l1 semantics.
      (s, dir) => {
        val late = Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir),
            col("l_orderkey") === col("o_orderkey"))
          .filter(expr("l_shipdate > o_orderdate + INTERVAL 90 DAY"))
          .select("l_orderkey", "l_suppkey")
        val others = Tables.lineitem(s, dir)
          .select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
        val lateOthers = late
          .select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
        late
          .join(others,
            col("l_orderkey") === col("o2") && col("l_suppkey") =!= col("s2"),
            "left_semi")
          .join(lateOthers,
            col("l_orderkey") === col("o3") && col("l_suppkey") =!= col("s3"),
            "left_anti")
          .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
          .groupBy("s_name").agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name")).limit(20)
      },
      Some("""WITH late AS (SELECT l.l_orderkey, l.l_suppkey FROM lineitem l
             |JOIN orders o ON l.l_orderkey = o.o_orderkey
             |WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
             |SELECT s.s_name, count(*) AS numwait
             |FROM late l1 JOIN supplier s ON l1.l_suppkey = s.s_suppkey
             |WHERE EXISTS (SELECT 1 FROM lineitem l2
             |WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
             |AND NOT EXISTS (SELECT 1 FROM late l3
             |WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
             |GROUP BY s.s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q174_cuped_experiment",
      // CUPED EXPERIMENT READOUT (Deng et al., WSDM 2013) — the
      // variance-reduction analysis every large experimentation
      // platform runs: users deterministically hash-bucketed into two
      // arms, per-user pre-period (days 1-15) and post-period metric
      // sums, pooled θ = cov(pre, post)/var(pre), and per-arm adjusted
      // means post − θ·(pre − pre_grand_mean). DETERMINISM: the metric
      // is 0.01-granular, so per-user sums are EXACT INTEGER CENTS
      // (round(value·100) — order-free BIGINT aggregation, no float
      // summation hazard); θ/ρ² then derive from the five pooled
      // integer moments in a FIXED scalar expression (same IEEE ops
      // both engines — at 100 TB the moment products outgrow BIGINT,
      // so they're computed in DOUBLE from the exact integer sums,
      // which is also what keeps them portable). Assignment by md5
      // hash — reproducible under repartitioning, like q95/q104.
      // Output: per-arm n, raw means, adjusted mean, pooled θ and the
      // variance-reduction ρ² (identical on both rows by design —
      // CUPED pools the covariate fit). Scale: one user-keyed
      // aggregate (the only corpus shuffle) + a 1-row moment broadcast.
      (s, dir) => {
        val cents = "CAST(round(value * 100) AS BIGINT)"
        val arm = "CASE WHEN CAST(conv(substr(md5(concat('x#', CAST(user_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END"
        val u = Tables.events(s, dir)
          .select(col("user_id"), expr(arm).as("arm"),
            to_date(col("ts")).as("d"), expr(cents).as("c"))
          .groupBy("user_id", "arm").agg(
            sum(when(col("d") < lit("2024-01-16").cast("date"), col("c")).otherwise(0L)).as("pre_c"),
            sum(when(col("d") >= lit("2024-01-16").cast("date"), col("c")).otherwise(0L)).as("post_c"))
        val m = u.agg(count(lit(1)).as("n"),
          sum("pre_c").as("sx"), sum("post_c").as("sy"),
          sum(col("pre_c") * col("pre_c")).as("sxx"),
          sum(col("pre_c") * col("post_c")).as("sxy"),
          sum(col("post_c") * col("post_c")).as("syy"))
          .select(col("n").cast("double").as("n"),
            col("sx").cast("double").as("sx"), col("sy").cast("double").as("sy"),
            col("sxx").cast("double").as("sxx"), col("sxy").cast("double").as("sxy"),
            col("syy").cast("double").as("syy"))
          .withColumn("vx", col("n") * col("sxx") - col("sx") * col("sx"))
          .withColumn("vy", col("n") * col("syy") - col("sy") * col("sy"))
          .withColumn("cxy", col("n") * col("sxy") - col("sx") * col("sy"))
          .withColumn("theta", when(col("vx") === 0, 0.0).otherwise(col("cxy") / col("vx")))
          .withColumn("rho2", when(col("vx") === 0 || col("vy") === 0, 0.0)
            .otherwise(col("cxy") * col("cxy") / (col("vx") * col("vy"))))
          .withColumn("gmean_pre", col("sx") / col("n") / 100.0)
        u.groupBy("arm").agg(count(lit(1)).as("n_users"),
          sum("pre_c").as("apre"), sum("post_c").as("apost"))
          .crossJoin(broadcast(m.select("theta", "rho2", "gmean_pre")))
          .select(col("arm"), col("n_users"),
            round(col("apre") / col("n_users") / 100.0, 4).as("mean_pre"),
            round(col("apost") / col("n_users") / 100.0, 4).as("mean_post"),
            round(col("apost") / col("n_users") / 100.0
              - col("theta") * (col("apre") / col("n_users") / 100.0 - col("gmean_pre")), 4)
              .as("mean_adj"),
            round(col("theta"), 6).as("theta"),
            round(col("rho2") * 100.0, 2).as("var_reduction_pct"))
          .orderBy("arm")
      },
      Some("""WITH u AS (SELECT user_id,
             |CASE WHEN %ARMH% %% 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             |CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
             |THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS pre_c,
             |CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
             |THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS post_c
             |FROM events GROUP BY 1, 2),
             |m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             |CAST(sum(pre_c) AS DOUBLE) AS sx, CAST(sum(post_c) AS DOUBLE) AS sy,
             |CAST(sum(pre_c * pre_c) AS DOUBLE) AS sxx,
             |CAST(sum(pre_c * post_c) AS DOUBLE) AS sxy,
             |CAST(sum(post_c * post_c) AS DOUBLE) AS syy FROM u),
             |t AS (SELECT n, sx, sy,
             |n * sxx - sx * sx AS vx, n * syy - sy * sy AS vy,
             |n * sxy - sx * sy AS cxy FROM m),
             |p AS (SELECT
             |CASE WHEN vx = 0 THEN 0.0 ELSE cxy / vx END AS theta,
             |CASE WHEN vx = 0 OR vy = 0 THEN 0.0 ELSE cxy * cxy / (vx * vy) END AS rho2,
             |sx / n / 100.0 AS gmean_pre FROM t)
             |SELECT arm, count(*) AS n_users,
             |round(CAST(sum(pre_c) AS DOUBLE) / count(*) / 100.0, 4) AS mean_pre,
             |round(CAST(sum(post_c) AS DOUBLE) / count(*) / 100.0, 4) AS mean_post,
             |round(CAST(sum(post_c) AS DOUBLE) / count(*) / 100.0
             |- any_value(theta) * (CAST(sum(pre_c) AS DOUBLE) / count(*) / 100.0 - any_value(gmean_pre)), 4) AS mean_adj,
             |round(any_value(theta), 6) AS theta,
             |round(any_value(rho2) * 100.0, 2) AS var_reduction_pct
             |FROM u, p GROUP BY arm ORDER BY arm""".stripMargin.replace("\n", " ")
        .replace("%ARMH%", graft.operators.Corpus.hexFoldDuck(
          "substr(md5(concat('x#', CAST(user_id AS VARCHAR))), 1, 15)", 15))
        .replace("%%", "%"))),

    QueryDef(
      "q175_decayed_volume",
      // EXPONENTIALLY DECAYED VOLUME (half-life ≈ 6.6 days, λ = 0.9/day)
      // — the trending-metric counter a monitoring plane keeps per
      // series: decayed(etype) = Σ_days 0.9^age · volume(day), plus the
      // undecayed total and the "freshness" ratio between them (1.0 =
      // all volume today, → small for stale series). DETERMINISM:
      // per-(etype, day) volumes are exact integer cents (order-free
      // BIGINT), and the decay fold runs over the ≤|days| per-series
      // rows in DAY ORDER (q114's sorted-fold discipline) with
      // pow(0.9, age) — same IEEE pow both engines. At 100 TB the
      // per-day pre-aggregate is the only corpus pass; the fold touches
      // |series|·|days| tiny rows. The streaming twin is a keyed state
      // that multiplies by 0.9 per day boundary — same monoid shape as
      // the HLL/KMV twins.
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("event_type").as("etype"), to_date(col("ts")).as("d"),
            expr("CAST(round(value * 100) AS BIGINT)").as("c"))
        val daily = ev.groupBy("etype", "d").agg(sum("c").as("vol_c"))
        val mx = daily.agg(max("d").as("dmax"))
        daily.crossJoin(broadcast(mx))
          .withColumn("age", datediff(col("dmax"), col("d")))
          .groupBy("etype").agg(
            round(Folds.orderedSum(pow(lit(0.9), col("age")) * col("vol_c"), col("d"), col("age"))
              / lit(100.0), 4).as("decayed"),
            round(sum("vol_c") / lit(100.0), 4).as("total"),
            count(lit(1)).as("n_days"))
          .withColumn("freshness", round(col("decayed") / col("total"), 6))
          .select("etype", "n_days", "total", "decayed", "freshness")
          .orderBy("etype")
      },
      Some("""WITH daily AS (SELECT event_type AS etype, CAST(ts AS DATE) AS d,
             |CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS vol_c
             |FROM events GROUP BY 1, 2),
             |mx AS (SELECT max(d) AS dmax FROM daily),
             |ages AS (SELECT etype, d, vol_c, datediff('day', d, dmax) AS age FROM daily, mx),
             |f AS (SELECT etype,
             |round(list_sum(list(pow(0.9, age) * vol_c ORDER BY d)) / 100.0, 4) AS decayed,
             |round(CAST(sum(vol_c) AS DOUBLE) / 100.0, 4) AS total,
             |count(*) AS n_days FROM ages GROUP BY 1)
             |SELECT etype, n_days, total, decayed,
             |round(decayed / total, 6) AS freshness
             |FROM f ORDER BY etype""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q176_bootstrap_ci",
      // DETERMINISTIC POISSON BOOTSTRAP (Chamandy et al., Google 2012)
      // for q174's experiment metric — the at-scale bootstrap: instead
      // of resampling users (a global shuffle per replicate), each
      // (user, replicate) gets an independent Poisson(1) weight and a
      // replicate's mean is Σw·x / Σw. Weights are DERIVED, not drawn:
      // u = md5(rep#user) hash → inverse Poisson CDF via literal
      // cumulative thresholds, so the whole 32-replicate bootstrap is
      // reproducible and hash-checkable. Per (arm, replicate) the sums
      // are exact integers (weights × integer cents); the only floats
      // are 32 replicate means per arm, combined by ORDER STATISTICS
      // (sorted positions 2 and 31 ≈ a 90% CI for 32 replicates) and a
      // rep-ordered mean fold. Scale: ONE corpus-sized aggregate of
      // (users × 32) rows — no resampled copies of the data exist
      // anywhere; this is exactly why Poisson bootstrap is the
      // production choice.
      (s, dir) => {
        val arm = "CASE WHEN CAST(conv(substr(md5(concat('x#', CAST(user_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END"
        val cents = "CAST(round(value * 100) AS BIGINT)"
        val pois = """CASE WHEN u < 0.3678794411714423D THEN 0L
          |WHEN u < 0.7357588823428846D THEN 1L
          |WHEN u < 0.9196986029286058D THEN 2L
          |WHEN u < 0.9810118431238462D THEN 3L
          |WHEN u < 0.9963401531726563D THEN 4L
          |WHEN u < 0.9994058151824183D THEN 5L
          |ELSE 6L END""".stripMargin.replace("\n", " ")
        val u = Tables.events(s, dir)
          .select(col("user_id"), expr(arm).as("arm"), expr(cents).as("c"))
          .groupBy("user_id", "arm").agg(sum("c").as("post_c"))
        val rep = u.select(col("user_id"), col("arm"), col("post_c"),
          explode(expr("sequence(0, 31)")).as("r"))
          .withColumn("u", expr(
            "CAST(conv(substr(md5(concat('b', CAST(r AS STRING), '#', CAST(user_id AS STRING))), 1, 8), 16, 10) AS BIGINT) / 4294967296.0D"))
          .withColumn("w", expr(pois))
        val rm = rep.groupBy("arm", "r").agg(
          sum(col("w") * col("post_c")).as("wx"), sum("w").as("wsum"))
          .withColumn("rmean", col("wx") / col("wsum") / 100.0)
        rm.groupBy("arm").agg(
          array_sort(Folds.orderedList(col("rmean"), col("r"))).as("ms"))
          .select(col("arm"),
            round(expr("aggregate(ms, 0D, (a, x) -> a + x) / 32.0D"), 4).as("boot_mean"),
            round(expr("ms[1]"), 4).as("ci_lo"),
            round(expr("ms[30]"), 4).as("ci_hi"))
          .orderBy("arm")
      },
      Some(("""WITH u AS (SELECT user_id,
             |CASE WHEN %ARMH% %% 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             |CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS post_c
             |FROM events GROUP BY 1, 2),
             |rep AS (SELECT user_id, arm, post_c, r,
             |%REPH% / 4294967296.0 AS uu
             |FROM u, LATERAL (SELECT unnest(generate_series(0, 31)) AS r) g),
             |w AS (SELECT arm, r, post_c,
             |CASE WHEN uu < 0.3678794411714423 THEN 0
             |WHEN uu < 0.7357588823428846 THEN 1
             |WHEN uu < 0.9196986029286058 THEN 2
             |WHEN uu < 0.9810118431238462 THEN 3
             |WHEN uu < 0.9963401531726563 THEN 4
             |WHEN uu < 0.9994058151824183 THEN 5 ELSE 6 END AS w FROM rep),
             |rm AS (SELECT arm, r,
             |CAST(sum(w * post_c) AS DOUBLE) / CAST(sum(w) AS DOUBLE) / 100.0 AS rmean
             |FROM w GROUP BY 1, 2),
             |agg_ AS (SELECT arm, list_sort(list(rmean ORDER BY r)) AS ms FROM rm GROUP BY arm)
             |SELECT arm,
             |round(list_sum(ms) / 32.0, 4) AS boot_mean,
             |round(ms[2], 4) AS ci_lo, round(ms[31], 4) AS ci_hi
             |FROM agg_ ORDER BY arm""".stripMargin.replace("\n", " ")
        .replace("%ARMH%", graft.operators.Corpus.hexFoldDuck(
          "substr(md5(concat('x#', CAST(user_id AS VARCHAR))), 1, 15)", 15))
        .replace("%REPH%", graft.operators.Corpus.hexFoldDuck(
          "substr(md5(concat('b', CAST(r AS VARCHAR), '#', CAST(user_id AS VARCHAR))), 1, 8)", 8))
        .replace("%%", "%"))))
  )
}
