package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Round-5 closers, part 4 — integrity, audit, and time-series
  * diagnostics:
  *
  *  - q198 Merkle manifest: a hash tree over the corpus (doc → page →
  *    shard → root) — the tamper-evidence / replication-check
  *    primitive behind content-addressed data lakes. Two corpora are
  *    equal iff their roots match; a mismatch localizes to a subtree
  *    in O(log) digest compares (q155 then names the exact rows).
  *  - q199 Benford first-digit audit: observed leading-digit mix of
  *    order totals vs Benford's law — the classic books-cooking /
  *    synthetic-data smell test. Expected probabilities are pinned
  *    literals (log10 of small rationals differs by libm; literals
  *    make both engines bit-identical).
  *  - q200 autocorrelation function: lag-1..7 ACF of daily event
  *    volume from exact n-scaled integer deviations — the
  *    periodicity detector that says WHICH seasonal baseline q181
  *    should use.
  *  - q201 Simpson-reversal audit: does each source's pooled
  *    long-doc-rate advantage over the rest of the corpus hold inside
  *    every language stratum, or does conditioning flip it? All signs
  *    come from integer cross-multiplication — no float rate compare.
  *  - q202 jackknife influence: leave-one-day-out click/view ratio —
  *    which single day moves the corpus CTR most (the
  *    delete-1 complement to q176's Poisson bootstrap; influence is
  *    published per day, never summed, so no order-dependent float
  *    accumulation).
  *  - q203 winsorized mean: per-type mean of value cents clamped at
  *    the interpolated p5/p95 — computed as (n_lo·p5 + n_hi·p95 +
  *    Σ interior cents)/n so the only sum that touches the corpus is
  *    an exact integer sum.
  *  - q204 clamped running balance: per-user credit ledger folded
  *    day-by-day through max(0, min(cap, bal+δ)) — a NONLINEAR
  *    recurrence (clamps destroy the prefix-sum algebra every other
  *    running total here exploits), so it runs as a keyed bounded
  *    fold, the q188 discipline.
  *  - q205 transition latency: the time dimension q68's transition
  *    matrix lacks — per (prev, next) event-type pair, count and
  *    interpolated median/p90 gap seconds.
  *  - q206 encoding advisor: per string column, plain vs
  *    dictionary-encoding size estimate (distinct payload + n packed
  *    indices of ⌈log2 ndv⌉ bits) — the storage-layout readout that
  *    complements q179's zone maps and q151's histograms; index width
  *    comes from length(bin(ndv−1)), integer-exact on both engines.
  *  - q207 mix/rate bridge: the Oaxaca-style decomposition of the
  *    period-over-period change in average event value into per-group
  *    mix shift ((w₂−w₁)·r₁), rate change (w₁·(r₂−r₁)), and
  *    interaction — the "why did the average move" bridge every
  *    metrics review wants after q185/q110 say THAT it moved.
  *  - q208 Kaplan-Meier survival: time from a user's first event to
  *    their first high-value purchase, right-censored at the corpus
  *    end (~40% censored at every SF) — the product-limit estimator
  *    (Kaplan & Meier 1958), with censored users leaving the risk set
  *    without an event. S(t) = exp(Σ ln(1−d/n)): the running ln-sum
  *    accumulates in t order on both engines (the q188 sequential-
  *    float discipline), published at 6dp.
  *  - q209 log-rank contributions: q208's durations split into two
  *    behavioral cohorts (first event a 'view' vs not) and compared
  *    by the log-rank decomposition (Mantel 1966) — per event time:
  *    at-risk and event counts per cohort, the expected-count
  *    e1 = d·n1/n and the hypergeometric variance term, published
  *    PER TIME (the test statistic is the reader's fold — a
  *    distributed float total would be order-dependent).
  *  - q210 correlation matrix: pairwise Pearson r over the four
  *    lineitem numerics from exact cent-scaled integer moments in ONE
  *    corpus pass — per-row products fit int64, the sums live in
  *    DECIMAL(38,0)/HUGEINT (the q110/q184 wide-integer rule), and r
  *    divides by sqrt(dx)·sqrt(dy) separately because dx·dy itself
  *    would overflow even 128 bits.
  *
  * Scale notes (also in SCALE.md):
  *  - q198: every digest fold has BOUNDED fan-in (≤64 docs per page;
  *    pages per shard shrink 8×; 8 shards to the root) — the B-ary
  *    tree discipline: at 100 TB add one more level, never a
  *    corpus-sized collect. Page/shard grouping is pure key
  *    arithmetic, so each level is one keyed agg.
  *  - q199: one hash agg to 9 digit rows; everything after is
  *    9-row arithmetic against broadcast literals.
  *  - q200: the day index, deviations, and the lag join all run on
  *    the |days| pre-aggregate (q162/q191 discipline); the lag join
  *    fan-out is exactly 7 per day.
  *  - q201: one (source, lang) grouped pass over the corpus; every
  *    join after it runs on |sources|, |langs|, or |sources|·|langs|
  *    rows, all broadcast.
  *  - q202: one (day, type-conditional) grouped pass; jackknife rows
  *    are |days|-level arithmetic against a broadcast scalar.
  *  - q203: percentiles per type (q132's proven pair) broadcast back
  *    into one conditional-aggregate pass; the clamped-tail terms are
  *    counts × boundary, so no per-row float ever accumulates.
  *  - q204: day-level pre-aggregate per user first, then a per-key
  *    fold over ≤|days| deltas — state is one long per user; at
  *    100 TB the horizon (retention window) bounds the array, and
  *    the streaming form is a keyed accumulator (q175's twin shape).
  *  - q205: user-keyed lag window (q68's shape) + a (|types|²)-row
  *    aggregate; gaps are exact integer micros into the proven
  *    percentile pair.
  *  - q206: one count/sum agg plus one distinct-payload agg per
  *    column, unioned map-side — the q156 stack discipline; at real
  *    scale ndv swaps to the q153 sketch with the same advisory
  *    formula.
  *  - q207: one (group, period) grouped pass against a broadcast
  *    2-value date span; the bridge algebra runs on 2·|groups| rows,
  *    each term one float expression over exact integer (n, Σcents)
  *    pairs — published per group, never summed.
  *  - q208: two user-keyed min-aggregates; the risk-set cumsum and
  *    the survival fold run on the |distinct durations| pre-aggregate
  *    (≤ horizon days — q162's discipline). d and n are exact
  *    integers; the only float chain is the t-ordered ln-sum.
  *  - q209: q208's plan plus one user-keyed first-event window; all
  *    log-rank algebra runs on the duration pre-aggregate with
  *    per-row float expressions over exact integer counts.
  *  - q210: ONE grouped-less aggregate (15 sums, all partial/final
  *    map-side combine) and a 6-row literal projection — the full
  *    matrix never touches the corpus twice.
  */
object Corpus8 {

  /** Benford P(d) as pinned literals — identical doubles on both
    * engines (computing log10(1+1/d) at runtime would expose libm
    * last-ulp differences between the JVM and DuckDB). */
  private val benford: Seq[(Int, Double)] = Seq(
    1 -> 0.301029995663981, 2 -> 0.176091259055681, 3 -> 0.124938736608300,
    4 -> 0.096910013008056, 5 -> 0.079181246047625, 6 -> 0.066946789630613,
    7 -> 0.057991946977687, 8 -> 0.051152522447381, 9 -> 0.045757490560675)

  /** q198's tree, input-agnostic (needs `doc_id`, `text`) — also the
    * building block of `Flows.integrityAuditFlow`, which compares two
    * snapshots' trees to localize tampering. */
  def merkle(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def fold(c: String) = md5(array_join(Folds.orderedList(col("hh"), col(c)), ""))
    val h = docs
      .select(col("doc_id"), md5(col("text")).as("hh"),
        expr("doc_id div 64").as("page"))
    val pages = h.groupBy("page")
      .agg(count(lit(1)).as("n_docs"), fold("doc_id").as("hh"))
      .withColumn("shard", pmod(col("page"), lit(8L)))
    val shards = pages.groupBy("shard")
      .agg(sum("n_docs").as("n_docs"), fold("page").as("hh"))
    val root = shards
      .select(col("shard").as("page"), col("n_docs"), col("hh"))
      .agg(sum("n_docs").as("n_docs"), fold("page").as("hh"))
    pages.select(lit("page").as("level"), col("page").as("node"), col("n_docs"), col("hh").as("digest"))
      .unionByName(shards.select(lit("shard").as("level"), col("shard").as("node"), col("n_docs"), col("hh").as("digest")))
      .unionByName(root.select(lit("root").as("level"), lit(-1L).as("node"), col("n_docs"), col("hh").as("digest")))
      .orderBy("level", "node")
  }

  def defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q198_merkle_manifest",
      // MERKLE SHARD MANIFEST — doc md5s fold into page digests
      // (≤64 docs, ordered by doc_id), pages into shard digests
      // (shard = page % 8, ordered by page), shards into one root.
      // Emits the page, shard, and root rows of the tree; leaf hashes
      // stay internal. Digest = md5 of the ordered concatenation —
      // deterministic under any partitioning because every fold sorts
      // its bounded child list first.
      (s, dir) => merkle(Tables.documents(s, dir)),
      Some("""WITH h AS (SELECT doc_id, md5(text) AS hh, CAST(doc_id // 64 AS BIGINT) AS page FROM documents),
             |pages AS (SELECT page, CAST(count(*) AS BIGINT) AS n_docs,
             |md5(string_agg(hh, '' ORDER BY doc_id)) AS hh, page % 8 AS shard FROM h GROUP BY page),
             |shards AS (SELECT shard, CAST(sum(n_docs) AS BIGINT) AS n_docs,
             |md5(string_agg(hh, '' ORDER BY page)) AS hh FROM pages GROUP BY shard),
             |rt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_docs,
             |md5(string_agg(hh, '' ORDER BY shard)) AS hh FROM shards)
             |SELECT 'page' AS level, page AS node, n_docs, hh AS digest FROM pages
             |UNION ALL SELECT 'shard', shard, n_docs, hh FROM shards
             |UNION ALL SELECT 'root', -1, n_docs, hh FROM rt
             |ORDER BY level, node""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q199_benford_audit",
      // BENFORD FIRST-DIGIT AUDIT — leading digit of floor(total
      // price) vs the pinned Benford probabilities: observed count,
      // expected count, excess percentage points, and the χ²
      // contribution per digit (published per digit, NOT summed — a
      // 9-term float sum would be engine-order-dependent; the reader
      // sums rounded contributions if they want the statistic).
      (s, dir) => {
        val bf = benford.map { case (d, p) => s"struct($d AS digit, ${p}D AS p)" }
        val exp9 = Tables.orders(s, dir).sparkSession.range(1)
          .select(explode(expr(s"array(${bf.mkString(",")})")).as("b"))
          .select(col("b.digit"), col("b.p"))
        val obs = Tables.orders(s, dir)
          .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
            .cast("int").as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("observed"))
        val n = obs.agg(sum("observed").as("n"))
        broadcast(exp9).join(obs, Seq("digit"), "left")
          .withColumn("observed", coalesce(col("observed"), lit(0L)))
          .crossJoin(broadcast(n))
          .select(col("digit"), col("observed"), col("n"),
            round(col("n") * col("p"), 2).as("expected"),
            round(lit(100.0) * (col("observed").cast("double") / col("n") - col("p")), 4).as("excess_pp"),
            round((col("observed") - col("n") * col("p")) * (col("observed") - col("n") * col("p"))
              / (col("n") * col("p")), 4).as("chisq_part"))
          .orderBy("digit")
      },
      Some({
        // CAST AS DOUBLE: DuckDB parses the bare literal as DECIMAL(15,15),
        // whose squared product overflows DECIMAL(38) at sf0.1.
        val bf = benford.map { case (d, p) => s"SELECT $d AS digit, CAST($p AS DOUBLE) AS p" }.mkString(" UNION ALL ")
        s"""WITH exp9 AS ($bf),
           |obs AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
           |count(*) AS observed FROM orders GROUP BY 1),
           |n AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM obs)
           |SELECT digit, CAST(coalesce(observed, 0) AS BIGINT) AS observed, n,
           |round(n * p, 2) AS expected,
           |round(100.0 * (CAST(coalesce(observed, 0) AS DOUBLE) / n - p), 4) AS excess_pp,
           |round((coalesce(observed, 0) - n * p) * (coalesce(observed, 0) - n * p) / (n * p), 4) AS chisq_part
           |FROM exp9 LEFT JOIN obs USING (digit), n ORDER BY digit"""
          .stripMargin.replace("\n", " ")
      })),

    QueryDef(
      "q200_volume_acf",
      // AUTOCORRELATION OF DAILY VOLUME — lag-1..7 ACF where the
      // deviations are the exact n-scaled integers n·x_t − T (q191's
      // trick: no float mean subtraction), so numerator and
      // denominator are exact integer sums and the published ACF is
      // one IEEE division. np counts the pairs each lag actually has.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val daily = Tables.events(s, dir).select(to_date(col("ts")).as("d"))
          .groupBy("d").agg(count(lit(1)).as("c"))
        val tot = daily.agg(count(lit(1)).as("n"), sum("c").as("t"))
        val z = daily.crossJoin(broadcast(tot))
          .withColumn("i", row_number().over(Window.orderBy("d")).cast("long"))
          .select(col("i"), (col("n") * col("c") - col("t")).as("dev"))
        val den = z.agg(sum(col("dev") * col("dev")).as("dd"))
        val lags = z.sparkSession.range(1, 8).select(col("id").as("lag"))
        val num = broadcast(lags).join(z.as("a"), lit(true))
          .join(z.as("b"), col("b.i") === col("a.i") + col("lag"))
          .groupBy("lag")
          .agg(count(lit(1)).as("np"), sum(col("a.dev") * col("b.dev")).as("nm"))
        num.crossJoin(broadcast(den))
          .select(col("lag"), col("np"),
            round(col("nm").cast("double") / col("dd"), 6).as("acf"))
          .orderBy("lag")
      },
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS c FROM events GROUP BY 1),
             |t AS (SELECT count(*) AS n, sum(c) AS tt FROM daily),
             |z AS (SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i, n * c - tt AS dev FROM daily, t),
             |den AS (SELECT sum(dev * dev) AS dd FROM z),
             |k AS (SELECT unnest(generate_series(1, 7)) AS lag),
             |num AS (SELECT CAST(lag AS BIGINT) AS lag, CAST(count(*) AS BIGINT) AS np,
             |sum(a.dev * b.dev) AS nm FROM k, z a JOIN z b ON b.i = a.i + lag GROUP BY 1)
             |SELECT lag, np, round(CAST(nm AS DOUBLE) / dd, 6) AS acf
             |FROM num, den ORDER BY lag""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q201_simpson_audit",
      // SIMPSON-REVERSAL AUDIT — per source: pooled sign of its
      // long-doc rate (n_chars ≥ 300) vs the rest of the corpus, and
      // the same sign inside each language stratum (source vs rest
      // WITHIN the lang). reversal = the pooled advantage holds in NO
      // stratum. sign(x_s/n_s − x_o/n_o) is evaluated as
      // sign(x_s·n_o − x_o·n_s) — exact integers, no float compare.
      (s, dir) => {
        val base = Tables.documents(s, dir).select(col("source"), col("lang"),
          when(col("n_chars") >= 300, 1L).otherwise(0L).as("y"))
        val cell = base.groupBy("source", "lang")
          .agg(sum("y").as("x"), count(lit(1)).as("n"))
        val ps = cell.groupBy("source").agg(sum("x").as("xs"), sum("n").as("ns"))
        val tot = ps.agg(sum("xs").as("xt"), sum("ns").as("nt"))
        val pl = cell.groupBy("lang").agg(sum("x").as("xl"), sum("n").as("nl"))
        def sgn(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          when(a > b, 1).when(a < b, -1).otherwise(0)
        val pooled = ps.crossJoin(broadcast(tot))
          .withColumn("psign", sgn(col("xs") * (col("nt") - col("ns")),
            (col("xt") - col("xs")) * col("ns")))
        val strat = cell.join(broadcast(pl), "lang")
          .withColumn("ssign", sgn(col("x") * (col("nl") - col("n")),
            (col("xl") - col("x")) * col("n")))
        val agg = strat.groupBy("source").agg(count(lit(1)).as("n_strata"),
          sum(when(col("ssign") === 1, 1L).otherwise(0L)).as("n_pos"),
          sum(when(col("ssign") === -1, 1L).otherwise(0L)).as("n_neg"))
        pooled.join(broadcast(agg), "source")
          .select(col("source"), round(col("xs").cast("double") / col("ns"), 4).as("rate"),
            col("psign"), col("n_strata"), col("n_pos"), col("n_neg"),
            when((col("psign") === 1 && col("n_pos") === 0 && col("n_neg") > 0) ||
                 (col("psign") === -1 && col("n_neg") === 0 && col("n_pos") > 0), 1)
              .otherwise(0).as("reversal"))
          .orderBy("source")
      },
      Some("""WITH base AS (SELECT source, lang, CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y FROM documents),
             |cell AS (SELECT source, lang, CAST(sum(y) AS BIGINT) AS x, count(*) AS n FROM base GROUP BY 1, 2),
             |ps AS (SELECT source, CAST(sum(x) AS BIGINT) AS xs, CAST(sum(n) AS BIGINT) AS ns FROM cell GROUP BY 1),
             |tot AS (SELECT CAST(sum(xs) AS BIGINT) AS xt, CAST(sum(ns) AS BIGINT) AS nt FROM ps),
             |pl AS (SELECT lang, CAST(sum(x) AS BIGINT) AS xl, CAST(sum(n) AS BIGINT) AS nl FROM cell GROUP BY 1),
             |pooled AS (SELECT source, xs, ns,
             |CASE WHEN xs * (nt - ns) > (xt - xs) * ns THEN 1
             |WHEN xs * (nt - ns) < (xt - xs) * ns THEN -1 ELSE 0 END AS psign FROM ps, tot),
             |strat AS (SELECT cell.source,
             |CASE WHEN x * (nl - n) > (xl - x) * n THEN 1
             |WHEN x * (nl - n) < (xl - x) * n THEN -1 ELSE 0 END AS ssign
             |FROM cell JOIN pl USING (lang)),
             |agg AS (SELECT source, count(*) AS n_strata,
             |CAST(sum(CASE WHEN ssign = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             |CAST(sum(CASE WHEN ssign = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
             |FROM strat GROUP BY 1)
             |SELECT source, round(CAST(xs AS DOUBLE) / ns, 4) AS rate, psign,
             |CAST(n_strata AS BIGINT) AS n_strata, n_pos, n_neg,
             |CASE WHEN (psign = 1 AND n_pos = 0 AND n_neg > 0)
             |OR (psign = -1 AND n_neg = 0 AND n_pos > 0) THEN 1 ELSE 0 END AS reversal
             |FROM pooled JOIN agg USING (source) ORDER BY source"""
        .stripMargin.replace("\n", " "))),

    QueryDef(
      "q202_jackknife_influence",
      // JACKKNIFE INFLUENCE — leave-one-day-out click/view ratio:
      // theta_i = (C−c_i)/(V−v_i) vs theta = C/V, influence published
      // PER DAY (a float sum of influences would be engine-order-
      // dependent; the per-row expressions are identical IEEE trees).
      // is_top flags the day with the largest |influence| (earliest
      // wins ties).
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .select(to_date(col("ts")).as("d"), col("event_type"))
          .groupBy("d").agg(
            sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
            sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"))
        val tot = daily.agg(sum("c").as("ct"), sum("v").as("vt"))
        val j = daily.crossJoin(broadcast(tot))
          .withColumn("theta_x", when(col("vt") - col("v") === 0, lit(null))
            .otherwise((col("ct") - col("c")).cast("double") / (col("vt") - col("v"))))
          .withColumn("infl_x", col("theta_x") - col("ct").cast("double") / col("vt"))
        val top = j.agg(max(abs(col("infl_x"))).as("mx"))
        val topd = j.crossJoin(broadcast(top))
          .filter(abs(col("infl_x")) === col("mx")).agg(min("d").as("topd"))
        j.crossJoin(broadcast(topd))
          .select(col("d"), col("c"), col("v"),
            round(col("theta_x"), 6).as("theta_i"),
            round(col("infl_x"), 6).as("influence"),
            when(col("d") === col("topd"), 1).otherwise(0).as("is_top"))
          .orderBy("d")
      },
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS d,
             |CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c,
             |CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS v
             |FROM events GROUP BY 1),
             |tot AS (SELECT CAST(sum(c) AS BIGINT) AS ct, CAST(sum(v) AS BIGINT) AS vt FROM daily),
             |j AS (SELECT d, c, v,
             |CASE WHEN vt - v = 0 THEN NULL
             |ELSE CAST(ct - c AS DOUBLE) / (vt - v) END AS theta_x,
             |CASE WHEN vt - v = 0 THEN NULL
             |ELSE CAST(ct - c AS DOUBLE) / (vt - v) END - CAST(ct AS DOUBLE) / vt AS infl_x
             |FROM daily, tot),
             |top_ AS (SELECT max(abs(infl_x)) AS mx FROM j),
             |topd AS (SELECT min(d) AS td FROM j, top_ WHERE abs(infl_x) = mx)
             |SELECT d, c, v, round(theta_x, 6) AS theta_i, round(infl_x, 6) AS influence,
             |CASE WHEN d = td THEN 1 ELSE 0 END AS is_top
             |FROM j, topd ORDER BY d""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q203_winsorized_mean",
      // WINSORIZED MEAN — per-type mean of value cents with both
      // tails clamped at interpolated p5/p95. Computed as
      // (n_lo·p5 + n_hi·p95 + Σ interior cents)/n: the corpus-sized
      // sum is exact integer, the tail terms are count × boundary —
      // the order-robust alternative to trimming that q157's outlier
      // flags motivate.
      (s, dir) => {
        val c = Tables.events(s, dir).select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cc"))
        val q = c.groupBy("event_type").agg(
          expr("percentile(cc, 0.05D)").as("p5"), expr("percentile(cc, 0.95D)").as("p95"))
        c.join(broadcast(q), "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(when(col("cc") < col("p5"), 1L).otherwise(0L)).as("n_lo"),
            sum(when(col("cc") > col("p95"), 1L).otherwise(0L)).as("n_hi"),
            sum(when(col("cc") >= col("p5") && col("cc") <= col("p95"), col("cc"))
              .otherwise(0L)).as("s_in"),
            sum("cc").as("s_all"), max("p5").as("p5"), max("p95").as("p95"))
          .select(col("event_type"), col("n"), col("n_lo"), col("n_hi"),
            round(col("p5") / 100, 4).as("p5_v"),
            round(col("p95") / 100, 4).as("p95_v"),
            round((col("n_lo") * col("p5") + col("n_hi") * col("p95") + col("s_in"))
              / col("n") / 100, 4).as("wins_mean"),
            round(col("s_all").cast("double") / col("n") / 100, 4).as("raw_mean"))
          .orderBy("event_type")
      },
      Some("""WITH c AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cc FROM events),
             |q AS (SELECT event_type, quantile_cont(cc, 0.05) AS p5, quantile_cont(cc, 0.95) AS p95
             |FROM c GROUP BY 1),
             |w AS (SELECT c.event_type, count(*) AS n,
             |CAST(sum(CASE WHEN cc < p5 THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
             |CAST(sum(CASE WHEN cc > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
             |CAST(sum(CASE WHEN cc >= p5 AND cc <= p95 THEN cc ELSE 0 END) AS BIGINT) AS s_in,
             |CAST(sum(cc) AS BIGINT) AS s_all, max(p5) AS p5, max(p95) AS p95
             |FROM c JOIN q USING (event_type) GROUP BY 1)
             |SELECT event_type, CAST(n AS BIGINT) AS n, n_lo, n_hi,
             |round(p5 / 100, 4) AS p5_v, round(p95 / 100, 4) AS p95_v,
             |round((n_lo * p5 + n_hi * p95 + s_in) / n / 100, 4) AS wins_mean,
             |round(CAST(s_all AS DOUBLE) / n / 100, 4) AS raw_mean
             |FROM w ORDER BY event_type""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q204_clamped_balance",
      // CLAMPED RUNNING BALANCE — a per-user credit ledger (signup
      // +20, purchase −5, error −2, view/click −1, netted per day)
      // folded in day order through bal' = max(0, min(50, bal+δ)).
      // The clamp makes the recurrence nonlinear — no prefix-sum or
      // window can shortcut it — so it runs as a keyed HOF fold over
      // the day-ordered delta array (identical lambda on both
      // engines). Published: days active, unclamped net, final
      // balance.
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("d"),
            when(col("event_type") === "signup", 20L)
              .when(col("event_type") === "purchase", -5L)
              .when(col("event_type") === "error", -2L)
              .otherwise(-1L).as("w"))
          .groupBy("user_id", "d").agg(sum("w").as("dv"))
        daily.groupBy("user_id")
          .agg(count(lit(1)).as("n_days"), sum("dv").as("delta_sum"),
            aggregate(Folds.orderedList(col("dv"), col("d")), lit(0L),
              (a, b) => greatest(lit(0L), least(lit(50L), a + b))).as("final_bal"))
          .orderBy("user_id")
      },
      Some("""WITH delta AS (SELECT user_id, CAST(ts AS DATE) AS d,
             |CAST(sum(CASE event_type WHEN 'signup' THEN 20 WHEN 'purchase' THEN -5
             |WHEN 'error' THEN -2 ELSE -1 END) AS BIGINT) AS dv
             |FROM events GROUP BY 1, 2),
             |s AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
             |CAST(sum(dv) AS BIGINT) AS delta_sum, list(dv ORDER BY d) AS ds FROM delta GROUP BY 1)
             |SELECT user_id, n_days, delta_sum,
             |list_reduce(list_prepend(CAST(0 AS BIGINT), ds),
             |(a, b) -> greatest(CAST(0 AS BIGINT), least(CAST(50 AS BIGINT), a + b))) AS final_bal
             |FROM s ORDER BY user_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q205_transition_latency",
      // TRANSITION LATENCY MATRIX — per (prev, next) event-type pair:
      // how often and how FAST users make that step (q68 counts the
      // step; this times it). Gaps are exact integer microseconds
      // into the proven interpolated-percentile pair; ties on (ts,
      // event_id) make the lag deterministic.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val o = Tables.events(s, dir)
          .withColumn("us", expr("unix_micros(ts)"))
          .withColumn("pt", lag("event_type", 1).over(w))
          .withColumn("pu", lag("us", 1).over(w))
          .filter(col("pt").isNotNull)
          .withColumn("gap", col("us") - col("pu"))
        o.groupBy(col("pt").as("prev_type"), col("event_type").as("next_type"))
          .agg(count(lit(1)).as("n"),
            expr("percentile(gap, 0.5D)").as("p50"),
            expr("percentile(gap, 0.9D)").as("p90"))
          .select(col("prev_type"), col("next_type"), col("n"),
            round(col("p50") / 1e6, 1).as("median_s"),
            round(col("p90") / 1e6, 1).as("p90_s"))
          .orderBy("prev_type", "next_type")
      },
      Some("""WITH o AS (SELECT user_id, event_type, epoch_us(ts) AS us,
             |lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pt,
             |lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pu
             |FROM events)
             |SELECT pt AS prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n,
             |round(quantile_cont(us - pu, 0.5) / 1e6, 1) AS median_s,
             |round(quantile_cont(us - pu, 0.9) / 1e6, 1) AS p90_s
             |FROM o WHERE pt IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2"""
        .stripMargin.replace("\n", " "))),

    QueryDef(
      "q206_encoding_advisor",
      // STORAGE ENCODING ADVISOR — per string column: plain size
      // (Σ len) vs dictionary size (Σ distinct len + n·⌈log2 ndv⌉
      // bits, byte-rounded). Low-cardinality columns win big (14×
      // on event_type); the near-unique text column stays plain —
      // exactly the decision a parquet writer makes per column chunk.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val ev = Tables.events(s, dir)
        val cols = docs.select(lit("documents.lang").as("col"), col("lang").as("v"))
          .unionByName(docs.select(lit("documents.source").as("col"), col("source").as("v")))
          .unionByName(docs.select(lit("documents.text").as("col"), col("text").as("v")))
          .unionByName(ev.select(lit("events.event_type").as("col"), col("event_type").as("v")))
          .unionByName(ev.select(lit("events.props").as("col"), col("props").as("v")))
        val m = cols.groupBy("col").agg(count(lit(1)).as("n"),
          countDistinct("v").as("ndv"), sum(length(col("v"))).as("plain_bytes"))
        val dl = cols.distinct().groupBy("col")
          .agg(sum(length(col("v"))).as("dict_payload"))
        m.join(dl, "col")
          .withColumn("idx_bits", length(expr("bin(ndv - 1)")).cast("long"))
          .withColumn("dict_bytes",
            col("dict_payload") + expr("(n * idx_bits + 7) div 8"))
          .select(col("col"), col("n"), col("ndv"), col("plain_bytes"),
            col("dict_bytes"), col("idx_bits"),
            round(col("plain_bytes").cast("double") / col("dict_bytes"), 2).as("ratio"),
            when(col("dict_bytes") < col("plain_bytes"), "dict").otherwise("plain").as("winner"))
          .orderBy("col")
      },
      Some("""WITH cols AS (SELECT 'documents.lang' AS col, lang AS v FROM documents
             |UNION ALL SELECT 'documents.source', source FROM documents
             |UNION ALL SELECT 'documents.text', text FROM documents
             |UNION ALL SELECT 'events.event_type', event_type FROM events
             |UNION ALL SELECT 'events.props', props FROM events),
             |m AS (SELECT col, CAST(count(*) AS BIGINT) AS n,
             |CAST(count(DISTINCT v) AS BIGINT) AS ndv,
             |CAST(sum(strlen(v)) AS BIGINT) AS plain_bytes FROM cols GROUP BY 1),
             |dl AS (SELECT col, CAST(sum(strlen(v)) AS BIGINT) AS dict_payload
             |FROM (SELECT DISTINCT col, v FROM cols) GROUP BY 1),
             |x AS (SELECT m.col, n, ndv, plain_bytes,
             |CAST(length(bin(ndv - 1)) AS BIGINT) AS idx_bits, dict_payload
             |FROM m JOIN dl USING (col))
             |SELECT col, n, ndv, plain_bytes,
             |CAST(dict_payload + (n * idx_bits + 7) // 8 AS BIGINT) AS dict_bytes, idx_bits,
             |round(CAST(plain_bytes AS DOUBLE) / (dict_payload + (n * idx_bits + 7) // 8), 2) AS ratio,
             |CASE WHEN dict_payload + (n * idx_bits + 7) // 8 < plain_bytes
             |THEN 'dict' ELSE 'plain' END AS winner
             |FROM x ORDER BY col""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q207_mix_rate_bridge",
      // MIX/RATE BRIDGE — split the date span in half (first half =
      // days whose 0-based index doubles to less than the span), then
      // decompose the change in overall average value cents into
      // per-group mix ((w₂−w₁)·r₁), rate (w₁·(r₂−r₁)), and
      // interaction terms. Weights and rates are single divisions of
      // exact integers; each bridge term is one IEEE product —
      // identical trees on both engines, published per group.
      (s, dir) => {
        val sp = Tables.events(s, dir)
          .agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
        val lab = Tables.events(s, dir)
          .crossJoin(broadcast(sp))
          .select(col("event_type").as("g"),
            expr("CAST(round(value * 100) AS BIGINT)").as("c"),
            when(datediff(to_date(col("ts")), col("d0")) * 2 <
              datediff(col("d1"), col("d0")) + 1, 1).otherwise(2).as("p"))
        val m = lab.groupBy("g", "p").agg(count(lit(1)).as("n"), sum("c").as("s"))
        val t = m.groupBy("p").agg(sum("n").as("nt"))
        val w = m.join(broadcast(t), "p").groupBy("g").agg(
          max(when(col("p") === 1, col("n").cast("double") / col("nt"))).as("w1"),
          max(when(col("p") === 1, col("s").cast("double") / col("n"))).as("r1"),
          max(when(col("p") === 2, col("n").cast("double") / col("nt"))).as("w2"),
          max(when(col("p") === 2, col("s").cast("double") / col("n"))).as("r2"))
        w.select(col("g"), round(col("w1"), 6).as("w1"), round(col("w2"), 6).as("w2"),
            round(col("r1") / 100, 4).as("r1_v"), round(col("r2") / 100, 4).as("r2_v"),
            round((col("w2") - col("w1")) * col("r1") / 100, 4).as("mix_c"),
            round(col("w1") * (col("r2") - col("r1")) / 100, 4).as("rate_c"),
            round((col("w2") - col("w1")) * (col("r2") - col("r1")) / 100, 4).as("inter_c"))
          .orderBy("g")
      },
      Some("""WITH sp AS (SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events),
             |lab AS (SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS c,
             |CASE WHEN datediff('day', d0, CAST(ts AS DATE)) * 2 <
             |datediff('day', d0, d1) + 1 THEN 1 ELSE 2 END AS p FROM events, sp),
             |m AS (SELECT g, p, count(*) AS n, CAST(sum(c) AS BIGINT) AS s FROM lab GROUP BY 1, 2),
             |t AS (SELECT p, CAST(sum(n) AS BIGINT) AS nt FROM m GROUP BY 1),
             |w AS (SELECT g,
             |max(CASE WHEN m.p = 1 THEN CAST(n AS DOUBLE) / nt END) AS w1,
             |max(CASE WHEN m.p = 1 THEN CAST(s AS DOUBLE) / n END) AS r1,
             |max(CASE WHEN m.p = 2 THEN CAST(n AS DOUBLE) / nt END) AS w2,
             |max(CASE WHEN m.p = 2 THEN CAST(s AS DOUBLE) / n END) AS r2
             |FROM m JOIN t USING (p) GROUP BY 1)
             |SELECT g, round(w1, 6) AS w1, round(w2, 6) AS w2,
             |round(r1 / 100, 4) AS r1_v, round(r2 / 100, 4) AS r2_v,
             |round((w2 - w1) * r1 / 100, 4) AS mix_c,
             |round(w1 * (r2 - r1) / 100, 4) AS rate_c,
             |round((w2 - w1) * (r2 - r1) / 100, 4) AS inter_c
             |FROM w ORDER BY g""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q208_kaplan_meier",
      // KAPLAN-MEIER SURVIVAL — duration = days from a user's first
      // event to their first purchase with value ≥ 130 (the "event"),
      // right-censored at the corpus end date for users who never
      // qualify. One output row per duration carrying events: number
      // at risk, events d, same-day censorings c (at risk through t,
      // per the standard convention), and the product-limit S(t) as
      // exp of the t-ordered running Σ ln(1−d/n).
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir)
        val u = ev.groupBy("user_id").agg(min(to_date(col("ts"))).as("fd"))
        val sp = ev.agg(max(to_date(col("ts"))).as("endd"))
        val hp = ev.filter(col("event_type") === "purchase" && col("value") >= 130)
          .groupBy("user_id").agg(min(to_date(col("ts"))).as("pd"))
        val life = u.join(hp, Seq("user_id"), "left").crossJoin(broadcast(sp))
          .select(
            datediff(coalesce(col("pd"), col("endd")), col("fd")).cast("long").as("t"),
            when(col("pd").isNotNull, 1L).otherwise(0L).as("e"))
        val tot = life.agg(count(lit(1)).as("nu"))
        val byt = life.groupBy("t")
          .agg(sum("e").as("d"), (count(lit(1)) - sum("e")).as("c"))
        val w = Window.orderBy("t")
        val r = byt.crossJoin(broadcast(tot))
          .withColumn("n_risk", col("nu") - coalesce(
            sum(col("d") + col("c")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .filter(col("d") > 0)
        r.withColumn("surv", exp(sum(log(lit(1.0) - col("d").cast("double") / col("n_risk")))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
          .select(col("t"), col("n_risk"), col("d"), col("c"), round(col("surv"), 6).as("surv"))
          .orderBy("t")
      },
      Some("""WITH u AS (SELECT user_id, min(CAST(ts AS DATE)) AS fd FROM events GROUP BY 1),
             |sp AS (SELECT max(CAST(ts AS DATE)) AS endd FROM events),
             |hp AS (SELECT user_id, min(CAST(ts AS DATE)) AS pd FROM events
             |WHERE event_type = 'purchase' AND value >= 130 GROUP BY 1),
             |life AS (SELECT CAST(datediff('day', fd, coalesce(pd, endd)) AS BIGINT) AS t,
             |CASE WHEN pd IS NOT NULL THEN 1 ELSE 0 END AS e
             |FROM u LEFT JOIN hp USING (user_id), sp),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM life),
             |byt AS (SELECT t, CAST(sum(e) AS BIGINT) AS d,
             |CAST(count(*) - sum(e) AS BIGINT) AS c FROM life GROUP BY 1),
             |r AS (SELECT t, d, c, nu - coalesce(sum(d + c) OVER (ORDER BY t
             |ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
             |FROM byt, tot),
             |k AS (SELECT t, n_risk, d, c, exp(sum(ln(1.0 - CAST(d AS DOUBLE) / n_risk))
             |OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS surv
             |FROM r WHERE d > 0)
             |SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d, c, round(surv, 6) AS surv
             |FROM k ORDER BY t""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q209_logrank_contributions",
      // LOG-RANK COHORT CONTRIBUTIONS — q208's time-to-high-value-
      // purchase durations split by whether the user's FIRST event
      // (ties broken by event_id) was a 'view'. Per pooled event
      // time: per-cohort at-risk/event counts, expected events
      // e1 = d·n1/n, observed−expected, and the hypergeometric
      // variance d·(n1/n)·(1−n1/n)·(n−d)/(n−1) — each one float
      // expression over exact integers, published per time.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir)
        val wFirst = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val fe = ev.withColumn("rn", row_number().over(wFirst))
          .filter(col("rn") === 1)
          .select(col("user_id"),
            when(col("event_type") === "view", 1).otherwise(2).as("coh"))
        val fd = ev.groupBy("user_id").agg(min(to_date(col("ts"))).as("fd"))
        val sp = ev.agg(max(to_date(col("ts"))).as("endd"))
        val hp = ev.filter(col("event_type") === "purchase" && col("value") >= 130)
          .groupBy("user_id").agg(min(to_date(col("ts"))).as("pd"))
        val life = fd.join(fe, "user_id").join(hp, Seq("user_id"), "left")
          .crossJoin(broadcast(sp))
          .select(col("coh"),
            datediff(coalesce(col("pd"), col("endd")), col("fd")).cast("long").as("t"),
            when(col("pd").isNotNull, 1L).otherwise(0L).as("e"))
        // ONE scalar agg row (a filter-derived scalar frame would be
        // EMPTY when a cohort has no members, annihilating the cross
        // join — DuckDB's COUNT(*) always returns a row)
        val nus = life.agg(
          sum(when(col("coh") === 1, 1L).otherwise(0L)).as("nu1"),
          sum(when(col("coh") === 2, 1L).otherwise(0L)).as("nu2"))
        val byt = life.groupBy("t").agg(
          sum(when(col("coh") === 1, col("e")).otherwise(0L)).as("d1"),
          sum(when(col("coh") === 2, col("e")).otherwise(0L)).as("d2"),
          sum(when(col("coh") === 1, 1L).otherwise(0L)).as("a1"),
          sum(when(col("coh") === 2, 1L).otherwise(0L)).as("a2"))
        val w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
        val r = byt.crossJoin(broadcast(nus))
          .withColumn("n1", col("nu1") - coalesce(sum("a1").over(w), lit(0L)))
          .withColumn("n2", col("nu2") - coalesce(sum("a2").over(w), lit(0L)))
          .filter(col("d1") + col("d2") > 0)
        val n = col("n1") + col("n2"); val d = col("d1") + col("d2")
        r.select(col("t"), col("n1"), col("n2"), col("d1"), col("d2"),
            round((d * col("n1")).cast("double") / n, 6).as("e1"),
            round(col("d1") - (d * col("n1")).cast("double") / n, 6).as("o_minus_e"),
            round(when(n <= 1, lit(null)).otherwise(
              d.cast("double") * col("n1") / n * (lit(1.0) - col("n1").cast("double") / n)
                * (n - d).cast("double") / (n - 1)), 6).as("v"))
          .orderBy("t")
      },
      Some("""WITH fe AS (SELECT user_id, CASE WHEN event_type = 'view' THEN 1 ELSE 2 END AS coh
             |FROM (SELECT user_id, event_type, row_number() OVER (PARTITION BY user_id
             |ORDER BY ts, event_id) AS rn FROM events) z WHERE rn = 1),
             |fd AS (SELECT user_id, min(CAST(ts AS DATE)) AS fd FROM events GROUP BY 1),
             |sp AS (SELECT max(CAST(ts AS DATE)) AS endd FROM events),
             |hp AS (SELECT user_id, min(CAST(ts AS DATE)) AS pd FROM events
             |WHERE event_type = 'purchase' AND value >= 130 GROUP BY 1),
             |life AS (SELECT coh, CAST(datediff('day', fd.fd, coalesce(pd, endd)) AS BIGINT) AS t,
             |CASE WHEN pd IS NOT NULL THEN 1 ELSE 0 END AS e
             |FROM fd JOIN fe USING (user_id) LEFT JOIN hp USING (user_id), sp),
             |nu1 AS (SELECT CAST(count(*) AS BIGINT) AS nu1 FROM life WHERE coh = 1),
             |nu2 AS (SELECT CAST(count(*) AS BIGINT) AS nu2 FROM life WHERE coh = 2),
             |byt AS (SELECT t,
             |CAST(sum(CASE WHEN coh = 1 THEN e ELSE 0 END) AS BIGINT) AS d1,
             |CAST(sum(CASE WHEN coh = 2 THEN e ELSE 0 END) AS BIGINT) AS d2,
             |CAST(sum(CASE WHEN coh = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
             |CAST(sum(CASE WHEN coh = 2 THEN 1 ELSE 0 END) AS BIGINT) AS a2
             |FROM life GROUP BY 1),
             |r AS (SELECT t, d1, d2,
             |nu1 - coalesce(sum(a1) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
             |AND 1 PRECEDING), 0) AS n1,
             |nu2 - coalesce(sum(a2) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
             |AND 1 PRECEDING), 0) AS n2
             |FROM byt, nu1, nu2)
             |SELECT t, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2, d1, d2,
             |round(CAST((d1 + d2) * n1 AS DOUBLE) / (n1 + n2), 6) AS e1,
             |round(d1 - CAST((d1 + d2) * n1 AS DOUBLE) / (n1 + n2), 6) AS o_minus_e,
             |round(CASE WHEN n1 + n2 <= 1 THEN NULL ELSE
             |CAST(d1 + d2 AS DOUBLE) * n1 / (n1 + n2) * (1.0 - CAST(n1 AS DOUBLE) / (n1 + n2))
             |* CAST(n1 + n2 - d1 - d2 AS DOUBLE) / (n1 + n2 - 1) END, 6) AS v
             |FROM r WHERE d1 + d2 > 0 ORDER BY t""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q210_correlation_matrix",
      // PEARSON CORRELATION MATRIX — all six pairs among quantity /
      // extendedprice / discount / tax from one 15-sum pass of exact
      // cent integers. r = (n·Σxy − ΣxΣy) / (√dx·√dy): numerator and
      // the two deviation sums are exact wide integers converted once
      // to double (same nearest-double on both engines); sqrt is
      // IEEE-exact. Never uses the built-in corr() — its streaming
      // float accumulation is partition-order-dependent.
      (s, dir) => {
        val keys = Seq("quantity" -> "l_quantity", "extendedprice" -> "l_extendedprice",
          "discount" -> "l_discount", "tax" -> "l_tax")
        val c = Tables.lineitem(s, dir).select(keys.map { case (k, src) =>
          expr(s"CAST(round($src * 100) AS BIGINT)").as(k)
        }: _*)
        val sums = Seq(count(lit(1)).as("n")) ++
          keys.map { case (k, _) => sum(col(k).cast("decimal(38,0)")).as(s"s_$k") } ++
          (for (i <- keys.indices; j <- i until keys.size) yield {
            val (a, b) = (keys(i)._1, keys(j)._1)
            sum((col(a) * col(b)).cast("decimal(38,0)")).as(s"s_${a}_$b")
          })
        val m = c.agg(sums.head, sums.tail: _*)
        val pairs = for (i <- keys.indices; j <- (i + 1) until keys.size) yield (keys(i)._1, keys(j)._1)
        // ONE corpus pass: all six r values project off the single
        // aggregate row via explode (per-pair selects would re-derive
        // the aggregate — six scans).
        val pairStructs = pairs.map { case (a, b) =>
          val num = (col("n") * col(s"s_${a}_$b") - col(s"s_$a") * col(s"s_$b")).cast("double")
          val dx = (col("n") * col(s"s_${a}_$a") - col(s"s_$a") * col(s"s_$a")).cast("double")
          val dy = (col("n") * col(s"s_${b}_$b") - col(s"s_$b") * col(s"s_$b")).cast("double")
          struct(lit(a).as("col_x"), lit(b).as("col_y"), col("n").as("n"),
            round(num / (sqrt(dx) * sqrt(dy)), 6).as("r"))
        }
        m.select(explode(array(pairStructs: _*)).as("p"))
          .select(col("p.col_x"), col("p.col_y"), col("p.n"), col("p.r"))
          .orderBy("col_x", "col_y")
      },
      Some({
        val ks = Seq("quantity" -> "l_quantity", "extendedprice" -> "l_extendedprice",
          "discount" -> "l_discount", "tax" -> "l_tax")
        val moms = (ks.map { case (k, src) => s"sum($k) AS s_$k" } ++
          (for (i <- ks.indices; j <- i until ks.size)
            yield s"sum(${ks(i)._1} * ${ks(j)._1}) AS s_${ks(i)._1}_${ks(j)._1}")).mkString(", ")
        val cents = ks.map { case (k, src) => s"CAST(round($src * 100) AS BIGINT) AS $k" }.mkString(", ")
        val rows = (for (i <- ks.indices; j <- (i + 1) until ks.size) yield {
          val (a, b) = (ks(i)._1, ks(j)._1)
          s"""SELECT '$a' AS col_x, '$b' AS col_y, CAST(n AS BIGINT) AS n,
             |round(CAST(n * s_${a}_$b - s_$a * s_$b AS DOUBLE)
             |/ (sqrt(CAST(n * s_${a}_$a - s_$a * s_$a AS DOUBLE))
             |* sqrt(CAST(n * s_${b}_$b - s_$b * s_$b AS DOUBLE))), 6) AS r FROM m"""
            .stripMargin.replace("\n", " ")
        }).mkString(" UNION ALL ")
        s"""WITH c AS (SELECT $cents FROM lineitem),
           |m AS (SELECT count(*) AS n, $moms FROM c)
           |$rows ORDER BY col_x, col_y""".stripMargin.replace("\n", " ")
      })))
}
