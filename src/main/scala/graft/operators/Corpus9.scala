package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Folds.orderedSum
import TextAnalytics.{toksExpr, toksDuck, stopSqlList}

/** Round-5 closers, part 5 — the comparative-statistics tranche: the
  * tests an analyst reaches for AFTER the descriptive queries
  * (q184 moments, q185 KS, q210 correlations) say "these groups look
  * different":
  *
  *  - q211 one-way ANOVA: does mean document length differ across
  *    languages? F = (SSB/(k−1))/(SSW/(N−k)) from ONE grouped pass of
  *    exact integer sums (n, Σx, Σx²) per language; the k-term float
  *    reduction Σ s_g²/n_g runs as a SORTED sequential fold on both
  *    engines (the q208 ln-sum discipline) so the last-ulp result is
  *    order-independent.
  *  - q212 Mann-Whitney U: the rank-based two-sample test ('en' vs
  *    the rest on n_chars) that q185's binned KS approximates —
  *    computed EXACTLY, with tie midranks, without ever ranking the
  *    corpus: group counts per DISTINCT VALUE, a running opposite-
  *    group prefix on that value-domain table, and 2·U = Σ a_v·(2·
  *    b_less + b_v) stays integer (the ½-tie credit never becomes a
  *    float until the final projection). Tie-corrected normal z and
  *    the AUC interpretation U/(nA·nB) ride out as one expression
  *    each.
  *  - q213 difference-in-differences: the quasi-experimental readout
  *    — deterministically hash-bucketed pseudo-arms × pre/post
  *    periods on purchase value; DiD = (T_post−T_pre) − (C_post−
  *    C_pre) from four exact integer-cent cell sums. The natural
  *    A/A-shaped companion to q174's CUPED (same arm hash family,
  *    different salt).
  *
  * Scale notes (also in SCALE.md):
  *  - q211: one hash agg to |langs| rows; everything after is k-row
  *    arithmetic. Σx² of int64 char counts fits BIGINT through
  *    ~10^5 SF; beyond that the sums move to DECIMAL(38,0) internally
  *    (the q184 rule) with the same downstream float expressions.
  *  - q212: the only corpus shuffle is groupBy(value) — the working
  *    table is bounded by the metric's VALUE DOMAIN (≤ ~10³ distinct
  *    lengths), not the corpus, so the unpartitioned prefix window
  *    sits on a domain-sized table (the q151 "SinglePartition only
  *    under scalar/domain counts" exemption). Continuous metrics
  *    would bin first (q185's grid) and inherit the same bound.
  *  - q213: one (arm, period) grouped aggregate — four cells — and a
  *    broadcast scalar join; the arm hash is the q174/q95 md5 fold,
  *    reproducible under any partitioning.
  */
object Corpus9 {

  def defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q211_anova_oneway",
      // ONE-WAY ANOVA — mean n_chars across languages. Per-group
      // exact integer (n, Σx, Σx²); SSB = Σ s²/n − S²/N via a sorted
      // sequential double fold over the k per-group terms; SSW by
      // subtraction from the total sum of squares. Output: per-lang
      // n / mean / deviation-from-grand plus the shared SSB/SSW/F
      // columns (identical on every row by design, like q174's θ).
      (s, dir) => {
        val g = Tables.documents(s, dir).groupBy("lang").agg(
          count(lit(1)).as("n"),
          sum("n_chars").as("sv"),
          sum(col("n_chars") * col("n_chars")).as("ss"))
        val tot = g.agg(
          sum("n").as("nn"), sum("sv").as("st"), sum("ss").as("sst"),
          count(lit(1)).as("k"),
          orderedSum(col("sv").cast("double") * col("sv").cast("double") / col("n").cast("double"),
            col("lang")).as("sgg"))
          .withColumn("ssb", col("sgg") - col("st").cast("double") * col("st").cast("double") / col("nn").cast("double"))
          .withColumn("sst_c", col("sst").cast("double") - col("st").cast("double") * col("st").cast("double") / col("nn").cast("double"))
        g.crossJoin(broadcast(tot.select("nn", "st", "k", "ssb", "sst_c")))
          .select(col("lang"), col("n"),
            round(col("sv").cast("double") / col("n"), 4).as("mean_chars"),
            round(col("sv").cast("double") / col("n") - col("st").cast("double") / col("nn"), 4).as("dev_from_grand"),
            round(col("ssb"), 4).as("ssb"),
            round(col("sst_c") - col("ssb"), 4).as("ssw"),
            round((col("ssb") / (col("k") - 1)) /
              ((col("sst_c") - col("ssb")) / (col("nn") - col("k"))), 6).as("f_stat"))
          .orderBy("lang")
      },
      Some("""WITH g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
             |CAST(sum(n_chars) AS BIGINT) AS sv,
             |CAST(sum(n_chars * n_chars) AS BIGINT) AS ss
             |FROM documents GROUP BY lang),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(sv) AS BIGINT) AS st,
             |CAST(sum(ss) AS BIGINT) AS sst, CAST(count(*) AS BIGINT) AS k,
             |sum(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY lang) AS sgg
             |FROM g),
             |f AS (SELECT nn, st, k,
             |sgg - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(nn AS DOUBLE) AS ssb,
             |CAST(sst AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(nn AS DOUBLE) AS sst_c
             |FROM tot)
             |SELECT g.lang, g.n, round(CAST(g.sv AS DOUBLE) / g.n, 4) AS mean_chars,
             |round(CAST(g.sv AS DOUBLE) / g.n - CAST(f.st AS DOUBLE) / f.nn, 4) AS dev_from_grand,
             |round(f.ssb, 4) AS ssb, round(f.sst_c - f.ssb, 4) AS ssw,
             |round((f.ssb / (f.k - 1)) / ((f.sst_c - f.ssb) / (f.nn - f.k)), 6) AS f_stat
             |FROM g, f ORDER BY lang""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q212_mann_whitney",
      // MANN-WHITNEY U — 'en' vs all other languages on n_chars.
      // Exact U with tie midranks from the distinct-value table:
      // 2·U_A = Σ_v a_v · (2·b_below(v) + b_v) (each tied pair
      // contributes the ½ credit as an integer 1 in the doubled
      // scale). Tie-corrected asymptotic z and the AUC reading
      // U/(nA·nB). No corpus-wide rank is ever materialized.
      (s, dir) => {
        val v = Tables.documents(s, dir).groupBy(col("n_chars").as("x")).agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("a"),
          sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("b"))
        // domain-sized table (distinct char counts): the unpartitioned
        // running window is the q151 exemption, never corpus-scale.
        val w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
        val c = v.withColumn("b_less", coalesce(sum("b").over(w), lit(0L)))
          .withColumn("t", col("a") + col("b"))
        c.agg(
          sum("a").as("na"), sum("b").as("nb"),
          sum(col("a") * (lit(2L) * col("b_less") + col("b"))).as("u2"),
          sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
          .select(col("na"), col("nb"), col("u2"),
            round(col("u2").cast("double") / 2, 1).as("u_a"),
            round((col("u2").cast("double") - col("na").cast("double") * col("nb")) /
              (lit(2.0) * sqrt(col("na").cast("double") * col("nb") / 12.0 *
                ((col("na") + col("nb") + 1) - col("ties").cast("double") /
                  ((col("na") + col("nb")).cast("double") * (col("na") + col("nb") - 1))))), 6).as("z"),
            round(col("u2").cast("double") / 2 / (col("na").cast("double") * col("nb")), 6).as("auc"))
      },
      Some("""WITH v AS (SELECT n_chars AS x,
             |CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS a,
             |CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS b
             |FROM documents GROUP BY n_chars),
             |c AS (SELECT x, a, b,
             |CAST(coalesce(sum(b) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS b_less,
             |a + b AS t FROM v),
             |s AS (SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb,
             |CAST(sum(a * (2 * b_less + b)) AS BIGINT) AS u2,
             |CAST(sum(t * t * t - t) AS BIGINT) AS ties FROM c)
             |SELECT na, nb, u2,
             |round(CAST(u2 AS DOUBLE) / 2, 1) AS u_a,
             |round((CAST(u2 AS DOUBLE) - CAST(na AS DOUBLE) * nb) /
             |(2 * sqrt(CAST(na AS DOUBLE) * nb / 12.0 *
             |((na + nb + 1) - CAST(ties AS DOUBLE) / (CAST(na + nb AS DOUBLE) * (na + nb - 1))))), 6) AS z,
             |round(CAST(u2 AS DOUBLE) / 2 / (CAST(na AS DOUBLE) * nb), 6) AS auc
             |FROM s""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q213_diff_in_diff",
      // DIFFERENCE-IN-DIFFERENCES — md5-hashed pseudo-arms (salt
      // 'd#', distinct from q174's 'x#'), pre/post split at Jan 16 on
      // purchase value cents. Four exact integer cells; DiD is one
      // float expression over the four cell means, repeated on every
      // row (the q174 θ convention).
      (s, dir) => {
        val arm = "CASE WHEN CAST(conv(substr(md5(concat('d#', CAST(user_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 2 = 0 THEN 'treat' ELSE 'control' END"
        val cell = Tables.events(s, dir)
          .where(col("event_type") === "purchase")
          .select(expr(arm).as("arm"),
            when(to_date(col("ts")) < lit("2024-01-16").cast("date"), "pre").otherwise("post").as("period"),
            expr("CAST(round(value * 100) AS BIGINT)").as("c"))
          .groupBy("arm", "period")
          .agg(count(lit(1)).as("n"), sum("c").as("sc"))
        val wide = cell.agg(
          max(when(col("arm") === "treat" && col("period") === "post", col("sc").cast("double") / col("n"))).as("tp"),
          max(when(col("arm") === "treat" && col("period") === "pre", col("sc").cast("double") / col("n"))).as("tr"),
          max(when(col("arm") === "control" && col("period") === "post", col("sc").cast("double") / col("n"))).as("cp"),
          max(when(col("arm") === "control" && col("period") === "pre", col("sc").cast("double") / col("n"))).as("cr"))
        cell.crossJoin(broadcast(wide))
          .select(col("arm"), col("period"), col("n"),
            round(col("sc").cast("double") / col("n") / 100.0, 4).as("mean_value"),
            round(((col("tp") - col("tr")) - (col("cp") - col("cr"))) / 100.0, 4).as("did"))
          .orderBy("arm", "period")
      },
      Some("""WITH e AS (SELECT
             |CASE WHEN %ARMH% %% 2 = 0 THEN 'treat' ELSE 'control' END AS arm,
             |CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16' THEN 'pre' ELSE 'post' END AS period,
             |CAST(round(value * 100) AS BIGINT) AS c
             |FROM events WHERE event_type = 'purchase'),
             |cell AS (SELECT arm, period, CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS sc
             |FROM e GROUP BY arm, period),
             |w AS (SELECT
             |max(CASE WHEN arm = 'treat' AND period = 'post' THEN CAST(sc AS DOUBLE) / n END) AS tp,
             |max(CASE WHEN arm = 'treat' AND period = 'pre' THEN CAST(sc AS DOUBLE) / n END) AS tr,
             |max(CASE WHEN arm = 'control' AND period = 'post' THEN CAST(sc AS DOUBLE) / n END) AS cp,
             |max(CASE WHEN arm = 'control' AND period = 'pre' THEN CAST(sc AS DOUBLE) / n END) AS cr
             |FROM cell)
             |SELECT c.arm, c.period, c.n, round(CAST(c.sc AS DOUBLE) / c.n / 100.0, 4) AS mean_value,
             |round(((w.tp - w.tr) - (w.cp - w.cr)) / 100.0, 4) AS did
             |FROM cell c, w ORDER BY arm, period""".stripMargin.replace("\n", " ")
        .replace("%ARMH%", Corpus.hexFoldDuck(
          "md5('d#' || CAST(user_id AS VARCHAR))", 15))
        .replace("%%", "%"))),

    QueryDef(
      "q214_rake_keywords",
      // RAKE KEYWORD EXTRACTION (Rose et al. 2010) — candidate
      // phrases are maximal stopword-free token runs (capped at 4
      // words, the standard max_length parameterization; longer runs
      // are discarded, which matters on this stopword-sparse
      // synthetic corpus). Word score = deg/freq over the candidate
      // set (deg sums phrase lengths, so co-membership in long
      // phrases raises a word's score); phrase score = the
      // position-ordered sum of member word scores (a ≤4-term
      // sequential fold — identical order both engines). Identical
      // phrase texts collapse with an occurrence count (their scores
      // are equal by construction, so max() is a safe combiner).
      (s, dir) => {
        val tok = Tables.documents(s, dir)
          .select(col("doc_id"), posexplode(expr(toksExpr)).as(Seq("pos", "w")))
        val ns = tok.where(!col("w").isin(TextAnalytics.Stopwords: _*))
          .withColumn("isl",
            col("pos") - row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
        val ph = ns.groupBy("doc_id", "isl").agg(
            expr("array_sort(collect_list(named_struct('pos', pos, 'w', w)))").as("ws"),
            count(lit(1)).as("plen"))
          .where(col("plen") <= 4)
          .withColumn("phrase", expr("array_join(transform(ws, x -> x.w), ' ')"))
        val wstat = ph.select(col("plen"), explode(expr("transform(ws, x -> x.w)")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
        val psc = ph
          .select(col("doc_id"), col("isl"), col("phrase"),
            posexplode(expr("transform(ws, x -> x.w)")).as(Seq("wpos", "w")))
          .join(wstat, "w")
          .groupBy("doc_id", "isl", "phrase").agg(
            orderedSum(col("deg").cast("double") / col("freq"), col("wpos")).as("score"))
        psc.groupBy("phrase").agg(
            count(lit(1)).as("occurrences"), max("score").as("score"))
          .select(col("phrase"), col("occurrences"), round(col("score"), 6).as("score"))
          .orderBy(desc("score"), col("phrase")).limit(20)
      },
      Some(s"""WITH tok AS (SELECT doc_id, t.w AS w, t.i AS pos
             |FROM documents, LATERAL (SELECT unnest($toksDuck) AS w,
             |generate_subscripts($toksDuck, 1) AS i) t),
             |ns AS (SELECT doc_id, w, pos,
             |pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
             |FROM tok WHERE w NOT IN ($stopSqlList)),
             |ph AS (SELECT doc_id, isl, string_agg(w, ' ' ORDER BY pos) AS phrase,
             |CAST(count(*) AS BIGINT) AS plen, list(w ORDER BY pos) AS ws
             |FROM ns GROUP BY doc_id, isl HAVING count(*) <= 4),
             |wstat AS (SELECT u.w AS w, CAST(count(*) AS BIGINT) AS freq,
             |CAST(sum(p.plen) AS BIGINT) AS deg
             |FROM ph p, LATERAL (SELECT unnest(p.ws) AS w) u GROUP BY u.w),
             |pw AS (SELECT p.phrase, p.doc_id, p.isl, u.i AS wpos, ws2.deg, ws2.freq
             |FROM ph p, LATERAL (SELECT unnest(p.ws) AS w, generate_subscripts(p.ws, 1) AS i) u
             |JOIN wstat ws2 ON ws2.w = u.w),
             |psc AS (SELECT phrase, doc_id, isl,
             |sum(CAST(deg AS DOUBLE) / freq ORDER BY wpos) AS score
             |FROM pw GROUP BY phrase, doc_id, isl),
             |agg AS (SELECT phrase, CAST(count(*) AS BIGINT) AS occurrences, max(score) AS score
             |FROM psc GROUP BY phrase)
             |SELECT phrase, occurrences, round(score, 6) AS score
             |FROM agg ORDER BY score DESC, phrase LIMIT 20""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q215_kcenter_coreset",
      // K-CENTER GREEDY CORESET (Gonzalez 1985; Sener & Savarese 2018
      // use exactly this for training-data selection) — farthest-point
      // traversal: seed at the min vec_id, then 3 more rounds each
      // picking the point FARTHEST from its nearest chosen center
      // (squared L2; ties to the smaller vec_id). Emits each center
      // with its selection distance (the 2-approximation coverage
      // radius guarantee trace — strictly decreasing by construction)
      // plus the final assignment census and per-center radius.
      // d² = |a|² + |b|² − 2·a·b from three index-ordered zip_with
      // folds — bit-identical across engines, so the argmax and every
      // least() chain agree exactly.
      (s, dir) => {
        def dot(a: String, b: String) =
          s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        def dd2(a: String, b: String) =
          s"(${dot(a, a)} + ${dot(b, b)} - 2 * ${dot(a, b)})"
        val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
        val c1 = e.orderBy("vec_id").limit(1)
        val d1 = e.crossJoin(broadcast(c1.select(col("embedding").as("ce"))))
          .select(col("vec_id"), col("embedding"),
            expr(dd2("embedding", "ce")).as("dm"))
        def nextRound(d: org.apache.spark.sql.DataFrame) = {
          val c = d.orderBy(desc("dm"), col("vec_id")).limit(1)
          val dn = d.crossJoin(broadcast(c.select(col("embedding").as("ce"))))
            .select(col("vec_id"), col("embedding"),
              least(col("dm"), expr(dd2("embedding", "ce"))).as("dm"))
          (c, dn)
        }
        val (c2, d2t) = nextRound(d1)
        val (c3, d3t) = nextRound(d2t)
        val c4 = d3t.orderBy(desc("dm"), col("vec_id")).limit(1)
        def tag(c: org.apache.spark.sql.DataFrame, r: Int) =
          c.select(lit(r).as("rnd"), col("vec_id"), col("embedding"),
            (if (r == 1) lit(null).cast("double") else col("dm")).as("dm"))
        val cen = tag(c1, 1).unionByName(tag(c2, 2))
          .unionByName(tag(c3, 3)).unionByName(tag(c4, 4))
        val pc = e.crossJoin(broadcast(cen.select(col("rnd").as("crnd"), col("embedding").as("ce"))))
          .select(col("vec_id"), col("crnd"), expr(dd2("embedding", "ce")).as("dd"))
          .withColumn("rn", row_number().over(Window.partitionBy("vec_id").orderBy("dd", "crnd")))
          .where(col("rn") === 1)
        cen.join(pc.groupBy("crnd").agg(
            count(lit(1)).as("n_assigned"), max("dd").as("radius2")),
            cen("rnd") === pc("crnd"), "left")
          .select(col("rnd"), col("vec_id").as("center_id"),
            round(coalesce(col("dm"), lit(0.0)), 6).as("sel_d2"),
            // coalesce: a center with zero assigned points (duplicate
            // embedding losing every (dd, crnd) tie) must read 0 to
            // match the oracle's COUNT over the left join, not NULL.
            coalesce(col("n_assigned"), lit(0L)).as("n_assigned"),
            round(col("radius2"), 6).as("radius2"))
          .orderBy("rnd")
      },
      Some {
        def dot(a: String, b: String) =
          s"list_sum(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
        def dd2(a: String, b: String) =
          s"(${dot(a, a)} + ${dot(b, b)} - 2 * ${dot(a, b)})"
        s"""WITH c1 AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 1),
           |d1 AS (SELECT e.vec_id, e.embedding, ${dd2("e.embedding", "c1.embedding")} AS dm FROM embeddings e, c1),
           |c2 AS (SELECT vec_id, embedding, dm FROM d1 ORDER BY dm DESC, vec_id LIMIT 1),
           |d2t AS (SELECT d1.vec_id, d1.embedding, least(d1.dm, ${dd2("d1.embedding", "c2.embedding")}) AS dm FROM d1, c2),
           |c3 AS (SELECT vec_id, embedding, dm FROM d2t ORDER BY dm DESC, vec_id LIMIT 1),
           |d3t AS (SELECT d2t.vec_id, d2t.embedding, least(d2t.dm, ${dd2("d2t.embedding", "c3.embedding")}) AS dm FROM d2t, c3),
           |c4 AS (SELECT vec_id, embedding, dm FROM d3t ORDER BY dm DESC, vec_id LIMIT 1),
           |cen AS (SELECT 1 AS rnd, vec_id, embedding, CAST(NULL AS DOUBLE) AS dm FROM c1
           |UNION ALL SELECT 2, vec_id, embedding, dm FROM c2
           |UNION ALL SELECT 3, vec_id, embedding, dm FROM c3
           |UNION ALL SELECT 4, vec_id, embedding, dm FROM c4),
           |pc AS (SELECT e.vec_id, cen.rnd, ${dd2("e.embedding", "cen.embedding")} AS dd,
           |row_number() OVER (PARTITION BY e.vec_id ORDER BY ${dd2("e.embedding", "cen.embedding")}, cen.rnd) AS rn
           |FROM embeddings e, cen),
           |asg AS (SELECT vec_id, rnd, dd FROM pc WHERE rn = 1)
           |SELECT cen.rnd, cen.vec_id AS center_id, round(coalesce(cen.dm, 0.0), 6) AS sel_d2,
           |CAST(count(asg.vec_id) AS BIGINT) AS n_assigned, round(max(asg.dd), 6) AS radius2
           |FROM cen LEFT JOIN asg ON asg.rnd = cen.rnd
           |GROUP BY cen.rnd, cen.vec_id, cen.dm ORDER BY cen.rnd""".stripMargin.replace("\n", " ")
      }),

    QueryDef(
      "q216_bradley_terry",
      // BRADLEY-TERRY STRENGTHS (Bradley & Terry 1952; Hunter 2004 MM)
      // — the pairwise-preference ranking model behind reward-model
      // data curation: per user, type i "beats" type j when the user
      // fired i more often (ties abstain); w_ij aggregates the
      // comparisons; two fixed MM iterations p_i ← W_i / Σ_j n_ij /
      // (p_i + p_j) from p = 1, renormalized to mean 1 after each (the
      // iteration-bounded discipline of q114/q121 — fixed rounds, an
      // oracle-checkable prefix of the converging sequence). The Σ_j
      // and renormalization sums are j-/i-ordered sequential folds.
      (s, dir) => {
        val uc = Tables.events(s, dir)
          .groupBy(col("user_id"), col("event_type").as("t"))
          .agg(count(lit(1)).as("c"))
        val a = uc.select(col("user_id"), col("t").as("ti"), col("c").as("ci"))
        val b = uc.select(col("user_id"), col("t").as("tj"), col("c").as("cj"))
        val pr = a.join(b, "user_id").where(col("ti") < col("tj"))
          .groupBy("ti", "tj").agg(
            sum(when(col("ci") > col("cj"), 1L).otherwise(0L)).as("wij"),
            sum(when(col("ci") < col("cj"), 1L).otherwise(0L)).as("wji"))
        val pairs = pr.select(col("ti").as("i"), col("tj").as("j"),
            (col("wij") + col("wji")).as("nij"), col("wij").as("wi"))
          .unionByName(pr.select(col("tj").as("i"), col("ti").as("j"),
            (col("wij") + col("wji")).as("nij"), col("wji").as("wi")))
        val wins = pairs.groupBy("i").agg(sum("wi").as("w"))

        def mmStep(p: org.apache.spark.sql.DataFrame) = {
          val it = pairs
            .join(p.select(col("i"), col("p").as("pi")), "i")
            .join(broadcast(p.select(col("i").as("j"), col("p").as("pj"))), "j")
            .join(wins, "i")
            .groupBy("i", "w").agg(
              orderedSum(col("nij").cast("double") / (col("pi") + col("pj")), col("j")).as("den"))
            .select(col("i"), (col("w").cast("double") / col("den")).as("p"))
          val nrm = it.agg(
            orderedSum(col("p"), col("i")).as("sp"),
            count(lit(1)).as("k"))
          it.crossJoin(broadcast(nrm))
            .select(col("i"), (col("p") / col("sp") * col("k")).as("p"))
        }
        val p2 = mmStep(mmStep(wins.select(col("i"), lit(1.0).as("p"))))
        p2.join(wins, "i")
          .select(col("i").as("event_type"), col("w").as("wins"),
            round(col("p"), 6).as("strength"))
          .withColumn("rnk",
            row_number().over(Window.orderBy(desc("strength"), col("event_type"))).cast("long"))
          .orderBy("rnk")
      },
      Some("""WITH uc AS (SELECT user_id, event_type AS t, CAST(count(*) AS BIGINT) AS c
             |FROM events GROUP BY 1, 2),
             |pr AS (SELECT a.t AS ti, b.t AS tj,
             |CAST(sum(CASE WHEN a.c > b.c THEN 1 ELSE 0 END) AS BIGINT) AS wij,
             |CAST(sum(CASE WHEN a.c < b.c THEN 1 ELSE 0 END) AS BIGINT) AS wji
             |FROM uc a JOIN uc b ON a.user_id = b.user_id AND a.t < b.t GROUP BY a.t, b.t),
             |pairs AS (SELECT ti AS i, tj AS j, wij + wji AS nij, wij AS wi FROM pr
             |UNION ALL SELECT tj, ti, wij + wji, wji FROM pr),
             |wins AS (SELECT i, CAST(sum(wi) AS BIGINT) AS w FROM pairs GROUP BY i),
             |p0 AS (SELECT i, 1.0 AS p FROM wins),
             |it1 AS (SELECT pa.i, w.w / sum(CAST(pa.nij AS DOUBLE) / (pi.p + pj.p) ORDER BY pa.j) AS p
             |FROM pairs pa JOIN p0 pi ON pi.i = pa.i JOIN p0 pj ON pj.i = pa.j
             |JOIN wins w ON w.i = pa.i GROUP BY pa.i, w.w),
             |n1 AS (SELECT i, p / (SELECT sum(p ORDER BY i) FROM it1) * (SELECT count(*) FROM it1) AS p FROM it1),
             |it2 AS (SELECT pa.i, w.w / sum(CAST(pa.nij AS DOUBLE) / (pi.p + pj.p) ORDER BY pa.j) AS p
             |FROM pairs pa JOIN n1 pi ON pi.i = pa.i JOIN n1 pj ON pj.i = pa.j
             |JOIN wins w ON w.i = pa.i GROUP BY pa.i, w.w),
             |n2 AS (SELECT i, p / (SELECT sum(p ORDER BY i) FROM it2) * (SELECT count(*) FROM it2) AS p FROM it2)
             |SELECT n2.i AS event_type, w.w AS wins, round(n2.p, 6) AS strength,
             |CAST(row_number() OVER (ORDER BY n2.p DESC, n2.i) AS BIGINT) AS rnk
             |FROM n2 JOIN wins w ON w.i = n2.i ORDER BY rnk""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q217_power_iteration_pc1",
      // LEADING PRINCIPAL COMPONENT BY POWER ITERATION — three fixed
      // v ← R·v / ‖R·v‖ rounds over q210's 4×4 correlation matrix,
      // from the pinned start (0.5, 0.5, 0.5, 0.5). Everything after
      // the one 15-sum corpus pass is SCALAR arithmetic on the single
      // aggregate row: each matrix entry, matrix-vector term, and norm
      // is the SAME textual left-to-right IEEE expression on both
      // engines, so the unrounded iterates agree bit-for-bit (no
      // ordered-fold machinery needed at k=4). Fixed rounds, not
      // convergence — on a near-isotropic spectrum (this corpus: all
      // eigenvalues ≈ 1) the 3-round iterate is an oracle-checkable
      // prefix, same contract as q114/q121/q216; the Rayleigh quotient
      // v·Rv is published alongside as the eigenvalue estimate.
      (s, dir) => {
        val keys = Seq("quantity" -> "l_quantity", "extendedprice" -> "l_extendedprice",
          "discount" -> "l_discount", "tax" -> "l_tax")
        val k = keys.size
        val c = Tables.lineitem(s, dir).select(keys.map { case (kk, src) =>
          expr(s"CAST(round($src * 100) AS BIGINT)").as(kk)
        }: _*)
        val sums = Seq(count(lit(1)).as("n")) ++
          keys.map { case (kk, _) => sum(col(kk).cast("decimal(38,0)")).as(s"s_$kk") } ++
          (for (i <- keys.indices; j <- i until k) yield {
            val (a, b) = (keys(i)._1, keys(j)._1)
            sum((col(a) * col(b)).cast("decimal(38,0)")).as(s"s_${a}_$b")
          })
        val m = c.agg(sums.head, sums.tail: _*)
        // correlation entries computed once as columns (q210's formula)
        val rCols = for (i <- 0 until k; j <- 0 until k) yield {
          if (i == j) lit(1.0).as(s"r_${i}_$j")
          else {
            val (a, b) = if (i < j) (keys(i)._1, keys(j)._1) else (keys(j)._1, keys(i)._1)
            val num = (col("n") * col(s"s_${a}_$b") - col(s"s_$a") * col(s"s_$b")).cast("double")
            val dx = (col("n") * col(s"s_${a}_$a") - col(s"s_$a") * col(s"s_$a")).cast("double")
            val dy = (col("n") * col(s"s_${b}_$b") - col(s"s_$b") * col(s"s_$b")).cast("double")
            (num / (sqrt(dx) * sqrt(dy))).as(s"r_${i}_$j")
          }
        }
        var df = m.select(rCols: _*)
          .select((0 until k).flatMap(j => Seq(lit(0.5).as(s"v_$j"))) ++
            (for (i <- 0 until k; j <- 0 until k) yield col(s"r_${i}_$j")): _*)
        for (it <- 1 to 3) {
          // mv_i = Σ_j r_ij · v_j, left-to-right
          df = df.select(
            (0 until k).map(i => (0 until k).map(j => col(s"r_${i}_$j") * col(s"v_$j"))
              .reduce(_ + _).as(s"mv_$i")) ++
            (for (i <- 0 until k; j <- 0 until k) yield col(s"r_${i}_$j")): _*)
          val nrm = sqrt((0 until k).map(i => col(s"mv_$i") * col(s"mv_$i")).reduce(_ + _))
          df = df.select(
            (0 until k).map(i => (col(s"mv_$i") / nrm).as(s"v_$i")) ++
            (for (i <- 0 until k; j <- 0 until k) yield col(s"r_${i}_$j")): _*)
        }
        // Rayleigh quotient: recompute R·v on the final unit v and dot
        // it — λ = v·(R v), same textual shape both engines.
        val mvF = (0 until k).map(i => (0 until k).map(j => col(s"r_${i}_$j") * col(s"v_$j"))
          .reduce(_ + _).as(s"f_$i"))
        val fin = df.select((0 until k).map(i => col(s"v_$i")) ++ mvF: _*)
          .withColumn("lam", (0 until k).map(i => col(s"v_$i") * col(s"f_$i")).reduce(_ + _))
        val names = keys.map(_._2)
        fin.select(explode(array((0 until k).map(i =>
            struct(lit(i).as("dim"), lit(names(i)).as("colname"),
              round(col(s"v_$i"), 6).as("pc1"), round(col("lam"), 6).as("eigenvalue"))): _*)).as("p"))
          .select(col("p.dim"), col("p.colname"), col("p.pc1"), col("p.eigenvalue"))
          .orderBy("dim")
      },
      Some({
        val ks = Seq("quantity" -> "l_quantity", "extendedprice" -> "l_extendedprice",
          "discount" -> "l_discount", "tax" -> "l_tax")
        val k = ks.size
        val cents = ks.map { case (kk, src) => s"CAST(round($src * 100) AS BIGINT) AS $kk" }.mkString(", ")
        val moms = (ks.map { case (kk, _) => s"sum($kk) AS s_$kk" } ++
          (for (i <- ks.indices; j <- i until k)
            yield s"sum(${ks(i)._1} * ${ks(j)._1}) AS s_${ks(i)._1}_${ks(j)._1}")).mkString(", ")
        val rDefs = (for (i <- 0 until k; j <- 0 until k) yield {
          if (i == j) s"1.0 AS r_${i}_$j"
          else {
            val (a, b) = if (i < j) (ks(i)._1, ks(j)._1) else (ks(j)._1, ks(i)._1)
            s"""CAST(n * s_${a}_$b - s_$a * s_$b AS DOUBLE)
               |/ (sqrt(CAST(n * s_${a}_$a - s_$a * s_$a AS DOUBLE))
               |* sqrt(CAST(n * s_${b}_$b - s_$b * s_$b AS DOUBLE))) AS r_${i}_$j"""
              .stripMargin.replace("\n", " ")
          }
        }).mkString(", ")
        val rPass = (for (i <- 0 until k; j <- 0 until k) yield s"r_${i}_$j").mkString(", ")
        def mv(v: String) = (0 until k).map(i =>
          (0 until k).map(j => s"r_${i}_$j * ${v}_$j").mkString(" + ") + s" AS mv_$i").mkString(", ")
        def nrm = "sqrt(" + (0 until k).map(i => s"mv_$i * mv_$i").mkString(" + ") + ")"
        val iters = (1 to 3).map { it =>
          val src = if (it == 1) "r0" else s"n${it - 1}"
          s"""m$it AS (SELECT ${mv("v")}, $rPass FROM $src),
             |n$it AS (SELECT ${(0 until k).map(i => s"mv_$i / $nrm AS v_$i").mkString(", ")},
             |$rPass FROM m$it)""".stripMargin.replace("\n", " ")
        }.mkString(", ")
        val fDefs = (0 until k).map(i =>
          (0 until k).map(j => s"r_${i}_$j * v_$j").mkString(" + ") + s" AS f_$i").mkString(", ")
        val lam = (0 until k).map(i => s"v_$i * f_$i").mkString(" + ")
        val rows = (0 until k).map { i =>
          s"SELECT $i AS dim, '${ks(i)._2}' AS colname, round(v_$i, 6) AS pc1, round($lam, 6) AS eigenvalue FROM fin"
        }.mkString(" UNION ALL ")
        s"""WITH c AS (SELECT $cents FROM lineitem),
           |m AS (SELECT count(*) AS n, $moms FROM c),
           |r0 AS (SELECT ${(0 until k).map(i => s"0.5 AS v_$i").mkString(", ")}, $rDefs FROM m),
           |$iters,
           |fin AS (SELECT ${(0 until k).map(i => s"v_$i").mkString(", ")}, $fDefs FROM n3)
           |$rows ORDER BY dim""".stripMargin.replace("\n", " ")
      })),

    QueryDef(
      "q218_theil_sen",
      // THEIL-SEN ROBUST TREND (Theil 1950; Sen 1968) — the
      // outlier-resistant alternative to q196's OLS daily-volume
      // slope: median of all pairwise slopes (c_j−c_i)/(x_j−x_i) over
      // the |days| pre-aggregate, intercept = median(c − slope·x).
      // Pair fan-out is |days|² on a horizon-bounded table (q162's
      // discipline), never the corpus; each slope is ONE IEEE
      // division of exact integers and the medians interpolate via
      // the proven percentile ≡ quantile_cont pair (q132/q157).
      (s, dir) => {
        val di = Tables.events(s, dir)
          .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("c"))
          .select(datediff(col("day"), lit("2024-01-01").cast("date")).cast("long").as("x"), col("c"))
        val a = di.select(col("x").as("xi"), col("c").as("ci"))
        val b = di.select(col("x").as("xj"), col("c").as("cj"))
        val pr = a.crossJoin(b).where(col("xi") < col("xj"))
          .select(((col("cj") - col("ci")).cast("double") / (col("xj") - col("xi"))).as("slope"))
        val sl = pr.agg(expr("percentile(slope, 0.5D)").as("slope"),
          count(lit(1)).as("n_pairs"))
        val ic = di.crossJoin(broadcast(sl))
          .agg(expr("percentile(CAST(c AS DOUBLE) - slope * x, 0.5D)").as("intercept"))
        val nd = di.agg(count(lit(1)).as("n_days"))
        nd.crossJoin(broadcast(sl)).crossJoin(broadcast(ic))
          .select(col("n_days"), col("n_pairs"),
            round(col("slope"), 6).as("slope"), round(col("intercept"), 6).as("intercept"))
      },
      Some("""WITH d AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
             |FROM events GROUP BY 1),
             |di AS (SELECT CAST(day - DATE '2024-01-01' AS BIGINT) AS x, c FROM d),
             |pr AS (SELECT CAST(b.c - a.c AS DOUBLE) / (b.x - a.x) AS slope
             |FROM di a JOIN di b ON a.x < b.x),
             |sl AS (SELECT quantile_cont(slope, 0.5) AS slope, CAST(count(*) AS BIGINT) AS n_pairs FROM pr),
             |ic AS (SELECT quantile_cont(CAST(di.c AS DOUBLE) - sl.slope * di.x, 0.5) AS intercept FROM di, sl)
             |SELECT (SELECT CAST(count(*) AS BIGINT) FROM di) AS n_days, sl.n_pairs,
             |round(sl.slope, 6) AS slope, round(ic.intercept, 6) AS intercept
             |FROM sl, ic""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q219_hits_ranking",
      // HITS HUBS & AUTHORITIES (Kleinberg 1999) — on the weighted
      // user→event-type bipartite graph (w = the user's count of that
      // type): two full mutual-reinforcement rounds. KEY determinism
      // property: HITS is scale-invariant, so intermediate
      // normalization factors out — every iterate is kept as an EXACT
      // INTEGER numerator (order-free sums; wide products go through
      // DECIMAL casts, never silent int64 overflow) and the single
      // final L2 normalization is √(Σ int²) computed from exact
      // integers. No ordered float folds anywhere, to ANY depth.
      // Output: top-20 hub users + all authority types, scored/ranked.
      (s, dir) => {
        val uc = Tables.events(s, dir)
          .groupBy(col("user_id").as("u"), col("event_type").as("t"))
          .agg(count(lit(1)).as("w"))
        val h1 = uc.groupBy("u").agg(sum("w").as("h"))
        val a1 = uc.join(h1, "u").groupBy("t").agg(sum(col("w") * col("h")).as("a"))
        val h2 = uc.join(broadcast(a1), "t").groupBy("u").agg(sum(col("w") * col("a")).as("h"))
        val a2 = uc.join(h2, "u").groupBy("t")
          .agg(sum((col("w").cast("decimal(19,0)") * col("h").cast("decimal(19,0)"))
            .cast("decimal(38,0)")).as("a"))
        val nh = h2.agg(sqrt(sum((col("h").cast("decimal(19,0)") * col("h").cast("decimal(19,0)"))
          .cast("decimal(38,0)")).cast("double")).as("nrm"))
        val na = a2.agg(sqrt(sum((col("a").cast("decimal(19,0)") * col("a").cast("decimal(19,0)"))
          .cast("decimal(38,0)")).cast("double")).as("nrm"))
        val hubs = h2.crossJoin(broadcast(nh))
          .select(lit("hub").as("side"), col("u").cast("string").as("id"),
            round(col("h").cast("double") / col("nrm"), 6).as("score"))
          .orderBy(desc("score"), col("id")).limit(20)
        val auths = a2.crossJoin(broadcast(na))
          .select(lit("authority").as("side"), col("t").as("id"),
            round(col("a").cast("double") / col("nrm"), 6).as("score"))
        hubs.unionByName(auths)
          .withColumn("rnk", row_number()
            .over(Window.partitionBy("side").orderBy(desc("score"), col("id"))).cast("long"))
          .orderBy("side", "rnk")
      },
      Some("""WITH uc AS (SELECT user_id AS u, event_type AS t, CAST(count(*) AS BIGINT) AS w
             |FROM events GROUP BY 1, 2),
             |h1 AS (SELECT u, CAST(sum(w) AS BIGINT) AS h FROM uc GROUP BY u),
             |a1 AS (SELECT t, CAST(sum(uc.w * h1.h) AS BIGINT) AS a FROM uc JOIN h1 ON h1.u = uc.u GROUP BY t),
             |h2 AS (SELECT uc.u, CAST(sum(uc.w * a1.a) AS BIGINT) AS h FROM uc JOIN a1 ON a1.t = uc.t GROUP BY uc.u),
             |a2 AS (SELECT uc.t, CAST(sum(CAST(uc.w AS HUGEINT) * h2.h) AS DECIMAL(38,0)) AS a
             |FROM uc JOIN h2 ON h2.u = uc.u GROUP BY uc.t),
             |nh AS (SELECT sqrt(CAST(sum(CAST(h AS HUGEINT) * h) AS DOUBLE)) AS nrm FROM h2),
             |na AS (SELECT sqrt(CAST(sum(CAST(a AS HUGEINT) * CAST(a AS HUGEINT)) AS DOUBLE)) AS nrm FROM a2),
             |hubs AS (SELECT 'hub' AS side, CAST(u AS VARCHAR) AS id,
             |round(CAST(h AS DOUBLE) / nh.nrm, 6) AS score FROM h2, nh ORDER BY score DESC, id LIMIT 20),
             |auths AS (SELECT 'authority' AS side, t AS id, round(CAST(a AS DOUBLE) / na.nrm, 6) AS score FROM a2, na)
             |SELECT side, id, score,
             |CAST(row_number() OVER (PARTITION BY side ORDER BY score DESC, id) AS BIGINT) AS rnk
             |FROM (SELECT * FROM hubs UNION ALL SELECT * FROM auths) ORDER BY side, rnk"""
        .stripMargin.replace("\n", " "))),

    QueryDef(
      "q220_neyman_allocation",
      // NEYMAN-ALLOCATED STRATIFIED SAMPLE (Neyman 1934) — the
      // variance-optimal sampling design for a 10% corpus budget:
      // n_h ∝ N_h·S_h, where N_h·S_h = √(N_h·Σx² − (Σx)²) comes
      // exactly from per-stratum integer moments. The 20-term weight
      // total is a source-ordered sequential fold; rounding is
      // floor(x+0.5) (the q54 convention). The allocation is then
      // REALIZED: each stratum's top-n_h docs by md5 hash (the
      // q95/q112 deterministic-sample discipline) — realized count
      // and exact-integer sample mean prove the plan is executable.
      (s, dir) => {
        val g = Tables.documents(s, dir).groupBy("source").agg(
          count(lit(1)).as("nh"), sum("n_chars").as("sv"),
          sum(col("n_chars") * col("n_chars")).as("ss"))
        val w = g.withColumn("nsh",
          sqrt((col("nh") * col("ss") - col("sv") * col("sv")).cast("double")))
        val tot = w.agg(
          orderedSum(col("nsh"), col("source")).as("tot_nsh"),
          sum("nh").as("n"))
        val alloc = w.crossJoin(broadcast(tot))
          .select(col("source"), col("nh"),
            round(col("nsh") / col("nh"), 4).as("sd"),
            floor(col("n").cast("double") * 0.1 * col("nsh") / col("tot_nsh") + 0.5)
              .cast("long").as("n_alloc"))
        val sel = Tables.documents(s, dir)
          .select(col("source"), col("n_chars"), col("doc_id"),
            md5(concat(lit("n#"), col("doc_id").cast("string"))).as("hsh"))
          .withColumn("rn", row_number()
            .over(Window.partitionBy("source").orderBy("hsh", "doc_id")))
        val samp = sel.join(broadcast(alloc.select(col("source"), col("n_alloc"))), "source")
          .where(col("rn") <= col("n_alloc"))
          .groupBy("source").agg(count(lit(1)).as("n_sel"), sum("n_chars").as("sc"))
        alloc.join(samp, Seq("source"), "left")
          .select(col("source"), col("nh"), col("sd"), col("n_alloc"),
            coalesce(col("n_sel"), lit(0L)).as("n_sel"),
            round(col("sc").cast("double") / col("n_sel"), 4).as("sample_mean"))
          .orderBy("source")
      },
      Some("""WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS nh,
             |CAST(sum(n_chars) AS BIGINT) AS sv, CAST(sum(n_chars * n_chars) AS BIGINT) AS ss
             |FROM documents GROUP BY source),
             |w AS (SELECT source, nh, sv, ss, sqrt(CAST(nh * ss - sv * sv AS DOUBLE)) AS nsh FROM g),
             |tot AS (SELECT sum(nsh ORDER BY source) AS tot_nsh, CAST(sum(nh) AS BIGINT) AS n FROM w),
             |alloc AS (SELECT w.source, w.nh, round(w.nsh / w.nh, 4) AS sd,
             |CAST(floor(CAST(tot.n AS DOUBLE) * 0.1 * w.nsh / tot.tot_nsh + 0.5) AS BIGINT) AS n_alloc
             |FROM w, tot),
             |sel AS (SELECT d.source, d.n_chars,
             |row_number() OVER (PARTITION BY d.source ORDER BY md5('n#' || CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
             |FROM documents d),
             |samp AS (SELECT sel.source, CAST(count(*) AS BIGINT) AS n_sel, CAST(sum(sel.n_chars) AS BIGINT) AS sc
             |FROM sel JOIN alloc ON alloc.source = sel.source AND sel.rn <= alloc.n_alloc
             |GROUP BY sel.source)
             |SELECT a.source, a.nh, a.sd, a.n_alloc,
             |coalesce(samp.n_sel, 0) AS n_sel,
             |round(CAST(samp.sc AS DOUBLE) / samp.n_sel, 4) AS sample_mean
             |FROM alloc a LEFT JOIN samp ON samp.source = a.source ORDER BY a.source"""
        .stripMargin.replace("\n", " "))),

    QueryDef(
      "q221_spearman_matrix",
      // SPEARMAN RANK CORRELATION MATRIX — q210's robust sibling over
      // the three DOMAIN-BOUNDED lineitem numerics (quantity /
      // discount / tax). ρ is Pearson on midranks, and midranks come
      // EXACTLY from the distinct-value count table: 2·rank = 2·
      // cnt_below + cnt + 1 stays integer, the shared ×2 scale
      // cancels in ρ. Rank tables are value-domain-sized (broadcast
      // joins; the prefix window is the q151 exemption); the moment
      // pass is q210's 9-sum DECIMAL(38,0) aggregate on rank columns.
      // A continuous column (extendedprice) would rank via q56's
      // two-pass global index instead — same downstream algebra.
      (s, dir) => {
        val ks = Seq("quantity" -> "l_quantity", "discount" -> "l_discount", "tax" -> "l_tax")
        val k = ks.size
        val c = Tables.lineitem(s, dir).select(ks.map { case (kk, src) =>
          expr(s"CAST(round($src * 100) AS BIGINT)").as(kk)
        }: _*)
        val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
        val rk = ks.foldLeft(c) { case (df, (kk, _)) =>
          val rt = c.groupBy(col(kk).as("v")).agg(count(lit(1)).as("cnt"))
            .withColumn(s"r2_$kk",
              (lit(2L) * coalesce(sum("cnt").over(w), lit(0L)) + col("cnt") + 1).cast("long"))
            .select(col("v").as(s"v_$kk"), col(s"r2_$kk"))
          df.join(broadcast(rt), df(kk) === rt(s"v_$kk")).drop(s"v_$kk")
        }.select(ks.map { case (kk, _) => col(s"r2_$kk").as(kk) }: _*)
        val sums = Seq(count(lit(1)).as("n")) ++
          ks.map { case (kk, _) => sum(col(kk).cast("decimal(38,0)")).as(s"s_$kk") } ++
          (for (i <- 0 until k; j <- i until k) yield {
            val (a, b) = (ks(i)._1, ks(j)._1)
            sum((col(a) * col(b)).cast("decimal(38,0)")).as(s"s_${a}_$b")
          })
        val m = rk.agg(sums.head, sums.tail: _*)
        val pairStructs = for (i <- 0 until k; j <- (i + 1) until k) yield {
          val (a, b) = (ks(i)._1, ks(j)._1)
          val num = (col("n") * col(s"s_${a}_$b") - col(s"s_$a") * col(s"s_$b")).cast("double")
          val dx = (col("n") * col(s"s_${a}_$a") - col(s"s_$a") * col(s"s_$a")).cast("double")
          val dy = (col("n") * col(s"s_${b}_$b") - col(s"s_$b") * col(s"s_$b")).cast("double")
          struct(lit(a).as("col_x"), lit(b).as("col_y"), col("n").as("n"),
            round(num / (sqrt(dx) * sqrt(dy)), 6).as("rho"))
        }
        m.select(explode(array(pairStructs: _*)).as("p"))
          .select(col("p.col_x"), col("p.col_y"), col("p.n"), col("p.rho"))
          .orderBy("col_x", "col_y")
      },
      Some({
        val ks = Seq("quantity" -> "l_quantity", "discount" -> "l_discount", "tax" -> "l_tax")
        val cents = ks.map { case (kk, src) => s"CAST(round($src * 100) AS BIGINT) AS $kk" }.mkString(", ")
        val rtabs = ks.map { case (kk, _) =>
          s"""r_$kk AS (SELECT $kk AS v,
             |CAST(2 * coalesce(sum(cnt) OVER (ORDER BY $kk ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cnt + 1 AS BIGINT) AS r2
             |FROM (SELECT $kk, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY $kk))"""
            .stripMargin.replace("\n", " ")
        }.mkString(", ")
        val joins = ks.map { case (kk, _) => s"JOIN r_$kk ON r_$kk.v = c.$kk" }.mkString(" ")
        val rsel = ks.map { case (kk, _) => s"r_$kk.r2 AS $kk" }.mkString(", ")
        val moms = (ks.map { case (kk, _) => s"sum($kk) AS s_$kk" } ++
          (for (i <- ks.indices; j <- i until ks.size)
            yield s"sum(${ks(i)._1} * ${ks(j)._1}) AS s_${ks(i)._1}_${ks(j)._1}")).mkString(", ")
        val rows = (for (i <- ks.indices; j <- (i + 1) until ks.size) yield {
          val (a, b) = (ks(i)._1, ks(j)._1)
          s"""SELECT '$a' AS col_x, '$b' AS col_y, CAST(n AS BIGINT) AS n,
             |round(CAST(n * s_${a}_$b - s_$a * s_$b AS DOUBLE)
             |/ (sqrt(CAST(n * s_${a}_$a - s_$a * s_$a AS DOUBLE))
             |* sqrt(CAST(n * s_${b}_$b - s_$b * s_$b AS DOUBLE))), 6) AS rho FROM m"""
            .stripMargin.replace("\n", " ")
        }).mkString(" UNION ALL ")
        s"""WITH c AS (SELECT $cents FROM lineitem), $rtabs,
           |rk AS (SELECT $rsel FROM c $joins),
           |m AS (SELECT count(*) AS n, $moms FROM rk)
           |$rows ORDER BY col_x, col_y""".stripMargin.replace("\n", " ")
      })),

    QueryDef(
      "q222_kendall_taub",
      // KENDALL τ-b (Kendall 1945, tie-corrected) — quantity vs
      // discount. Normally O(n²) or a specialized merge-sort count;
      // here BOTH columns are domain-bounded, so concordant and
      // discordant pair counts come exactly from the |X-domain|×
      // |Y-domain| CONTINGENCY GRID: each unordered observation pair
      // lands in one ordered cell pair, so C = Σ n_a·n_b over
      // strictly-increasing cell pairs (grid² ≈ 550² terms, all
      // integer). Tie terms per marginal use `div` (exact integer
      // halving). One float expression at the end.
      (s, dir) => {
        val c = Tables.lineitem(s, dir).select(
          expr("CAST(round(l_quantity * 100) AS BIGINT)").as("x"),
          expr("CAST(round(l_discount * 100) AS BIGINT)").as("y"))
        val g = c.groupBy("x", "y").agg(count(lit(1)).as("n"))
        val a = g.select(col("x").as("xa"), col("y").as("ya"), col("n").as("na"))
        val b = g.select(col("x").as("xb"), col("y").as("yb"), col("n").as("nb"))
        val cd = a.crossJoin(b).agg(
          sum(when(col("xb") > col("xa") && col("yb") > col("ya"),
            col("na") * col("nb")).otherwise(0L)).as("conc"),
          sum(when(col("xb") > col("xa") && col("yb") < col("ya"),
            col("na") * col("nb")).otherwise(0L)).as("disc"))
        val tx = g.groupBy("x").agg(sum("n").as("t"))
          .agg(sum(expr("(t * (t - 1)) div 2")).as("n1"))
        val ty = g.groupBy("y").agg(sum("n").as("t"))
          .agg(sum(expr("(t * (t - 1)) div 2")).as("n2"))
        val tot = g.agg(sum("n").as("n"))
        cd.crossJoin(broadcast(tx)).crossJoin(broadcast(ty)).crossJoin(broadcast(tot))
          .select(col("n"), col("conc"), col("disc"),
            col("n1").as("ties_x"), col("n2").as("ties_y"),
            round((col("conc") - col("disc")).cast("double") /
              (sqrt(col("n").cast("double") * (col("n") - 1) / 2 - col("n1")) *
               sqrt(col("n").cast("double") * (col("n") - 1) / 2 - col("n2"))), 6).as("tau_b"))
      },
      Some("""WITH c AS (SELECT CAST(round(l_quantity * 100) AS BIGINT) AS x,
             |CAST(round(l_discount * 100) AS BIGINT) AS y FROM lineitem),
             |g AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY x, y),
             |cd AS (SELECT CAST(coalesce(sum(a.n * b.n) FILTER (WHERE b.x > a.x AND b.y > a.y), 0) AS BIGINT) AS conc,
             |CAST(coalesce(sum(a.n * b.n) FILTER (WHERE b.x > a.x AND b.y < a.y), 0) AS BIGINT) AS disc
             |FROM g a, g b),
             |tx AS (SELECT CAST(sum((t * (t - 1)) // 2) AS BIGINT) AS n1
             |FROM (SELECT CAST(sum(n) AS BIGINT) AS t FROM g GROUP BY x)),
             |ty AS (SELECT CAST(sum((t * (t - 1)) // 2) AS BIGINT) AS n2
             |FROM (SELECT CAST(sum(n) AS BIGINT) AS t FROM g GROUP BY y)),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM g)
             |SELECT tot.n, cd.conc, cd.disc, tx.n1 AS ties_x, ty.n2 AS ties_y,
             |round(CAST(cd.conc - cd.disc AS DOUBLE) /
             |(sqrt(CAST(tot.n AS DOUBLE) * (tot.n - 1) / 2 - tx.n1)
             |* sqrt(CAST(tot.n AS DOUBLE) * (tot.n - 1) / 2 - ty.n2)), 6) AS tau_b
             |FROM cd, tx, ty, tot""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q223_james_stein",
      // JAMES-STEIN SHRINKAGE (Stein 1956; Efron-Morris 1975) — the
      // empirical-Bayes estimator of the 20 per-source mean doc
      // lengths: shrink each raw mean toward the grand mean by
      // c = max(0, 1 − (k−3)·σ̂_m²/Σ(m_h−m̄)²), with σ̂_m² = pooled
      // within-variance × mean(1/n_h). Everything reduces over exact
      // per-source integer moments; the three k-term float sums
      // (Σ 1/n, Σ s²/n for SSW, Σ (m−m̄)²) run as source-ordered
      // sequential folds. The low-n stabilizer every per-slice
      // dashboard metric wants before ranking small strata.
      (s, dir) => {
        val g = Tables.documents(s, dir).groupBy("source").agg(
          count(lit(1)).as("nh"), sum("n_chars").as("sv"),
          sum(col("n_chars") * col("n_chars")).as("ss"))
        val tot = g.agg(
          sum("nh").as("nn"), sum("sv").as("st"), sum("ss").as("sst"),
          count(lit(1)).as("k"),
          orderedSum(col("sv").cast("double") * col("sv").cast("double") / col("nh").cast("double"),
            col("source")).as("sgg"),
          orderedSum(lit(1.0) / col("nh").cast("double"), col("source")).as("sinv"))
          .withColumn("gm", col("st").cast("double") / col("nn"))
          .withColumn("sw2",
            (col("sst").cast("double") - col("sgg")) / (col("nn") - col("k")))
          .withColumn("sig2m", col("sw2") * col("sinv") / col("k"))
        val devs = g.crossJoin(broadcast(tot.select("gm")))
          .select(col("source"),
            (col("sv").cast("double") / col("nh") - col("gm")).as("dev"))
          .agg(orderedSum(col("dev") * col("dev"), col("source")).as("ssb_m"))
        g.crossJoin(broadcast(tot.select("gm", "sig2m", "k"))).crossJoin(broadcast(devs))
          .withColumn("c", greatest(lit(0.0),
            lit(1.0) - (col("k") - 3).cast("double") * col("sig2m") / col("ssb_m")))
          .select(col("source"), col("nh"),
            round(col("sv").cast("double") / col("nh"), 4).as("raw_mean"),
            round(col("gm") + col("c") *
              (col("sv").cast("double") / col("nh") - col("gm")), 4).as("shrunk_mean"),
            round(col("c"), 6).as("shrink_factor"))
          .orderBy("source")
      },
      Some("""WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS nh,
             |CAST(sum(n_chars) AS BIGINT) AS sv, CAST(sum(n_chars * n_chars) AS BIGINT) AS ss
             |FROM documents GROUP BY source),
             |tot AS (SELECT CAST(sum(nh) AS BIGINT) AS nn, CAST(sum(sv) AS BIGINT) AS st,
             |CAST(sum(ss) AS BIGINT) AS sst, CAST(count(*) AS BIGINT) AS k,
             |sum(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(nh AS DOUBLE) ORDER BY source) AS sgg,
             |sum(1.0 / CAST(nh AS DOUBLE) ORDER BY source) AS sinv FROM g),
             |t2 AS (SELECT nn, k, CAST(st AS DOUBLE) / nn AS gm,
             |(CAST(sst AS DOUBLE) - sgg) / (nn - k) * sinv / k AS sig2m FROM tot),
             |devs AS (SELECT sum((CAST(g.sv AS DOUBLE) / g.nh - t2.gm)
             |* (CAST(g.sv AS DOUBLE) / g.nh - t2.gm) ORDER BY g.source) AS ssb_m FROM g, t2)
             |SELECT g.source, g.nh,
             |round(CAST(g.sv AS DOUBLE) / g.nh, 4) AS raw_mean,
             |round(t2.gm + greatest(0.0, 1.0 - CAST(t2.k - 3 AS DOUBLE) * t2.sig2m / devs.ssb_m)
             |* (CAST(g.sv AS DOUBLE) / g.nh - t2.gm), 4) AS shrunk_mean,
             |round(greatest(0.0, 1.0 - CAST(t2.k - 3 AS DOUBLE) * t2.sig2m / devs.ssb_m), 6) AS shrink_factor
             |FROM g, t2, devs ORDER BY g.source""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q224_cramers_v",
      // CRAMÉR'S V — association strength between event type and
      // day-of-week (weekday() ≡ isodow−1, the engine-stable 0=Monday
      // form). χ² over the 5×7 contingency grid from exact integer
      // observed / marginal counts, accumulated per type as a
      // dow-ordered fold and across types as a type-ordered fold (the
      // q199 discipline); V = √(χ²/(n·min(r−1, c−1))). Published per
      // type with its own contribution, q199-style.
      (s, dir) => {
        val cell = Tables.events(s, dir)
          .groupBy(col("event_type").as("t"),
            expr("weekday(CAST(ts AS DATE))").as("dow"))
          .agg(count(lit(1)).as("o"))
        val rowt = cell.groupBy("t").agg(sum("o").as("rt"))
        val colt = cell.groupBy("dow").agg(sum("o").as("ct"))
        val tot = cell.agg(sum("o").as("n"),
          countDistinct("t").as("r"), countDistinct("dow").as("c"))
        val terms = cell.join(rowt, "t").join(broadcast(colt), "dow")
          .crossJoin(broadcast(tot))
          .withColumn("e", col("rt").cast("double") * col("ct") / col("n"))
          .withColumn("term",
            (col("o").cast("double") - col("e")) * (col("o").cast("double") - col("e")) / col("e"))
        val perType = terms.groupBy("t").agg(
          sum("o").as("n_type"),
          orderedSum(col("term"), col("dow")).as("chi2_contrib"))
        val chi2 = perType.agg(
          orderedSum(col("chi2_contrib"), col("t")).as("chi2"))
        perType.crossJoin(broadcast(chi2)).crossJoin(broadcast(tot))
          .select(col("t").as("event_type"), col("n_type"),
            round(col("chi2_contrib"), 6).as("chi2_contrib"),
            round(col("chi2"), 6).as("chi2_total"),
            round(sqrt(col("chi2") /
              (col("n") * least(col("r") - 1, col("c") - 1))), 6).as("cramers_v"))
          .orderBy("event_type")
      },
      Some("""WITH cell AS (SELECT event_type AS t, isodow(CAST(ts AS DATE)) - 1 AS dow,
             |CAST(count(*) AS BIGINT) AS o FROM events GROUP BY 1, 2),
             |rowt AS (SELECT t, CAST(sum(o) AS BIGINT) AS rt FROM cell GROUP BY t),
             |colt AS (SELECT dow, CAST(sum(o) AS BIGINT) AS ct FROM cell GROUP BY dow),
             |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
             |CAST(count(DISTINCT t) AS BIGINT) AS r, CAST(count(DISTINCT dow) AS BIGINT) AS c FROM cell),
             |terms AS (SELECT cell.t, cell.dow, cell.o,
             |(CAST(cell.o AS DOUBLE) - CAST(rowt.rt AS DOUBLE) * colt.ct / tot.n)
             |* (CAST(cell.o AS DOUBLE) - CAST(rowt.rt AS DOUBLE) * colt.ct / tot.n)
             |/ (CAST(rowt.rt AS DOUBLE) * colt.ct / tot.n) AS term
             |FROM cell JOIN rowt ON rowt.t = cell.t JOIN colt ON colt.dow = cell.dow, tot),
             |pt AS (SELECT t, CAST(sum(o) AS BIGINT) AS n_type,
             |sum(term ORDER BY dow) AS chi2_contrib FROM terms GROUP BY t),
             |x2 AS (SELECT sum(chi2_contrib ORDER BY t) AS chi2 FROM pt)
             |SELECT pt.t AS event_type, pt.n_type,
             |round(pt.chi2_contrib, 6) AS chi2_contrib,
             |round(x2.chi2, 6) AS chi2_total,
             |round(sqrt(x2.chi2 / (tot.n * least(tot.r - 1, tot.c - 1))), 6) AS cramers_v
             |FROM pt, x2, tot ORDER BY event_type""".stripMargin.replace("\n", " "))))
}
