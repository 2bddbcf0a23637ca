package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Folds.orderedSum
import TextAnalytics.{toksExpr, toksDuck}

/** Round-5 closers, part 6 — graph cohesion and corpus-statistics
  * diagnostics for the language-modeling pipeline:
  *
  *  - q225 local clustering coefficient + global transitivity over
  *    the q164 df-capped shingle-share graph: per-node 2·Δ/(d(d−1))
  *    and the 3·Δ/wedges corpus ratio — the cohesion readout that
  *    says whether near-dup neighborhoods are cliquish (template
  *    families) or stringy (chains of partial overlap).
  *  - q226 Good-Turing frequency-of-frequencies over TRIGRAMS (the
  *    unigram vocabulary here is ~31 words — every count is huge;
  *    trigrams give the sparse r-spectrum the estimator exists for):
  *    N_r, the Turing-smoothed r* = (r+1)·N_{r+1}/N_r, and each
  *    count-class's probability mass — the smoothing table an n-gram
  *    LM derives unseen-mass estimates from (P₀ = N₁/N is the r=1
  *    row's mass).
  *  - q227 Zipf rank-frequency fit — log-log OLS over the top-100
  *    unigrams. A NATURAL corpus fits slope ≈ −1 with high R²; this
  *    deliberately synthetic corpus measures slope ≈ −0.2, R² ≈ 0.06,
  *    so the query doubles as the "is this corpus natural language?"
  *    diagnostic gate.
  *  - q228 Heaps vocabulary growth — cumulative trigram vocabulary vs
  *    cumulative tokens across doc-id deciles, with the local Heaps
  *    exponent β between consecutive checkpoints (declines as the
  *    generator's finite phrase space saturates).
  *  - q229 skip-gram pair generation with word2vec frequency
  *    subsampling (Mikolov 2013): keep-probability √(t/f) realized by
  *    a deterministic per-occurrence md5 threshold, survivors
  *    re-compacted per doc, (center, context) pairs within ±2
  *    compacted positions — the training-pair extraction step of an
  *    embedding pipeline, fully reproducible under repartitioning.
  *
  * Scale notes (also in SCALE.md):
  *  - q225: q164's oriented wedge join (fan-out bounded by out-degree
  *    ≈ O(√m)); the coefficient algebra runs on the |nodes| degree
  *    table. Every count is an exact integer; lcc is one division.
  *  - q226: one trigram hash-agg, one count-of-counts agg (output is
  *    |distinct r| ≤ max-count rows), a self-join on r+1 over that
  *    tiny table.
  *  - q227: the top-100 cut is TakeOrdered; the OLS moments are a
  *    100-term rank-ordered fold on the driver-sized result — never
  *    corpus float sums.
  *  - q228: first-seen = one min-aggregate per trigram; buckets are
  *    pure key arithmetic; the cumulative/lag windows run on the
  *    10-row decile table.
  *  - q229: subsampling decisions are per-occurrence hash compares
  *    (map-side); the pair join is per-doc positional (doc-keyed
  *    shuffle, ±2 fan-out) — the same bounded shape as q31 bigrams.
  */
object Corpus10 {

  /** Shared trigram template (Corpus.ngramSpark) — its CASE guard
    * yields an empty array for size(w) < 3, matching the DuckDB
    * oracle's empty generate_series; a bare sequence(1, size-2) would
    * descend to [1, 0] on short docs and throw in element_at. */
  private val trigramSpark = Corpus.triSpark

  def defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q225_clustering_coefficient",
      // LOCAL CLUSTERING COEFFICIENT + TRANSITIVITY on the q164
      // graph. Per node: triangles via the degree-oriented wedge join
      // (each counted once, exploded to all three corners), lcc =
      // 2·Δ_v/(d_v·(d_v−1)) over deg ≥ 2 nodes; global row (-1) =
      // wedges, total triangles, transitivity 3·Δ/wedges. The
      // 'global' section sorts first via the part column.
      (s, dir) => {
        val e0 = Corpus5.shingleEdges(Tables.documents(s, dir))
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
        val pern = tri.select(explode(array(col("x"), col("y"), col("z"))).as("n"))
          .groupBy("n").agg(count(lit(1)).as("n_tri"))
        val lcc = deg.join(pern, Seq("n"), "left")
          .where(col("dg") >= 2)
          .select(lit("node").as("part"), col("n").as("doc_id"), col("dg"),
            coalesce(col("n_tri"), lit(0L)).as("n_tri"),
            round(lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
              (col("dg") * (col("dg") - 1)), 6).as("lcc"))
          .orderBy(desc("lcc"), col("doc_id")).limit(20)
        val wedges = deg.agg(sum(expr("(dg * (dg - 1)) div 2")).as("wedges"))
        val totTri = tri.agg(count(lit(1)).as("t"))
        val global = wedges.crossJoin(totTri)
          .select(lit("global").as("part"), lit(-1L).as("doc_id"),
            col("wedges").as("dg"), (col("t") * 3).as("n_tri"),
            round(col("t") * 3.0 / col("wedges"), 6).as("lcc"))
        global.unionByName(lcc).orderBy(col("part"), desc("lcc"), col("doc_id"))
      },
      Some(s"""WITH ${Corpus.cappedShinglesDuckCte(8)},
              |e0 AS MATERIALIZED (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
              |FROM sh a JOIN sh b ON a.sg = b.sg AND a.doc_id < b.doc_id),
              |deg AS MATERIALIZED (SELECT n, CAST(count(*) AS BIGINT) AS dg FROM
              |(SELECT u AS n FROM e0 UNION ALL SELECT v AS n FROM e0) z GROUP BY n),
              |ed AS MATERIALIZED (SELECT
              |CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v) THEN u ELSE v END AS src,
              |CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v) THEN v ELSE u END AS dst
              |FROM e0 JOIN deg du ON e0.u = du.n JOIN deg dv ON e0.v = dv.n),
              |tri AS (SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
              |FROM ed e1 JOIN ed e2 ON e1.dst = e2.src
              |JOIN ed e3 ON e3.src = e1.src AND e3.dst = e2.dst),
              |pern AS (SELECT n, CAST(count(*) AS BIGINT) AS n_tri FROM
              |(SELECT unnest([x, y, z]) AS n FROM tri) z GROUP BY n),
              |lcc AS (SELECT 'node' AS part, deg.n AS doc_id, deg.dg,
              |CAST(coalesce(pern.n_tri, 0) AS BIGINT) AS n_tri,
              |round(2.0 * coalesce(pern.n_tri, 0) / (deg.dg * (deg.dg - 1)), 6) AS lcc
              |FROM deg LEFT JOIN pern ON pern.n = deg.n WHERE deg.dg >= 2
              |ORDER BY lcc DESC, doc_id LIMIT 20),
              |wg AS (SELECT CAST(sum((dg * (dg - 1)) // 2) AS BIGINT) AS wedges FROM deg),
              |tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM tri),
              |gl AS (SELECT 'global' AS part, CAST(-1 AS BIGINT) AS doc_id,
              |wg.wedges AS dg, CAST(tt.t * 3 AS BIGINT) AS n_tri,
              |round(tt.t * 3.0 / wg.wedges, 6) AS lcc FROM wg, tt)
              |SELECT part, doc_id, dg, n_tri, lcc FROM
              |(SELECT * FROM gl UNION ALL SELECT * FROM lcc) z
              |ORDER BY part, lcc DESC, doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q226_good_turing",
      // GOOD-TURING FREQUENCY OF FREQUENCIES over trigrams: for each
      // raw count r ≤ 10, the class size N_r, the smoothed count
      // r* = (r+1)·N_{r+1}/N_r, and the class's share of total
      // probability mass r·N_r/N. The r=1 mass IS the classic
      // unseen-event estimate P₀ = N₁/N.
      (s, dir) => {
        val g = Tables.documents(s, dir)
          .select(expr(toksExpr).as("w"))
          .select(explode(expr(trigramSpark)).as("tg"))
        val tf = g.groupBy("tg").agg(count(lit(1)).as("r"))
        val nr = tf.groupBy("r").agg(count(lit(1)).as("n_r"))
        val tot = nr.agg(sum(col("r") * col("n_r")).as("n_tokens"),
          sum("n_r").as("vocab"))
        val nx = nr.select((col("r") - 1).as("r"), col("n_r").as("n_r_next"))
        nr.join(broadcast(nx), Seq("r"), "left").crossJoin(broadcast(tot))
          .where(col("r") <= 10)
          .select(col("r"), col("n_r"),
            round((col("r") + 1).cast("double") * coalesce(col("n_r_next"), lit(0L)) / col("n_r"), 6).as("r_star"),
            round((col("r") * col("n_r")).cast("double") / col("n_tokens"), 6).as("mass"),
            col("n_tokens"), col("vocab"))
          .orderBy("r")
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksDuck AS w FROM documents),
              |g AS (SELECT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS tg
              |FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i)),
              |tf AS (SELECT tg, CAST(count(*) AS BIGINT) AS r FROM g GROUP BY tg),
              |nr AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM tf GROUP BY r),
              |tot AS (SELECT CAST(sum(r * n_r) AS BIGINT) AS n_tokens, CAST(sum(n_r) AS BIGINT) AS vocab FROM nr)
              |SELECT nr.r, nr.n_r,
              |round(CAST((nr.r + 1) * coalesce(nx.n_r, 0) AS DOUBLE) / nr.n_r, 6) AS r_star,
              |round(CAST(nr.r * nr.n_r AS DOUBLE) / tot.n_tokens, 6) AS mass,
              |tot.n_tokens, tot.vocab
              |FROM nr LEFT JOIN nr nx ON nx.r = nr.r + 1, tot
              |WHERE nr.r <= 10 ORDER BY nr.r""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q227_zipf_fit",
      // ZIPF RANK-FREQUENCY FIT — OLS of ln(freq) on ln(rank) over
      // the top-100 unigrams. The fit runs as a rank-ordered 100-term
      // fold (TakeOrdered result, never corpus floats). On natural
      // text slope ≈ −1; this corpus's flat slope / tiny R² is the
      // synthetic-data smell the query exists to expose.
      (s, dir) => {
        val tf = Tables.documents(s, dir)
          .select(explode(expr(toksExpr)).as("w"))
          .groupBy("w").agg(count(lit(1)).as("f"))
        val top = tf.orderBy(desc("f"), col("w")).limit(100)
          .withColumn("rnk", row_number().over(Window.orderBy(desc("f"), col("w"))))
        val pts = top.select(col("rnk"),
          log(col("rnk").cast("double")).as("x"), log(col("f").cast("double")).as("y"))
        def fold(t: org.apache.spark.sql.Column) = orderedSum(t, col("rnk"))
        val (x, y) = (col("x"), col("y"))
        pts.agg(count(lit(1)).cast("double").as("n"),
            fold(x).as("sx"), fold(y).as("sy"),
            fold(x * x).as("sxx"), fold(x * y).as("sxy"),
            fold(y * y).as("syy"))
          .select(col("n").cast("long").as("n_terms"),
            round((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
            round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) / col("n"), 6).as("intercept"),
            round((col("n") * col("sxy") - col("sx") * col("sy")) *
              (col("n") * col("sxy") - col("sx") * col("sy")) /
              ((col("n") * col("sxx") - col("sx") * col("sx")) *
               (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
      },
      Some(s"""WITH tok AS (SELECT unnest($toksDuck) AS w FROM documents),
              |tf AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY w),
              |top AS (SELECT w, f, row_number() OVER (ORDER BY f DESC, w) AS rnk FROM tf
              |ORDER BY f DESC, w LIMIT 100),
              |pts AS (SELECT rnk, ln(CAST(rnk AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y FROM top),
              |m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
              |sum(x ORDER BY rnk) AS sx, sum(y ORDER BY rnk) AS sy,
              |sum(x * x ORDER BY rnk) AS sxx, sum(x * y ORDER BY rnk) AS sxy,
              |sum(y * y ORDER BY rnk) AS syy FROM pts)
              |SELECT CAST(n AS BIGINT) AS n_terms,
              |round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
              |round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept,
              |round((n * sxy - sx * sy) * (n * sxy - sx * sy)
              |/ ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
              |FROM m""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q228_heaps_growth",
      // HEAPS VOCABULARY GROWTH — cumulative trigram vocabulary vs
      // cumulative token volume at doc-id decile checkpoints, with
      // the local exponent β = Δln V / Δln N between checkpoints.
      // First-seen attribution is one min(doc_id) per trigram; all
      // windows run on the 10-row decile table.
      (s, dir) => {
        val t = Tables.documents(s, dir).select(col("doc_id"), expr(toksExpr).as("w"))
        val g = t.select(col("doc_id"), explode(expr(trigramSpark)).as("tg"))
        val mx = g.agg((max("doc_id") + 1).as("md"))
        val gb = g.crossJoin(broadcast(mx))
          .select(expr("(doc_id * 10) div md").as("b"), col("tg"))
        val fb = gb.groupBy("tg").agg(min("b").as("b"))
          .groupBy("b").agg(count(lit(1)).as("nv"))
        val tb = gb.groupBy("b").agg(count(lit(1)).as("nt"))
        val w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
        val cum = tb.join(fb, Seq("b"), "left")
          .withColumn("toks_cum", sum("nt").over(w))
          .withColumn("vocab_cum", sum(coalesce(col("nv"), lit(0L))).over(w))
        cum.withColumn("pv", lag("vocab_cum", 1).over(Window.orderBy("b")))
          .withColumn("pt", lag("toks_cum", 1).over(Window.orderBy("b")))
          .select(col("b"), col("toks_cum"), col("vocab_cum"),
            round(log(col("vocab_cum").cast("double") / col("pv")) /
              log(col("toks_cum").cast("double") / col("pt")), 6).as("heaps_beta"))
          .orderBy("b")
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksDuck AS w FROM documents),
              |mx0 AS (SELECT max(doc_id) + 1 AS md FROM t),
              |g AS (SELECT CAST((doc_id * 10) // mx0.md AS BIGINT) AS b,
              |w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS tg
              |FROM t, mx0, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i)),
              |fb AS (SELECT b, CAST(count(*) AS BIGINT) AS nv FROM
              |(SELECT tg, min(b) AS b FROM g GROUP BY tg) z GROUP BY b),
              |tb AS (SELECT b, CAST(count(*) AS BIGINT) AS nt FROM g GROUP BY b),
              |cum AS (SELECT tb.b,
              |CAST(sum(tb.nt) OVER (ORDER BY tb.b) AS BIGINT) AS toks_cum,
              |CAST(sum(coalesce(fb.nv, 0)) OVER (ORDER BY tb.b) AS BIGINT) AS vocab_cum
              |FROM tb LEFT JOIN fb ON fb.b = tb.b)
              |SELECT b, toks_cum, vocab_cum,
              |round(ln(CAST(vocab_cum AS DOUBLE) / lag(vocab_cum) OVER (ORDER BY b))
              |/ ln(CAST(toks_cum AS DOUBLE) / lag(toks_cum) OVER (ORDER BY b)), 6) AS heaps_beta
              |FROM cum ORDER BY b""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q229_skipgram_pairs",
      // SKIP-GRAM TRAINING PAIRS with word2vec subsampling — each
      // token occurrence survives iff md5('sg#'||doc||'#'||pos) mod
      // 10⁶ < ⌊10⁶·min(1, √(t·N/f))⌋ (t = 10⁻³); survivors compact
      // per doc and emit (center, context) pairs within ±2 compacted
      // positions. Top-20 pair counts. Every decision is a pure
      // function of (doc_id, pos, global counts) — partition-proof.
      (s, dir) => {
        val t = Tables.documents(s, dir).select(col("doc_id"), expr(toksExpr).as("w"))
        val tok = t.select(col("doc_id"), posexplode(col("w")).as(Seq("p0", "w")))
          .select(col("doc_id"), col("w"), (col("p0") + 1).as("pos"))
        val tf = tok.groupBy("w").agg(count(lit(1)).as("f"))
        val tot = tf.agg(sum("f").as("n"))
        val keepp = tf.crossJoin(broadcast(tot))
          .select(col("w"), floor(least(lit(1.0),
            sqrt(lit(0.001) * col("n") / col("f"))) * 1000000).cast("long").as("thr"))
        val h = "CAST(conv(substr(md5(concat('sg#', CAST(doc_id AS STRING), '#', CAST(pos AS STRING))), 1, 15), 16, 10) AS BIGINT)"
        val surv = tok.join(broadcast(keepp), "w")
          .where(expr(s"$h % 1000000") < col("thr"))
          .withColumn("cpos", row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
        val a = surv.select(col("doc_id"), col("w").as("center"), col("cpos").as("ca"))
        val b = surv.select(col("doc_id"), col("w").as("context"), col("cpos").as("cb"))
        a.join(b, "doc_id")
          .where(col("ca") =!= col("cb") && abs(col("ca") - col("cb")) <= 2)
          .groupBy("center", "context").agg(count(lit(1)).as("n_pairs"))
          .orderBy(desc("n_pairs"), col("center"), col("context")).limit(20)
      },
      Some {
        val h = graft.operators.Corpus.hexFoldDuck(
          "md5('sg#' || CAST(tok.doc_id AS VARCHAR) || '#' || CAST(tok.pos AS VARCHAR))", 15)
        s"""WITH t AS (SELECT doc_id, $toksDuck AS w FROM documents),
           |tok AS (SELECT doc_id, w[i] AS w, i AS pos
           |FROM t, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i)),
           |tf AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY w),
           |tot AS (SELECT CAST(sum(f) AS BIGINT) AS n FROM tf),
           |keepp AS (SELECT tf.w, CAST(floor(least(1.0, sqrt(0.001 * tot.n / tf.f)) * 1000000) AS BIGINT) AS thr
           |FROM tf, tot),
           |surv AS (SELECT tok.doc_id, tok.w,
           |row_number() OVER (PARTITION BY tok.doc_id ORDER BY tok.pos) AS cpos
           |FROM tok JOIN keepp ON keepp.w = tok.w
           |WHERE ($h) %% 1000000 < keepp.thr),
           |pairs AS (SELECT a.w AS center, b.w AS context
           |FROM surv a JOIN surv b ON a.doc_id = b.doc_id
           |AND a.cpos <> b.cpos AND abs(a.cpos - b.cpos) <= 2)
           |SELECT center, context, CAST(count(*) AS BIGINT) AS n_pairs
           |FROM pairs GROUP BY center, context
           |ORDER BY n_pairs DESC, center, context LIMIT 20"""
          .stripMargin.replace("\n", " ").replace("%%", "%")
      }),

    QueryDef(
      "q230_kl_divergence",
      // PER-SOURCE KL DIVERGENCE from the corpus unigram distribution
      // — D(source ‖ corpus) = Σ_w p_s(w)·ln(p_s(w)/p(w)) over the
      // source's support (0·ln 0 = 0 by the sum's construction; the
      // support is always ⊆ the corpus support, so no division by
      // zero). The domain-shift detector: a source whose language
      // drifts from the mixture shows up as a KL spike. Each term is
      // one float expression over exact integer counts; the per-source
      // reduction is a w-ordered fold over vocabulary-sized lists.
      (s, dir) => {
        val sw = Tables.documents(s, dir)
          .select(col("source"), explode(expr(toksExpr)).as("w"))
          .groupBy("source", "w").agg(count(lit(1)).as("c"))
        val st = sw.groupBy("source").agg(sum("c").as("ns"))
        val gw = sw.groupBy("w").agg(sum("c").as("g"))
        val gt = gw.agg(sum("g").as("n"))
        sw.join(st, "source").join(broadcast(gw), "w").crossJoin(broadcast(gt))
          .select(col("source"), col("w"),
            ((col("c").cast("double") / col("ns")) *
              log((col("c").cast("double") / col("ns")) /
                (col("g").cast("double") / col("n")))).as("t"))
          .groupBy("source").agg(
            round(orderedSum(col("t"), col("w")), 6).as("kl_nat"),
            count(lit(1)).as("n_terms"))
          .orderBy("source")
      },
      Some(s"""WITH tok AS (SELECT source, unnest($toksDuck) AS w FROM documents),
              |sw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
              |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM sw GROUP BY source),
              |gw AS (SELECT w, CAST(sum(c) AS BIGINT) AS g FROM sw GROUP BY w),
              |gt AS (SELECT CAST(sum(g) AS BIGINT) AS n FROM gw),
              |terms AS (SELECT sw.source, sw.w,
              |(CAST(sw.c AS DOUBLE) / st.ns) * ln((CAST(sw.c AS DOUBLE) / st.ns) / (CAST(gw.g AS DOUBLE) / gt.n)) AS t
              |FROM sw JOIN st ON st.source = sw.source JOIN gw ON gw.w = sw.w, gt)
              |SELECT source, round(sum(t ORDER BY w), 6) AS kl_nat,
              |CAST(count(*) AS BIGINT) AS n_terms
              |FROM terms GROUP BY source ORDER BY source""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q231_silhouette",
      // SIMPLIFIED SILHOUETTE of q170's SemDeDup clustering — per
      // point: cosine distance to the OWN centroid vs the nearest
      // OTHER centroid, s = (d_other − d_own)/max(·,·) ∈ [−1, 1]
      // (the centroid-based silhouette used at scale precisely
      // because it needs k distances per point, not n). Clustering is
      // the same LloydKMeans unroll as q170, so fit + scoring are
      // hash-checked end-to-end. Per-cluster summary via the proven
      // percentile ≡ quantile_cont pair (median/p10/p90) — order-free
      // float reductions only. s rounds to 6dp per point first (the
      // q170 cq discipline) so both engines feed identical values.
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val (assigned, centsRow) = graft.ml.LloydKMeans.fit(emb, k = 8, lloydIters = 2)
        val e = emb.join(assigned, "vec_id").crossJoin(broadcast(centsRow))
          .withColumn("nrm", expr(
            "sqrt(aggregate(embedding, 0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"))
          .withColumn("ds", expr(
            """transform(sequence(0, 7), j ->
               1.0D - aggregate(sequence(0, 63), 0D, (a, i) -> a + CAST(embedding[i] AS DOUBLE) * cc[j][i])
               / (nrm * sqrt(aggregate(cc[j], 0D, (a, x) -> a + x * x))))"""))
          .withColumn("d_own", expr("ds[cl]"))
          .withColumn("d_other", expr(
            "array_min(transform(filter(sequence(0, 7), j -> j != cl), j -> ds[j]))"))
          .withColumn("sil", round(
            (col("d_other") - col("d_own")) / greatest(col("d_own"), col("d_other")), 6))
        e.groupBy(col("cl").cast("long").as("cluster")).agg(
            count(lit(1)).as("n"),
            round(expr("percentile(sil, 0.5D)"), 6).as("s_med"),
            round(expr("percentile(sil, 0.1D)"), 6).as("s_p10"),
            round(expr("percentile(sil, 0.9D)"), 6).as("s_p90"))
          .orderBy("cluster")
      },
      Some {
        val km = graft.ml.LloydKMeans.assignDuckCte(k = 8, lloydIters = 2)
        val kmFinal = graft.ml.LloydKMeans.finalAssignCte(2)
        s"""WITH $km,
           |sd AS (SELECT a.vec_id, a.cl, a.embedding,
           |${Similarity.duckNorm("a.embedding")} AS nrm, kmc2.cc AS cc
           |FROM $kmFinal a, kmc2),
           |ds AS (SELECT vec_id, cl,
           |list_transform(generate_series(1, 8), j ->
           |1.0 - list_sum(list_transform(generate_series(1, 64), i ->
           |CAST(embedding[i] AS DOUBLE) * cc[j][i]))
           |/ (nrm * sqrt(list_sum(list_transform(cc[j], x -> x * x))))) AS dl
           |FROM sd),
           |sil AS (SELECT vec_id, cl, dl[cl + 1] AS d_own,
           |list_min(list_transform(list_filter(generate_series(1, 8), j -> j != cl + 1), j -> dl[j])) AS d_other
           |FROM ds),
           |sv AS (SELECT cl, round((d_other - d_own) / greatest(d_own, d_other), 6) AS s FROM sil)
           |SELECT CAST(cl AS BIGINT) AS cluster, CAST(count(*) AS BIGINT) AS n,
           |round(quantile_cont(s, 0.5), 6) AS s_med,
           |round(quantile_cont(s, 0.1), 6) AS s_p10,
           |round(quantile_cont(s, 0.9), 6) AS s_p90
           |FROM sv GROUP BY cl ORDER BY cluster""".stripMargin.replace("\n", " ")
      }),

    QueryDef(
      "q232_confusion_metrics",
      // ONE-VS-REST CONFUSION METRICS for q34's lang-id heuristic
      // against the gold lang column — per class (en/es/de): exact
      // integer tp/fp/fn/tn and precision / recall / F1 / MCC, each
      // one float expression (MCC's four marginal products stay in
      // DOUBLE from exact ints). The eval-metrics operator every
      // labeling pipeline (q182's weak labels, q74's classifier)
      // reads out through; q34's heuristic on this RANDOM-labeled
      // corpus scores near chance, which is the honest reading.
      (s, dir) => {
        val pred = Tables.documents(s, dir)
          .select(col("lang"), expr(toksExpr).as("w"))
          .select(col("lang"),
            expr("size(filter(w, x -> x IN ('the','a','an','and','or','of','is','to')))").as("n_en"),
            expr("size(filter(w, x -> x IN ('el','la','de','que','y','en','los','se')))").as("n_es"),
            expr("size(filter(w, x -> x IN ('der','die','das','und','ist','von','mit','den')))").as("n_de"))
          .withColumn("predicted",
            when(col("n_en") >= col("n_es") && col("n_en") >= col("n_de"), "en")
              .when(col("n_es") >= col("n_de"), "es")
              .otherwise("de"))
        val classes = Seq("en", "es", "de")
        val perClass = classes.map { c =>
          pred.agg(
            sum(when(col("predicted") === c && col("lang") === c, 1L).otherwise(0L)).as("tp"),
            sum(when(col("predicted") === c && col("lang") =!= c, 1L).otherwise(0L)).as("fp"),
            sum(when(col("predicted") =!= c && col("lang") === c, 1L).otherwise(0L)).as("fn"),
            sum(when(col("predicted") =!= c && col("lang") =!= c, 1L).otherwise(0L)).as("tn"))
            .select(lit(c).as("class"), col("tp"), col("fp"), col("fn"), col("tn"))
        }.reduce(_ unionByName _)
        perClass
          .withColumn("precision", when(col("tp") + col("fp") === 0, lit(null).cast("double"))
            .otherwise(round(col("tp").cast("double") / (col("tp") + col("fp")), 6)))
          .withColumn("recall", when(col("tp") + col("fn") === 0, lit(null).cast("double"))
            .otherwise(round(col("tp").cast("double") / (col("tp") + col("fn")), 6)))
          .withColumn("f1", when(lit(2L) * col("tp") + col("fp") + col("fn") === 0, lit(null).cast("double"))
            .otherwise(round(lit(2.0) * col("tp") /
              (lit(2.0) * col("tp") + col("fp") + col("fn")), 6)))
          .withColumn("mcc", when(
            (col("tp") + col("fp")) * (col("tp") + col("fn")) *
              (col("tn") + col("fp")) * (col("tn") + col("fn")) === 0, lit(null).cast("double"))
            .otherwise(round(
              (col("tp").cast("double") * col("tn") - col("fp").cast("double") * col("fn")) /
                sqrt((col("tp") + col("fp")).cast("double") * (col("tp") + col("fn")).cast("double") *
                  (col("tn") + col("fp")).cast("double") * (col("tn") + col("fn")).cast("double")), 6)))
          .orderBy("class")
      },
      Some(s"""WITH t AS (SELECT lang, $toksDuck AS w FROM documents),
              |c AS (SELECT lang,
              |len(list_filter(w, x -> x IN ('the','a','an','and','or','of','is','to'))) AS n_en,
              |len(list_filter(w, x -> x IN ('el','la','de','que','y','en','los','se'))) AS n_es,
              |len(list_filter(w, x -> x IN ('der','die','das','und','ist','von','mit','den'))) AS n_de
              |FROM t),
              |p AS (SELECT lang, CASE WHEN n_en >= n_es AND n_en >= n_de THEN 'en'
              |WHEN n_es >= n_de THEN 'es' ELSE 'de' END AS predicted FROM c),
              |cm AS (${Seq("en", "es", "de").map { cl =>
                s"""SELECT '$cl' AS class,
                   |CAST(sum(CASE WHEN predicted = '$cl' AND lang = '$cl' THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   |CAST(sum(CASE WHEN predicted = '$cl' AND lang <> '$cl' THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                   |CAST(sum(CASE WHEN predicted <> '$cl' AND lang = '$cl' THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                   |CAST(sum(CASE WHEN predicted <> '$cl' AND lang <> '$cl' THEN 1 ELSE 0 END) AS BIGINT) AS tn
                   |FROM p""".stripMargin.replace("\n", " ")
              }.mkString(" UNION ALL ")})
              |SELECT class, tp, fp, fn, tn,
              |CASE WHEN tp + fp = 0 THEN NULL ELSE round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision,
              |CASE WHEN tp + fn = 0 THEN NULL ELSE round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall,
              |CASE WHEN 2 * tp + fp + fn = 0 THEN NULL ELSE round(2.0 * tp / (2.0 * tp + fp + fn), 6) END AS f1,
              |CASE WHEN (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn) = 0 THEN NULL
              |ELSE round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn) /
              |sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
              |* CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)), 6) END AS mcc
              |FROM cm ORDER BY class""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q233_stl_decompose",
      // STL-LITE SEASONAL DECOMPOSITION of daily volume: trend = the
      // centered 7-day window mean (exact integer sum / window count),
      // seasonal = the per-weekday mean of the detrended series (a
      // day-ordered fold over ≤⌈|days|/7⌉ terms), residual = v −
      // trend − seasonal. The decomposition q181's anomaly scorer and
      // q200's ACF both implicitly assume — published explicitly, per
      // day, on the |days| pre-aggregate.
      (s, dir) => {
        val d = Tables.events(s, dir)
          .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("v"))
        val w = Window.orderBy("day").rowsBetween(-3, 3)
        val tr = d.withColumn("dow", expr("weekday(day)"))
          .withColumn("trend", sum("v").over(w).cast("double") / count(lit(1)).over(w))
        val se = tr.groupBy("dow").agg(
          (orderedSum(col("v").cast("double") - col("trend"), col("day"))
            / count(lit(1))).as("seasonal"))
        tr.join(broadcast(se), "dow")
          .select(col("day").cast("string").as("day"), col("v"),
            round(col("trend"), 4).as("trend"),
            round(col("seasonal"), 4).as("seasonal"),
            round(col("v").cast("double") - col("trend") - col("seasonal"), 4).as("residual"))
          .orderBy("day")
      },
      Some("""WITH d AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS v
             |FROM events GROUP BY 1),
             |tr AS (SELECT day, v, isodow(day) - 1 AS dow,
             |CAST(sum(v) OVER w AS DOUBLE) / count(*) OVER w AS trend
             |FROM d WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
             |se AS (SELECT dow, sum(CAST(v AS DOUBLE) - trend ORDER BY day) / count(*) AS seasonal
             |FROM tr GROUP BY dow)
             |SELECT CAST(tr.day AS VARCHAR) AS day, tr.v, round(tr.trend, 4) AS trend,
             |round(se.seasonal, 4) AS seasonal,
             |round(CAST(tr.v AS DOUBLE) - tr.trend - se.seasonal, 4) AS residual
             |FROM tr JOIN se ON se.dow = tr.dow ORDER BY day""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q234_ushape_attribution",
      // U-SHAPED (POSITION-BASED) ATTRIBUTION — q189's multi-touch
      // sibling: each purchase's cents split 40% to the first prior
      // view/click touch, 40% to the last, 20% spread over the
      // middles — ALL in exact integer cents with deterministic
      // remainder policy (first touch absorbs c − 2c÷5 − c÷5; middle
      // remainders go to the earliest middles), so the allocation
      // CONSERVES the attributable revenue to the cent. Touch windows
      // partition per purchase (user-history-bounded, q189's shape).
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val p = ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("pts"),
            expr("CAST(round(value * 100) AS BIGINT)").as("c"), col("event_id").as("pid"))
        val touch = ev.where(col("event_type").isin("view", "click"))
          .select(col("user_id"), col("event_type").as("ch"), col("ts"), col("event_id"))
        val t = p.join(touch, "user_id").where(col("ts") < col("pts"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("pid").orderBy("ts", "event_id")))
          .withColumn("nt", count(lit(1)).over(Window.partitionBy("pid")))
        val alloc = t.withColumn("cents",
          when(col("nt") === 1, col("c"))
            .when(col("nt") === 2,
              when(col("rn") === 1, col("c") - expr("c div 2")).otherwise(expr("c div 2")))
            .otherwise(
              when(col("rn") === 1,
                col("c") - expr("(c * 2) div 5") - expr("c div 5"))
                .when(col("rn") === col("nt"), expr("(c * 2) div 5"))
                .otherwise(expr("(c div 5) div (nt - 2)") +
                  when(col("rn") - 1 <= expr("(c div 5) % (nt - 2)"), 1L).otherwise(0L))))
        alloc.groupBy(col("ch").as("channel")).agg(
            count(lit(1)).as("touches"), sum("cents").as("cents_attributed"))
          .orderBy("channel")
      },
      Some("""WITH p AS (SELECT user_id, ts AS pts, CAST(round(value * 100) AS BIGINT) AS c,
             |event_id AS pid FROM events WHERE event_type = 'purchase'),
             |t AS (SELECT p.pid, p.c, e.event_type AS ch,
             |row_number() OVER (PARTITION BY p.pid ORDER BY e.ts, e.event_id) AS rn,
             |count(*) OVER (PARTITION BY p.pid) AS nt
             |FROM p JOIN events e ON e.user_id = p.user_id AND e.ts < p.pts
             |AND e.event_type IN ('view', 'click')),
             |alloc AS (SELECT pid, ch, c, rn, nt,
             |CASE WHEN nt = 1 THEN c
             |WHEN nt = 2 THEN CASE WHEN rn = 1 THEN c - c // 2 ELSE c // 2 END
             |ELSE CASE WHEN rn = 1 THEN c - (c * 2) // 5 - c // 5
             |WHEN rn = nt THEN (c * 2) // 5
             |ELSE (c // 5) // (nt - 2) + CASE WHEN rn - 1 <= (c // 5) %% (nt - 2) THEN 1 ELSE 0 END END
             |END AS cents FROM t)
             |SELECT ch AS channel, CAST(count(*) AS BIGINT) AS touches,
             |CAST(sum(cents) AS BIGINT) AS cents_attributed
             |FROM alloc GROUP BY ch ORDER BY ch""".stripMargin.replace("\n", " ").replace("%%", "%"))),

    QueryDef(
      "q235_markov_attribution",
      // MARKOV REMOVAL-EFFECT ATTRIBUTION (Anderl et al. 2016) — the
      // data-driven alternative to q189/q234's positional rules: per
      // user, the journey (truncated at the first purchase) becomes a
      // first-order chain start → … → conv/null; P(s,t) from exact
      // transition counts; conversion probability from 'start' by 8
      // fixed value-iteration rounds (iteration-bounded, the
      // q114/q216 contract — the chain's p^(K) is an oracle-checkable
      // prefix of the absorbing-chain solve); removal effect of
      // channel c = 1 − P_c-removed(conv)/P(conv), where removing c
      // redirects its inbound edges to 'null'; shares normalize the
      // effects. The tiny transition table is localCheckpoint-pinned
      // once (Components' iteration discipline), so the five chains'
      // 8-round folds never re-derive the corpus.
      (s, dir) => {
        import s.implicits._
        val K = 8
        val channels = Seq("click", "error", "signup", "view")
        val ev = Tables.events(s, dir)
        val uw = Window.partitionBy("user_id")
        val ow = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val j = ev.withColumn("firstp",
            min(when(col("event_type") === "purchase", col("ts"))).over(uw))
          .where(col("firstp").isNull || col("ts") <= col("firstp"))
        val seq0 = j.select(col("user_id"), col("event_type").as("t"),
          lag("event_type", 1).over(ow).as("prev"),
          row_number().over(ow).as("rn"),
          count(lit(1)).over(uw).as("ntot"))
        val tr0 = seq0.select(
            when(col("rn") === 1, "start").otherwise(col("prev")).as("s"),
            when(col("t") === "purchase", "conv").otherwise(col("t")).as("t"))
          .unionByName(seq0.where(col("rn") === col("ntot") && col("t") =!= "purchase")
            .select(col("t").as("s"), lit("null").as("t")))
        val trc = tr0.groupBy("s", "t").agg(count(lit(1)).as("n"))
        val trs = trc.groupBy("s").agg(sum("n").as("ns"))
        val tr = trc.join(trs, "s")
          .select(col("s"), col("t"), (col("n").cast("double") / col("ns")).as("p"))

        // r16: the five chains' 8-round value iterations ran as ~80
        // unrolled tiny joins+aggregates — 93 sequential Spark jobs of
        // ≤|states|²-row (≤ 36-row) work, 12-17 s of pure job-barrier
        // floor at sf0.01 warm. The transition table is STATE-SPACE
        // sized (corpus-size-independent by construction), so the
        // iteration is control-plane math: collect it once — the q73
        // KeywordTree-frontier discipline for driver-scale iterates —
        // and fold the rounds in Scala,
        // replicating the previous plan's summation orders EXACTLY
        // (every Spark-side sum was a Folds.orderedSum in
        // ascending key order; the Scala folds sort by the same keys,
        // and ASCII state names make String and UTF8String order
        // agree), so every double is bit-identical to the unrolled
        // plan's. The ONE distributed pass (journeys → transition
        // counts) is unchanged.
        val edges = tr.collect()
          .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        // converge: K rounds of pv(s) = Σ_t [t asc] p(s,t)·pv(t),
        // with pv(conv) pinned to 1 after every round (the union row).
        def converge(es: Seq[(String, String, Double)]): Map[String, Double] = {
          var pv = Map("conv" -> 1.0)
          for (_ <- 1 to K) {
            val next = es.groupBy(_._1).map { case (s0, out) =>
              s0 -> out.sortBy(_._2).foldLeft(0.0) { case (a, (_, t, p)) =>
                a + p * pv.getOrElse(t, 0.0)
              }
            }
            pv = next + ("conv" -> 1.0)
          }
          pv
        }
        // removed chain: drop s = c rows, redirect t = c to 'null',
        // re-sum p per (s, t) in ascending ORIGINAL-t order.
        def removedChain(c: String): Seq[(String, String, Double)] =
          edges.filter(_._1 != c)
            .map { case (s0, t0, p) => (s0, if (t0 == c) "null" else t0, t0, p) }
            .groupBy(e => (e._1, e._2)).toSeq
            .map { case ((s0, t), es) =>
              // fold in ascending ORIGINAL-t order — t0 rides in the
              // tuple so the old plan's summation order holds by
              // construction (r16 ADVICE: sorting by the redirected t
              // was a no-op and relied on 2-element commutativity)
              (s0, t, es.sortBy(_._3).foldLeft(0.0)((a, e) => a + e._4))
            }
        val full = converge(edges)
        // the unrolled form emitted a 'start' row only when the chain
        // had one (empty corpus → empty result) — replicate.
        if (!edges.exists(_._1 == "start")) {
          Seq.empty[(String, Double, Double, Double, Double)]
            .toDF("channel", "p_conv_full", "p_conv_without",
              "removal_effect", "share")
        } else {
          val pcf = full("start")
          val rows = channels.map { c =>
            val pw = converge(removedChain(c))("start")
            val removal = math.max(0.0, 1.0 - pw / pcf)
            (c, pw, removal)
          }
          // total removal summed in ascending channel order (an
          // orderedSum by channel); channels is already ascending.
          val trr = rows.foldLeft(0.0)((a, r) => a + r._3)
          rows.map { case (c, pw, removal) => (c, pcf, pw, removal) }
            .toDF("channel", "pcf", "p_without", "removal")
            .select(col("channel"), round(col("pcf"), 6).as("p_conv_full"),
              round(col("p_without"), 6).as("p_conv_without"),
              round(col("removal"), 6).as("removal_effect"),
              round(col("removal") / lit(trr), 6).as("share"))
            .orderBy("channel")
        }
      },
      Some {
        val K = 8
        val channels = Seq("click", "error", "signup", "view")
        val base = """j0 AS (SELECT user_id, ts, event_id, event_type,
          |min(CASE WHEN event_type = 'purchase' THEN ts END) OVER (PARTITION BY user_id) AS firstp
          |FROM events),
          |j AS (SELECT user_id, ts, event_id, event_type FROM j0 WHERE firstp IS NULL OR ts <= firstp),
          |seq AS (SELECT user_id, event_type AS t,
          |lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
          |row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
          |count(*) OVER (PARTITION BY user_id) AS ntot FROM j),
          |tr0 AS (SELECT CASE WHEN rn = 1 THEN 'start' ELSE prev END AS s,
          |CASE WHEN t = 'purchase' THEN 'conv' ELSE t END AS t FROM seq
          |UNION ALL SELECT t AS s, 'null' AS t FROM seq WHERE rn = ntot AND t <> 'purchase'),
          |trc AS (SELECT s, t, CAST(count(*) AS BIGINT) AS n FROM tr0 GROUP BY s, t),
          |trs AS (SELECT s, CAST(sum(n) AS BIGINT) AS ns FROM trc GROUP BY s),
          |tr AS MATERIALIZED (SELECT trc.s, trc.t, CAST(trc.n AS DOUBLE) / trs.ns AS p
          |FROM trc JOIN trs ON trs.s = trc.s)""".stripMargin.replace("\n", " ")
        // MATERIALIZED on every chain stage (r15): tr is referenced by
        // all five chains and each p_tag_K final by 2-3 scalar
        // subqueries — DuckDB 1.0 inlining re-derived the whole
        // events-window base per reference (~20 s; 0.5 s materialized).
        // Each pinned table is ≤ |states|² rows — the oracle twin of
        // the Spark body's own localCheckpoint pins.
        def chain(tag: String, remove: Option[String]): (String, String) = {
          val trdef = remove match {
            case None => s"tr_$tag AS MATERIALIZED (SELECT s, t, p FROM tr)"
            case Some(c) =>
              s"""tr_$tag AS MATERIALIZED (SELECT s, CASE WHEN t = '$c' THEN 'null' ELSE t END AS t,
                 |sum(p ORDER BY t) AS p FROM tr WHERE s <> '$c'
                 |GROUP BY s, CASE WHEN t = '$c' THEN 'null' ELSE t END)""".stripMargin.replace("\n", " ")
          }
          val steps = (1 to K).map { k =>
            s"""p_${tag}_$k AS MATERIALIZED (SELECT tr_$tag.s AS st,
               |sum(tr_$tag.p * coalesce(pp.pv, 0.0) ORDER BY tr_$tag.t) AS pv
               |FROM tr_$tag LEFT JOIN p_${tag}_${k - 1} pp ON pp.st = tr_$tag.t
               |GROUP BY tr_$tag.s UNION ALL SELECT 'conv', 1.0)""".stripMargin.replace("\n", " ")
          }
          ((Seq(trdef, s"p_${tag}_0 AS (SELECT 'conv' AS st, 1.0 AS pv)") ++ steps)
            .mkString(", "), s"p_${tag}_$K")
        }
        val (fullC, fullFin) = chain("f", None)
        val remChains = channels.map(c => c -> chain(s"r$c", Some(c)))
        val sels = remChains.map { case (c, (_, fin)) =>
          s"SELECT '$c' AS channel, (SELECT pv FROM $fin WHERE st = 'start') AS p_without"
        }.mkString(" UNION ALL ")
        s"""WITH $base, $fullC, ${remChains.map(_._2._1).mkString(", ")},
           |pc AS (SELECT pv FROM $fullFin WHERE st = 'start'),
           |re AS ($sels),
           |r2 AS (SELECT channel, p_without,
           |greatest(0.0, 1.0 - p_without / pc.pv) AS removal FROM re, pc),
           |tot AS (SELECT sum(removal ORDER BY channel) AS trr FROM r2)
           |SELECT r2.channel, round(pc.pv, 6) AS p_conv_full,
           |round(r2.p_without, 6) AS p_conv_without,
           |round(r2.removal, 6) AS removal_effect,
           |round(r2.removal / tot.trr, 6) AS share
           |FROM r2, pc, tot ORDER BY channel""".stripMargin.replace("\n", " ")
      }),

    QueryDef(
      "q236_runs_test",
      // WALD-WOLFOWITZ RUNS TEST on the doc_id ordering (binarized:
      // lang = 'en' vs rest) — the shuffle-quality audit: a training
      // order whose labels clump (runs ≪ expected) leaks curriculum
      // bias. Runs count WITHOUT a corpus-wide window: per-bucket lag
      // transitions (doc_id-div buckets, partitioned windows) plus
      // bucket-boundary transitions from the |buckets|-row edge
      // table. E[R] and Var[R] from exact integer (n, n1) in one
      // float expression each.
      (s, dir) => {
        val d = Tables.documents(s, dir)
          .select(col("doc_id"),
            when(col("lang") === "en", 1L).otherwise(0L).as("x"),
            expr("doc_id div 50").as("b"))
        val w = d.withColumn("px", lag("x", 1).over(
          Window.partitionBy("b").orderBy("doc_id")))
        val intra = w.agg(sum(when(col("px").isNotNull && col("x") =!= col("px"), 1L)
          .otherwise(0L)).as("chg"))
        val edges = d.groupBy("b").agg(min("doc_id").as("fid"), max("doc_id").as("lid"))
        val eb = edges
          .join(d.select(col("doc_id").as("fid"), col("x").as("firstx")), "fid")
          .join(d.select(col("doc_id").as("lid"), col("x").as("lastx")), "lid")
          .select(col("b"), col("firstx"), col("lastx"))
        val crossChg = eb.as("a")
          .join(eb.select((col("b") - 1).as("b"), col("firstx").as("nfx")), "b")
          .agg(sum(when(col("lastx") =!= col("nfx"), 1L).otherwise(0L)).as("chg"))
        val nn = d.agg(count(lit(1)).as("n"), sum("x").as("n1"))
        nn.crossJoin(broadcast(intra.select(col("chg").as("ic"))))
          .crossJoin(broadcast(crossChg.select(col("chg").as("cc2"))))
          .select(col("n"), col("n1"), (col("n") - col("n1")).as("n0"),
            (lit(1L) + col("ic") + col("cc2")).as("runs"),
            round(lit(1.0) + lit(2.0) * col("n1") * (col("n") - col("n1")) / col("n"), 4).as("e_runs"),
            round((lit(1L) + col("ic") + col("cc2") -
              (lit(1.0) + lit(2.0) * col("n1") * (col("n") - col("n1")) / col("n"))) /
              sqrt(lit(2.0) * col("n1") * (col("n") - col("n1")) *
                (lit(2.0) * col("n1") * (col("n") - col("n1")) - col("n")) /
                (col("n").cast("double") * col("n") * (col("n") - 1))), 4).as("z"))
      },
      Some("""WITH d AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS x,
             |CAST(doc_id // 50 AS BIGINT) AS b FROM documents),
             |w AS (SELECT doc_id, x, b, lag(x) OVER (PARTITION BY b ORDER BY doc_id) AS px FROM d),
             |intra AS (SELECT CAST(sum(CASE WHEN px IS NOT NULL AND x <> px THEN 1 ELSE 0 END) AS BIGINT) AS chg FROM w),
             |edges AS (SELECT b, min(doc_id) AS fid, max(doc_id) AS lid FROM d GROUP BY b),
             |eb AS (SELECT e.b, df.x AS firstx, dl.x AS lastx
             |FROM edges e JOIN d df ON df.doc_id = e.fid JOIN d dl ON dl.doc_id = e.lid),
             |cc AS (SELECT CAST(sum(CASE WHEN a.lastx <> c.firstx THEN 1 ELSE 0 END) AS BIGINT) AS chg
             |FROM eb a JOIN eb c ON c.b = a.b + 1),
             |nn AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS n1 FROM d)
             |SELECT nn.n, nn.n1, nn.n - nn.n1 AS n0,
             |1 + intra.chg + cc.chg AS runs,
             |round(1.0 + 2.0 * nn.n1 * (nn.n - nn.n1) / nn.n, 4) AS e_runs,
             |round((1 + intra.chg + cc.chg - (1.0 + 2.0 * nn.n1 * (nn.n - nn.n1) / nn.n)) /
             |sqrt(2.0 * nn.n1 * (nn.n - nn.n1) * (2.0 * nn.n1 * (nn.n - nn.n1) - nn.n) /
             |(CAST(nn.n AS DOUBLE) * nn.n * (nn.n - 1))), 4) AS z
             |FROM nn, intra, cc""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q237_mann_kendall",
      // MANN-KENDALL TREND TEST on daily volume — q218 Theil-Sen's
      // significance companion: S = Σ sign(c_j − c_i) over the
      // |days|² pre-aggregate pairs (exact integer), tie-corrected
      // variance, continuity-corrected z. One float expression at
      // the end.
      (s, dir) => {
        val d = Tables.events(s, dir)
          .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("c"))
        val a = d.select(col("day").as("da"), col("c").as("ca"))
        val b = d.select(col("day").as("db"), col("c").as("cb"))
        val pr = a.crossJoin(b).where(col("db") > col("da"))
          .agg(sum(when(col("cb") > col("ca"), 1L)
            .when(col("cb") < col("ca"), -1L).otherwise(0L)).as("s"))
        val ti = d.groupBy("c").agg(count(lit(1)).as("t")).where(col("t") > 1)
          .agg(coalesce(sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5)), lit(0L)).as("tie"))
        val nn = d.agg(count(lit(1)).as("n"))
        nn.crossJoin(broadcast(pr)).crossJoin(broadcast(ti))
          .select(col("n"), col("s"), col("tie"),
            round((col("n").cast("double") * (col("n") - 1) * (lit(2L) * col("n") + 5) - col("tie")) / 18.0, 4).as("var_s"),
            round(when(col("s") > 0, col("s") - 1).when(col("s") < 0, col("s") + 1).otherwise(0L) /
              sqrt((col("n").cast("double") * (col("n") - 1) * (lit(2L) * col("n") + 5) - col("tie")) / 18.0), 4).as("z"))
      },
      Some("""WITH d AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
             |FROM events GROUP BY 1),
             |pr AS (SELECT CAST(sum(CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s
             |FROM d a JOIN d b ON b.day > a.day),
             |ti AS (SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie
             |FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM d GROUP BY c HAVING count(*) > 1)),
             |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
             |SELECT nn.n, pr.s, ti.tie,
             |round((CAST(nn.n AS DOUBLE) * (nn.n - 1) * (2 * nn.n + 5) - ti.tie) / 18.0, 4) AS var_s,
             |round((CASE WHEN pr.s > 0 THEN pr.s - 1 WHEN pr.s < 0 THEN pr.s + 1 ELSE 0 END)
             |/ sqrt((CAST(nn.n AS DOUBLE) * (nn.n - 1) * (2 * nn.n + 5) - ti.tie) / 18.0), 4) AS z
             |FROM nn, pr, ti""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q238_pacf",
      // PARTIAL AUTOCORRELATION (lags 1-5) via the Durbin-Levinson
      // recursion over q200's EXACT integer-deviation ACF — the AR
      // order-selection readout q200's raw ACF can't give. The five
      // r_k are one IEEE division each; the whole DL unroll is the
      // SAME textual scalar expression chain on both engines (the
      // q217 discipline), generated from one shared loop.
      (s, dir) => {
        val daily = Tables.events(s, dir).select(to_date(col("ts")).as("d"))
          .groupBy("d").agg(count(lit(1)).as("c"))
        val tot = daily.agg(count(lit(1)).as("n"), sum("c").as("t"))
        val z = daily.crossJoin(broadcast(tot))
          .withColumn("i", row_number().over(Window.orderBy("d")).cast("long"))
          .select(col("i"), (col("n") * col("c") - col("t")).as("dev"))
        val den = z.agg(sum(col("dev") * col("dev")).as("dd"))
        val lags = z.sparkSession.range(1, 6).select(col("id").as("lg"))
        val acfRow = broadcast(lags).join(z.as("a"), lit(true))
          .join(z.as("b"), col("b.i") === col("a.i") + col("lg"))
          .groupBy("lg").agg(sum(col("a.dev") * col("b.dev")).as("nm"))
          .crossJoin(broadcast(den))
          .select(col("lg"), (col("nm").cast("double") / col("dd")).as("r"))
          .groupBy().pivot("lg", Seq(1, 2, 3, 4, 5)).agg(first("r"))
          .toDF("r1", "r2", "r3", "r4", "r5")
        var df = acfRow
        for ((name, ex) <- Corpus10.dlStages) df = df.withColumn(name, expr(ex))
        df.select(explode(array((1 to 5).map(k =>
            struct(lit(k.toLong).as("lag"),
              round(col(s"r$k"), 6).as("acf"),
              round(col(s"p_${k}_$k"), 6).as("pacf"))): _*)).as("s"))
          .select(col("s.lag"), col("s.acf"), col("s.pacf"))
          .orderBy("lag")
      },
      Some {
        val stages = Corpus10.dlStages
        // one CTE per stage, each carrying all prior columns forward
        val base = """daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS c FROM events GROUP BY 1),
          |t AS (SELECT count(*) AS n, sum(c) AS tt FROM daily),
          |z AS (SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i, n * c - tt AS dev FROM daily, t),
          |den AS (SELECT sum(dev * dev) AS dd FROM z),
          |k AS (SELECT unnest(generate_series(1, 5)) AS lg),
          |num AS (SELECT CAST(lg AS BIGINT) AS lg, sum(a.dev * b.dev) AS nm
          |FROM k, z a JOIN z b ON b.i = a.i + lg GROUP BY 1),
          |acf AS (SELECT
          |max(CASE WHEN lg = 1 THEN CAST(nm AS DOUBLE) / dd END) AS r1,
          |max(CASE WHEN lg = 2 THEN CAST(nm AS DOUBLE) / dd END) AS r2,
          |max(CASE WHEN lg = 3 THEN CAST(nm AS DOUBLE) / dd END) AS r3,
          |max(CASE WHEN lg = 4 THEN CAST(nm AS DOUBLE) / dd END) AS r4,
          |max(CASE WHEN lg = 5 THEN CAST(nm AS DOUBLE) / dd END) AS r5
          |FROM num, den)""".stripMargin.replace("\n", " ")
        val (ctes, _) = stages.foldLeft((Seq.empty[String], "acf" -> Seq("r1", "r2", "r3", "r4", "r5"))) {
          case ((acc, (prev, cols)), (name, ex)) =>
            val cte = s"s_$name AS (SELECT ${cols.mkString(", ")}, $ex AS $name FROM $prev)"
            (acc :+ cte, s"s_$name" -> (cols :+ name))
        }
        val last = s"s_${stages.last._1}"
        val rows = (1 to 5).map(k =>
          s"SELECT CAST($k AS BIGINT) AS lag, round(r$k, 6) AS acf, round(p_${k}_$k, 6) AS pacf FROM $last")
          .mkString(" UNION ALL ")
        s"WITH $base, ${ctes.mkString(", ")} $rows ORDER BY lag"
      })) ++ Seq(vopt, srm, haar, lfAnalysis, lshAudit, friedman, kruskal, rbo, kappa,
        lorenz, atkinson, gumbel, cvar, partialCorr, icc)

  private val vopt: QueryDef = {
    val B = 4
    QueryDef(
      "q239_voptimal_histogram",
      // V-OPTIMAL HISTOGRAM (Jagadish et al., VLDB 1998) — the
      // error-optimal partner to q151's equi-depth buckets: exact DP
      // over the VALUE DOMAIN of l_quantity (≤50 points with weights)
      // for B=4 buckets minimizing total within-bucket SSE. Layer k's
      // candidates are domain² pairs (never corpus-sized); SSE comes
      // from exact integer prefix sums ((Σcv², Σcv, Σc) differences,
      // one float expression per candidate); argmin ties break on the
      // earliest cut, so the plan is unique on both engines. The
      // backtrack re-joins the layer tables, and each bucket row
      // publishes its value range, row count, and SSE.
      (s, dir) => {
        def sseP(a: String, b: String) =
          (col(s"$b.pss") - col(s"$a.pss")).cast("double") -
            (col(s"$b.ps") - col(s"$a.ps")).cast("double") * (col(s"$b.ps") - col(s"$a.ps")) /
            (col(s"$b.pc") - col(s"$a.pc"))
        val w = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
        val pre = Tables.lineitem(s, dir)
          .groupBy(expr("CAST(round(l_quantity) AS BIGINT)").as("v"))
          .agg(count(lit(1)).as("c"))
          .withColumn("i", row_number().over(Window.orderBy("v")).cast("long"))
          .select(col("i"), col("v"), col("c"),
            sum("c").over(w).as("pc"),
            sum(col("c") * col("v")).over(w).as("ps"),
            sum(col("c") * col("v") * col("v")).over(w).as("pss"))
          .localCheckpoint()
        val layers = new Array[org.apache.spark.sql.DataFrame](B + 1)
        layers(1) = pre.select(col("i").as("j"),
          (col("pss").cast("double") - col("ps").cast("double") * col("ps") / col("pc")).as("cost"),
          lit(0L).as("cut"))
        for (k <- 2 to B) {
          layers(k) = pre.as("b")
            .join(layers(k - 1).as("a"), col("a.j") >= (k - 1) && col("a.j") < col("b.i"))
            .join(pre.as("p"), col("p.i") === col("a.j"))
            .select(col("b.i").as("j"), (col("a.cost") + sseP("p", "b")).as("cost"),
              col("a.j").as("cut"))
            .withColumn("rn", row_number().over(
              Window.partitionBy("j").orderBy("cost", "cut")))
            .where(col("rn") === 1).drop("rn")
        }
        val nmax = pre.agg(max("i").as("n"))
        val cuts = new Array[org.apache.spark.sql.DataFrame](B + 1)
        cuts(B) = layers(B).join(broadcast(nmax), col("j") === col("n"))
          .select(col("j").as("hi"), col("cut").as("lo"))
        for (k <- (B - 1) to 1 by -1)
          cuts(k) = layers(k).join(cuts(k + 1).select(col("lo").as("nlo")),
              col("j") === col("nlo"))
            .select(col("j").as("hi"), col("cut").as("lo"))
        val bk = (1 to B).map(k => cuts(k).select(lit(k.toLong).as("bucket"),
          (col("lo") + 1).as("ilo"), col("hi").as("ihi"))).reduce(_ unionByName _)
        bk.join(pre.select(col("i").as("ilo"), col("v").as("lo_value")), "ilo")
          .join(pre.select(col("i").as("ihi"), col("v").as("hi_value"),
            col("pc").as("hpc"), col("ps").as("hps"), col("pss").as("hpss")), "ihi")
          .join(pre.select((col("i") + 1).as("ilo"), col("pc").as("lpc"),
            col("ps").as("lps"), col("pss").as("lpss")), Seq("ilo"), "left")
          .select(col("bucket"), col("lo_value"), col("hi_value"),
            (col("hpc") - coalesce(col("lpc"), lit(0L))).as("n_rows"),
            round((col("hpss") - coalesce(col("lpss"), lit(0L))).cast("double") -
              (col("hps") - coalesce(col("lps"), lit(0L))).cast("double") *
              (col("hps") - coalesce(col("lps"), lit(0L))) /
              (col("hpc") - coalesce(col("lpc"), lit(0L))), 4).as("sse"))
          .orderBy("bucket")
      },
      Some {
        def sse(a: String, b: String) =
          s"(CAST($b.pss - $a.pss AS DOUBLE) - CAST($b.ps - $a.ps AS DOUBLE) * ($b.ps - $a.ps) / ($b.pc - $a.pc))"
        val base = """pts AS (SELECT CAST(round(l_quantity) AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS c
          |FROM lineitem GROUP BY 1),
          |ix AS (SELECT v, c, CAST(row_number() OVER (ORDER BY v) AS BIGINT) AS i FROM pts),
          |pre AS (SELECT i, v, c,
          |CAST(sum(c) OVER (ORDER BY i) AS BIGINT) AS pc,
          |CAST(sum(c * v) OVER (ORDER BY i) AS BIGINT) AS ps,
          |CAST(sum(c * v * v) OVER (ORDER BY i) AS BIGINT) AS pss
          |FROM ix)""".stripMargin.replace("\n", " ")
        val l1 = "l1 AS (SELECT i AS j, (CAST(pss AS DOUBLE) - CAST(ps AS DOUBLE) * ps / pc) AS cost, CAST(0 AS BIGINT) AS cut FROM pre)"
        val lks = (2 to B).map { k =>
          s"""l$k AS (SELECT j, cost, cut FROM (SELECT b.i AS j,
             |a.cost + ${sse("p", "b")} AS cost, a.j AS cut,
             |row_number() OVER (PARTITION BY b.i ORDER BY a.cost + ${sse("p", "b")}, a.j) AS rn
             |FROM pre b JOIN l${k - 1} a ON a.j >= ${k - 1} AND a.j < b.i
             |JOIN pre p ON p.i = a.j) z WHERE rn = 1)""".stripMargin.replace("\n", " ")
        }
        val back = Seq(
          "nmax AS (SELECT max(i) AS n FROM pre)",
          s"c$B AS (SELECT l$B.j AS hi, l$B.cut AS lo FROM l$B, nmax WHERE l$B.j = nmax.n)") ++
          ((B - 1) to 1 by -1).map(k =>
            s"c$k AS (SELECT l$k.j AS hi, l$k.cut AS lo FROM l$k JOIN c${k + 1} ON l$k.j = c${k + 1}.lo)")
        val bk = (1 to B).map(k =>
          s"SELECT CAST($k AS BIGINT) AS bucket, lo + 1 AS ilo, hi AS ihi FROM c$k").mkString(" UNION ALL ")
        s"""WITH $base, $l1, ${lks.mkString(", ")}, ${back.mkString(", ")},
           |bk AS ($bk)
           |SELECT bk.bucket, plo.v AS lo_value, phi.v AS hi_value,
           |CAST(phi.pc - coalesce(pl0.pc, 0) AS BIGINT) AS n_rows,
           |round(CAST(phi.pss - coalesce(pl0.pss, 0) AS DOUBLE)
           |- CAST(phi.ps - coalesce(pl0.ps, 0) AS DOUBLE) * (phi.ps - coalesce(pl0.ps, 0)) / (phi.pc - coalesce(pl0.pc, 0)), 4) AS sse
           |FROM bk JOIN pre plo ON plo.i = bk.ilo JOIN pre phi ON phi.i = bk.ihi
           |LEFT JOIN pre pl0 ON pl0.i = bk.ilo - 1
           |ORDER BY bk.bucket""".stripMargin.replace("\n", " ")
      })
  }

  private val srm: QueryDef = QueryDef(
    "q240_srm_guard",
    // SAMPLE-RATIO-MISMATCH GUARD — the first thing an experiment
    // platform checks before reading q174's CUPED numbers: are the
    // md5 arms actually 50/50? One-dof χ² = (n_A − n_B)²/(n_A + n_B)
    // over exact per-user arm counts, flagged at the 95% critical
    // value 3.841 (pinned literal, q199's discipline).
    (s, dir) => {
      val arm = "CASE WHEN CAST(conv(substr(md5(concat('x#', CAST(user_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END"
      Tables.events(s, dir).select(col("user_id")).distinct()
        .select(expr(arm).as("arm"))
        .agg(sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"))
        .select(col("n_a"), col("n_b"),
          round((col("n_a") - col("n_b")).cast("double") * (col("n_a") - col("n_b")) /
            (col("n_a") + col("n_b")), 6).as("chi2"),
          ((col("n_a") - col("n_b")).cast("double") * (col("n_a") - col("n_b")) /
            (col("n_a") + col("n_b")) > 3.841).as("srm_flag"))
    },
    Some(("""WITH u AS (SELECT DISTINCT user_id FROM events),
           |a AS (SELECT CASE WHEN %ARMH% %% 2 = 0 THEN 'A' ELSE 'B' END AS arm FROM u),
           |c AS (SELECT CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           |CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b FROM a)
           |SELECT n_a, n_b,
           |round(CAST(n_a - n_b AS DOUBLE) * (n_a - n_b) / (n_a + n_b), 6) AS chi2,
           |CAST(n_a - n_b AS DOUBLE) * (n_a - n_b) / (n_a + n_b) > 3.841 AS srm_flag
           |FROM c""".stripMargin.replace("\n", " ")
      .replace("%ARMH%", Corpus.hexFoldDuck(
        "substr(md5('x#' || CAST(user_id AS VARCHAR)), 1, 15)", 15))
      .replace("%%", "%"))))

  private val partialCorr: QueryDef = QueryDef(
    "q252_partial_correlation",
    // PARTIAL CORRELATION — every pair among (quantity, discount,
    // tax) CONTROLLING for extendedprice: r_xy·z = (r_xy − r_xz·r_yz)
    // / √((1−r_xz²)(1−r_yz²)), all r's from q210's one 15-sum
    // DECIMAL(38,0) moment pass (the q217 scalar-chain discipline:
    // every engine-side expression is the same text). The "is the
    // raw correlation just a shared driver?" readout.
    (s, dir) => {
      val keys = Seq("quantity" -> "l_quantity", "extendedprice" -> "l_extendedprice",
        "discount" -> "l_discount", "tax" -> "l_tax")
      val k = keys.size
      val c = Tables.lineitem(s, dir).select(keys.map { case (kk, src) =>
        expr(s"CAST(round($src * 100) AS BIGINT)").as(kk)
      }: _*)
      val sums = Seq(count(lit(1)).as("n")) ++
        keys.map { case (kk, _) => sum(col(kk).cast("decimal(38,0)")).as(s"s_$kk") } ++
        (for (i <- 0 until k; j <- i until k) yield {
          val (a, b) = (keys(i)._1, keys(j)._1)
          sum((col(a) * col(b)).cast("decimal(38,0)")).as(s"s_${a}_$b")
        })
      val m = c.agg(sums.head, sums.tail: _*)
      def rr(x: String, y: String) = {
        val (a, b) = if (keys.indexWhere(_._1 == x) <= keys.indexWhere(_._1 == y)) (x, y) else (y, x)
        val num = (col("n") * col(s"s_${a}_$b") - col(s"s_$a") * col(s"s_$b")).cast("double")
        val dx = (col("n") * col(s"s_${a}_$a") - col(s"s_$a") * col(s"s_$a")).cast("double")
        val dy = (col("n") * col(s"s_${b}_$b") - col(s"s_$b") * col(s"s_$b")).cast("double")
        num / (sqrt(dx) * sqrt(dy))
      }
      val z = "extendedprice"
      val ps = Seq("quantity", "discount", "tax")
      val rows = (for (i <- ps.indices; j <- (i + 1) until ps.size) yield {
        val (x, y) = (ps(i), ps(j))
        val rxy = rr(x, y); val rxz = rr(x, z); val ryz = rr(y, z)
        struct(lit(x).as("col_x"), lit(y).as("col_y"),
          round(rxy, 6).as("r_raw"),
          round((rxy - rxz * ryz) /
            (sqrt(lit(1.0) - rxz * rxz) * sqrt(lit(1.0) - ryz * ryz)), 6).as("r_partial"))
      })
      m.select(explode(array(rows: _*)).as("p"))
        .select(col("p.col_x"), col("p.col_y"), col("p.r_raw"), col("p.r_partial"))
        .orderBy("col_x", "col_y")
    },
    Some({
      val ks = Seq("quantity" -> "l_quantity", "extendedprice" -> "l_extendedprice",
        "discount" -> "l_discount", "tax" -> "l_tax")
      val cents = ks.map { case (kk, src) => s"CAST(round($src * 100) AS BIGINT) AS $kk" }.mkString(", ")
      val moms = (ks.map { case (kk, _) => s"sum($kk) AS s_$kk" } ++
        (for (i <- ks.indices; j <- i until ks.size)
          yield s"sum(${ks(i)._1} * ${ks(j)._1}) AS s_${ks(i)._1}_${ks(j)._1}")).mkString(", ")
      def rr(x: String, y: String) = {
        val (a, b) = if (ks.indexWhere(_._1 == x) <= ks.indexWhere(_._1 == y)) (x, y) else (y, x)
        s"""(CAST(n * s_${a}_$b - s_$a * s_$b AS DOUBLE)
           |/ (sqrt(CAST(n * s_${a}_$a - s_$a * s_$a AS DOUBLE))
           |* sqrt(CAST(n * s_${b}_$b - s_$b * s_$b AS DOUBLE))))""".stripMargin.replace("\n", " ")
      }
      val z = "extendedprice"
      val ps = Seq("quantity", "discount", "tax")
      val rows = (for (i <- ps.indices; j <- (i + 1) until ps.size) yield {
        val (x, y) = (ps(i), ps(j))
        s"""SELECT '$x' AS col_x, '$y' AS col_y,
           |round(${rr(x, y)}, 6) AS r_raw,
           |round((${rr(x, y)} - ${rr(x, z)} * ${rr(y, z)}) /
           |(sqrt(1.0 - ${rr(x, z)} * ${rr(x, z)}) * sqrt(1.0 - ${rr(y, z)} * ${rr(y, z)})), 6) AS r_partial
           |FROM m""".stripMargin.replace("\n", " ")
      }).mkString(" UNION ALL ")
      s"""WITH c AS (SELECT $cents FROM lineitem),
         |m AS (SELECT count(*) AS n, $moms FROM c)
         |$rows ORDER BY col_x, col_y""".stripMargin.replace("\n", " ")
    }))

  private val icc: QueryDef = QueryDef(
    "q253_intraclass_correlation",
    // INTRACLASS CORRELATION ICC(1) (one-way random effects; Shrout-
    // Fleiss 1979) of doc length within sources: from q211's exact
    // mean squares, ICC = (MSB − MSW)/(MSB + (n₀−1)·MSW) with the
    // unequal-group-size n₀ = (N − Σn²/N)/(k−1) correction — "how
    // much of length variance is the SOURCE?" (the design-effect
    // input for q220's allocations). All reductions are source-
    // ordered k-term folds over exact integer moments.
    (s, dir) => {
      val g = Tables.documents(s, dir).groupBy("source").agg(
        count(lit(1)).as("nh"), sum("n_chars").as("sv"),
        sum(col("n_chars") * col("n_chars")).as("ss"))
      g.agg(
          sum("nh").as("nn"), sum("sv").as("st"), sum("ss").as("sst"),
          count(lit(1)).as("k"),
          sum(col("nh") * col("nh")).as("sn2"),
          orderedSum(col("sv").cast("double") * col("sv").cast("double") / col("nh").cast("double"),
            col("source")).as("sgg"))
        .withColumn("ssb", col("sgg") - col("st").cast("double") * col("st") / col("nn"))
        .withColumn("ssw", col("sst").cast("double") - col("sgg"))
        .withColumn("msb", col("ssb") / (col("k") - 1))
        .withColumn("msw", col("ssw") / (col("nn") - col("k")))
        .withColumn("n0", (col("nn").cast("double") - col("sn2").cast("double") / col("nn")) / (col("k") - 1))
        .select(col("k").as("n_groups"), col("nn").as("n"),
          round(col("msb"), 4).as("ms_between"),
          round(col("msw"), 4).as("ms_within"),
          round(col("n0"), 4).as("n0"),
          round((col("msb") - col("msw")) / (col("msb") + (col("n0") - 1) * col("msw")), 6).as("icc1"))
    },
    Some("""WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS nh,
           |CAST(sum(n_chars) AS BIGINT) AS sv, CAST(sum(n_chars * n_chars) AS BIGINT) AS ss
           |FROM documents GROUP BY source),
           |t AS (SELECT CAST(sum(nh) AS BIGINT) AS nn, CAST(sum(sv) AS BIGINT) AS st,
           |CAST(sum(ss) AS BIGINT) AS sst, CAST(count(*) AS BIGINT) AS k,
           |CAST(sum(nh * nh) AS BIGINT) AS sn2,
           |sum(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(nh AS DOUBLE) ORDER BY source) AS sgg FROM g),
           |s AS (SELECT k, nn, sn2,
           |(sgg - CAST(st AS DOUBLE) * st / nn) / (k - 1) AS msb,
           |(CAST(sst AS DOUBLE) - sgg) / (nn - k) AS msw,
           |(CAST(nn AS DOUBLE) - CAST(sn2 AS DOUBLE) / nn) / (k - 1) AS n0 FROM t)
           |SELECT k AS n_groups, nn AS n,
           |round(msb, 4) AS ms_between, round(msw, 4) AS ms_within, round(n0, 4) AS n0,
           |round((msb - msw) / (msb + (n0 - 1) * msw), 6) AS icc1
           |FROM s""".stripMargin.replace("\n", " ")))

  private val gumbel: QueryDef = {
    // Euler-Mascheroni γ and √6/π as pinned literals (q199 discipline).
    val g = "0.5772156649015329"
    val s6pi = "0.7796968012336293"
    QueryDef(
      "q250_gumbel_return_level",
      // GUMBEL BLOCK-MAXIMA FIT (Gumbel 1958, method of moments) on
      // daily maximum purchase cents: β = √6/π·s, μ = m − γβ from the
      // exact integer block-maxima moments (sample sd via n−1), and
      // the 100-day return level μ − β·ln(−ln(1 − 1/100)) — the
      // capacity-planning tail readout ("what daily max should we
      // provision for?"). Constants are pinned literals; everything
      // else is one float expression over exact integers.
      (s, dir) => {
        val bm = Tables.events(s, dir)
          .where(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(max(expr("CAST(round(value * 100) AS BIGINT)")).as("mx"))
        bm.agg(count(lit(1)).as("n"), sum("mx").as("s1"),
            sum(col("mx") * col("mx")).as("s2"))
          .withColumn("mean", col("s1").cast("double") / col("n"))
          .withColumn("sd", sqrt((col("s2").cast("double") -
            col("s1").cast("double") * col("s1") / col("n")) / (col("n") - 1)))
          .withColumn("beta", expr(s"$s6pi * sd"))
          .withColumn("mu", expr(s"mean - $g * ($s6pi * sd)"))
          .select(col("n").as("n_blocks"),
            round(col("mean") / 100.0, 4).as("mean_daily_max"),
            round(col("mu") / 100.0, 4).as("gumbel_mu"),
            round(col("beta") / 100.0, 4).as("gumbel_beta"),
            round((col("mu") - col("beta") * log(-log(lit(1.0) - lit(1.0) / 100))) / 100.0, 4)
              .as("return_level_100d"))
      },
      Some(s"""WITH bm AS (SELECT CAST(ts AS DATE) AS day,
              |CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mx
              |FROM events WHERE event_type = 'purchase' GROUP BY 1),
              |m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(mx) AS BIGINT) AS s1,
              |CAST(sum(mx * mx) AS BIGINT) AS s2 FROM bm),
              |p AS (SELECT n, CAST(s1 AS DOUBLE) / n AS mean,
              |sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)) AS sd FROM m),
              |fit AS (SELECT n, mean, sd, $s6pi * sd AS beta, mean - $g * ($s6pi * sd) AS mu FROM p)
              |SELECT n AS n_blocks, round(mean / 100.0, 4) AS mean_daily_max,
              |round(mu / 100.0, 4) AS gumbel_mu, round(beta / 100.0, 4) AS gumbel_beta,
              |round((mu - beta * ln(-ln(1.0 - 1.0 / 100))) / 100.0, 4) AS return_level_100d
              |FROM fit""".stripMargin.replace("\n", " ")))
  }

  private val cvar: QueryDef = QueryDef(
    "q251_cvar",
    // VALUE AT RISK + CONDITIONAL VaR (Rockafellar-Uryasev 2000) of
    // purchase value at 95%: VaR from the proven percentile ≡
    // quantile_cont pair; CVaR by the exact atom-splitting formula
    // CVaR = (Σ_{v>VaR} v + (n·0.05 − n_tail)·VaR)/(n·0.05) — the
    // strictly-above tail sum is an exact integer (q203's
    // count×boundary + interior-sum discipline), so the boundary
    // atom's partial mass never turns into an order-dependent float
    // accumulation.
    (s, dir) => {
      val c = Tables.events(s, dir).where(col("event_type") === "purchase")
        .select(expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      val pv = c.agg(expr("percentile(CAST(v AS DOUBLE), 0.95D)").as("var95"))
      val t = c.crossJoin(broadcast(pv)).where(col("v") > col("var95"))
        .agg(count(lit(1)).as("nt"), sum("v").as("st"))
      val nn = c.agg(count(lit(1)).as("n"))
      nn.crossJoin(broadcast(pv)).crossJoin(broadcast(t))
        .select(col("n"),
          round(col("var95") / 100.0, 4).as("var_95"),
          col("nt").as("n_tail"),
          round((col("st").cast("double") + (col("n").cast("double") * 0.05 - col("nt")) * col("var95"))
            / (col("n").cast("double") * 0.05) / 100.0, 4).as("cvar_95"))
    },
    Some("""WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS v
           |FROM events WHERE event_type = 'purchase'),
           |pv AS (SELECT quantile_cont(CAST(v AS DOUBLE), 0.95) AS var95 FROM c),
           |t AS (SELECT CAST(count(*) AS BIGINT) AS nt, CAST(sum(c.v) AS BIGINT) AS st
           |FROM c, pv WHERE c.v > pv.var95),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c)
           |SELECT nn.n, round(pv.var95 / 100.0, 4) AS var_95, t.nt AS n_tail,
           |round((CAST(t.st AS DOUBLE) + (CAST(nn.n AS DOUBLE) * 0.05 - t.nt) * pv.var95)
           |/ (CAST(nn.n AS DOUBLE) * 0.05) / 100.0, 4) AS cvar_95
           |FROM nn, pv, t""".stripMargin.replace("\n", " ")))

  private val lorenz: QueryDef = QueryDef(
    "q248_lorenz_curve",
    // LORENZ CURVE of order value at decile points — the curve whose
    // area q186's Gini summarizes: cum_share(d) = value held by the
    // poorest ⌈d·n/10⌉ orders, from exact integer prefix sums on the
    // value-count table, interpolating inside the boundary value's
    // tied block with integer arithmetic (one float division per
    // point). Monotone convex by construction; the d=10 point is
    // exactly 1.
    (s, dir) => {
      val g = Tables.orders(s, dir)
        .groupBy(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
        .agg(count(lit(1)).as("n"))
      // 100 TB path: the value-count table is near-continuous at scale,
      // so `sum OVER (ORDER BY v)` would funnel it through ONE task.
      // Both prefix sums route through Indexing.globalPrefixSums — one
      // range exchange + #partitions-row offsets, every window
      // partitioned (PlanShapeSpec pins it).
      val p = Indexing.globalPrefixSums(g, Seq(col("v")),
        Seq((col("n"), "cn"), (col("n") * col("v"), "cs")))
        .localCheckpoint()
      val tot = g.agg(sum("n").as("nn"), sum(col("n") * col("v")).as("ss"))
      val d = s.range(1, 11).select(col("id").as("d"))
      val bnd = d.crossJoin(broadcast(tot))
        .select(col("d"), expr("(d * nn + 9) div 10").as("kk"), col("ss"))
      val below = bnd.join(p, p("cn") <= bnd("kk"), "left")
        .groupBy("d", "kk", "ss")
        .agg(max("cs").as("cs_below"), max("cn").as("cn_below"))
      val nxt = bnd.select(col("d").as("d2"), col("kk").as("k2"))
        .join(p, p("cn") > col("k2"))
        .groupBy("d2").agg(min("v").as("vnext"))
      below.join(nxt, col("d") === col("d2"), "left")
        .select(col("d"), col("kk").as("k_units"),
          round((coalesce(col("cs_below"), lit(0L)) +
            (col("kk") - coalesce(col("cn_below"), lit(0L))) * coalesce(col("vnext"), lit(0L)))
            .cast("double") / col("ss"), 6).as("cum_share"))
        .orderBy("d")
    },
    Some("""WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
           |g AS (SELECT v, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY v),
           |p AS (SELECT v, n, CAST(sum(n) OVER (ORDER BY v) AS BIGINT) AS cn,
           |CAST(sum(n * v) OVER (ORDER BY v) AS BIGINT) AS cs FROM g),
           |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(n * v) AS BIGINT) AS ss FROM g),
           |d AS (SELECT unnest(generate_series(1, 10)) AS d),
           |bnd AS (SELECT CAST(d.d AS BIGINT) AS d, (d.d * tot.nn + 9) // 10 AS kk, tot.ss FROM d, tot),
           |lo AS (SELECT bnd.d, bnd.kk, bnd.ss,
           |(SELECT max(cs) FROM p WHERE p.cn <= bnd.kk) AS cs_below,
           |(SELECT max(cn) FROM p WHERE p.cn <= bnd.kk) AS cn_below,
           |(SELECT min(v) FROM p WHERE p.cn > bnd.kk) AS vnext FROM bnd)
           |SELECT d, CAST(kk AS BIGINT) AS k_units,
           |round((coalesce(cs_below, 0) + (kk - coalesce(cn_below, 0)) * coalesce(vnext, 0)) * 1.0 / ss, 6) AS cum_share
           |FROM lo ORDER BY d""".stripMargin.replace("\n", " ")))

  private val atkinson: QueryDef = QueryDef(
    "q249_atkinson_index",
    // ATKINSON INEQUALITY INDEX (ε = 1) of doc length per the whole
    // corpus: A = 1 − geomean/mean, with the geometric mean's ln-sum
    // folded over the VALUE-DOMAIN count table in value order
    // (Σ c·ln v — ≤|domain| float terms, q212's bound) and the
    // arithmetic mean exact. The welfare-weighted complement to
    // q186's Gini — A ∈ [0, 1), 0 iff perfectly equal.
    (s, dir) => {
      val g = Tables.documents(s, dir)
        .groupBy(col("n_chars").as("v")).agg(count(lit(1)).as("n"))
      val m = g.agg(sum("n").as("nn"), sum(col("n") * col("v")).as("ss"),
        orderedSum(expr("n * ln(CAST(v AS DOUBLE))"), col("v")).as("slog"))
      m.select(col("nn").as("n"),
        round(col("ss").cast("double") / col("nn"), 4).as("mean_chars"),
        round(exp(col("slog") / col("nn")), 4).as("geomean_chars"),
        round(lit(1.0) - exp(col("slog") / col("nn")) /
          (col("ss").cast("double") / col("nn")), 6).as("atkinson_eps1"))
    },
    Some("""WITH g AS (SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS n
           |FROM documents GROUP BY n_chars),
           |m AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(n * v) AS BIGINT) AS ss,
           |sum(n * ln(CAST(v AS DOUBLE)) ORDER BY v) AS slog FROM g)
           |SELECT nn AS n,
           |round(CAST(ss AS DOUBLE) / nn, 4) AS mean_chars,
           |round(exp(slog / nn), 4) AS geomean_chars,
           |round(1.0 - exp(slog / nn) / (CAST(ss AS DOUBLE) / nn), 6) AS atkinson_eps1
           |FROM m""".stripMargin.replace("\n", " ")))

  private val rbo: QueryDef = {
    // p^(d−1) weights and (1−p) as PINNED literals (the q199 Benford
    // discipline — runtime pow() could differ in the last ulp between
    // the JVM and DuckDB libm; Double.toString round-trips exactly in
    // both parsers).
    val depths = (1 to 20).map(d => (d.toLong, math.pow(0.9, d - 1)))
    val oneMinusP = (1.0 - 0.9).toString
    QueryDef(
      "q246_rank_biased_overlap",
      // RANK-BIASED OVERLAP (Webber et al., TOIS 2010) between the
      // first-half and second-half top-20 token rankings — the
      // top-weighted list-similarity metric for "did the vocabulary's
      // head drift between epochs?" (q185/q230 measure distribution
      // drift; RBO measures RANKING drift, which a search or
      // tokenizer cache cares about). Truncated-at-20 form:
      // RBO = (1−p)·Σ p^(d−1)·|S₁..d ∩ T₁..d|/d; the depth-overlap
      // table comes from one join on max(rank_a, rank_b), the 20-term
      // reduction folds in depth order.
      (s, dir) => {
        val mx = Tables.documents(s, dir).agg(((max("doc_id") + 1) / 2).cast("long").as("mid"))
        val tok = Tables.documents(s, dir).crossJoin(broadcast(mx))
          .select(when(col("doc_id") < col("mid"), "a").otherwise("b").as("half"),
            explode(expr(toksExpr)).as("w"))
        val tf = tok.groupBy("half", "w").agg(count(lit(1)).as("f"))
        def top(h: String) = tf.where(col("half") === h)
          .orderBy(desc("f"), col("w")).limit(20)
          .withColumn("r", row_number().over(Window.orderBy(desc("f"), col("w"))))
          .select(col("w"), col("r"))
        val j = top("a").withColumnRenamed("r", "ra")
          .join(top("b").withColumnRenamed("r", "rb"), "w")
          .select(greatest(col("ra"), col("rb")).as("m"))
        import s.implicits._
        val dTab = depths.toDF("d", "wt")
        val ag = dTab.join(j, col("m") <= col("d"), "left")
          .groupBy("d", "wt").agg(count(col("m")).as("ov"))
        val nShared = j.agg(count(lit(1)).as("n_shared"))
        val ov20 = j.agg((count(lit(1)) / 20.0).as("overlap_at_20"))
        ag.agg(round(expr(oneMinusP) * orderedSum(expr("wt * ov / d"), col("d")), 6).as("rbo"))
          .select(lit(20L).as("depth"), col("rbo"))
          .crossJoin(broadcast(nShared)).crossJoin(broadcast(ov20))
          .select(col("depth"), col("rbo"), col("n_shared"),
            round(col("overlap_at_20"), 4).as("overlap_at_20"))
      },
      Some {
        val vals = depths.map { case (d, w) => s"($d, $w)" }.mkString(", ")
        s"""WITH mx AS (SELECT (max(doc_id) + 1) // 2 AS mid FROM documents),
           |tok AS (SELECT CASE WHEN doc_id < mx.mid THEN 'a' ELSE 'b' END AS half, unnest($toksDuck) AS w
           |FROM documents, mx),
           |tf AS (SELECT half, w, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY 1, 2),
           |ra AS (SELECT w, row_number() OVER (ORDER BY f DESC, w) AS r FROM tf WHERE half = 'a'
           |ORDER BY f DESC, w LIMIT 20),
           |rb AS (SELECT w, row_number() OVER (ORDER BY f DESC, w) AS r FROM tf WHERE half = 'b'
           |ORDER BY f DESC, w LIMIT 20),
           |j AS (SELECT greatest(ra.r, rb.r) AS m FROM ra JOIN rb ON ra.w = rb.w),
           |d AS (SELECT * FROM (VALUES $vals) AS t(d, wt)),
           |ag AS (SELECT d.d, d.wt, CAST((SELECT count(*) FROM j WHERE j.m <= d.d) AS BIGINT) AS ov FROM d)
           |SELECT CAST(20 AS BIGINT) AS depth,
           |round($oneMinusP * sum(wt * ov / d ORDER BY d), 6) AS rbo,
           |CAST((SELECT count(*) FROM j) AS BIGINT) AS n_shared,
           |round((SELECT count(*) FROM j WHERE m <= 20) / 20.0, 4) AS overlap_at_20
           |FROM ag""".stripMargin.replace("\n", " ")
      })
  }

  private val kappa: QueryDef = QueryDef(
    "q247_cohens_kappa",
    // COHEN'S κ between q182's length and stopword labeling
    // functions over the 3-category vote space {−1, 0, +1} — the
    // chance-corrected inter-rater agreement that q242's raw
    // agreement rate overstates when marginals are skewed (here
    // lf_stop abstains on most docs, so expected agreement is high
    // and κ is the honest number). p_o and p_e come from exact
    // integer cell and marginal counts; κ is one float expression.
    (s, dir) => {
      val stops = Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for")
      val stopArr = stops.map("'" + _ + "'").mkString(",")
      val lf = Tables.documents(s, dir)
        .withColumn("toks", expr(toksExpr))
        .select(
          when(col("n_chars") >= 300, 1).when(col("n_chars") < 80, -1).otherwise(0).as("a"),
          when(size(col("toks")) === 0, 0)
            .when(expr(s"size(filter(toks, x -> array_contains(array($stopArr), x)))").cast("double")
              / size(col("toks")) >= 0.15, 1)
            .when(expr(s"size(filter(toks, x -> array_contains(array($stopArr), x)))") === 0, -1)
            .otherwise(0).as("b"))
      val cell = lf.groupBy("a", "b").agg(count(lit(1)).as("n"))
      val tot = cell.agg(sum("n").as("nn"),
        sum(when(col("a") === col("b"), col("n")).otherwise(0L)).as("agree"))
      val ma = cell.groupBy("a").agg(sum("n").as("na"))
      val mb = cell.groupBy(col("b").as("a")).agg(sum("n").as("nb"))
      val pe = ma.join(mb, Seq("a"), "full_outer")
        .select((coalesce(col("na"), lit(0L)) * coalesce(col("nb"), lit(0L))).as("prod"),
          col("a"))
        .agg(orderedSum(col("prod").cast("double"), col("a")).as("pesum"))
      tot.crossJoin(broadcast(pe))
        .select(col("nn").as("n"), col("agree"),
          round(col("agree").cast("double") / col("nn"), 4).as("p_o"),
          round(col("pesum") / (col("nn").cast("double") * col("nn")), 4).as("p_e"),
          round((col("agree").cast("double") / col("nn") - col("pesum") / (col("nn").cast("double") * col("nn"))) /
            (lit(1.0) - col("pesum") / (col("nn").cast("double") * col("nn"))), 6).as("kappa"))
    },
    Some(s"""WITH t AS (SELECT n_chars, $toksDuck AS toks FROM documents),
            |lf AS (SELECT
            |CASE WHEN n_chars >= 300 THEN 1 WHEN n_chars < 80 THEN -1 ELSE 0 END AS a,
            |CASE WHEN len(toks) = 0 THEN 0
            |WHEN CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','that','it','for'], x))) AS DOUBLE) / len(toks) >= 0.15 THEN 1
            |WHEN len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','that','it','for'], x))) = 0 THEN -1
            |ELSE 0 END AS b FROM t),
            |cell AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM lf GROUP BY a, b),
            |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
            |CAST(sum(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT) AS agree FROM cell),
            |ma AS (SELECT a, CAST(sum(n) AS BIGINT) AS na FROM cell GROUP BY a),
            |mb AS (SELECT b AS a, CAST(sum(n) AS BIGINT) AS nb FROM cell GROUP BY b),
            |pe AS (SELECT sum(CAST(coalesce(ma.na, 0) * coalesce(mb.nb, 0) AS DOUBLE) ORDER BY coalesce(ma.a, mb.a)) AS pesum
            |FROM ma FULL OUTER JOIN mb ON mb.a = ma.a)
            |SELECT tot.nn AS n, tot.agree,
            |round(CAST(tot.agree AS DOUBLE) / tot.nn, 4) AS p_o,
            |round(pe.pesum / (CAST(tot.nn AS DOUBLE) * tot.nn), 4) AS p_e,
            |round((CAST(tot.agree AS DOUBLE) / tot.nn - pe.pesum / (CAST(tot.nn AS DOUBLE) * tot.nn)) /
            |(1.0 - pe.pesum / (CAST(tot.nn AS DOUBLE) * tot.nn)), 6) AS kappa
            |FROM tot, pe""".stripMargin.replace("\n", " ")))

  private val kruskal: QueryDef = QueryDef(
    "q245_kruskal_wallis",
    // KRUSKAL-WALLIS H (1952, tie-corrected) — the k-group
    // nonparametric one-way completing the rank-test family (q212
    // two-group, q244 blocked): doc length across all five languages.
    // Global midranks come exactly from the value-domain count table
    // (2r = 2·below + t + 1, q212's prefix), group rank sums are
    // exact integers (Σ c·2r), and H with the tie divisor is one
    // float expression whose k-term reduction folds in lang order.
    // Flagged at the pinned χ²₄ 95% critical value.
    (s, dir) => {
      val v = Tables.documents(s, dir)
        .groupBy(col("n_chars").as("x"), col("lang")).agg(count(lit(1)).as("c"))
      val tot = v.groupBy("x").agg(sum("c").as("t"))
      val w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
      val cum = tot.withColumn("below", coalesce(sum("t").over(w), lit(0L)))
      val r = v.join(broadcast(cum), "x")
        .select(col("lang"), col("c"), (lit(2L) * col("below") + col("t") + 1).as("q2"))
      val g = r.groupBy("lang").agg(sum("c").as("nj"), sum(col("c") * col("q2")).as("r2j"))
      val nn = g.agg(sum("nj").as("n"))
      val ti = tot.agg(sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
      val h = g.crossJoin(broadcast(nn)).crossJoin(broadcast(ti))
        .groupBy("n", "ties").agg(
          orderedSum(expr("(r2j / 2.0D) * (r2j / 2.0D) / nj"), col("lang")).as("sr"))
        .select(((lit(12.0) / (col("n").cast("double") * (col("n") + 1)) * col("sr") -
          lit(3.0) * (col("n") + 1)) /
          (lit(1.0) - col("ties").cast("double") /
            (col("n").cast("double") * col("n") * col("n") - col("n")))).as("hstat"))
      g.crossJoin(broadcast(h))
        .select(col("lang"), col("nj"),
          round(col("r2j") / 2.0 / col("nj"), 4).as("mean_rank"),
          round(col("hstat"), 4).as("kw_h"),
          (col("hstat") > 9.488).as("significant_95"))
        .orderBy("lang")
    },
    Some("""WITH v AS (SELECT n_chars AS x, lang, CAST(count(*) AS BIGINT) AS c
           |FROM documents GROUP BY 1, 2),
           |tot AS (SELECT x, CAST(sum(c) AS BIGINT) AS t FROM v GROUP BY x),
           |cum AS (SELECT x, t,
           |CAST(coalesce(sum(t) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below
           |FROM tot),
           |r AS (SELECT v.lang, v.c, cum.t, 2 * cum.below + cum.t + 1 AS q2 FROM v JOIN cum ON cum.x = v.x),
           |g AS (SELECT lang, CAST(sum(c) AS BIGINT) AS nj, CAST(sum(c * q2) AS BIGINT) AS r2j FROM r GROUP BY lang),
           |nn AS (SELECT CAST(sum(nj) AS BIGINT) AS n FROM g),
           |ti AS (SELECT CAST(sum(t * t * t - t) AS BIGINT) AS ties FROM tot),
           |h AS (SELECT nn.n,
           |(12.0 / (CAST(nn.n AS DOUBLE) * (nn.n + 1)) * sum((r2j / 2.0) * (r2j / 2.0) / nj ORDER BY g.lang) - 3.0 * (nn.n + 1))
           |/ (1.0 - CAST(ti.ties AS DOUBLE) / (CAST(nn.n AS DOUBLE) * nn.n * nn.n - nn.n)) AS hstat
           |FROM g, nn, ti GROUP BY nn.n, ti.ties)
           |SELECT g.lang, g.nj, round(g.r2j / 2.0 / g.nj, 4) AS mean_rank,
           |round(h.hstat, 4) AS kw_h, h.hstat > 9.488 AS significant_95
           |FROM g, h ORDER BY g.lang""".stripMargin.replace("\n", " ")))

  private val friedman: QueryDef = QueryDef(
    "q244_friedman_test",
    // FRIEDMAN TEST (Friedman 1937, tie-corrected) — the
    // nonparametric two-way companion to q211/q212: do the five event
    // types differ in daily volume once each DAY acts as its own
    // block? Within-block midranks stay integer in the doubled scale
    // (2r = 2·#smaller + #tied + 1, q212's trick, over k=5 rows per
    // block); rank sums and Σr² are exact integers; χ² is one float
    // expression with the 5-term deviation sum folded in type order.
    // Flagged at the pinned χ²₄ 95% critical value 9.488.
    (s, dir) => {
      val c = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type").as("t"))
        .agg(count(lit(1)).as("v"))
      val b = c.select(col("day").as("bday"), col("v").as("bv"))
      val r = c.join(b, col("day") === col("bday"))
        .groupBy("day", "t", "v")
        .agg((lit(2L) * sum(when(col("bv") < col("v"), 1L).otherwise(0L)) +
          sum(when(col("bv") === col("v"), 1L).otherwise(0L)) + 1).as("q"))
      val rs = r.groupBy("t").agg(sum("q").as("r2j"), count(lit(1)).as("n"))
      val qq = r.agg(sum(col("q") * col("q")).as("sq2"))
      val kk = rs.agg(count(lit(1)).as("k"), max("n").as("nb"))
      val stat = rs.crossJoin(broadcast(kk)).crossJoin(broadcast(qq))
        .groupBy("k", "nb", "sq2").agg(
          orderedSum(expr("(r2j / 2.0D - nb * (k + 1) / 2.0D) * (r2j / 2.0D - nb * (k + 1) / 2.0D)"),
            col("t")).as("devsum"))
        .select(((col("k") - 1) * col("devsum") /
          (col("sq2") / 4.0 - col("nb") * col("k") * (col("k") + 1) * (col("k") + 1) / 4.0)).as("chi2"))
      rs.crossJoin(broadcast(stat))
        .select(col("t").as("event_type"), col("n").as("n_blocks"),
          round(col("r2j") / 2.0, 1).as("rank_sum"),
          round(col("chi2"), 4).as("friedman_chi2"),
          (col("chi2") > 9.488).as("significant_95"))
        .orderBy("event_type")
    },
    Some("""WITH c AS (SELECT CAST(ts AS DATE) AS day, event_type AS t, CAST(count(*) AS BIGINT) AS v
           |FROM events GROUP BY 1, 2),
           |r AS (SELECT a.day, a.t,
           |CAST(2 * sum(CASE WHEN b.v < a.v THEN 1 ELSE 0 END) + sum(CASE WHEN b.v = a.v THEN 1 ELSE 0 END) + 1 AS BIGINT) AS q
           |FROM c a JOIN c b ON a.day = b.day GROUP BY a.day, a.t, a.v),
           |rs AS (SELECT t, CAST(sum(q) AS BIGINT) AS r2j, CAST(count(*) AS BIGINT) AS n FROM r GROUP BY t),
           |qq AS (SELECT CAST(sum(q * q) AS BIGINT) AS sq2 FROM r),
           |k AS (SELECT CAST(count(*) AS BIGINT) AS k, max(n) AS n FROM rs),
           |stat AS (SELECT k.k, k.n,
           |(k.k - 1) * sum((r2j / 2.0 - k.n * (k.k + 1) / 2.0) * (r2j / 2.0 - k.n * (k.k + 1) / 2.0) ORDER BY rs.t) /
           |(qq.sq2 / 4.0 - k.n * k.k * (k.k + 1) * (k.k + 1) / 4.0) AS chi2
           |FROM rs, k, qq GROUP BY k.k, k.n, qq.sq2)
           |SELECT rs.t AS event_type, rs.n AS n_blocks, round(rs.r2j / 2.0, 1) AS rank_sum,
           |round(stat.chi2, 4) AS friedman_chi2,
           |stat.chi2 > 9.488 AS significant_95
           |FROM rs, stat ORDER BY rs.t""".stripMargin.replace("\n", " ")))

  private val lshAudit: QueryDef = QueryDef(
    "q243_lsh_operating_point",
    // LSH OPERATING-POINT AUDIT — candidate precision/recall of q41's
    // banded MinHash against q42's exact-Jaccard ≥ 0.9 ground truth:
    // the self-measuring gauge for the (k=6, b=3, r=2) s-curve choice
    // (DedupSpec pins recall ≈ 1.0 by construction; THIS publishes
    // the numbers as a query so a parameter change shows up in the
    // oracle gate, not just a spec). tp/|cand|/|truth| are exact
    // integer counts from one join of the two pair relations; the
    // rates are one division each.
    (s, dir) => {
      val cand = Dedup.lshCandidatePairs(s, dir)
      val truth = graft.SparkEntry.queries("q42_dedup_jaccard")(s, dir)
        .select(col("da"), col("db"))
      val tp = cand.join(truth, Seq("da", "db")).agg(count(lit(1)).as("tp"))
      val nc = cand.agg(count(lit(1)).as("n_cand"))
      val nt = truth.agg(count(lit(1)).as("n_truth"))
      nc.crossJoin(broadcast(nt)).crossJoin(broadcast(tp))
        .select(col("n_cand"), col("n_truth"), col("tp"),
          when(col("n_cand") === 0, lit(null).cast("double"))
            .otherwise(round(col("tp").cast("double") / col("n_cand"), 4)).as("precision"),
          when(col("n_truth") === 0, lit(null).cast("double"))
            .otherwise(round(col("tp").cast("double") / col("n_truth"), 4)).as("recall"),
          when(col("n_cand") + col("n_truth") === 0, lit(null).cast("double"))
            .otherwise(round(lit(2.0) * col("tp") / (col("n_cand") + col("n_truth")), 4)).as("f1"))
    },
    Some {
      val lsh = Dedup.lshPairsDuckCte("L")
      s"""WITH $lsh,
         |Gt AS MATERIALIZED (SELECT doc_id, list_distinct($toksDuck) AS w FROM documents),
         |Gpr AS (SELECT doc_id, unnest(list_sort(w)[1:CAST(ceil(len(w) * 0.1) AS INT) + 1]) AS s FROM Gt),
         |Gsh AS MATERIALIZED (SELECT doc_id, unnest(w) AS s FROM Gt),
         |Gsz AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM Gsh GROUP BY 1),
         |Gcand AS (SELECT DISTINCT pa.doc_id AS da, fb.doc_id AS db FROM Gpr pa
         |JOIN Gsh fb ON pa.s = fb.s AND pa.doc_id < fb.doc_id),
         |Ginter AS (SELECT da, db, count(*) AS i FROM Gcand
         |JOIN Gsh sa ON da = sa.doc_id JOIN Gsh sb ON db = sb.doc_id AND sa.s = sb.s GROUP BY 1, 2),
         |truth AS MATERIALIZED (SELECT da, db FROM Ginter JOIN Gsz za ON da = za.doc_id JOIN Gsz zb ON db = zb.doc_id
         |WHERE round(i * 1.0 / (za.n + zb.n - i), 4) >= 0.9),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM Lcand),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
         |tp AS (SELECT CAST(count(*) AS BIGINT) AS tp FROM Lcand c JOIN truth t ON c.da = t.da AND c.db = t.db)
         |SELECT nc.n_cand, nt.n_truth, tp.tp,
         |CASE WHEN nc.n_cand = 0 THEN NULL ELSE round(CAST(tp.tp AS DOUBLE) / nc.n_cand, 4) END AS precision,
         |CASE WHEN nt.n_truth = 0 THEN NULL ELSE round(CAST(tp.tp AS DOUBLE) / nt.n_truth, 4) END AS recall,
         |CASE WHEN nc.n_cand + nt.n_truth = 0 THEN NULL ELSE round(2.0 * tp.tp / (nc.n_cand + nt.n_truth), 4) END AS f1
         |FROM nc, nt, tp""".stripMargin.replace("\n", " ")
    })

  private val lfAnalysis: QueryDef = QueryDef(
    "q242_lf_analysis",
    // LABELING-FUNCTION ANALYSIS (Snorkel's LFAnalysis readout) over
    // q182's three weak labelers: per LF — coverage, overlap (another
    // LF fired on the same doc), conflict (another LF fired the
    // OPPOSITE sign), and leave-one-out agreement (vs the sign of the
    // OTHER LFs' vote sum — the self-vote-free reliability proxy; the
    // plain majority is dominated by the LF's own vote and reads a
    // vacuous 1.0). Everything is exact integer counts off one
    // projection; rates are one division each with zero-denominator
    // NULL guards. lf_digit's 0 coverage is the honest readout of a
    // veto LF on clean data.
    (s, dir) => {
      val stops = Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for")
      val stopArr = stops.map("'" + _ + "'").mkString(",")
      val lf = Tables.documents(s, dir)
        .withColumn("toks", expr(toksExpr))
        .withColumn("ndig", length(col("text")) -
          length(regexp_replace(col("text"), "[0-9]", "")))
        .select(col("doc_id"),
          when(col("n_chars") >= 300, 1).when(col("n_chars") < 80, -1).otherwise(0).as("lf_len"),
          when(size(col("toks")) === 0, 0)
            .when(expr(s"size(filter(toks, x -> array_contains(array($stopArr), x)))").cast("double")
              / size(col("toks")) >= 0.15, 1)
            .when(expr(s"size(filter(toks, x -> array_contains(array($stopArr), x)))") === 0, -1)
            .otherwise(0).as("lf_stop"),
          when(length(col("text")) > 0 &&
            col("ndig").cast("double") / length(col("text")) > 0.1, -1).otherwise(0).as("lf_digit"))
      val cols = Seq("lf_len", "lf_stop", "lf_digit")
      val long = cols.map { c =>
        val others = cols.filterNot(_ == c)
        lf.select(lit(c).as("lf"), col(c).as("v"),
          (col(others.head) + col(others(1))).as("rest"),
          greatest(col(others.head), col(others(1))).as("rpos"),
          least(col(others.head), col(others(1))).as("rneg"))
      }.reduce(_ unionByName _)
      val st = long.groupBy("lf").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("v") =!= 0, 1L).otherwise(0L)).as("n_fired"),
        sum(when(col("v") =!= 0 && (col("rpos") =!= 0 || col("rneg") =!= 0), 1L).otherwise(0L)).as("n_overlap"),
        sum(when(col("v") =!= 0 &&
          ((col("v") === 1 && col("rneg") === -1) || (col("v") === -1 && col("rpos") === 1)),
          1L).otherwise(0L)).as("n_conflict"),
        sum(when(col("v") =!= 0 && col("rest") =!= 0, 1L).otherwise(0L)).as("n_comp"),
        sum(when(col("v") =!= 0 && col("rest") =!= 0 &&
          ((col("v") > 0 && col("rest") > 0) || (col("v") < 0 && col("rest") < 0)),
          1L).otherwise(0L)).as("n_agree"))
      st.select(col("lf"), col("n_fired"),
          round(col("n_fired").cast("double") / col("n_docs"), 4).as("coverage"),
          col("n_overlap"), col("n_conflict"), col("n_comp"),
          when(col("n_comp") === 0, lit(null).cast("double"))
            .otherwise(round(col("n_agree").cast("double") / col("n_comp"), 4)).as("loo_agree_rate"))
        .orderBy("lf")
    },
    Some(s"""WITH t AS (SELECT doc_id, n_chars, text, $toksDuck AS toks,
            |length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS ndig FROM documents),
            |lf AS (SELECT doc_id,
            |CASE WHEN n_chars >= 300 THEN 1 WHEN n_chars < 80 THEN -1 ELSE 0 END AS lf_len,
            |CASE WHEN len(toks) = 0 THEN 0
            |WHEN CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','that','it','for'], x))) AS DOUBLE) / len(toks) >= 0.15 THEN 1
            |WHEN len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','that','it','for'], x))) = 0 THEN -1
            |ELSE 0 END AS lf_stop,
            |CASE WHEN length(text) > 0 AND CAST(ndig AS DOUBLE) / length(text) > 0.1 THEN -1 ELSE 0 END AS lf_digit
            |FROM t),
            |long AS (
            |SELECT 'lf_len' AS lf, lf_len AS v, lf_stop + lf_digit AS rest,
            |greatest(lf_stop, lf_digit) AS rpos, least(lf_stop, lf_digit) AS rneg FROM lf
            |UNION ALL SELECT 'lf_stop', lf_stop, lf_len + lf_digit,
            |greatest(lf_len, lf_digit), least(lf_len, lf_digit) FROM lf
            |UNION ALL SELECT 'lf_digit', lf_digit, lf_len + lf_stop,
            |greatest(lf_len, lf_stop), least(lf_len, lf_stop) FROM lf),
            |st AS (SELECT lf, CAST(count(*) AS BIGINT) AS n_docs,
            |CAST(sum(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_fired,
            |CAST(sum(CASE WHEN v <> 0 AND (rpos <> 0 OR rneg <> 0) THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
            |CAST(sum(CASE WHEN v <> 0 AND ((v = 1 AND rneg = -1) OR (v = -1 AND rpos = 1)) THEN 1 ELSE 0 END) AS BIGINT) AS n_conflict,
            |CAST(sum(CASE WHEN v <> 0 AND rest <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_comp,
            |CAST(sum(CASE WHEN v <> 0 AND rest <> 0 AND ((v > 0 AND rest > 0) OR (v < 0 AND rest < 0)) THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
            |FROM long GROUP BY lf)
            |SELECT lf, n_fired, round(CAST(n_fired AS DOUBLE) / n_docs, 4) AS coverage,
            |n_overlap, n_conflict, n_comp,
            |CASE WHEN n_comp = 0 THEN NULL ELSE round(CAST(n_agree AS DOUBLE) / n_comp, 4) END AS loo_agree_rate
            |FROM st ORDER BY lf""".stripMargin.replace("\n", " ")))

  private val haar: QueryDef = QueryDef(
    "q241_haar_synopsis",
    // HAAR WAVELET SYNOPSIS (Matias-Vitter-Wang, SIGMOD 1998) — the
    // daily-volume series padded to 32, decomposed by the unnormalized
    // Haar pyramid (a = (l+r)/2, d = (l−r)/2 — every coefficient is a
    // dyadic rational of integer counts, EXACT in double on both
    // engines), keep the 6 largest-|coef| details (tie-break lvl,
    // pos), and publish each kept coefficient with the reconstruction
    // SSE of the 6-term synopsis — the wavelet sibling of q151/q239's
    // histograms. Reconstruction per day sums its ≤6 covering kept
    // coefficients in (lvl, pos) order; the SSE is an i-ordered
    // 32-term fold. Horizon ≤ 32 days at every gate SF; a longer
    // horizon pads to the next power of two, same plan.
    (s, dir) => {
      val d0 = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("c"))
      val ix = d0.select((row_number().over(Window.orderBy("day")) - 1).cast("long").as("i"),
        col("c").cast("double").as("v"))
      val pad = s.range(0, 32).select(col("id").as("i"))
        .join(ix, Seq("i"), "left")
        .select(col("i"), coalesce(col("v"), lit(0.0)).as("v"))
        .localCheckpoint()
      var a = pad
      var dts = Seq.empty[org.apache.spark.sql.DataFrame]
      for (l <- 4 to 0 by -1) {
        val lv = a.groupBy(expr("i div 2").as("i2")).agg(
            max(when(col("i") % 2 === 0, col("v"))).as("lft"),
            max(when(col("i") % 2 === 1, col("v"))).as("rgt"))
        dts = dts :+ lv.select(lit(l.toLong).as("lvl"), col("i2").as("pos"),
          ((col("lft") - col("rgt")) / 2).as("coef"))
        a = lv.select(col("i2").as("i"), ((col("lft") + col("rgt")) / 2).as("v"))
      }
      val a0 = a.select(col("v").as("base"))
      val topk = dts.reduce(_ unionByName _)
        .orderBy(abs(col("coef")).desc, col("lvl"), col("pos")).limit(6)
      val cov = pad.crossJoin(broadcast(topk))
        .where(expr("i div shiftleft(CAST(1 AS BIGINT), CAST(5 - lvl AS INT))") === col("pos"))
        .select(col("i"),
          when(expr("(i div shiftleft(CAST(1 AS BIGINT), CAST(4 - lvl AS INT))) % 2") === 0,
            col("coef")).otherwise(-col("coef")).as("t"),
          col("lvl"), col("pos"))
        .groupBy("i").agg(
          orderedSum(col("t"), col("lvl"), col("pos")).as("sgn"))
      val rec = pad.join(cov, Seq("i"), "left").crossJoin(broadcast(a0))
        .select(col("i"), col("v"), (col("base") + coalesce(col("sgn"), lit(0.0))).as("vh"))
      val err = rec.agg(
        orderedSum((col("v") - col("vh")) * (col("v") - col("vh")), col("i")).as("l2"))
      topk.crossJoin(broadcast(err))
        .select(col("lvl"), col("pos"), round(col("coef"), 4).as("coef"),
          round(col("l2"), 4).as("recon_sse"))
        .orderBy(abs(col("coef")).desc, col("lvl"), col("pos"))
    },
    Some {
      val base = """d0 AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
        |FROM events GROUP BY 1),
        |ix AS (SELECT CAST(row_number() OVER (ORDER BY day) - 1 AS BIGINT) AS i, CAST(c AS DOUBLE) AS v FROM d0),
        |pad AS (SELECT g.i, coalesce(ix.v, 0.0) AS v
        |FROM (SELECT unnest(generate_series(0, 31)) AS i) g LEFT JOIN ix ON ix.i = g.i),
        |a5 AS (SELECT CAST(i AS BIGINT) AS i, v FROM pad)""".stripMargin.replace("\n", " ")
      val lvls = (5 to 1 by -1).map { l =>
        s"""a${l - 1} AS (SELECT CAST(i // 2 AS BIGINT) AS i,
           |(max(CASE WHEN i %% 2 = 0 THEN v END) + max(CASE WHEN i %% 2 = 1 THEN v END)) / 2 AS v
           |FROM a$l GROUP BY i // 2),
           |dt${l - 1} AS (SELECT CAST(${l - 1} AS BIGINT) AS lvl, CAST(i // 2 AS BIGINT) AS pos,
           |(max(CASE WHEN i %% 2 = 0 THEN v END) - max(CASE WHEN i %% 2 = 1 THEN v END)) / 2 AS coef
           |FROM a$l GROUP BY i // 2)""".stripMargin.replace("\n", " ")
      }.mkString(", ")
      val all = (0 to 4).map(l => s"SELECT lvl, pos, coef FROM dt$l").mkString(" UNION ALL ")
      s"""WITH $base, $lvls,
         |allc AS ($all),
         |topk AS (SELECT lvl, pos, coef FROM allc ORDER BY abs(coef) DESC, lvl, pos LIMIT 6),
         |rec AS (SELECT p.i, p.v, (SELECT v FROM a0) +
         |coalesce((SELECT sum(CASE WHEN (p.i // (CAST(1 AS BIGINT) << CAST(4 - t.lvl AS INT))) %% 2 = 0
         |THEN t.coef ELSE -t.coef END ORDER BY t.lvl, t.pos)
         |FROM topk t WHERE p.i // (CAST(1 AS BIGINT) << CAST(5 - t.lvl AS INT)) = t.pos), 0.0) AS vh
         |FROM pad p),
         |err AS (SELECT sum((rec.v - rec.vh) * (rec.v - rec.vh) ORDER BY rec.i) AS l2 FROM rec)
         |SELECT t.lvl, t.pos, round(t.coef, 4) AS coef, round(err.l2, 4) AS recon_sse
         |FROM topk t, err ORDER BY abs(t.coef) DESC, t.lvl, t.pos"""
        .stripMargin.replace("\n", " ").replace("%%", "%")
    })

  /** Durbin-Levinson unroll for lags 1-5 as (column, expression)
    * stages — the SAME strings feed Spark `expr` and the DuckDB CTE
    * chain, so the scalar arithmetic is textually identical. */
  private[operators] val dlStages: Seq[(String, String)] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    out += ("p_1_1" -> "r1")
    for (k <- 2 to 5) {
      val num = (1 until k).map(j => s"p_${k - 1}_$j * r${k - j}").mkString(" + ")
      val dnm = (1 until k).map(j => s"p_${k - 1}_$j * r$j").mkString(" + ")
      out += (s"num_$k" -> s"r$k - ($num)")
      out += (s"den_$k" -> s"1.0 - ($dnm)")
      out += (s"p_${k}_$k" -> s"num_$k / den_$k")
      for (j <- 1 until k)
        out += (s"p_${k}_$j" -> s"p_${k - 1}_$j - p_${k}_$k * p_${k - 1}_${k - j}")
    }
    out.toSeq
  }
}
