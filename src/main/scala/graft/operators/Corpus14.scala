package graft.operators

import graft.{QueryDef, Tables}
import graft.ml.GdClassifier
import graft.operators.TextAnalytics.{stopSqlList, toksDuck, toksExpr}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-10/11 corpus operators: the TRAINED quality-classifier gate —
  * the canonical "quality = P(reference-like)" corpus filter of the
  * GPT-3 / CCNet / palm-era pipelines (a linear model trained on labeled
  * reference-vs-junk text, applied corpus-wide with a probability
  * threshold), which was the one classic LLM-pipeline operator still
  * missing after r9 (every RULE-based gate existed: q100's composite,
  * q263's Gopher battery, q132's calibrated tiering) — plus its r11
  * companions: the q276 holdout operating-point audit, the q274 C4
  * blocklist gate, and the q275 language-id gate the funnel deploys in
  * the CCNet position.
  *
  * Reference analog: the TF-IDF + LogisticRegression classifier
  * (scrappy.py:32-44) — there a term router, here repurposed as the
  * corpus quality filter, exactly the repurposing the r9 verdict asked
  * for. The fit is [[GdClassifier]]'s deterministic GD unroll (the q74
  * discipline) at a quality operating point: `posLabel = "quality"`,
  * η = 2, 3 full-batch steps, and LENGTH-NORMALIZED features
  * (x = (tf/L)·idf) — mandatory here because the fixture sentences are
  * ~9 tokens while corpus documents run 10–110, and an unnormalized
  * margin just accumulates per-token positivity with length (measured:
  * unnormalized keeps 100% of the corpus; normalized the boundary is a
  * filler-DENSITY, so the gate discriminates at every SF).
  */
object Corpus14 {

  /** The labeled quality fixture (the q79/q262 fixture-injection idiom:
    * the synthetic corpus carries no natural quality labels, so the
    * training signal is injected deterministically — in production this
    * table is "pages sampled from a reference corpus" vs "pages flagged
    * junk"). Built FROM the corpus's own 31-word vocabulary so the
    * learned weights transfer: quality rows are dense in operational
    * content words with ≤1 filler token (~11%); junk rows carry the
    * same content vocabulary at ~33% filler ({slow, small, big, dup} +
    * stopword padding), so the learned boundary sits INSIDE the
    * corpus's natural filler-density range (~13% ± 5%) and both
    * decisions occur at every SF. */
  private[graft] val qualityFixture: Seq[(String, String)] = Seq(
    ("data query join table stream merge hash scan slow", "quality"),
    ("group column sort key agg small order filter window", "quality"),
    ("spark stream batch query data vector big table join", "quality"),
    ("customer line part value row table dup query data", "quality"),
    ("hash join merge sort group agg window filter scan", "quality"),
    ("vector data stream column key scan small order batch", "quality"),
    ("query table join data group sort window big agg", "quality"),
    ("row value part customer line hash key filter stream", "quality"),
    ("scan batch merge spark vector stream order column slow", "quality"),
    ("table data query join agg group key small sort", "quality"),
    ("window filter stream batch hash merge big scan vector", "quality"),
    ("spark customer value line row part order dup column", "quality"),
    ("slow data small query big table join group scan", "junk"),
    ("big join small slow key dup merge sort hash", "junk"),
    ("dup scan slow small group big window filter agg", "junk"),
    ("small sort big data slow dup column order batch", "junk"),
    ("slow big dup merge hash small stream vector key", "junk"),
    ("the a small slow big dup query table data", "junk"),
    ("dup small big stream slow row value part line", "junk"),
    ("big slow small column dup customer spark agg group", "junk"),
    ("slow batch small window dup data query join small", "junk"),
    ("dup vector big row slow table merge scan big", "junk"),
    ("a small big slow dup the sort key hash", "junk"),
    ("small dup slow big value query stream filter order", "junk"))

  private val QEta = 2.0
  private val QSteps = 3

  /** The DEPLOYED margin threshold — recalibrated (r12) from the naive
    * P(quality) ≥ 0.5 point (t = 0) using exactly the apparatus built
    * for the purpose: q277's drop-one ablation showed the t = 0 gate
    * uniquely kills ~0 documents (every doc it fails, some rule gate
    * also fails — it did not earn its corpus scan), and q276's
    * operating-point sweep says how far the threshold can move before
    * the holdout pays for it.
    *
    * RE-DERIVED in r13 on the boundary-row holdout (the r12 holdout
    * was perfectly separated, so every in-gap t was holdout-perfect and
    * 0.03 was only a strictest-notch tie-break; the 8 boundary rows
    * make the sweep genuinely trade precision against recall). The
    * operating rule is precision-first — in a pretraining corpus junk
    * admitted costs more than surplus quality discarded (the
    * FineWeb-Edu / Gopher stance; the corpus is abundant, the
    * classifier is the last text gate before tokenization) — so the
    * operating point is the MAX-RECALL threshold among those with
    * holdout precision 1.0. Measured sweep (sf-independent holdout
    * columns): t=−0.05 → P 0.80 / R 1.0; t=0 → 0.9375 / 0.9375
    * (the quality-adjacent junk row at margin +0.0122 gets through);
    * t=0.03 → 1.0 / 0.75; t=0.05 → 1.0 / 0.625. 0.03 is now the
    * unique precision-1.0 threshold that doesn't pay extra recall —
    * EVIDENCE, not tie-break — and keeps the gate's real unique kill:
    * nu_classifier = 2 / 4 / 56 docs at sf0.001 / 0.01 / 0.1 (vs
    * 1 / 0 / 2 at t = 0) — the FineWeb ablation discipline followed to
    * its conclusion. Hash-safety: every boundary-row margin clears
    * every sweep threshold by ≥ 2.5e-3; corpus clearance at 0.03 =
    * 4.0e-4 / 1.9e-4 / 7.4e-6 at the three SFs, ≥ the 1e-6
    * pin and ≥7 orders above the ~1e-13 float-association jitter. */
  private[graft] val QThreshold = 0.03

  /** The fitted model — a driver-side constant (24-row fixture, the
    * "train small, score big" shape of every production quality
    * classifier; the DISTRIBUTED work is the corpus scan below). */
  private[graft] lazy val model: GdClassifier.Model =
    GdClassifier.fit(qualityFixture, posLabel = "quality",
      eta = QEta, steps = QSteps, normalize = true)

  /** Corpus-wide scoring, ZERO-shuffle: the ~29-term weight·idf table
    * embeds as a MAP LITERAL (a broadcast constant either way — the
    * LSH sign-matrix precedent) and the margin
    * b + (Σ_occurrences idf·w) / L folds per row with one HOF —
    * occurrence-summing IS tf-weighting, so this equals
    * b + Σ_t (tf/L)·idf·w. keep = margin > [[QThreshold]] (the q276
    * sweep's chosen operating point, not the naive P ≥ 0.5).
    * Scale shape: pure stateless map work inside one projection, like
    * the robots and PII stages — no explode, no join, no doc-keyed
    * aggregate (the r10 first cut spent two corpus-token-sized hash
    * aggregates on what a fold computes in the scan pipeline), and
    * therefore the SAME body runs unchanged on a readStream frontier
    * (StatefulStreamingSpec proves stream ≡ batch). The published
    * decision is the margin's SIGN only (the q74 discipline), and
    * Corpus14Spec pins min |margin| ≥ 1e-5 on this corpus, so float
    * summation order (fold vs the oracle's grouped sum) cannot flip
    * the hash. */
  /** (doc_id, clf_margin) — the raw decision margin
    * b + (Σ_occurrences idf·w) / L, exposed so the q276 operating-point
    * audit can sweep thresholds over the SAME scoring expression the
    * deployed gate uses (one definition; the audit cannot drift). */
  private[graft] def qualityMargins(docs: DataFrame): DataFrame =
    withQualityMargin(docs).select(col("doc_id"), col("clf_margin"))

  /** APPENDING form of the classifier margin (r16, the withLangGate
    * discipline): adds `clf_margin` to `df` (doc_id + text) without a
    * join. One definition shared with q273/q276 and the funnel. */
  private[graft] def withQualityMargin(df: DataFrame): DataFrame = {
    val entries = model.vocab.toSeq.sortBy(_._1)
      .map { case (t, (idf, w)) => s"'$t', ${idf * w}D" }.mkString(", ")
    df.withColumn("__qw", expr(
        s"filter($toksExpr, x -> NOT x IN ($stopSqlList))"))
      .withColumn("clf_margin",
        (when(size(col("__qw")) > 0,
          expr(s"""aggregate(__qw, 0D, (a, t) ->
            |a + coalesce(element_at(map($entries), t), 0D))"""
            .stripMargin.replace("\n", " ")) / size(col("__qw")))
          .otherwise(lit(0.0))) + lit(model.bias))
      .drop("__qw")
  }

  private[graft] def qualityClassify(docs: DataFrame): DataFrame =
    qualityMargins(docs)
      .select(col("doc_id"), (col("clf_margin") > QThreshold).as("clf_keep"))

  /** q273's body: the classifier gate side-by-side with q100's
    * rule-based gate — the q132 discipline (publish agreement and every
    * disagreement as rows, so the two gates' operating points are
    * auditable against each other at the correctness gate, not in a
    * notebook). */
  private[graft] def classifierVsRuleGate(docs: DataFrame): DataFrame = {
    val rule = Corpus.qualityGate(docs).select(col("doc_id"), col("keep").as("rule_keep"))
    qualityClassify(docs)
      .join(rule, Seq("doc_id"))
      .select(col("doc_id"), col("clf_keep"), col("rule_keep"),
        (col("clf_keep") === col("rule_keep")).as("agree"))
      .orderBy("doc_id")
  }

  /** The full fit+score chain as DuckDB CTEs — [[GdClassifier.oracleSql]]'s
    * unroll technique at the quality operating point (normalized
    * features, η = 2), scoring the `src` relation (default: the
    * documents table; q268's funnel passes its Gopher-survivor CTE).
    * The training fixture inlines as VALUES; the GD steps unroll
    * textually; ends in `clf(doc_id, clf_margin, clf_keep)` (the raw
    * margin exposed for q276's threshold sweep). */
  private[operators] def clfDuckCte(src: String = "documents", p: String = ""): String = {
    val n = qualityFixture.size
    val trainVals = qualityFixture.zipWithIndex.map { case ((text, label), i) =>
      s"($i, ${if (label == "quality") "1.0" else "0.0"}, '$text')"
    }.mkString(", ")
    val steps = (1 to QSteps).map { k =>
      val (wp, bp) = (s"${p}w${k - 1}", s"${p}b${k - 1}")
      s"""${p}s$k AS (SELECT f.i, sum(w.w * f.v) AS s FROM ${p}feat f JOIN $wp w ON f.term = w.term GROUP BY f.i),
         |${p}e$k AS (SELECT t.i, 1/(1+exp(-((SELECT b FROM $bp) + coalesce(s.s, 0)))) - t.y AS err
         |FROM ${p}tr t LEFT JOIN ${p}s$k s ON t.i = s.i),
         |${p}g$k AS (SELECT f.term, sum(e.err * f.v) / $n AS g FROM ${p}feat f JOIN ${p}e$k e ON f.i = e.i GROUP BY f.term),
         |${p}w$k AS (SELECT w.term, w.w - $QEta * coalesce(g.g, 0) AS w FROM $wp w LEFT JOIN ${p}g$k g ON w.term = g.term),
         |${p}b$k AS (SELECT (SELECT b FROM $bp) - $QEta * avg(err) AS b FROM ${p}e$k)""".stripMargin
    }.mkString(",\n")
    s"""${p}tr(i, y, text) AS (VALUES $trainVals),
       |${p}tok AS (SELECT i, y, unnest(list_filter(string_split(lower(text), ' '),
       |x -> x <> '' AND x NOT IN ($stopSqlList))) AS term FROM ${p}tr),
       |${p}dl AS (SELECT i, CAST(count(*) AS DOUBLE) AS l FROM ${p}tok GROUP BY 1),
       |${p}x AS (SELECT i, y, term, CAST(count(*) AS DOUBLE) AS tf FROM ${p}tok GROUP BY 1, 2, 3),
       |${p}dfx AS (SELECT term, count(DISTINCT i) AS dfc FROM ${p}x GROUP BY 1),
       |${p}feat AS (SELECT x.i, x.y, x.term, x.tf / dl.l * (ln(($n + 1.0) / (dfc + 1.0)) + 1.0) AS v
       |FROM ${p}x x JOIN ${p}dl dl USING (i) JOIN ${p}dfx USING (term)),
       |${p}w0 AS (SELECT term, 0.0 AS w FROM ${p}dfx),
       |${p}b0 AS (SELECT 0.0 AS b),
       |$steps,
       |${p}qtok AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
       |x -> x <> '' AND x NOT IN ($stopSqlList))) AS t FROM $src),
       |${p}ql AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS l FROM ${p}qtok GROUP BY 1),
       |${p}qx AS (SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf FROM ${p}qtok GROUP BY 1, 2),
       |${p}qs AS (SELECT qx.doc_id, sum(qx.tf / ql.l * (ln(($n + 1.0) / (dfx.dfc + 1.0)) + 1.0) * w.w) AS s
       |FROM ${p}qx qx JOIN ${p}ql ql USING (doc_id) JOIN ${p}dfx dfx ON qx.t = dfx.term JOIN ${p}w$QSteps w ON qx.t = w.term GROUP BY 1),
       |${p}clf AS MATERIALIZED (SELECT d.doc_id,
       |coalesce(qs.s, 0) + (SELECT b FROM ${p}b$QSteps) AS clf_margin,
       |coalesce(qs.s, 0) + (SELECT b FROM ${p}b$QSteps) > $QThreshold AS clf_keep
       |FROM $src d LEFT JOIN ${p}qs qs ON d.doc_id = qs.doc_id)""".stripMargin.replace("\n", " ")
  }

  /** q274's body (the truly stateless, sort-free form — runs unchanged on a readStream frontier, StatefulStreamingSpec proves stream ≡ batch): the C4 BLOCKLIST GATE (Raffel et al. 2020 §2.2 — "any
    * page that contained any word on the 'List of Dirty, Naughty,
    * Obscene or Otherwise Bad Words'" is dropped): per-document counts
    * of blocklisted TOKENS by category plus the keep verdict. Matching
    * is token-exact on the shared tokenizer — NOT substring (the
    * well-known C4 false-positive critique: substring matching drops
    * "Scunthorpe"-class innocents; token matching is the defensible
    * form). Blocklisted terms are doc_id-injected into a deterministic
    * dirty twin (the q262 idiom — the synthetic corpus carries none
    * naturally), three category lanes with overlaps so multi-category
    * hits occur. Scale shape: pure stateless map work — the category
    * list embeds as array filters (a production-sized ~400-word list
    * becomes the same HOF over a broadcast map literal, q273's
    * pattern; a DATA-sized blocklist becomes a broadcast token join);
    * zero shuffles at any corpus size, runs unchanged on a stream. */
  private[graft] def blocklistDecisions(docs: DataFrame): DataFrame =
    withBlocklist(docs).select(col("doc_id"),
      col("n_profanity"), col("n_violence"), col("n_adult"),
      col("blocked_total"), col("keep"))

  /** APPENDING form of the blocklist gate (r16, the withLangGate
    * discipline): adds the category counts, `blocked_total`, and `keep`
    * to `df` (doc_id + text) without a join. One definition shared with
    * q274. */
  private[graft] def withBlocklist(df: DataFrame): DataFrame = {
    val dirty = concat(col("text"),
      when(col("doc_id") % 7 === 3, lit(" badcat0")).otherwise(lit("")),
      when(col("doc_id") % 11 === 5, lit(" badcat1 badcat1")).otherwise(lit("")),
      when(col("doc_id") % 13 === 8, lit(" badcat2")).otherwise(lit("")))
    df.withColumn("__btext", dirty)
      .withColumn("__bw", expr("filter(split(lower(__btext), ' '), x -> x <> '')"))
      .withColumn("n_profanity",
        expr("CAST(size(filter(__bw, x -> x = 'badcat0')) AS BIGINT)"))
      .withColumn("n_violence",
        expr("CAST(size(filter(__bw, x -> x = 'badcat1')) AS BIGINT)"))
      .withColumn("n_adult",
        expr("CAST(size(filter(__bw, x -> x = 'badcat2')) AS BIGINT)"))
      .withColumn("blocked_total",
        col("n_profanity") + col("n_violence") + col("n_adult"))
      .withColumn("keep", col("blocked_total") === 0)
      .drop("__btext", "__bw")
  }

  /** q274: [[blocklistDecisions]] + the deterministic presentation sort. */
  private[graft] def blocklistGate(docs: DataFrame): DataFrame =
    blocklistDecisions(docs).orderBy("doc_id")

  /** The labeled HOLDOUT for q276 — rows the GD fit never saw (the q79
    * discipline: capability is asserted on data where the signal exists
    * and the answer is known). Same 31-word operational vocabulary and
    * the same filler-density boundary as [[qualityFixture]]: the 24
    * CLEAR rows (12/12) carry ≤1 filler (quality, margins ≥ +0.0331)
    * vs ~30-60% filler (junk, margins ≤ −0.196) and test
    * GENERALIZATION of the learned boundary, not memorization.
    *
    * The final 8 rows (4/4, r13) are BOUNDARY rows landing INSIDE the
    * clear rows' (−0.196, +0.0331) margin gap — the r12 verdict's
    * "perfectly separated holdout cannot rank thresholds" gap closed:
    * junk-adjacent QUALITY (2 fillers in ~9 content tokens; margins
    * −0.007 … +0.028) and quality-adjacent JUNK (~22-33% filler over
    * the same content vocabulary; margins −0.047 … +0.012), placed so
    * the sweep's thresholds genuinely trade precision against recall
    * (each of −0.05 / 0 / 0.03 flips at least one boundary row) and
    * q279's holdout-NLL is no longer monotone in sharpening (the two
    * wrong-side-at-any-T rows blow up as T → 0, so the argmin is
    * interior). Every boundary margin clears every sweep threshold by
    * ≥ 2.5e-3 (ProfHoldout in BASELINE.md "Retired harnesses"), far
    * above the 1e-6 hash pin. */
  private[graft] val qualityHoldout: Seq[(String, String)] = Seq(
    ("merge window batch key data scan join stream order", "quality"),
    ("table group agg filter sort query hash column stream", "quality"),
    ("spark vector row value line customer part batch merge", "quality"),
    ("query data table join slow group sort key scan", "quality"),
    ("window merge scan data table batch key join agg", "quality"),
    ("filter sort group column stream query hash order spark", "quality"),
    ("vector batch line row customer part value merge data", "quality"),
    ("key scan join window table query group small sort", "quality"),
    ("stream agg hash filter column data merge batch scan", "quality"),
    ("part value customer row line spark order vector key", "quality"),
    ("join table query data window group big agg filter", "quality"),
    ("sort key hash merge scan stream batch column table", "quality"),
    ("slow dup big small slow table data big dup query", "junk"),
    ("big small dup slow merge big small key dup sort", "junk"),
    ("small big slow dup the a data slow query small", "junk"),
    ("dup dup slow big small stream filter small big slow", "junk"),
    ("slow small dup big scan slow dup window small big", "junk"),
    ("big dup small slow column big slow dup batch small", "junk"),
    ("dup slow big small key small dup slow vector big", "junk"),
    ("small slow dup big the group big dup slow small", "junk"),
    ("big big slow dup small merge dup small slow table", "junk"),
    ("slow dup small big row slow big small dup order", "junk"),
    ("dup big slow small a filter small slow big dup", "junk"),
    ("small dup big slow hash dup slow big small stream", "junk"),
    // boundary rows (see scaladoc): junk-adjacent quality …
    ("data query join table stream merge slow small scan", "quality"),
    ("group column sort key agg order slow big filter", "quality"),
    ("vector data stream column key small slow order batch", "quality"),
    ("table data query join agg dup slow key sort", "quality"),
    // … and quality-adjacent junk
    ("spark stream batch query data big dup table", "junk"),
    ("row value part big dup slow customer line stream", "junk"),
    ("spark stream batch big small dup query data table", "junk"),
    ("data query join table slow small dup merge scan", "junk"))

  /** The q276 threshold sweep (margin space): [[QThreshold]] (0.03) is
    * the DEPLOYED gate — published as a pinned row so the audit reads
    * the live operating point directly; 0 is the naive P ≥ 0.5 point it
    * replaced (kept as the before/after evidence of the r12
    * recalibration); ±0.05 bracket the pair one notch stricter/looser.
    * Corpus14Spec pins every corpus and holdout margin ≥ 1e-6 away from
    * every threshold (measured clearance via the oracle CTE chain over
    * the FULL sweep: 1.0e-4 at sf0.001, 1.9e-4 at sf0.01, 7.4e-6 at
    * sf0.1 — all ≥7 orders above the ~1e-13 summation-order jitter the
    * pin must dominate), so engine float-association noise cannot flip
    * a counted cell. */
  private[graft] val marginThresholds: Seq[Double] = Seq(-0.05, 0.0, QThreshold, 0.05)

  /** q276's body: the classifier's OPERATING POINT, published as rows
    * (the q271/q264 discipline — the audit lives at the correctness
    * gate, not in a notebook). Per margin threshold t:
    *  - precision/recall on the labeled HOLDOUT (which gate is RIGHT —
    *    the question q273's agreement rows alone can't answer), and
    *  - the corpus-wide agreement matrix vs q100's rule gate
    *    (both_keep / clf_only / rule_only / both_drop).
    * Scale shape: the holdout side is a 32-row literal; the corpus side
    * is the same zero-shuffle margin scan as the gate, fanned ×3 by a
    * broadcast threshold literal, collapsing in one partial-aggregable
    * groupBy(t) — no windows, no joins beyond the doc_id-keyed rule
    * attach. */
  private[graft] def classifierOperatingPoint(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val th = broadcast(marginThresholds.toDF("t"))
    val hold = qualityHoldout.zipWithIndex
      .map { case ((text, label), i) => (i.toLong, text, label) }
      .toDF("doc_id", "text", "label")
    val hm = qualityMargins(hold)
      .join(hold.select("doc_id", "label"), Seq("doc_id"))
    val hcells = th.crossJoin(broadcast(hm))
      .groupBy("t").agg(
        sum(when(col("clf_margin") > col("t") && col("label") === "quality", 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("clf_margin") > col("t") && col("label") =!= "quality", 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("clf_margin") <= col("t") && col("label") === "quality", 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("clf_margin") <= col("t") && col("label") =!= "quality", 1L)
          .otherwise(0L)).as("tn"))
    val rule = Corpus.qualityGate(docs).select(col("doc_id"), col("keep").as("rule_keep"))
    val agree = qualityMargins(docs).join(rule, Seq("doc_id"))
      .crossJoin(th)
      .groupBy("t").agg(
        sum(when(col("clf_margin") > col("t") && col("rule_keep"), 1L).otherwise(0L)).as("both_keep"),
        sum(when(col("clf_margin") > col("t") && !col("rule_keep"), 1L).otherwise(0L)).as("clf_only"),
        sum(when(col("clf_margin") <= col("t") && col("rule_keep"), 1L).otherwise(0L)).as("rule_only"),
        sum(when(col("clf_margin") <= col("t") && !col("rule_keep"), 1L).otherwise(0L)).as("both_drop"))
    hcells.join(agree, Seq("t"))
      .select(col("t"), col("tp"), col("fp"), col("fn"), col("tn"),
        round(col("tp") * lit(1.0) / (col("tp") + col("fp")), 4).as("precision"),
        round(col("tp") * lit(1.0) / (col("tp") + col("fn")), 4).as("recall"),
        col("both_keep"), col("clf_only"), col("rule_only"), col("both_drop"))
      .orderBy("t")
  }

  /** q278's bin edges ARE the q276 sweep thresholds (sorted) — ONE edge
    * list for both audits, so the clearance pin Corpus14Spec measures
    * for the sweep (every corpus + holdout margin ≥1e-6 from every
    * threshold, vs ~1e-13 engine jitter) also makes the diagram's bin
    * assignment float-safe: no margin can land close enough to a bin
    * edge for summation-order noise to move it across. */
  private[graft] def reliabilityEdges: Seq[Double] = marginThresholds.sorted

  /** q278's body: the RELIABILITY DIAGRAM + ECE (Guo et al. 2017,
    * "On Calibration of Modern Neural Networks") for the deployed
    * classifier — whether the classifier's CONFIDENCE is meaningful,
    * not just its decisions. q276 audits the decision at swept
    * thresholds; this audits the probability scale BETWEEN them: per
    * margin bin (edges = [[reliabilityEdges]]) and scope, the count,
    * the mean predicted P(quality) = σ(margin), the empirical positive
    * rate (scope=corpus: q100's rule gate as the reference verdict —
    * the q273 pairing; scope=holdout: the true labels), the |gap|, and
    * the scope's ECE = Σ gap·n / Σ n.
    *
    * Scale shape: margins are the same stateless map work as the gate
    * itself, joined doc-keyed to the rule verdict (the q273 pairing
    * shape, co-partitioned at any scale); ONE partial-aggregable
    * groupBy folds the corpus onto ≤2·(edges+1) (scope, bin) groups;
    * the ECE window runs over ≤5 rows per scope; the holdout is a
    * 32-row literal. Hash discipline:
    * avg_p / pos_rate round(4) at the aggregate (the repo-wide float
    * rule), and gap / ece compute FROM the rounded values — exact
    * arithmetic on hash-stable inputs, so the derived columns cannot
    * drift even where the raw sums differ by ulps across engines. */
  private[graft] def classifierReliability(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.Column
    val edges = reliabilityEdges
    val hold = qualityHoldout.zipWithIndex
      .map { case ((text, label), i) => (i.toLong, text, label) }
      .toDF("doc_id", "text", "label")
    val hm = qualityMargins(hold)
      .join(hold.select("doc_id", "label"), Seq("doc_id"))
      .select(lit("holdout").as("scope"), col("clf_margin").as("m"),
        (col("label") === "quality").as("pos"))
    val rule = Corpus.qualityGate(docs).select(col("doc_id"), col("keep"))
    val cm = qualityMargins(docs).join(rule, Seq("doc_id"))
      .select(lit("corpus").as("scope"), col("clf_margin").as("m"),
        col("keep").as("pos"))
    val binned = cm.unionByName(hm).withColumn("bin",
      edges.zipWithIndex.foldRight(lit(edges.size): Column) {
        case ((e, i), els) => when(col("m") <= e, lit(i)).otherwise(els)
      })
    val lo = "-inf" +: edges.map(_.toString)
    val hi = edges.map(_.toString) :+ "inf"
    def labelCol(xs: Seq[String]): Column =
      xs.zipWithIndex.tail.foldLeft(lit(xs.head): Column) {
        case (els, (x, i)) => when(col("bin") === i, lit(x)).otherwise(els)
      }
    val g = binned.groupBy("scope", "bin").agg(
      count(lit(1)).as("n"),
      round(avg(lit(1.0) / (lit(1.0) + exp(-col("m")))), 4).as("avg_p"),
      round(avg(col("pos").cast("double")), 4).as("pos_rate"))
      .withColumn("gap", round(abs(col("avg_p") - col("pos_rate")), 4))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("scope")
    g.withColumn("ece",
        round(sum(col("gap") * col("n")).over(w) / sum(col("n")).over(w), 4))
      .select(col("scope"), col("bin"), labelCol(lo).as("bin_lo"),
        labelCol(hi).as("bin_hi"), col("n"), col("avg_p"), col("pos_rate"),
        col("gap"), col("ece"))
      .orderBy("scope", "bin")
  }

  /** q279's temperature grid — exact binary fractions (1/2^k), so the
    * scaled margin m/T is an EXACT double rescaling in both engines (no
    * new float hazard beyond the margins themselves, which the q276
    * clearance pin already covers). T < 1 SHARPENS σ(m/T) — the
    * direction q278's finding calls for (margins compressed ~±0.05
    * around 0 while empirical rates span 0-1). Extended to 2^-9 in r13:
    * with the boundary holdout rows the NLL(T) curve has a real interior
    * minimum (the two wrong-side-at-any-T rows blow up as T → 0 while
    * the correct small-margin rows stop paying), measured at T = 2^-7
    * (ProfHoldout in BASELINE.md "Retired harnesses": 0.6335 at T=1
    * falling to 0.1240 at 2^-7, rising to
    * 0.3063 at 2^-9 and +∞ by 2^-12) — the grid must cross the minimum
    * so the argmin is a finding, not a grid edge. */
  private[graft] val temperatureGrid: Seq[Double] =
    Seq(1.0, 0.5, 0.25, 0.125, 0.0625, 0.03125,
      0.015625, 0.0078125, 0.00390625, 0.001953125)

  /** q279's body: TEMPERATURE SCALING (Guo et al. 2017 §4.2 — the
    * one-parameter post-hoc recalibration) acted on q278's finding that
    * the classifier's raw sigmoid scale is compressed. Per grid
    * temperature T: the holdout's negative log-likelihood and Brier
    * score under p = σ(margin/T) (binning-free calibration metrics —
    * no bin-edge float hazard), and the corpus Brier against the rule
    * gate's verdict (the q273 reference pairing). `chosen` marks the
    * holdout-NLL argmin (tie-break: larger T, i.e. the LEAST aggressive
    * scaling that achieves it). With the r13 boundary holdout the
    * argmin is a real INTERIOR optimum (T = 2^-7: the wrong-side
    * boundary rows pay |m|/T as T → 0, so ever-sharper no longer wins
    * — the r12 verdict's degeneracy closed), and the residual tension
    * is still published: the corpus-vs-rule Brier optimum sits at the
    * milder T = 2^-3 (the two gates genuinely disagree on ~40% of
    * docs, and confident disagreement is penalized quadratically) —
    * so the table documents WHY the deployed gate stays a hard
    * threshold (monotone in any T) and which T each weights-consumer
    * should take (holdout-faithful: 2^-7; rule-agreement: 2^-3 =
    * q280's T*). Scale shape: the corpus side is one stateless
    * projection crossed with a 10-row broadcast literal into one
    * partial-aggregable groupBy; the holdout is a 32-row literal.
    * Same round-4 discipline as q278. */
  private[graft] def temperatureScaling(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val grid = broadcast(temperatureGrid.toDF("t"))
    def p = lit(1.0) / (lit(1.0) + exp(-col("m") / col("t")))
    val hold = qualityHoldout.zipWithIndex
      .map { case ((text, label), i) => (i.toLong, text, label) }
      .toDF("doc_id", "text", "label")
    val hm = qualityMargins(hold)
      .join(hold.select("doc_id", "label"), Seq("doc_id"))
      .select(col("clf_margin").as("m"), (col("label") === "quality").as("y"))
    val h = broadcast(hm).crossJoin(grid)
      .select(col("t"), p.as("p"), col("y").cast("double").as("y"))
      .groupBy("t").agg(
        round(avg(-log(when(col("y") === 1.0, col("p")).otherwise(lit(1.0) - col("p")))), 4)
          .as("holdout_nll"),
        round(avg(pow(col("p") - col("y"), 2)), 4).as("holdout_brier"))
    val rule = Corpus.qualityGate(docs).select(col("doc_id"), col("keep"))
    val c = qualityMargins(docs).join(rule, Seq("doc_id"))
      .select(col("clf_margin").as("m"), col("keep").cast("double").as("y"))
      .crossJoin(grid)
      .groupBy("t").agg(
        round(avg(pow(p - col("y"), 2)), 4).as("corpus_brier"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("holdout_nll"), col("t").desc)
    h.join(c, Seq("t"))
      .withColumn("chosen", row_number().over(w) === 1)
      .select(col("t"), col("holdout_nll"), col("holdout_brier"),
        col("corpus_brier"), col("chosen"))
      .orderBy("t")
  }

  /** q280's constants: η = the exponentiated-gradient step size of the
    * Group-DRO weight update (DoReMi, Xie et al. 2023 alg. 1), α = the
    * uniform-smoothing mix that keeps every domain sampled, and T* =
    * q279's CORPUS-validated temperature (the corpus-Brier optimum,
    * 0.125 — NOT the holdout-NLL argmin, exactly the distinction q279
    * publishes), at which σ(margin/T*) is honest enough to feed a loss. */
  private[graft] val DoremiEta = 1.0
  private[graft] val DoremiAlpha = 0.5
  private[graft] val DoremiT = 0.125
  private[graft] val NllEps = 1e-12

  /** q280's body: DOMAIN REWEIGHTING via the Group-DRO exponentiated-
    * gradient step — the DoReMi-shaped "learned mixture" member of the
    * mixture family (q104 samples a GIVEN mixture, q144 temperature-
    * flattens by SIZE; this derives weights from a LOSS signal). Per
    * source domain: docs, mean calibrated cross-entropy of the
    * classifier against the rule-gate reference verdict (p = σ(m/T*) —
    * the q278→q279 calibration arc's consumer), excess over the
    * unweighted domain-mean baseline, and the tilted weights
    * w ∝ exp(η·excess) (hard domains UP-weighted, the DRO direction),
    * published raw and uniform-smoothed. One honest step, not the full
    * DoReMi proxy-retraining loop — the iteration is a training job,
    * the weight UPDATE is this exact arithmetic (the LloydKMeans /
    * GdClassifier contract-reduction discipline).
    *
    * Scale shape: the q273 pairing shape — the margin and rule-bit
    * projections of the same documents scan joined doc-keyed (co-
    * partitioned equi-joins at any scale) — feeding ONE partial-
    * aggregable groupBy(source) → |domains| rows; the baseline/Z
    * whole-frame windows run over those ~20 rows (q197's exemption
    * class), never the corpus. Float discipline: per-domain mean loss
    * rounds at the aggregate; baseline, excess, tilt, and both weights
    * are arithmetic on the ROUNDED means (exp ulp noise absorbed by the
    * final round-4), so the published table is hash-stable. */
  private[graft] def domainReweight(docs: DataFrame): DataFrame = {
    val rule = Corpus.qualityGate(docs).select(col("doc_id"), col("keep"))
    // standard NLL epsilon clamp: at T*=0.125 a margin |m| >~ 4.6 already
    // saturates sigma(m/T) past double round-off toward exactly 0/1, and
    // one such doc would drive a domain's mean_loss to Infinity/NaN.
    // Latent on current margins (~±0.05) but load-bearing for new corpora;
    // the DuckDB twin clamps identically so the hashes stay aligned.
    val pRaw = lit(1.0) / (lit(1.0) + exp(-col("clf_margin") / lit(DoremiT)))
    val p = greatest(least(pRaw, lit(1.0 - NllEps)), lit(NllEps))
    val scored = qualityMargins(docs)
      .join(rule, Seq("doc_id"))
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .select(col("source"), p.as("p"), col("keep").cast("double").as("y"))
      .select(col("source"), (-(col("y") * log(col("p")) +
        (lit(1.0) - col("y")) * log(lit(1.0) - col("p")))).as("loss"))
    val dom = scored.groupBy("source").agg(
      count(lit(1)).as("n_docs"), round(avg("loss"), 4).as("mean_loss"))
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    dom
      .withColumn("baseline", round(avg(col("mean_loss")).over(all), 4))
      .withColumn("k", count(lit(1)).over(all).cast("double"))
      .withColumn("excess", round(col("mean_loss") - col("baseline"), 4))
      .withColumn("tilt", exp(lit(DoremiEta) * col("excess")))
      .withColumn("z", sum(col("tilt")).over(all))
      .select(col("source"), col("n_docs"), col("mean_loss"), col("excess"),
        round(col("tilt") / col("z"), 4).as("w_raw"),
        round(lit(DoremiAlpha) * col("tilt") / col("z") +
          (lit(1.0) - lit(DoremiAlpha)) / col("k"), 4).as("w_smoothed"))
      .orderBy("source")
  }

  /** q282's body: the corpus SAMPLED at q280's smoothed weights — the
    * mixture family's consumer (given q104 / flattened q144 /
    * loss-driven q280 → consumed HERE). Target arithmetic is integer
    * end-to-end on the published round-4 weights (w4 = weight in 1e-4
    * units; N = min_d ⌊n_d·10⁴/w4⌋ the largest corpus deliverable at
    * the mixture without exhausting a domain; per-domain target
    * ⌊N·w4/10⁴⌋ ≤ n_d by construction); the keep decision is q104's
    * content-hash bucket — u from md5(doc_id), keep iff
    * u·n_d < 65536·target — so membership is deterministic across
    * engines, repartitioning, and cluster size, and the achieved-vs-
    * target gap published per domain is honest binomial hash noise.
    * Scale shape: one domainReweight pass (co-partitioned doc-keyed
    * joins → ~20-row aggregate), the 20-row target table broadcast
    * back over a pure-scan sampling pass, one partial-aggregable
    * groupBy(source); whole-frame windows only over the ~20 domain
    * rows (q197 exemption class). */
  private[graft] def doremiSample(docs: DataFrame): DataFrame = {
    val wt = domainReweight(docs)
      .select(col("source"), col("n_docs"), col("w_smoothed"))
      .withColumn("wu", round(col("w_smoothed") * lit(10000)).cast("long"))
    // Degenerate-weight guard (r14 ADVICE): if every domain's round-4
    // weight folds to wu = 0, min() over the empty set is NULL and every
    // downstream row would go silently NULL — fail loud instead (the
    // q285 raise_error contract). Can't happen on q280's smoothed
    // weights (uniform smoothing floors each at (1-α)/k > 0), so this
    // guards a pathological FUTURE weight table, not the deployed one.
    val nt = wt.filter(col("wu") > 0)
      .agg(min(expr("n_docs * 10000 div wu")).as("n_total"))
      .select(coalesce(col("n_total"), raise_error(lit(
        "doremiSample: every domain weight folded to 0 at 1e-4 " +
          "resolution — no deliverable mixture (degenerate weight table)"))
        .cast("long")).as("n_total"))
    val tg = wt.crossJoin(broadcast(nt))
      .withColumn("n_target", expr("n_total * wu div 10000"))
      .select(col("source"), col("n_docs"),
        col("w_smoothed").as("w_target"), col("n_target"))
    val du = docs.select(col("doc_id"), col("source"))
      .withColumn("hx", expr("substring(md5(CAST(doc_id AS STRING)), 1, 4)"))
      .withColumn("u", expr(Corpus.hexFoldSpark("hx", 4)))
    val sm = du.join(broadcast(tg), Seq("source"))
      .filter(col("u") * col("n_docs") < lit(65536L) * col("n_target"))
      .groupBy("source").agg(count(lit(1)).as("n_sampled"))
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    tg.join(sm, Seq("source"), "left")
      .withColumn("n_sampled", coalesce(col("n_sampled"), lit(0L)))
      .withColumn("ts", sum("n_sampled").over(all))
      // same guard on the achieved total: ts = 0 (every target rounds
      // to zero docs) would divide the shares into silent NULLs
      .withColumn("ts", when(col("ts") > 0, col("ts"))
        .otherwise(raise_error(lit(
          "doremiSample: zero documents sampled across every domain — " +
            "the mixture's per-domain targets all rounded to 0")).cast("long")))
      .select(col("source"), col("n_docs"), col("w_target"),
        col("n_target"), col("n_sampled"),
        round(col("n_sampled") * lit(1.0) / col("ts"), 4).as("achieved_share"))
      .withColumn("gap", round(abs(col("achieved_share") - col("w_target")), 4))
      .orderBy("source")
  }

  /** q283's smoothing: add-k with k = 1/2 written as the exact rational
    * (c12 + 1/2)/(c1 + V/2) = (2·c12 + 1)/(2·c1 + V), so every log
    * argument is an INTEGER — no float division inside the sum, the only
    * cross-engine surface is ln() of exact integers (the tilt/NLL
    * precedent, guarded by the same round-4 + measured-clearance
    * discipline). */
  private[graft] val LmPplBucketDiv = 100L

  /** q283's body: CCNet-style LANGUAGE-MODEL PERPLEXITY scoring
    * (Wenzek et al. 2020 §4.3) — the quality signal the actual CCNet
    * pipeline uses (a KenLM trained on Wikipedia; documents split into
    * head/middle/tail by perplexity terciles), contract-reduced to this
    * engine's apparatus: the reference LM is a bigram add-1/2 model
    * trained on the RULE-GATE SURVIVORS (q100's keep — the in-corpus
    * stand-in for "reference-like text", the same reduction GdClassifier
    * makes for the trained gate), every document is scored by
    * ppl = exp(−Σ log P(w2|w1) / n_bigrams), and the corpus splits into
    * CCNet's head/middle/tail thirds by ascending perplexity
    * (keep = not tail, the CCNet default). A doc never seen by the LM
    * backs off to P = k/(kV) = 1/V per OOV bigram — finite, never NaN.
    *
    * Float discipline: log arguments are exact integers (see
    * [[LmPplBucketDiv]] scaladoc); log_prob rounds at the doc
    * aggregate; ppl = round(exp(−lp₄/n_bi), 4) is deterministic
    * arithmetic on the rounded value; everything downstream (ppl4,
    * bucket, rank, tercile) is INTEGER on ppl4 = ppl·10⁴ with doc_id
    * tie-breaks. Corpus14Spec measures the rounding clearance.
    *
    * Scale shape: the training vocabulary is FIXED at top-[[LmVocabCap]]
    * tokens (one partial-aggregable unigram count + TakeOrderedAndProject;
    * OOV maps to [[LmOovSymbol]] before the bigram count), so the LM
    * tables are ≤ (V+1)²-bounded BY CONSTRUCTION at any corpus size —
    * never data-sized — and broadcast honestly; scoring is broadcast
    * joins + one groupBy(doc_id) — all corpus-sized work is keyed and
    * partial-aggregable. The tercile split is the q112/q115 two-pass
    * bucket-boundary pattern, NOT a global rank window: ppl4 buckets
    * (width [[LmPplBucketDiv]] = 0.01-ppl units, a value-domain-bounded
    * ≤ ~35k-row count table) locate each doc's global rank as
    * bucket-cumsum + within-bucket row_number (window partitioned by
    * bucket; granularity is the knob that bounds the partition at any
    * corpus size). The cumsum window runs over the tiny bucket table
    * only (q197 exemption class). */
  /** (doc_id, w1, w2) bigram-occurrence pairs — the shared feature
    * extraction of q283 and q284. */
  private[graft] def bigramPairs(d: DataFrame): DataFrame =
    d.select(col("doc_id"), expr(toksExpr).as("w"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(w) >= 2
          |THEN transform(sequence(0, size(w)-2), i -> struct(w[i] AS w1, w[i+1] AS w2))
          |ELSE transform(slice(w, 1, 0), x -> struct(x AS w1, x AS w2)) END"""
          .stripMargin.replace("\n", " "))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))

  /** q283's training-vocabulary cap V — the KenLM/CCNet fixed-vocab
    * discipline (Wenzek et al. 2020 train their reference LM on a FIXED
    * Wikipedia vocabulary; q284's mod-[[DsirBuckets]] hashing is the
    * in-repo precedent): the LM trains on the top-V reference tokens by
    * frequency and every other token maps to [[LmOovSymbol]] BEFORE the
    * bigram count, so lm2 is ≤ (V+1)² rows BY CONSTRUCTION at any
    * corpus size and the broadcast hints in [[lmScore]] are honest at
    * 100 TB (an uncapped distinct-bigram table is data-sized on a real
    * web corpus — billions of rows — and a broadcast hint on it is an
    * OOM, not a plan). 4096 ≫ this corpus's full vocabulary, so no
    * published value moved when the cap landed (Corpus14Spec asserts
    * the OOV row is absent at sf0.001); the OOV path itself is
    * exercised with a tiny cap on an over-V synthetic corpus. */
  private[graft] val LmVocabCap = 4096

  /** The reserved out-of-vocabulary token. It contains spaces, which the
    * shared tokenizer (split on ' ', drop empties) can NEVER produce —
    * so no real token collides with it by construction, not by audit. */
  private[graft] val LmOovSymbol = "< oov >"

  /** Maps the (w1, w2) sides of a bigram frame onto the fixed training
    * vocabulary `vt`: in-vocab tokens pass through, everything else
    * becomes [[LmOovSymbol]]. Applied identically at train and score
    * time (two broadcast joins against the ≤V-row vocab — a scored
    * token the model never saw hits the OOV row's counts, or the add-½
    * backoff when even the OOV context is unseen). Non-key columns
    * (doc_id on the scoring side) ride through untouched. */
  private def mapOov(pairs: DataFrame, vt: DataFrame): DataFrame =
    pairs
      .join(broadcast(vt.select(col("tok").as("w1"), lit(true).as("in1"))),
        Seq("w1"), "left")
      .join(broadcast(vt.select(col("tok").as("w2"), lit(true).as("in2"))),
        Seq("w2"), "left")
      .select(pairs.columns.filter(c => c != "w1" && c != "w2").map(col).toSeq ++ Seq(
        when(col("in1"), col("w1")).otherwise(lit(LmOovSymbol)).as("w1"),
        when(col("in2"), col("w2")).otherwise(lit(LmOovSymbol)).as("w2")): _*)

  /** q283's trained artifact: (bigram counts, prefix counts, vocab size,
    * vocab tokens) from the reference corpus — the "train in batch, ship
    * the model" half; [[lmScore]] is the deploy half and runs UNCHANGED
    * on a readStream frontier (StatefulStreamingSpec proves stream ≡
    * batch), exactly how a production perplexity gate deploys a fixed
    * KenLM. `cap` is [[LmVocabCap]] in production; parameterized only so
    * the spec can exercise the OOV path cheaply. */
  private[graft] def lmModels(ref: DataFrame, cap: Int = LmVocabCap)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // The FIXED training vocabulary first: top-`cap` reference tokens by
    // frequency, ties on the token string — one partial-aggregable
    // unigram count into a TakeOrderedAndProject (the only data-sized
    // work; its result is ≤ cap rows, pinned and broadcast below).
    val vt = ref.select(explode(expr(toksExpr)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok").asc).limit(cap)
      .select("tok").localCheckpoint()
    // ONE reference pass: the OOV-mapped bigram table is PINNED
    // (localCheckpoint — the q268 corpus-fraction rule: a tiny
    // ≤(V+1)²-bounded frame ending a scan+gate+join+explode lineage that
    // three consumers would otherwise re-run; ProfQ283 (BASELINE.md "Retired harnesses")
    // measured the
    // unpinned three-frame build at ~29 s vs ~3 s pinned at sf0.1), and
    // the other two model tables DERIVE from it exactly: c1 = Σ_w2 c12
    // (the prefix count IS the bigram-table marginal), and
    // v = |{w1} ∪ {w2}| of the MAPPED space — on an under-cap corpus
    // equal to the distinct-token count (every gate survivor has ≥ 2
    // tokens by construction: len_ok ≥ 100 chars with toklen ≤ 12
    // implies ≥ 9 tokens, so every token occurs in some bigram), and
    // ≤ V+1 on any corpus.
    val lm2 = mapOov(bigramPairs(ref), vt).groupBy("w1", "w2")
      .agg(count(lit(1)).as("c12")).localCheckpoint()
    val lm1 = lm2.groupBy("w1").agg(sum("c12").as("c1"))
    val vocab = lm2.select(col("w1").as("tok"))
      .union(lm2.select(col("w2").as("tok")))
      .agg(countDistinct("tok").as("v"))
    (lm2, lm1, vocab, vt)
  }

  /** q283's scoring half, input-agnostic (batch or stream): per doc,
    * (n_bigrams, log_prob, ppl) under the FROZEN model tables — pure
    * stream-static broadcast joins + one doc-keyed aggregate. Every
    * broadcast side is bounded by construction: lm2 ≤ (V+1)², lm1 and
    * vt ≤ V+1, vocab is 1 row. */
  private[graft] def lmScore(docs: DataFrame, lm2: DataFrame,
      lm1: DataFrame, vocab: DataFrame, vt: DataFrame): DataFrame =
    mapOov(bigramPairs(docs), vt)
      .join(broadcast(lm2), Seq("w1", "w2"), "left")
      .join(broadcast(lm1), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        round(sum(
          log(lit(2L) * coalesce(col("c12"), lit(0L)) + lit(1L)) -
            log(lit(2L) * coalesce(col("c1"), lit(0L)) + col("v"))), 4)
          .as("log_prob"))
      .withColumn("ppl", round(exp(-col("log_prob") / col("n_bigrams")), 4))

  private[graft] def lmPerplexity(docs: DataFrame): DataFrame =
    lmPerplexityFrom(docs,
      Corpus.qualityGate(docs).select("doc_id", "keep").localCheckpoint())

  /** [[lmPerplexity]] with the gate DECISION precomputed (the 9 B/doc
    * (doc_id, keep) pin) — q285 shares ONE gate pass across all four
    * signals instead of each re-deriving it (no DataFrame CSE). */
  private[graft] def lmPerplexityFrom(docs: DataFrame, gate: DataFrame): DataFrame = {
    val ref = docs.join(gate.filter(col("keep"))
      .select("doc_id"), Seq("doc_id"), "left_semi")
    val (lm2, lm1, vocab, vt) = lmModels(ref)
    val scored = lmScore(docs, lm2, lm1, vocab, vt)
      .withColumn("ppl4", round(col("ppl") * lit(10000)).cast("long"))
      .withColumn("b", expr(s"ppl4 div $LmPplBucketDiv"))
    val bc = scored.groupBy(col("b").as("bb")).agg(count(lit(1)).as("bcnt"))
    val wb = org.apache.spark.sql.expressions.Window.orderBy("bb")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = bc.withColumn("cumb", coalesce(sum("bcnt").over(wb), lit(0L)))
      .select("bb", "cumb")
    val tot = scored.agg(count(lit(1)).as("n_total"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("b").orderBy(col("ppl4"), col("doc_id"))
    scored.join(broadcast(cum), col("b") === col("bb"))
      .crossJoin(broadcast(tot))
      .withColumn("rnk", col("cumb") + row_number().over(win))
      .withColumn("tercile",
        when(col("rnk") <= expr("n_total div 3"), "head")
          .when(col("rnk") <= expr("(2 * n_total) div 3"), "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("n_bigrams"), col("log_prob"), col("ppl"),
        col("tercile"), (col("tercile") =!= "tail").as("keep"))
      .orderBy("doc_id")
  }

  private[graft] val DsirBuckets = 1024L
  private[graft] val DsirKeepDen = 4L

  /** q284's body: DSIR — Data Selection via Importance Resampling
    * (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling") over HASHED bigram features, the
    * selection-side sibling of q283's perplexity signal: two
    * bag-of-hashed-ngrams unigram models (target = the rule-gate
    * survivors, the same reference reduction as q283/GdClassifier;
    * raw = the full corpus), per-document log importance weight
    * log w(x) = Σ_occurrences [log p_target(b) − log p_raw(b)], and
    * the top n/[[DsirKeepDen]] documents by weight selected — the
    * deterministic contract reduction of the paper's Gumbel-noise
    * resampling (the noise exists to diversify ties; here ties break
    * on doc_id, so selection is reproducible and oracle-checkable).
    *
    * Feature hashing is ENGINE-PORTABLE by the q104 discipline: bucket
    * = md5(bigram) hex-fold mod [[DsirBuckets]] — never an engine's
    * native hash. Both smoothed models are exact rationals
    * ((2c_b+1)/(2N+B), the q283 k=1/2 form), so every log argument is
    * an INTEGER; log_w rounds at the doc aggregate (clearance measured
    * in-spec) and the selection rank is integer on w4 = log_w·10⁴ with
    * doc_id tie-breaks, via the q112 two-pass bucket-boundary pattern
    * (descending — highest weight first), never a global rank window.
    *
    * Scale shape: the two models are ≤[[DsirBuckets]]-row partial-
    * aggregable bucket counts (broadcast back — at 100 TB the model
    * tables are still 1024 rows); scoring is broadcast joins + one
    * groupBy(doc_id); the only corpus-sized shuffles are doc-keyed. */
  /** q284's hashed-bigram bucket features (doc_id, b) — md5 hex-fold
    * mod [[DsirBuckets]], the engine-portable q104 hashing. */
  private[graft] def dsirFeats(d: DataFrame): DataFrame =
    d.select(col("doc_id"), expr(toksExpr).as("w"))
      .select(col("doc_id"), explode(expr(Corpus.ngramSpark(2))).as("bg"))
      .select(col("doc_id"), expr(
        s"CAST(conv(substring(md5(bg), 1, 4), 16, 10) AS BIGINT) % $DsirBuckets")
        .as("b"))

  /** q284's trained artifact: the two ≤[[DsirBuckets]]-row hashed
    * models + their totals — train-in-batch half; [[dsirScore]] is the
    * deploy half and runs unchanged on a readStream frontier. */
  private[graft] def dsirModels(ref: DataFrame, raw: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // both ≤DsirBuckets-row models PINNED once (the lmModels rationale);
    // the totals derive from the pinned tables — zero extra corpus passes
    val tf = dsirFeats(ref).groupBy("b")
      .agg(count(lit(1)).as("tb")).localCheckpoint()
    val rf = dsirFeats(raw).groupBy("b")
      .agg(count(lit(1)).as("rb")).localCheckpoint()
    (tf, rf, tf.agg(sum("tb").as("tc")), rf.agg(sum("rb").as("rc")))
  }

  /** q284's scoring half, input-agnostic (batch or stream): per doc,
    * (n_bigrams, log_w) under the FROZEN models — stream-static
    * broadcast joins + one doc-keyed aggregate. */
  private[graft] def dsirScore(docs: DataFrame, tf: DataFrame,
      rf: DataFrame, tt: DataFrame, rt: DataFrame): DataFrame =
    dsirFeats(docs)
      .join(broadcast(tf), Seq("b"), "left")
      .join(broadcast(rf), Seq("b"), "left")
      .crossJoin(broadcast(tt)).crossJoin(broadcast(rt))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        round(sum(
          log(lit(2L) * coalesce(col("tb"), lit(0L)) + lit(1L)) -
            log(lit(2L) * col("tc") + lit(DsirBuckets)) -
            log(lit(2L) * coalesce(col("rb"), lit(0L)) + lit(1L)) +
            log(lit(2L) * col("rc") + lit(DsirBuckets))), 4).as("log_w"))

  private[graft] def dsirSelect(docs: DataFrame): DataFrame =
    dsirSelectFrom(docs,
      Corpus.qualityGate(docs).select("doc_id", "keep").localCheckpoint())

  /** [[dsirSelect]] with the gate decision precomputed — see
    * [[lmPerplexityFrom]]. */
  private[graft] def dsirSelectFrom(docs: DataFrame, gate: DataFrame): DataFrame = {
    val ref = docs.join(gate.filter(col("keep"))
      .select("doc_id"), Seq("doc_id"), "left_semi")
    val (tf, rf, tt, rt) = dsirModels(ref, docs)
    val scored = dsirScore(docs, tf, rf, tt, rt)
      .withColumn("w4", round(col("log_w") * lit(10000)).cast("long"))
      .withColumn("bk", expr(s"w4 div $LmPplBucketDiv"))
    val bc = scored.groupBy(col("bk").as("bb")).agg(count(lit(1)).as("bcnt"))
    val wb = org.apache.spark.sql.expressions.Window.orderBy(col("bb").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = bc.withColumn("cumb", coalesce(sum("bcnt").over(wb), lit(0L)))
      .select("bb", "cumb")
    val tot = scored.agg(count(lit(1)).as("n_total"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("bk").orderBy(col("w4").desc, col("doc_id"))
    scored.join(broadcast(cum), col("bk") === col("bb"))
      .crossJoin(broadcast(tot))
      .withColumn("rnk", col("cumb") + row_number().over(win))
      .select(col("doc_id"), col("n_bigrams"), col("log_w"),
        (col("rnk") <= expr(s"n_total div $DsirKeepDen")).as("selected"))
      .orderBy("doc_id")
  }

  /** The four per-doc verdicts joined doc-keyed onto the corpus spine
    * (LEFT + raise_error fail-loud — the gateFlags contract: a signal
    * frame that drops docs fails loud, never silently shrinks a cell;
    * q283 and q284 score only ≥2-token docs, which on any real corpus is
    * every doc — the guard turns that assumption into an error message
    * the day it breaks) and folded
    * to their observed 2⁴ contingency cells (rule_keep, clf_keep,
    * ppl_keep, dsir_selected, n_docs) — the ONE corpus pass shared by
    * q285 (which adds shares) and q286 (which decides). One gate pass
    * shared by the rule column AND both gate-trained signals
    * (lmPerplexityFrom/dsirSelectFrom) — the 9 B/doc decision pin;
    * without it the fold re-derived the gate four times. */
  private[graft] def signalCells(docs: DataFrame): DataFrame = {
    def must(c: String) = coalesce(col(c), raise_error(lit(
      s"qualitySignalCube: $c missing for some doc — a quality-signal " +
        "frame returned fewer rows than the corpus"))).as(c)
    val gate = Corpus.qualityGate(docs).select("doc_id", "keep").localCheckpoint()
    val f = docs.select(col("doc_id"))
      .join(gate
        .select(col("doc_id"), col("keep").as("rule_keep")), Seq("doc_id"), "left")
      .join(qualityClassify(docs)
        .select(col("doc_id"), col("clf_keep")), Seq("doc_id"), "left")
      .join(lmPerplexityFrom(docs, gate)
        .select(col("doc_id"), col("keep").as("ppl_keep")), Seq("doc_id"), "left")
      .join(dsirSelectFrom(docs, gate)
        .select(col("doc_id"), col("selected").as("dsir_selected")), Seq("doc_id"), "left")
      .select(col("doc_id"), must("rule_keep"), must("clf_keep"),
        must("ppl_keep"), must("dsir_selected"))
    f.groupBy("rule_keep", "clf_keep", "ppl_keep", "dsir_selected")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** q285's body: [[signalCells]] with per-cell corpus shares — the
    * share window runs over the ≤16 cell rows only (q197 class). */
  private[graft] def qualitySignalCube(docs: DataFrame): DataFrame = {
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    signalCells(docs)
      .withColumn("share", round(col("n_docs") * lit(1.0) /
        sum("n_docs").over(all), 4))
      .orderBy("rule_keep", "clf_keep", "ppl_keep", "dsir_selected")
  }

  /** q286's body: the ENSEMBLE CURATION VERDICT — the quality family's
    * consumer (the scorecard publishes four verdicts per doc; this
    * DECIDES, completing audit→action→consumer the way q282 did for
    * the mixture family).
    *
    * DECISION RULE (policy, with grounds): keep iff rule_keep AND ≥2 of
    * the 3 learned signals {clf_keep, ppl_keep, dsir_selected}.
    * Grounds: (1) the rule gate is MANDATORY — it encodes hard
    * constraints (length, stopword density, repetition) that a learned
    * signal may not override, the precision-first rule the q277
    * threshold recalibration stated; (2) the learned signals are three
    * genuinely different instruments (q285: every signal dissents
    * somewhere), so a 2-of-3 majority tolerates any single instrument's
    * idiosyncrasy without handing veto power to the strictest one
    * (DSIR's fixed top-quarter would otherwise cap the corpus at 25%);
    * (3) ties cannot occur (3 voters).
    *
    * Published per signal (4 rows): its own keep count, and its PIVOTAL
    * influence on the ensemble — unique_save = ensemble-kept docs that
    * flip to dropped if this signal alone flips (for the mandatory rule
    * gate that is every kept doc, by design), unique_kill =
    * ensemble-dropped docs that flip to kept (for a learned signal:
    * rule-kept docs where it voted drop and exactly one other learned
    * signal voted keep; for the rule gate: docs the learned majority
    * wanted). Constant columns carry the decision totals: ens_kept,
    * n_total, reduction = (n_total − ens_kept)/n_total.
    *
    * Scale shape: ONE partial-aggregable corpus fold ([[signalCells]])
    * onto ≤16 cells, pinned; everything below is arithmetic over those
    * rows (the q197 exemption class). */
  private[graft] def ensembleVerdict(docs: DataFrame): DataFrame =
    ensembleFromCells(signalCells(docs))

  /** [[ensembleVerdict]]'s arithmetic over an ALREADY-FOLDED cell frame
    * (rule_keep, clf_keep, ppl_keep, dsir_selected, n_docs) — shared
    * with qualitySignalsFlow, which folds the cells from its LANDED
    * scorecard so the `_verdict` sidecar provably tells the landed
    * bytes' story (the `_cube` discipline). */
  private[graft] def ensembleFromCells(cells: DataFrame): DataFrame = {
    // ≤16 rows pinned — five consumers below must not re-run the fold
    val c = cells
      .withColumn("lk", col("clf_keep").cast("int") +
        col("ppl_keep").cast("int") + col("dsir_selected").cast("int"))
      .withColumn("ens", col("rule_keep") && col("lk") >= 2)
      .localCheckpoint()
    val tot = c.agg(
      sum("n_docs").as("n_total"),
      sum(when(col("ens"), col("n_docs")).otherwise(0L)).as("ens_kept"))
    type Column = org.apache.spark.sql.Column
    def sig(name: String, keep: Column, save: Column, kill: Column) =
      c.agg(
        sum(when(keep, col("n_docs")).otherwise(0L)).as("n_keep"),
        sum(when(save, col("n_docs")).otherwise(0L)).as("unique_save"),
        sum(when(kill, col("n_docs")).otherwise(0L)).as("unique_kill"))
        .select(lit(name).as("signal"), col("n_keep"),
          col("unique_save"), col("unique_kill"))
    // a learned signal is pivotal-keep on ens cells where it is the
    // marginal second vote (lk = 2 and it voted keep), pivotal-drop on
    // rule-kept cells where flipping it reaches the majority (lk = 1
    // with its own vote drop)
    def learned(name: String, s: Column) = sig(name, s,
      col("ens") && col("lk") === 2 && s,
      col("rule_keep") && !s && col("lk") === 1)
    val rows = sig("rule", col("rule_keep"),
        col("ens"), !col("rule_keep") && col("lk") >= 2)
      .unionByName(learned("clf", col("clf_keep")))
      .unionByName(learned("ppl", col("ppl_keep")))
      .unionByName(learned("dsir", col("dsir_selected")))
    rows.crossJoin(broadcast(tot))
      .withColumn("reduction",
        round((col("n_total") - col("ens_kept")) * lit(1.0) / col("n_total"), 4))
      .select(col("signal"), col("n_keep"), col("unique_save"),
        col("unique_kill"), col("ens_kept"), col("n_total"), col("reduction"))
      .orderBy("signal")
  }

  /** The deterministic non-target-language injection for the funnel's
    * lang-id gate (the q262/q274 dirty-twin idiom — the synthetic corpus
    * is uniformly English-shaped, q34 predicts 'en' on every document,
    * so an uninjected gate would be inert): doc_id % 17 = 4 docs gain 40
    * repeats of 4 Spanish stopwords, doc_id % 19 = 6 gain 40 repeats of
    * 4 German ones — 160 injected hits versus a ≤100-token document, so
    * the injected language wins the argmax by construction. Injection
    * lives ONLY inside the gate decision; survivors keep original text
    * (exactly as the blocklist gate's dirty twin). */
  private def langDirty = concat(col("text"),
    when(col("doc_id") % 17 === 4, repeat(lit(" el que y en"), 40)).otherwise(lit("")),
    when(col("doc_id") % 19 === 6, repeat(lit(" der und ist von"), 40)).otherwise(lit("")))

  private[operators] val langDirtyDuck =
    """text || CASE WHEN doc_id % 17 = 4 THEN repeat(' el que y en', 40) ELSE '' END
      | || CASE WHEN doc_id % 19 = 6 THEN repeat(' der und ist von', 40) ELSE '' END"""
      .stripMargin.replace("\n", "")

  /** The CCNet/FineWeb LANGUAGE-ID GATE (keep = target language wins
    * q34's stopword-hit argmax): per-doc battery counts, the predicted
    * language, and the keep verdict. Runs q34's EXACT heuristic (shared
    * battery table, shared tokenizer, same argmax tie-break = table
    * order) over the dirty twin — the FULL [[TextAnalytics.langBatteries]]
    * table (en/es/de/ru incl. the non-Latin-script row), every count
    * column, the argmax, and the keep condition GENERATED from it, so
    * adding a language is a battery-row edit and nothing here. Stateless
    * map work — array filters inside one scan projection, zero shuffles
    * at any corpus size, runs unchanged on a readStream frontier. */
  private[graft] def langGateDecisions(docs: DataFrame): DataFrame = {
    val langs = TextAnalytics.langBatteries.map(_._1)
    withLangGate(docs).select(
      col("doc_id") +: langs.map(l => col(s"n_$l")) :+ col("predicted") :+ col("keep"): _*)
  }

  /** APPENDING form of the lang gate (r16): adds the battery counts,
    * `predicted`, and `keep` to `df` (which must carry doc_id + text)
    * without a join — the funnel composes it with the other stateless
    * per-doc gates in ONE projection, where a (doc_id, keep) frame
    * joined back would cost two exchanges per gate. Same expressions,
    * one definition (q275 selects its published columns from this). */
  private[graft] def withLangGate(df: DataFrame): DataFrame = {
    import TextAnalytics.{langBatteries, langList}
    val langs = langBatteries.map(_._1)
    // dirty text -> tokens -> per-language counts -> argmax
    val withToks = df
      .withColumn("__ltext", langDirty)
      .withColumn("__lw", expr("filter(split(lower(__ltext), ' '), x -> x <> '')"))
    val withCounts = langs.foldLeft(withToks) { (d, l) =>
      d.withColumn(s"n_$l",
        expr(s"CAST(size(filter(__lw, x -> x IN (${langList(l)}))) AS BIGINT)"))
    }
    withCounts
      .withColumn("predicted", TextAnalytics.langPredColOf(langs))
      .withColumn("keep", col("predicted") === lit(langs.head))
      .drop("__ltext", "__lw")
  }

  /** The lang-id decision chain as DuckDB CTEs ending in
    * `${p}lang(doc_id, n_<lang>..., predicted, keep)` — shared by q275
    * and q268's funnel oracle (one definition), generated from the same
    * battery table as the Spark body. */
  private[operators] def langDuckCte(src: String = "documents", p: String = ""): String = {
    import TextAnalytics.{langBatteries, langList, langPredDuckOf, toksDuck}
    val langs = langBatteries.map(_._1)
    val counts = langs.map(l =>
      s"CAST(len(list_filter(w, x -> x IN (${langList(l)}))) AS BIGINT) AS n_$l")
      .mkString(", ")
    val keepCond = langs.tail.map(o => s"n_${langs.head} >= n_$o").mkString(" AND ")
    s"""${p}ld AS (SELECT doc_id, $langDirtyDuck AS text FROM $src),
       |${p}lw AS (SELECT doc_id, $toksDuck AS w FROM ${p}ld),
       |${p}lc AS (SELECT doc_id, $counts FROM ${p}lw),
       |${p}lang AS (SELECT doc_id, ${langs.map(l => s"n_$l").mkString(", ")},
       |${langPredDuckOf(langs)} AS predicted,
       |$keepCond AS keep FROM ${p}lc)"""
      .stripMargin.replace("\n", " ")
  }

  def defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q273_quality_classifier_gate",
      // TRAINED QUALITY-CLASSIFIER GATE vs the q100 RULE gate: per
      // document, the GD-trained margin > QThreshold decision (the
      // operating point q276's sweep chose — see QThreshold for the
      // q277-driven recalibration), q100's rule-based keep, and whether
      // they agree. All four confusion cells occur at every SF (the
      // classifier is LENIENT where rules hard-cut length — rules drop
      // short docs the classifier's density boundary keeps — and STRICT
      // on filler-dense docs the rules pass), so the published rows are
      // a real operating-point comparison, not a constant column.
      (s, dir) => classifierVsRuleGate(Tables.documents(s, dir)),
      Some(s"""WITH ${clfDuckCte()},
              |${Corpus.gateDuckCte("g_")}
              |SELECT clf.doc_id AS doc_id, clf.clf_keep AS clf_keep,
              |(len_ok AND stop_ok AND toklen_ok AND rep_ok) AS rule_keep,
              |clf.clf_keep = (len_ok AND stop_ok AND toklen_ok AND rep_ok) AS agree
              |FROM clf JOIN g_r ON clf.doc_id = g_r.doc_id
              |ORDER BY clf.doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q274_blocklist_gate",
      // C4 BLOCKLIST GATE (Raffel et al. 2020 §2.2): drop any document
      // containing a blocklisted TOKEN; per-category counts published
      // so a 100 TB run reports WHY documents dropped (the q100 bit
      // discipline). Token-exact matching on the shared tokenizer, not
      // substring — the Scunthorpe-critique-proof form. See
      // blocklistGate for the injection fixture and scale shape.
      (s, dir) => blocklistGate(Tables.documents(s, dir)),
      Some("""WITH d AS (SELECT doc_id, text
             | || CASE WHEN doc_id % 7 = 3 THEN ' badcat0' ELSE '' END
             | || CASE WHEN doc_id % 11 = 5 THEN ' badcat1 badcat1' ELSE '' END
             | || CASE WHEN doc_id % 13 = 8 THEN ' badcat2' ELSE '' END AS t FROM documents),
             |w AS (SELECT doc_id, list_filter(string_split(lower(t), ' '), x -> x <> '') AS w FROM d),
             |c AS (SELECT doc_id,
             |CAST(len(list_filter(w, x -> x = 'badcat0')) AS BIGINT) AS n_profanity,
             |CAST(len(list_filter(w, x -> x = 'badcat1')) AS BIGINT) AS n_violence,
             |CAST(len(list_filter(w, x -> x = 'badcat2')) AS BIGINT) AS n_adult FROM w)
             |SELECT doc_id, n_profanity, n_violence, n_adult,
             |n_profanity + n_violence + n_adult AS blocked_total,
             |n_profanity + n_violence + n_adult = 0 AS keep
             |FROM c ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q275_langid_gate",
      // LANGUAGE-ID GATE (CCNet §3 / FineWeb: language filtering right
      // after URL dedup, before the quality gates): q34's stopword-hit
      // argmax deployed as a keep/drop decision over the dirty twin
      // (langDirty — deterministic es/de stopword injections so the
      // gate has real work: ~11% of docs drop). Battery table, the
      // tokenizer, and the tie-break are the SHARED q34 definitions —
      // the gate cannot drift from the scoring query — and since r12
      // the battery is DATA (TextAnalytics.langBatteries, including the
      // Cyrillic 'ru' row: zero hits on this corpus, but the count/
      // argmax path is exercised and spec-proven non-ASCII-safe).
      // Stateless zero-shuffle map work; see langGateDecisions.
      (s, dir) => langGateDecisions(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(s"""WITH ${langDuckCte()}
              |SELECT doc_id, ${TextAnalytics.langBatteries.map(b => s"n_${b._1}").mkString(", ")}, predicted, keep
              |FROM lang ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q276_clf_operating_point",
      // CLASSIFIER OPERATING POINT (the q271 discipline applied to
      // q273): per margin threshold t ∈ {−0.05, 0, 0.03, +0.05} — 0.03
      // being the DEPLOYED QThreshold, 0 the naive point it replaced —
      // the classifier's precision/recall on a 32-row balanced labeled
      // HOLDOUT the fit never saw (incl. 8 boundary rows INSIDE the
      // clear rows' margin gap, so the sweep genuinely trades P vs R:
      // 0.80/1.0 → 0.9375/0.9375 → 1.0/0.75 → 1.0/0.625 across the
      // four thresholds — QThreshold = the max-recall precision-1.0
      // point) — the "which gate is RIGHT" answer
      // q273's agreement rows alone can't give — plus the corpus
      // agreement matrix vs q100's rule gate. The oracle re-derives the
      // GD training loop, holdout scoring, and all four operating
      // points as one CTE chain (clfDuckCte's unroll + holdout CTEs
      // sharing its dfx/w3/b3 relations), so the published operating
      // point is hash-checked end to end.
      (s, dir) => classifierOperatingPoint(Tables.documents(s, dir)),
      Some {
        val n = qualityFixture.size
        val holdVals = qualityHoldout.zipWithIndex.map { case ((text, label), i) =>
          s"($i, '$text', '$label')"
        }.mkString(", ")
        val thVals = marginThresholds.map(t => s"($t)").mkString(", ")
        s"""WITH ${clfDuckCte()},
           |${Corpus.gateDuckCte("g_")},
           |th(t) AS (VALUES $thVals),
           |hv(i, text, label) AS (VALUES $holdVals),
           |htok AS (SELECT i, unnest(list_filter(string_split(lower(text), ' '),
           |x -> x <> '' AND x NOT IN ($stopSqlList))) AS term FROM hv),
           |hl AS (SELECT i, CAST(count(*) AS DOUBLE) AS l FROM htok GROUP BY 1),
           |hx AS (SELECT i, term, CAST(count(*) AS DOUBLE) AS tf FROM htok GROUP BY 1, 2),
           |hs AS (SELECT hx.i, sum(hx.tf / hl.l * (ln(($n + 1.0) / (dfx.dfc + 1.0)) + 1.0) * w.w) AS s
           |FROM hx JOIN hl USING (i) JOIN dfx ON hx.term = dfx.term JOIN w$QSteps w ON hx.term = w.term GROUP BY 1),
           |hm AS (SELECT hv.i, hv.label, coalesce(hs.s, 0) + (SELECT b FROM b$QSteps) AS m
           |FROM hv LEFT JOIN hs ON hv.i = hs.i),
           |hh AS (SELECT t,
           |CAST(sum(CASE WHEN m > t AND label = 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           |CAST(sum(CASE WHEN m > t AND label <> 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           |CAST(sum(CASE WHEN m <= t AND label = 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           |CAST(sum(CASE WHEN m <= t AND label <> 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS tn
           |FROM th, hm GROUP BY 1),
           |cx AS (SELECT clf.clf_margin AS m,
           |(len_ok AND stop_ok AND toklen_ok AND rep_ok) AS rk
           |FROM clf JOIN g_r ON clf.doc_id = g_r.doc_id),
           |cc AS (SELECT t,
           |CAST(sum(CASE WHEN m > t AND rk THEN 1 ELSE 0 END) AS BIGINT) AS both_keep,
           |CAST(sum(CASE WHEN m > t AND NOT rk THEN 1 ELSE 0 END) AS BIGINT) AS clf_only,
           |CAST(sum(CASE WHEN m <= t AND rk THEN 1 ELSE 0 END) AS BIGINT) AS rule_only,
           |CAST(sum(CASE WHEN m <= t AND NOT rk THEN 1 ELSE 0 END) AS BIGINT) AS both_drop
           |FROM th, cx GROUP BY 1)
           |SELECT th.t AS t, tp, fp, fn, tn,
           |round(tp * 1.0 / (tp + fp), 4) AS "precision",
           |round(tp * 1.0 / (tp + fn), 4) AS "recall",
           |both_keep, clf_only, rule_only, both_drop
           |FROM th JOIN hh USING (t) JOIN cc USING (t)
           |ORDER BY t""".stripMargin.replace("\n", " ")
      }),

    QueryDef(
      "q278_clf_reliability",
      // CLASSIFIER RELIABILITY DIAGRAM + ECE (Guo et al. 2017): q276
      // audits the gate's DECISIONS at swept thresholds; this audits
      // whether the probability scale between them is CALIBRATED — per
      // margin bin (edges = the q276 thresholds, so the same clearance
      // pin covers both audits), mean predicted P(quality) vs the
      // empirical positive rate on the corpus (rule gate as reference
      // verdict) and on the labeled holdout, plus each scope's expected
      // calibration error. The "is the classifier's confidence
      // meaningful" readout that decides whether margins can be reused
      // as sampling weights (the FineWeb-Edu score-as-weight pattern)
      // or are only safe as a hard gate. See classifierReliability for
      // the scale shape and float discipline.
      (s, dir) => classifierReliability(Tables.documents(s, dir)),
      Some {
        val n = qualityFixture.size
        val edges = reliabilityEdges
        val holdVals = qualityHoldout.zipWithIndex.map { case ((text, label), i) =>
          s"($i, '$text', '$label')"
        }.mkString(", ")
        val binCase =
          "CASE " + edges.zipWithIndex.map { case (e, i) =>
            s"WHEN m <= CAST($e AS DOUBLE) THEN $i"
          }.mkString(" ") + s" ELSE ${edges.size} END"
        val lo = "-inf" +: edges.map(_.toString)
        val hi = edges.map(_.toString) :+ "inf"
        def labelCase(xs: Seq[String]) =
          "CASE bin " + xs.zipWithIndex.map { case (x, i) =>
            s"WHEN $i THEN '$x'"
          }.mkString(" ") + " END"
        s"""WITH ${clfDuckCte()},
           |${Corpus.gateDuckCte("g_")},
           |hv(i, text, label) AS (VALUES $holdVals),
           |htok AS (SELECT i, unnest(list_filter(string_split(lower(text), ' '),
           |x -> x <> '' AND x NOT IN ($stopSqlList))) AS term FROM hv),
           |hl AS (SELECT i, CAST(count(*) AS DOUBLE) AS l FROM htok GROUP BY 1),
           |hx AS (SELECT i, term, CAST(count(*) AS DOUBLE) AS tf FROM htok GROUP BY 1, 2),
           |hs AS (SELECT hx.i, sum(hx.tf / hl.l * (ln(($n + 1.0) / (dfx.dfc + 1.0)) + 1.0) * w.w) AS s
           |FROM hx JOIN hl USING (i) JOIN dfx ON hx.term = dfx.term JOIN w$QSteps w ON hx.term = w.term GROUP BY 1),
           |hm AS (SELECT hv.i, hv.label, coalesce(hs.s, 0) + (SELECT b FROM b$QSteps) AS m
           |FROM hv LEFT JOIN hs ON hv.i = hs.i),
           |u AS (SELECT 'corpus' AS scope, clf.clf_margin AS m,
           |(len_ok AND stop_ok AND toklen_ok AND rep_ok) AS pos
           |FROM clf JOIN g_r ON clf.doc_id = g_r.doc_id
           |UNION ALL SELECT 'holdout', m, label = 'quality' FROM hm),
           |bnd AS (SELECT scope, $binCase AS bin, m, pos FROM u),
           |grp AS (SELECT scope, bin, CAST(count(*) AS BIGINT) AS n,
           |round(avg(1.0 / (1.0 + exp(-m))), 4) AS avg_p,
           |round(avg(CASE WHEN pos THEN 1.0 ELSE 0.0 END), 4) AS pos_rate
           |FROM bnd GROUP BY 1, 2),
           |gp AS (SELECT *, round(abs(avg_p - pos_rate), 4) AS gap FROM grp),
           |ec AS (SELECT *, round(sum(gap * n) OVER (PARTITION BY scope)
           | / CAST(sum(n) OVER (PARTITION BY scope) AS DOUBLE), 4) AS ece FROM gp)
           |SELECT scope, bin, ${labelCase(lo)} AS bin_lo, ${labelCase(hi)} AS bin_hi,
           |n, avg_p, pos_rate, gap, ece
           |FROM ec ORDER BY scope, bin""".stripMargin.replace("\n", " ")
      }),

    QueryDef(
      "q279_temperature_scaling",
      // TEMPERATURE SCALING sweep (Guo et al. 2017 §4.2) — the ACTION on
      // q278's finding (raw sigmoid scale compressed, holdout ECE 0.41):
      // per exact-binary temperature T, the holdout NLL + Brier and the
      // corpus Brier vs the rule verdict under p = σ(margin/T), with the
      // holdout-NLL argmin marked. Binning-free metrics (no bin-edge
      // float hazard); on the boundary holdout the argmin is an
      // INTERIOR T (2^-7) while the corpus-vs-rule Brier optimum stays
      // at the milder 2^-3 — the measured reason the deployed gate
      // stays a hard threshold and what T a sampling-weights consumer
      // should take instead of raw σ(margin).
      // See temperatureScaling for the scale shape.
      (s, dir) => temperatureScaling(Tables.documents(s, dir)),
      Some {
        val n = qualityFixture.size
        val holdVals = qualityHoldout.zipWithIndex.map { case ((text, label), i) =>
          s"($i, '$text', '$label')"
        }.mkString(", ")
        val gridVals = temperatureGrid.map(t => s"($t)").mkString(", ")
        s"""WITH ${clfDuckCte()},
           |${Corpus.gateDuckCte("g_")},
           |hv(i, text, label) AS (VALUES $holdVals),
           |htok AS (SELECT i, unnest(list_filter(string_split(lower(text), ' '),
           |x -> x <> '' AND x NOT IN ($stopSqlList))) AS term FROM hv),
           |hl AS (SELECT i, CAST(count(*) AS DOUBLE) AS l FROM htok GROUP BY 1),
           |hx AS (SELECT i, term, CAST(count(*) AS DOUBLE) AS tf FROM htok GROUP BY 1, 2),
           |hs AS (SELECT hx.i, sum(hx.tf / hl.l * (ln(($n + 1.0) / (dfx.dfc + 1.0)) + 1.0) * w.w) AS s
           |FROM hx JOIN hl USING (i) JOIN dfx ON hx.term = dfx.term JOIN w$QSteps w ON hx.term = w.term GROUP BY 1),
           |hm AS (SELECT hv.i, hv.label, coalesce(hs.s, 0) + (SELECT b FROM b$QSteps) AS m
           |FROM hv LEFT JOIN hs ON hv.i = hs.i),
           |tg AS (SELECT CAST(t AS DOUBLE) AS t FROM (VALUES $gridVals) v(t)),
           |hh AS (SELECT tg.t, 1.0 / (1.0 + exp(-hm.m / tg.t)) AS p,
           |CASE WHEN label = 'quality' THEN 1.0 ELSE 0.0 END AS y FROM tg, hm),
           |ha AS (SELECT t,
           |round(avg(-ln(CASE WHEN y = 1.0 THEN p ELSE 1.0 - p END)), 4) AS holdout_nll,
           |round(avg(pow(p - y, 2)), 4) AS holdout_brier FROM hh GROUP BY 1),
           |cx AS (SELECT clf.clf_margin AS m,
           |CASE WHEN (len_ok AND stop_ok AND toklen_ok AND rep_ok) THEN 1.0 ELSE 0.0 END AS y
           |FROM clf JOIN g_r ON clf.doc_id = g_r.doc_id),
           |ca AS (SELECT tg.t,
           |round(avg(pow(1.0 / (1.0 + exp(-cx.m / tg.t)) - cx.y, 2)), 4) AS corpus_brier
           |FROM tg, cx GROUP BY 1),
           |j AS (SELECT ha.t AS t, holdout_nll, holdout_brier, corpus_brier
           |FROM ha JOIN ca ON ha.t = ca.t),
           |r AS (SELECT *, row_number() OVER (ORDER BY holdout_nll, t DESC) AS rn FROM j)
           |SELECT t, holdout_nll, holdout_brier, corpus_brier, rn = 1 AS chosen
           |FROM r ORDER BY t""".stripMargin.replace("\n", " ")
      }),

    QueryDef(
      "q280_domain_reweight",
      // DoReMi-STEP DOMAIN REWEIGHTING (Xie et al. 2023): per source
      // domain, the mean calibrated classifier cross-entropy against
      // the rule verdict (at q279's corpus-validated T*), the excess
      // over the domain-mean baseline, and Group-DRO exponentiated-
      // gradient weights (raw + uniform-smoothed) — the loss-DRIVEN
      // mixture member next to q104 (given mixture) and q144 (size-
      // flattened mixture): domains where the two gates disagree most
      // get up-weighted, the DRO "hardest group" direction. See
      // domainReweight for the one-step contract reduction and the
      // scale/float shape.
      (s, dir) => domainReweight(Tables.documents(s, dir)),
      Some {
        s"""WITH $reweightDuckCte
           |SELECT source, n_docs, mean_loss, excess,
           |round(tilt / z, 4) AS w_raw,
           |round($DoremiAlpha * tilt / z + (1.0 - $DoremiAlpha) / k, 4) AS w_smoothed
           |FROM t4 ORDER BY source""".stripMargin.replace("\n", " ")
      }),

    QueryDef(
      "q282_doremi_sample",
      // DoReMi WEIGHTS CONSUMED (completes audit→action→consumer for
      // the mixture family the way q278→q279→q280 did for calibration):
      // deterministically sample the corpus AT q280's smoothed weights
      // — the content-hash bucket discipline of q104 (md5-derived
      // integer u, integer threshold compare, reproducible under any
      // repartitioning), with the target mixture DERIVED, not given.
      // Per domain: the target share w_target (= q280's w_smoothed),
      // the largest total N the corpus can deliver at that mixture
      // without exhausting any domain (N = min_d ⌊n_d·10⁴/w4_d⌋, all
      // integer — w4 = the published round-4 weight in 1e-4 units, so
      // no float threshold crosses an engine boundary), the per-domain
      // target count ⌊N·w4/10⁴⌋, the achieved hash-sampled count, the
      // achieved share, and the |achieved − target| gap (sampling is
      // binomial per doc, so the gap is honest hash-noise, not zero by
      // construction). Scale shape: domainReweight's co-partitioned
      // scan → ~20-row weight table (broadcast); the sampling pass is
      // pure scan expressions + a broadcast join + one partial-
      // aggregable groupBy(source); whole-frame windows only over the
      // ~20 domain rows (the q197 exemption class).
      (s, dir) => doremiSample(Tables.documents(s, dir)),
      Some {
        s"""WITH $reweightDuckCte,
           |wt AS (SELECT source, n_docs,
           |round($DoremiAlpha * tilt / z + (1.0 - $DoremiAlpha) / k, 4) AS w_smoothed FROM t4),
           |w4 AS (SELECT *, CAST(round(w_smoothed * 10000) AS BIGINT) AS wu FROM wt),
           |nt AS (SELECT CAST(min(n_docs * 10000 // wu) AS BIGINT) AS n_total FROM w4 WHERE wu > 0),
           |tg AS (SELECT source, n_docs, w_smoothed,
           |CAST((SELECT n_total FROM nt) * wu // 10000 AS BIGINT) AS n_target FROM w4),
           |du AS (SELECT d.doc_id, d.source,
           |${Corpus.hexFoldDuck("substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)", 4)} AS u
           |FROM documents d),
           |sm AS (SELECT du.source, CAST(count(*) AS BIGINT) AS n_sampled
           |FROM du JOIN tg ON du.source = tg.source
           |WHERE du.u * tg.n_docs < 65536 * tg.n_target GROUP BY 1),
           |fin AS (SELECT tg.source, tg.n_docs, tg.w_smoothed AS w_target, tg.n_target,
           |coalesce(sm.n_sampled, 0) AS n_sampled
           |FROM tg LEFT JOIN sm ON tg.source = sm.source),
           |tot AS (SELECT CAST(sum(n_sampled) AS BIGINT) AS ts FROM fin)
           |SELECT source, n_docs, w_target, n_target, n_sampled,
           |round(n_sampled * 1.0 / (SELECT ts FROM tot), 4) AS achieved_share,
           |round(abs(round(n_sampled * 1.0 / (SELECT ts FROM tot), 4) - w_target), 4) AS gap
           |FROM fin ORDER BY source""".stripMargin.replace("\n", " ")
      }),

    QueryDef(
      "q283_lm_perplexity",
      // CCNet LM-PERPLEXITY QUALITY SIGNAL (Wenzek et al. 2020 §4.3 —
      // the quality dimension the actual CCNet pipeline gates on,
      // missing until now next to the rule battery and the trained
      // classifier): a bigram add-1/2 LM trained on the rule-gate
      // survivors scores every document; the corpus splits into CCNet's
      // head/middle/tail perplexity terciles (ascending ppl = closest
      // to reference first); keep = not tail, the CCNet default. The
      // training vocabulary is FIXED at top-LmVocabCap tokens with OOV
      // mapped to a reserved symbol before the bigram count (r14 —
      // KenLM's fixed-vocab discipline), so the model tables are
      // V-bounded by construction, not by assumption. Log
      // arguments are exact integers ((2c12+1)/(2c1+V) — the k=1/2
      // rational), ranks are integer on ppl4 with doc_id tie-breaks,
      // and the tercile split is the q112 two-pass bucket-boundary
      // pattern, never a global rank window. See lmPerplexity.
      //
      // THE READING (sf0.001): ppl spans 25.56-45.02; the head caps at
      // 29.30 and the tail starts at 30.43 — a real spread, and the
      // signal carries information the rule gate agrees with without
      // duplicating it: head+middle docs are rule-kept at 84.1% vs the
      // corpus's 63.4% (q285 reads the full joint).
      (s, dir) => lmPerplexity(Tables.documents(s, dir)),
      Some {
        s"""WITH ${Corpus.gateDuckCte("g_")},
           |${lmPplDuckCte("l_")}
           |SELECT doc_id, n_bigrams, log_prob, ppl, tercile, tercile <> 'tail' AS keep
           |FROM l_tc ORDER BY doc_id""".stripMargin.replace("\n", " ")
      }),

    QueryDef(
      "q284_dsir_select",
      // DSIR — importance-resampling data selection (Xie et al. 2023):
      // per document, the log importance weight between two hashed-
      // bigram unigram models (target = rule-gate survivors, raw = the
      // corpus; buckets = md5 hex-fold mod 1024, the engine-portable
      // q104 hashing discipline), and the top-quarter selection by
      // weight — the deterministic reduction of the paper's Gumbel
      // resampling (ties break on doc_id instead of noise). Exact-
      // integer log arguments, integer descending rank via the q112
      // bucket-boundary pattern. See dsirSelect.
      //
      // THE READING (sf0.001): log_w spans −5.21..+2.73 and the
      // selected quarter (125/500, threshold +0.43) is rule-kept at
      // 98.4% vs the corpus's 63.4% — the DSIR claim (importance
      // selection enriches the target distribution) measured, and
      // asserted as an inequality in Corpus14Spec.
      (s, dir) => dsirSelect(Tables.documents(s, dir)),
      Some {
        s"""WITH ${Corpus.gateDuckCte("g_")},
           |${dsirDuckCte("d_")}
           |SELECT doc_id, n_bigrams, log_w, selected
           |FROM d_sel ORDER BY doc_id""".stripMargin.replace("\n", " ")
      }),

    QueryDef(
      "q285_quality_signal_cube",
      // QUALITY-SIGNAL AGREEMENT CUBE — the q277/q281 joint-distribution
      // discipline applied to the whole quality family: the corpus's
      // four independent quality verdicts (q100 rule gate, q273 trained
      // classifier, q283 perplexity not-tail, q284 DSIR top-quarter)
      // folded into the observed cells of their 2⁴ contingency cube
      // with per-cell counts and corpus share — the one table that
      // answers "do the signals agree, and where do they split" (each
      // pairwise agreement, every unique-dissent cell, and the
      // all-four-agree mass are all reads off it). THE READING
      // (sf0.001): 12 of 16 cells occupied — the four signals are
      // genuinely different instruments (all-four-agree-keep 22.8%,
      // all-reject 1.8%, and every signal dissents somewhere); the
      // biggest splits are rule-only-reject vs classifier (24.2%) and
      // the strict DSIR quarter inside the three-way-keep mass (31.2%
      // kept by rule+clf+ppl but not selected). Scale shape: each
      // signal is its standalone query's plan joined doc-keyed onto the
      // corpus spine (LEFT + raise_error fail-loud, the gateFlags
      // contract); ONE partial-aggregable groupBy folds the corpus onto
      // ≤16 cells; the share window runs over those rows (q197 class).
      (s, dir) => qualitySignalCube(Tables.documents(s, dir)),
      Some {
        s"""WITH ${Corpus.gateDuckCte("g_")},
           |${clfDuckCte()},
           |${lmPplDuckCte("l_")},
           |${dsirDuckCte("d_")},
           |fl AS (SELECT g_r.doc_id,
           |(len_ok AND stop_ok AND toklen_ok AND rep_ok) AS rule_keep,
           |clf.clf_keep AS clf_keep,
           |l_tc.tercile <> 'tail' AS ppl_keep,
           |d_sel.selected AS dsir_selected
           |FROM g_r JOIN clf ON g_r.doc_id = clf.doc_id
           |JOIN l_tc ON g_r.doc_id = l_tc.doc_id
           |JOIN d_sel ON g_r.doc_id = d_sel.doc_id),
           |cb AS (SELECT rule_keep, clf_keep, ppl_keep, dsir_selected,
           |CAST(count(*) AS BIGINT) AS n_docs FROM fl GROUP BY 1, 2, 3, 4)
           |SELECT rule_keep, clf_keep, ppl_keep, dsir_selected, n_docs,
           |round(n_docs * 1.0 / (SELECT sum(n_docs) FROM cb), 4) AS share
           |FROM cb ORDER BY rule_keep, clf_keep, ppl_keep, dsir_selected"""
          .stripMargin.replace("\n", " ")
      }),

    QueryDef(
      "q286_ensemble_verdict",
      // ENSEMBLE CURATION VERDICT — the quality family's consumer: the
      // scorecard's four verdicts DECIDE (keep iff rule-gate AND ≥2 of
      // the 3 learned signals — policy and grounds in ensembleVerdict's
      // scaladoc), completing audit→action→consumer the way q282 did
      // for mixtures. Per signal: its own keep count and its PIVOTAL
      // influence (unique_save / unique_kill = ensemble flips if this
      // signal alone flips), plus the decision totals (ens_kept,
      // n_total, corpus reduction). The oracle re-derives ALL FOUR
      // verdict chains end-to-end in one WITH (the q285 precedent) and
      // then the ensemble arithmetic — nothing is trusted from a
      // pasted table. THE READING (sf0.001): the ensemble keeps 279/500
      // (55.8%; the rule gate alone keeps 317 — the learned majority
      // tightens it by 38 net); the rule gate uniquely kills 50 docs
      // the learned majority wanted (its mandatory status is
      // load-bearing, not ceremonial); ppl and clf are the marginal
      // second votes on most kept docs (unique_save 162/159 — the
      // coalitions are real, not one signal rubber-stamping another);
      // and strict DSIR is the binding learned DROP vote (unique_kill
      // 35 vs clf's 4).
      (s, dir) => ensembleVerdict(Tables.documents(s, dir)),
      Some {
        def sigSql(name: String, s: String) =
          s"""SELECT '$name' AS signal,
             |CAST(sum(CASE WHEN $s THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
             |CAST(sum(CASE WHEN ens AND lk = 2 AND $s THEN 1 ELSE 0 END) AS BIGINT) AS unique_save,
             |CAST(sum(CASE WHEN rule_keep AND NOT $s AND lk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS unique_kill
             |FROM cx""".stripMargin.replace("\n", " ")
        s"""WITH ${Corpus.gateDuckCte("g_")},
           |${clfDuckCte()},
           |${lmPplDuckCte("l_")},
           |${dsirDuckCte("d_")},
           |fl AS (SELECT g_r.doc_id,
           |(len_ok AND stop_ok AND toklen_ok AND rep_ok) AS rule_keep,
           |clf.clf_keep AS clf_keep,
           |l_tc.tercile <> 'tail' AS ppl_keep,
           |d_sel.selected AS dsir_selected
           |FROM g_r JOIN clf ON g_r.doc_id = clf.doc_id
           |JOIN l_tc ON g_r.doc_id = l_tc.doc_id
           |JOIN d_sel ON g_r.doc_id = d_sel.doc_id),
           |ce AS (SELECT *, (CASE WHEN clf_keep THEN 1 ELSE 0 END
           | + CASE WHEN ppl_keep THEN 1 ELSE 0 END
           | + CASE WHEN dsir_selected THEN 1 ELSE 0 END) AS lk FROM fl),
           |cx AS MATERIALIZED (SELECT *, rule_keep AND lk >= 2 AS ens FROM ce),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
           |CAST(sum(CASE WHEN ens THEN 1 ELSE 0 END) AS BIGINT) AS ens_kept FROM cx),
           |sg AS (SELECT 'rule' AS signal,
           |CAST(sum(CASE WHEN rule_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           |CAST(sum(CASE WHEN ens THEN 1 ELSE 0 END) AS BIGINT) AS unique_save,
           |CAST(sum(CASE WHEN NOT rule_keep AND lk >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS unique_kill
           |FROM cx
           |UNION ALL ${sigSql("clf", "clf_keep")}
           |UNION ALL ${sigSql("ppl", "ppl_keep")}
           |UNION ALL ${sigSql("dsir", "dsir_selected")})
           |SELECT signal, n_keep, unique_save, unique_kill, ens_kept, n_total,
           |round((n_total - ens_kept) * 1.0 / n_total, 4) AS reduction
           |FROM sg, tot ORDER BY signal""".stripMargin.replace("\n", " ")
      })
  )

  /** q283's LM chain as a prefixed DuckDB CTE block — assumes
    * `g_r` (gateDuckCte("g_")) is already in scope; produces `${p}tc`
    * carrying (doc_id, n_bigrams, log_prob, ppl, tercile). Shared by
    * q283 and the q285 agreement cube, so the cube's oracle re-derives
    * the perplexity verdict end-to-end (the q276 CTE-chain
    * discipline). */
  private def lmPplDuckCte(p: String): String =
    s"""${p}t AS (SELECT doc_id, $toksDuck AS w FROM documents),
       |${p}ref AS MATERIALIZED (SELECT t.doc_id, w FROM ${p}t t JOIN g_r ON t.doc_id = g_r.doc_id
       |WHERE len_ok AND stop_ok AND toklen_ok AND rep_ok),
       |${p}vt AS MATERIALIZED (SELECT tok FROM (SELECT tok, count(*) AS c
       |FROM (SELECT unnest(w) AS tok FROM ${p}ref) GROUP BY tok)
       |ORDER BY c DESC, tok ASC LIMIT $LmVocabCap),
       |${p}rp0 AS (SELECT w[i] AS w1, w[i+1] AS w2 FROM ${p}ref,
       |LATERAL (SELECT unnest(generate_series(1, len(w)-1)) AS i) g WHERE len(w) >= 2),
       |${p}rp AS MATERIALIZED (SELECT
       |CASE WHEN w1 IN (SELECT tok FROM ${p}vt) THEN w1 ELSE '$LmOovSymbol' END AS w1,
       |CASE WHEN w2 IN (SELECT tok FROM ${p}vt) THEN w2 ELSE '$LmOovSymbol' END AS w2 FROM ${p}rp0),
       |${p}lm2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM ${p}rp GROUP BY 1, 2),
       |${p}lm1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM ${p}rp GROUP BY 1),
       |${p}vc AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
       |FROM (SELECT w1 AS tok FROM ${p}rp UNION ALL SELECT w2 FROM ${p}rp)),
       |${p}sp0 AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM ${p}t,
       |LATERAL (SELECT unnest(generate_series(1, len(w)-1)) AS i) g WHERE len(w) >= 2),
       |${p}sp AS (SELECT doc_id,
       |CASE WHEN w1 IN (SELECT tok FROM ${p}vt) THEN w1 ELSE '$LmOovSymbol' END AS w1,
       |CASE WHEN w2 IN (SELECT tok FROM ${p}vt) THEN w2 ELSE '$LmOovSymbol' END AS w2 FROM ${p}sp0),
       |${p}scd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |round(sum(ln(2 * coalesce(c12, 0) + 1) - ln(2 * coalesce(c1, 0) + v)), 4) AS log_prob
       |FROM ${p}sp LEFT JOIN ${p}lm2 USING (w1, w2) LEFT JOIN ${p}lm1 USING (w1)
       |CROSS JOIN ${p}vc GROUP BY 1),
       |${p}pp AS (SELECT *, round(exp(-log_prob / n_bigrams), 4) AS ppl FROM ${p}scd),
       |${p}p4 AS MATERIALIZED (SELECT *, CAST(round(ppl * 10000) AS BIGINT) AS ppl4,
       |CAST(round(ppl * 10000) AS BIGINT) // $LmPplBucketDiv AS b FROM ${p}pp),
       |${p}bc AS (SELECT b AS bb, CAST(count(*) AS BIGINT) AS bcnt FROM ${p}p4 GROUP BY 1),
       |${p}cm AS (SELECT bb, coalesce(sum(bcnt) OVER (ORDER BY bb
       |ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb FROM ${p}bc),
       |${p}nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM ${p}p4),
       |${p}rk AS (SELECT p4.*, cm.cumb + row_number()
       |OVER (PARTITION BY b ORDER BY ppl4, doc_id) AS rnk
       |FROM ${p}p4 p4 JOIN ${p}cm cm ON p4.b = cm.bb),
       |${p}tc AS MATERIALIZED (SELECT *, CASE
       |WHEN rnk <= (SELECT n_total FROM ${p}nt) // 3 THEN 'head'
       |WHEN rnk <= (2 * (SELECT n_total FROM ${p}nt)) // 3 THEN 'middle'
       |ELSE 'tail' END AS tercile FROM ${p}rk)""".stripMargin.replace("\n", " ")

  /** q284's DSIR chain as a prefixed DuckDB CTE block — assumes `g_r`
    * in scope; produces `${p}sel` carrying (doc_id, n_bigrams, log_w,
    * selected). Shared by q284 and the q285 agreement cube. The hex
    * prefix lands in its own CTE column before the fold: hexFoldDuck's
    * lambda binds `i`, which would capture the LATERAL position
    * variable if the md5 expression were spliced inline. */
  private def dsirDuckCte(p: String): String = {
    val bg = "w[i] || ' ' || w[i+1]"
    val bkt = s"${Corpus.hexFoldDuck("hx", 4)} % $DsirBuckets"
    s"""${p}t AS (SELECT doc_id, $toksDuck AS w FROM documents),
       |${p}ref AS MATERIALIZED (SELECT t.doc_id, w FROM ${p}t t JOIN g_r ON t.doc_id = g_r.doc_id
       |WHERE len_ok AND stop_ok AND toklen_ok AND rep_ok),
       |${p}rf0 AS (SELECT substr(md5($bg), 1, 4) AS hx FROM ${p}ref,
       |LATERAL (SELECT unnest(generate_series(1, len(w)-1)) AS i) g WHERE len(w) >= 2),
       |${p}rfe AS (SELECT $bkt AS b FROM ${p}rf0),
       |${p}af0 AS (SELECT doc_id, substr(md5($bg), 1, 4) AS hx FROM ${p}t,
       |LATERAL (SELECT unnest(generate_series(1, len(w)-1)) AS i) g WHERE len(w) >= 2),
       |${p}afe AS MATERIALIZED (SELECT doc_id, $bkt AS b FROM ${p}af0),
       |${p}tf AS (SELECT b, CAST(count(*) AS BIGINT) AS tb FROM ${p}rfe GROUP BY 1),
       |${p}rf AS (SELECT b, CAST(count(*) AS BIGINT) AS rb FROM ${p}afe GROUP BY 1),
       |${p}tt AS (SELECT CAST(sum(tb) AS BIGINT) AS tsum FROM ${p}tf),
       |${p}rt AS (SELECT CAST(sum(rb) AS BIGINT) AS rsum FROM ${p}rf),
       |${p}scd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |round(sum(ln(2 * coalesce(tb, 0) + 1) - ln(2 * tsum + $DsirBuckets)
       | - ln(2 * coalesce(rb, 0) + 1) + ln(2 * rsum + $DsirBuckets)), 4) AS log_w
       |FROM ${p}afe LEFT JOIN ${p}tf USING (b) LEFT JOIN ${p}rf USING (b)
       |CROSS JOIN ${p}tt CROSS JOIN ${p}rt GROUP BY 1),
       |${p}p4 AS MATERIALIZED (SELECT *, CAST(round(log_w * 10000) AS BIGINT) AS w4,
       |CAST(round(log_w * 10000) AS BIGINT) // $LmPplBucketDiv AS bk FROM ${p}scd),
       |${p}bc AS (SELECT bk AS bb, CAST(count(*) AS BIGINT) AS bcnt FROM ${p}p4 GROUP BY 1),
       |${p}cm AS (SELECT bb, coalesce(sum(bcnt) OVER (ORDER BY bb DESC
       |ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb FROM ${p}bc),
       |${p}nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM ${p}p4),
       |${p}rk AS (SELECT p4.*, cm.cumb + row_number()
       |OVER (PARTITION BY bk ORDER BY w4 DESC, doc_id) AS rnk
       |FROM ${p}p4 p4 JOIN ${p}cm cm ON p4.bk = cm.bb),
       |${p}sel AS MATERIALIZED (SELECT doc_id, n_bigrams, log_w,
       |rnk <= (SELECT n_total FROM ${p}nt) // $DsirKeepDen AS selected
       |FROM ${p}rk)""".stripMargin.replace("\n", " ")
  }

  /** The q280 reweight chain as one DuckDB CTE block (through `t4`,
    * which carries n_docs/mean_loss/excess/tilt/z/k per source) —
    * shared by q280 (publishes the weights) and q282 (consumes them),
    * so the consumer's oracle re-derives the weights END TO END rather
    * than trusting a pasted table (the q276 CTE-chain discipline). */
  private def reweightDuckCte: String =
    s"""${clfDuckCte()},
       |${Corpus.gateDuckCte("g_")},
       |sc AS (SELECT d.source AS source,
       |greatest(least(1.0 / (1.0 + exp(-clf.clf_margin / $DoremiT)), 1.0 - $NllEps), $NllEps) AS p,
       |CASE WHEN (len_ok AND stop_ok AND toklen_ok AND rep_ok) THEN 1.0 ELSE 0.0 END AS y
       |FROM clf JOIN g_r ON clf.doc_id = g_r.doc_id JOIN documents d ON clf.doc_id = d.doc_id),
       |ls AS (SELECT source, -(y * ln(p) + (1.0 - y) * ln(1.0 - p)) AS loss FROM sc),
       |dom AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |round(avg(loss), 4) AS mean_loss FROM ls GROUP BY 1),
       |t1 AS (SELECT *, round(avg(mean_loss) OVER (), 4) AS baseline,
       |CAST(count(*) OVER () AS DOUBLE) AS k FROM dom),
       |t2 AS (SELECT *, round(mean_loss - baseline, 4) AS excess FROM t1),
       |t3 AS (SELECT *, exp($DoremiEta * excess) AS tilt FROM t2),
       |t4 AS MATERIALIZED (SELECT *, sum(tilt) OVER () AS z FROM t3)"""
      .stripMargin.replace("\n", " ")
}
