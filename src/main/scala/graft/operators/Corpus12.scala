package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-9 corpus operators: the two production text-pipeline gates the
  * board did not yet carry — PII redaction (every web-corpus pipeline
  * scrubs emails/phones/IPs before training) and the Gopher-style
  * within-document repetition battery (Rae et al. 2021, "Scaling
  * Language Models: ... Gopher", table A1 — top-n-gram character
  * fraction and duplicate-n-gram character coverage). Both are "beyond
  * the reference" training-pipeline extensions; the reference has no
  * text hygiene at all (scrappy.py stores abstracts verbatim).
  */
object Corpus12 {

  import TextAnalytics.toksExpr

  // The three redaction patterns, identical bytes on both engines (Java
  // regex on the Spark side, RE2 in the DuckDB oracle — these constructs
  // — classes, \b, \d, {m,n} — behave identically in both).
  private val emailPat = """[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"""
  private val phonePat = """\b\d{3}-\d{3}-\d{4}\b"""
  private val ipPat = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""

  /** q262's deterministic PII injection: the synthetic corpus contains
    * no natural PII, so the query derives a "dirty" twin of each
    * document from doc_id (the fixture-transport idiom of the S1-S5
    * sources) and the scrub then has real, oracle-checkable work. Both
    * engines build the identical string. */
  private def dirtyCol = concat(col("text"),
    when(col("doc_id") % 3 === 0,
      concat(lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com now"))).otherwise(lit("")),
    when(col("doc_id") % 4 === 1,
      concat(lit(" call 415-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" today"))).otherwise(lit("")),
    when(col("doc_id") % 5 === 2,
      concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0.1 addr"))).otherwise(lit("")))

  private val dirtyDuck =
    """text
      | || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now' ELSE '' END
      | || CASE WHEN doc_id % 4 = 1 THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' ELSE '' END
      | || CASE WHEN doc_id % 5 = 2 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1 addr' ELSE '' END"""
      .stripMargin.replace("\n", "")

  /** q262's body, input-agnostic (docs needs `doc_id`, `text`): per-doc
    * PII counts by category, the redacted text, and the residual-free
    * invariant. Pure stateless map — no shuffle at any corpus size. */
  private[graft] def piiScrub(docs: DataFrame): DataFrame = {
    def n(c: org.apache.spark.sql.Column, pat: String) =
      size(regexp_extract_all(c, lit(pat), lit(0))).cast("long")
    docs.select(col("doc_id"), dirtyCol.as("t"))
      .select(col("doc_id"),
        n(col("t"), emailPat).as("n_emails"),
        n(col("t"), phonePat).as("n_phones"),
        n(col("t"), ipPat).as("n_ips"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("t"), emailPat, "[EMAIL]"),
            phonePat, "[PHONE]"),
          ipPat, "[IP]").as("scrubbed"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        (col("n_emails") + col("n_phones") + col("n_ips")).as("pii_total"),
        col("scrubbed"),
        (n(col("scrubbed"), emailPat) + n(col("scrubbed"), phonePat) +
          n(col("scrubbed"), ipPat) === 0).as("clean"))
      .orderBy("doc_id")
  }

  /** Per-doc character fraction of the single most frequent n-gram
    * (Gopher's "top n-gram character fraction"; the NeMo-Curator/Dolma
    * counting convention: occurrences × n-gram characters, spaces
    * excluded, over total non-space characters). Tie-break: max freq,
    * then max char length, then lexicographically largest gram — total
    * and identical on both engines. */
  private[graft] def topGramChars(t: DataFrame, n: Int, alias: String): DataFrame =
    t.select(col("doc_id"), explode(expr(Corpus.ngramSpark(n))).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
      .withColumn("chars", (length(col("gram")) - lit(n - 1)).cast("long"))
      .groupBy("doc_id")
      .agg(max(struct(col("cnt"), col("chars"), col("gram"))).as("wr"))
      .select(col("doc_id"), (col("wr.cnt") * col("wr.chars")).as(alias))

  /** Per-doc characters covered by ANY occurrence of a within-doc
    * duplicated n-gram (Gopher's "duplicate n-gram character fraction";
    * overlapping occurrences counted once via the position-set union —
    * the interval-union convention NeMo-Curator implements). */
  private[graft] def dupCoverageChars(t: DataFrame, n: Int, alias: String): DataFrame = {
    val o = t.select(col("doc_id"),
      posexplode(expr(Corpus.ngramSpark(n))).as(Seq("pos", "gram")))
    val d = o.groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("doc_id", "gram")
    val cov = o.join(d, Seq("doc_id", "gram"))
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${n - 1})")).as("p"))
      .distinct()
    val tok = t.select(col("doc_id"), posexplode(col("w")).as(Seq("p", "tok")))
      .select(col("doc_id"), col("p"), length(col("tok")).cast("long").as("len"))
    cov.join(tok, Seq("doc_id", "p")).groupBy("doc_id").agg(sum("len").as(alias))
  }

  /** q263's body: the five-signal repetition battery + keep gate.
    * PRODUCTION NOTE: Gopher's published battery runs top-{2,3,4} and
    * duplicate-{5..10}; this instantiation keeps Gopher's top-{2,3,4}
    * thresholds (0.20/0.18/0.16) but runs coverage at n = {2,3}
    * (thresholds 0.20/0.10) because the synthetic corpus contains zero
    * duplicate 5-grams — the plan shape is n-independent, so the
    * production widths are the same query with different constants
    * (Corpus12Spec proves the coverage logic at n = 5 on a fixture).
    *
    * SCALE SHAPE — a measured decision (r9): a fused alternative that
    * rode all widths on ONE width-tagged explode relation
    * E(doc_id, n, pos, gram) was built and benched at sf0.1 —
    * 4.73 s vs 3.00 s for this form (min-of-2, same session). Spark
    * has no DataFrame-level CSE, so E's three consumers (the
    * (doc,n,gram) count, the dup filter, the position union) each
    * recompute the full 3×-width explode, erasing the scan savings and
    * adding a wider shuffle; pinning E with localCheckpoint would
    * materialize a 3×-corpus-token intermediate — a non-starter at
    * 100 TB. This composition keeps five NARROW explode→partial-agg
    * pipelines: each is scan-bound, map-side-combinable, and skew-free
    * (all keys are (doc_id, …)-prefixed, so no corpus-wide hot key),
    * which is the shape that survives scale-up. Same verdict as the
    * cappedShingles df-cap measurement (see its scaladoc). */
  private[graft] def repetitionBattery(docs: DataFrame): DataFrame =
    // r16: the five signals fold in ONE codegen pass per document
    // ([[graft.functions.GopherStats]] — every signal is within-doc, so
    // the former five explode→(doc_id, gram)-agg pipelines and their
    // five joins, ~19 exchanges, computed nothing a per-row pass
    // cannot). The battery is now ZERO-shuffle map work at any corpus
    // size (the presentation sort is the only exchange), which is also
    // what removes most of the q268 funnel's post-cap barrier jobs.
    // Values are bit-identical to the aggregate twin
    // ([[repetitionBatteryAggTwin]], kept for the spec): same grams,
    // same (cnt, chars, gram) struct-max tie-break in binary UTF8
    // order, same position-set-union coverage, same absent→0 semantics
    // (Corpus12Spec asserts ≡ on the corpus AND on an adversarial
    // tie/edge fixture; the SQL-form oracle re-certifies per gate run).
    withGopherFracs(docs)
      .select(col("doc_id"), col("top2_frac"), col("top3_frac"),
        col("top4_frac"), col("dup2_frac"), col("dup3_frac"))
      .withColumn("keep", gopherKeepCol)
      .orderBy("doc_id")

  /** The battery's five fraction columns APPENDED per row in ONE
    * GopherStats codegen pass — the single shared definition for q263
    * ([[repetitionBattery]]) and the funnel's appending gate form
    * ([[withGopherKeep]]); the two cannot drift. */
  private[graft] def withGopherFracs(df: DataFrame): DataFrame = {
    val zero = struct(lit(0L).as("top2c"), lit(0L).as("top3c"),
      lit(0L).as("top4c"), lit(0L).as("dup2c"), lit(0L).as("dup3c"))
    def frac(c: org.apache.spark.sql.Column) =
      round(c * lit(1.0) / col("__gtc"), 4)
    df.withColumn("__gw", expr(toksExpr))
      .withColumn("__gtc",
        expr("CAST(length(replace(text, ' ', '')) AS BIGINT)"))
      .withColumn("__g",
        when(col("__gw").isNull, zero)
          .otherwise(graft.functions.GopherStats.gopherStats(col("__gw"))))
      .withColumn("top2_frac", frac(col("__g.top2c")))
      .withColumn("top3_frac", frac(col("__g.top3c")))
      .withColumn("top4_frac", frac(col("__g.top4c")))
      .withColumn("dup2_frac", frac(col("__g.dup2c")))
      .withColumn("dup3_frac", frac(col("__g.dup3c")))
      .drop("__gw", "__gtc", "__g")
  }

  /** The battery's keep verdict over the five fraction columns — one
    * definition for q263 and the appending gate form. */
  private def gopherKeepCol: org.apache.spark.sql.Column =
    col("top2_frac") <= 0.20 && col("top3_frac") <= 0.18 &&
      col("top4_frac") <= 0.16 &&
      col("dup2_frac") <= 0.20 && col("dup3_frac") <= 0.10

  /** APPENDING form of the battery gate (r17, the withLangGate
    * discipline): adds `f_gopher` to `df` (doc_id + text) without a
    * join. The battery has been ONE per-row codegen pass since r16, so
    * joining its frame back on doc_id — as the funnel's PASS 4 did —
    * bought nothing but the join's exchanges plus the battery's
    * presentation sort riding into the funnel plan. */
  private[graft] def withGopherKeep(df: DataFrame): DataFrame =
    withGopherFracs(df)
      .withColumn("f_gopher", gopherKeepCol)
      .drop("top2_frac", "top3_frac", "top4_frac", "dup2_frac", "dup3_frac")

  /** The pre-r16 aggregate composition of the battery — kept as the
    * value-equality TWIN for [[repetitionBattery]]'s codegen pass (the
    * sigsHofExpr/internExpr discipline): Corpus12Spec asserts the two
    * produce identical rows on the corpus and on the adversarial
    * tie/edge fixture. Not used by any query. */
  private[graft] def repetitionBatteryAggTwin(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), expr(toksExpr).as("w"),
      expr("CAST(length(replace(text, ' ', '')) AS BIGINT)").as("tc"))
    def frac(c: String) =
      round(coalesce(col(c), lit(0L)) * lit(1.0) / col("tc"), 4)
    t.join(topGramChars(t, 2, "c2"), Seq("doc_id"), "left")
      .join(topGramChars(t, 3, "c3"), Seq("doc_id"), "left")
      .join(topGramChars(t, 4, "c4"), Seq("doc_id"), "left")
      .join(dupCoverageChars(t, 2, "v2"), Seq("doc_id"), "left")
      .join(dupCoverageChars(t, 3, "v3"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        frac("c2").as("top2_frac"), frac("c3").as("top3_frac"),
        frac("c4").as("top4_frac"),
        frac("v2").as("dup2_frac"), frac("v3").as("dup3_frac"))
      .withColumn("keep",
        col("top2_frac") <= 0.20 && col("top3_frac") <= 0.18 &&
          col("top4_frac") <= 0.16 &&
          col("dup2_frac") <= 0.20 && col("dup3_frac") <= 0.10)
      .orderBy("doc_id")
  }

  private def topGramDuckCte(n: Int): String =
    s"""g$n AS (SELECT doc_id, unnest(${Corpus.ngramDuck(n)}) AS gram FROM t),
       |c$n AS (SELECT doc_id, gram, count(*) AS cnt,
       |CAST(length(gram) - ${n - 1} AS BIGINT) AS chars FROM g$n GROUP BY 1, 2),
       |t$n AS (SELECT doc_id, max({'cnt': cnt, 'chars': chars, 'gram': gram}) AS wr FROM c$n GROUP BY 1),
       |f$n AS (SELECT doc_id, wr.cnt * wr.chars AS topc FROM t$n)""".stripMargin

  private def dupCovDuckCte(n: Int): String =
    s"""o$n AS (SELECT doc_id, i AS pos, ${Corpus.ngramAtDuck(n)} AS gram
       |FROM t, LATERAL (SELECT unnest(generate_series(1, len(w)-${n - 1})) AS i) s$n WHERE len(w) >= $n),
       |d$n AS (SELECT doc_id, gram FROM o$n GROUP BY 1, 2 HAVING count(*) >= 2),
       |v$n AS (SELECT DISTINCT o.doc_id, o.pos + k AS p FROM o$n o JOIN d$n USING (doc_id, gram),
       |LATERAL (SELECT unnest(generate_series(0, ${n - 1})) AS k) k$n),
       |l$n AS (SELECT v.doc_id, CAST(sum(length(t.w[v.p])) AS BIGINT) AS covc
       |FROM v$n v JOIN t ON t.doc_id = v.doc_id GROUP BY 1)""".stripMargin

  /** q265's deterministic host injection (the q262 idiom — the synthetic
    * corpus has no URLs): `h0` is a deliberate heavy-hitter carrying ~1/3
    * of the corpus (the boilerplate-domain skew a per-domain cap exists
    * to contain); the rest spread uniformly over h1..h23. Identical
    * bytes on both engines. */
  private[operators] def hostCol = when(col("doc_id") % 3 === 0, lit("h0"))
    .otherwise(concat(lit("h"), ((col("doc_id") % 23) + 1).cast("string")))
  private[operators] val hostDuck =
    "CASE WHEN doc_id % 3 = 0 THEN 'h0' ELSE 'h' || CAST(doc_id % 23 + 1 AS VARCHAR) END"

  /** q265's body, input-agnostic: per-host document cap — keep the top
    * `cap` docs per host by n_chars (quality proxy; doc_id tie-break),
    * report what the cap did to each host. The per-host selection runs
    * through the [[graft.functions.TopKScored]] partial-aggregating
    * k-heap, NOT a window: a heavy-hitter host (h0 here; a boilerplate
    * domain with 10⁹ pages at 100 TB) trims to ≤2·cap rows per map
    * partition BEFORE the host-keyed exchange, where the window form
    * would land the whole domain in one task. */
  /** (doc_id, n_chars, host) — the stateless host attachment, shared by
    * q265 and its streaming twin (`StatefulOps.domainQuotaStream`). */
  private[graft] def hostedDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("n_chars"), hostCol.as("host"))

  private[graft] def domainQuota(docs: DataFrame, cap: Int = 10): DataFrame = {
    val top = udaf(new graft.functions.TopKScored(cap))
    hostedDocs(docs)
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        top(col("n_chars").cast("double"), col("doc_id")).as("kept"))
      .select(col("host"), col("n_docs"), col("total_chars"),
        size(col("kept")).cast("long").as("n_kept"),
        expr("CAST(aggregate(kept, 0D, (a, x) -> a + x.score) AS BIGINT)").as("kept_chars"),
        (col("n_docs") > cap).as("cap_hit"))
      .orderBy("host")
  }

  /** q266's deterministic dirty-URL injection: scheme + sometimes-WWW
    * host + path, then the three mess classes every crawler sees —
    * utm tracking query, trailing slash, fragment — so canonicalization
    * has real, oracle-checkable work. doc_id ≡ (mod 200) ⇒ same
    * canonical URL, so duplicate groups exist at every SF. */
  private def urlCol = concat(lit("https://"),
    when(col("doc_id") % 5 === 0, lit("WWW.")).otherwise(lit("")),
    lit("ex"), (col("doc_id") % 50).cast("string"), lit(".com/p/"),
    (col("doc_id") % 200).cast("string"),
    when(col("doc_id") % 3 === 0,
      concat(lit("?utm_source=feed&utm_campaign=c"), (col("doc_id") % 7).cast("string")))
      .when(col("doc_id") % 3 === 1, lit("/")).otherwise(lit("")),
    when(col("doc_id") % 7 === 0, lit("#sec")).otherwise(lit("")))

  private val urlDuck =
    """'https://'
      | || CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END
      | || 'ex' || CAST(doc_id % 50 AS VARCHAR) || '.com/p/' || CAST(doc_id % 200 AS VARCHAR)
      | || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&utm_campaign=c' || CAST(doc_id % 7 AS VARCHAR)
      |         WHEN doc_id % 3 = 1 THEN '/' ELSE '' END
      | || CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END"""
      .stripMargin.replace("\n", "")

  // The four canonicalization rules, in order: strip fragment, strip
  // utm-only tracking query, lowercase, strip www + trailing slash.
  // Every pattern is $-anchored or unique-per-url, so Spark's
  // replace-all and DuckDB's replace-first agree.
  private def canonCol(u: org.apache.spark.sql.Column) =
    regexp_replace(
      regexp_replace(
        lower(regexp_replace(regexp_replace(u, "#.*$", ""), "\\?utm_.*$", "")),
        "://www\\.", "://"),
      "/$", "")
  private def canonDuck(u: String) =
    s"""regexp_replace(regexp_replace(lower(regexp_replace(regexp_replace($u,
       |'#.*$$', ''), '\\?utm_.*$$', '')), '://www\\.', '://'), '/$$', '')"""
      .stripMargin.replace("\n", " ")

  /** The canonical-URL DuckDB expression over `documents` (q266's
    * injection + rules in one) — shared with q272's robots gate. */
  private[operators] def canonUrlDuck: String = canonDuck(s"($urlDuck)")

  /** q266's body: URL canonicalization + canonical-URL keep-first dedup
    * (the fetch-dedup step every web pipeline runs before content
    * dedup; RefinedWeb §3.1). Scale shape: canonicalization is
    * stateless map work; the winner per canonical URL is a
    * PARTIAL-AGGREGABLE min(doc_id) (a heavy-hitter URL collapses
    * map-side, q259's discipline), and the mark-kept join fans out only
    * to the actual duplicate count, which is the output's own size. */
  /** (doc_id, url, canon_url) — the stateless canonicalization stage,
    * shared by q266 and its streaming twin (`StatefulOps.urlDedupStream`
    * runs it unchanged on the stream; no shuffle, no state). */
  private[graft] def canonUrls(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), urlCol.as("url"))
      .withColumn("canon_url", canonCol(col("url")))

  private[graft] def urlDedup(docs: DataFrame): DataFrame = {
    val u = canonUrls(docs)
    val w = u.groupBy("canon_url").agg(min("doc_id").as("keep_id"))
    u.join(w, Seq("canon_url"))
      .select(col("doc_id"), col("url"), col("canon_url"),
        (col("doc_id") === col("keep_id")).as("kept"))
      .orderBy("doc_id")
  }

  /** Chunk-fingerprint exactness contract — [[Dedup.assertInterningExact]]'s
    * discipline applied to the scrub stage's keys: the chunk scrub
    * counts document frequency and elects keep-first winners BY
    * md5(chunk), so a corpus where two DISTINCT chunks share a
    * fingerprint would silently conflate unrelated text into one
    * df/winner group. md5's 128 bits make that cryptographically
    * negligible, but the contract is CHECKED, not assumed (exactly as
    * q260/q261 check the 60-bit interned forms). `hexWidth` exists only
    * so FlowsSpec can force a collision by pigeonhole; production runs
    * the full 32-hex digest. */
  private[graft] def assertChunkFpExact(chunks: DataFrame, hexWidth: Int = 32): Unit = {
    val v = chunks
      .groupBy(substring(md5(col("chunk")), 1, hexWidth).as("fp"))
      .agg(countDistinct(col("chunk")).as("nd"))
      .filter(col("nd") > 1).count()
    require(v == 0L,
      s"chunk fingerprinting UNSAFE on this corpus: $v fingerprint groups " +
        "carry more than one distinct chunk — the scrub's df/winner keys " +
        "would conflate unrelated chunks; fall back to exact chunk-string " +
        "keys (the q260/q261 contract)")
  }

  /** The funnel's named stage-survivor frames in order (element 0 is
    * the fetch corpus, the last is the chunk-scrub survivors) — ONE
    * definition shared by q268 (which assembles the audit rows) and
    * Flows.hygieneFlow (which lands the final survivors as the
    * training-ready product), so the API cannot drift from the oracled
    * audit.
    *
    * r16 RESTRUCTURE (guide §1.2 #1 / §2.4 — fewer passes, fewer
    * barriers): the r15 form pinned EIGHT eager localCheckpoints, one
    * per stage, and each pin's job fans out into 3-5 AQE stage-jobs —
    * a measured ~47 sequential driver jobs per funnel build at sf0.1,
    * all barrier floor (ProfR16b, BASELINE.md "Retired harnesses"; the
    * data is 5000 docs). Every PER-DOC
    * gate decision (robots rule match, lang-id argmax, blocklist
    * tokens, Gopher within-doc battery, the driver-constant classifier
    * margin) is a pure function of the document — corpus-independent —
    * so consecutive stateless gates fuse into ONE decision pass and the
    * funnel's conditioning is reconstructed EXACTLY as flag
    * conjunctions; only the set-dependent elections (URL-dedup min
    * winner over robots survivors, the per-host cap over lang
    * survivors, chunk df over clf survivors) keep their conditioned
    * inputs, which are identical sets by the conjunction argument.
    * FOUR pins (r17; r16 had five, r15 eight), two decision passes
    * instead of five:
    *   f  — pre-cap flags + election keys (doc_id, n_chars, host,
    *        canon_url, f_robots, f_lang): ~80 B/doc, the narrow-pin
    *        rule for corpus-scale frames (r11) unchanged;
    *   w  — f + the two election outcomes (won_url, won_quota);
    *   s2 — the cap-survivor TEXT, bounded by cap × |hosts| BY
    *        CONSTRUCTION, pinned once for its five text readers
    *        (the three post-cap gate decisions, the chunk scrub, the
    *        PII pass) — the r12 text-pin policy (ProfPinPolicy,
    *        BASELINE.md "Retired harnesses");
    *   w3 — the three post-cap stateless flags over s2, narrow.
    * The chunk-scrub ids (k4) lost their pin in r17 — see the PASS 5
    * comment: ReuseExchange already computes them once inside the one
    * audit action.
    * The short-circuit economics survive: at 100 TB the heavy gates
    * still only ever read the cap-bounded s2 (never the corpus), and
    * the only extra evaluations the fusion admits are the Gopher
    * battery on blocklist-killed s2 docs and the classifier fold on
    * Gopher-killed s2 docs — map-side arithmetic on an already
    * cap-bounded set, traded against two fewer full materializations
    * and scans of that set. Values are bit-identical to the sequential
    * form (same flags, same election inputs, same conjunctions); the
    * q268 oracle re-certifies per gate run. Measured at sf0.1
    * (min-of-2, noop sink): q268 5.68 → see OPTIMIZATION_r16.md. */
  private[graft] def hygieneStages(
      docs0: DataFrame, cap: Int = 10, minRetained: Double = 0.2): Seq[(String, DataFrame)] = {
    val docs = docs0.select(col("doc_id"), col("text"), col("n_chars"))
    // PASS 1 — every pre-cap per-doc decision + election key in one
    // scan, composed as APPENDED COLUMNS (no doc_id joins — a per-gate
    // (doc_id, keep) frame joined back would cost two exchanges per
    // gate): canonical URL + robots longest-match (q272's stateless
    // broadcast-rules plan), lang-id argmax (q275's body), the quota
    // host. The appending forms share one definition with the
    // standalone queries (withRobotsAllowed / withLangGate).
    val langCounts = graft.operators.TextAnalytics.langBatteries
      .map(l => s"n_${l._1}")
    val f = Corpus14.withLangGate(docs)
      .withColumnRenamed("keep", "f_lang")
      .drop(langCounts :+ "predicted": _*)
      .withColumn("canon_url", canonCol(urlCol))
      .transform(Corpus13.withRobotsAllowed)
      .withColumnRenamed("allowed", "f_robots")
      .select(col("doc_id"), col("n_chars"), hostCol.as("host"),
        col("canon_url"), col("f_robots"), col("f_lang"))
      .localCheckpoint()
    // PASS 2 — the two set-dependent elections, conditioned exactly as
    // the sequential funnel conditions them: URL winners among robots
    // survivors; the per-host k-heap cap (TopKScored — never a window,
    // q265's heavy-hitter argument) among robots ∧ url-win ∧ lang
    // survivors.
    val u = f.filter(col("f_robots")).groupBy("canon_url")
      .agg(min("doc_id").as("doc_id"))
      .select(col("doc_id"), lit(true).as("won_url"))
    val fu = f.join(u, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"), col("host"), col("f_robots"),
        col("f_lang"), coalesce(col("won_url"), lit(false)).as("won_url"))
    val top = udaf(new graft.functions.TopKScored(cap))
    val q = fu.filter(col("f_robots") && col("won_url") && col("f_lang"))
      .groupBy("host")
      .agg(top(col("n_chars").cast("double"), col("doc_id")).as("kept"))
      .select(explode(col("kept")).as("k"))
      .select(col("k.id").as("doc_id"), lit(true).as("won_quota"))
    val w = fu.join(q, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"), col("f_robots"), col("f_lang"),
        col("won_url"), coalesce(col("won_quota"), lit(false)).as("won_quota"))
      .localCheckpoint()
    val s1c = col("f_robots") && col("won_url")
    val s15c = s1c && col("f_lang")
    // PASS 3 — the cap-survivor text, bounded by cap × |hosts|, pinned
    // once for its five text readers (r12 text-pin policy, ProfPinPolicy
    // in BASELINE.md "Retired harnesses").
    val s2 = docs.join(
      w.filter(s15c && col("won_quota")).select("doc_id"), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    // PASS 4 — the three post-cap stateless gates over s2 as ONE pure
    // per-row projection (blocklist q274, Gopher battery q263,
    // classifier q273; the funnel order blocklist → gopher → clf is
    // recovered as nested conjunctions below). r17: the battery has
    // been a per-row codegen pass since r16 (GopherStats), so it now
    // APPENDS like the other two ([[withGopherKeep]]) instead of
    // joining its frame back on doc_id — the join's exchanges and the
    // battery's presentation sort are gone, and with them the last
    // shuffle in this pass. That makes w3 a zero-exchange projection
    // over the pinned s2; dropping its PIN was then measured (same-JVM
    // interleaved A/B, ProfR17FunnelAB in BASELINE.md "Retired harnesses",
    // two sessions) and LOST in 9 of
    // 11 rounds (min 3.14 vs 3.53 s): without the pin each audit stat
    // re-runs the battery+clf flag work inside its own broadcast
    // subtree build, and those builds serialize — one cheap barrier
    // beats four re-evaluations even on a 240-doc s2. The pin stays.
    val w3 = Corpus14.withQualityMargin(Corpus14.withBlocklist(withGopherKeep(s2)))
      .select(col("doc_id"), col("n_chars"),
        (col("blocked_total") === 0).as("f_block"),
        col("f_gopher"),
        (col("clf_margin") > Corpus14.QThreshold).as("f_clf"))
      .localCheckpoint()
    val s35 = s2.join(
      w3.filter(col("f_block") && col("f_gopher") && col("f_clf")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    // PASS 5 — chunk-level scrub, set-dependent on the clf survivors
    // (df counted over exactly their chunks, as before). r17: k4 is NO
    // LONGER pinned — its two audit readers (the chunk_scrub stat and
    // the pii chars stat over s4) live inside the ONE audit action, and
    // k4's internal exchanges (the chunk-fp and doc_id aggregates) are
    // byte-identical subtrees there, so ReuseExchange computes them
    // once; the pin bought no reuse, only a sequential barrier chain of
    // ~4 stage-jobs. Measured (ProfR17PinMask in BASELINE.md "Retired harnesses",
    // same-JVM interleaved,
    // two sessions): no-k4 min 2.83/2.87 s vs all-pins 3.10/3.05 s,
    // rows identical; dropping the w or w3 pin instead LOST (3.21 /
    // 3.48 s mins) — their suffixes (elections / per-row battery+clf
    // flags) re-run per reader without exchange dedup.
    val ch = Corpus.chunkTokens(s35).withColumn("fp", md5(col("chunk")))
    val dd = ch.groupBy("fp").agg(
      countDistinct("doc_id").as("df"),
      min(struct(col("doc_id"), col("chunk_idx"))).as("win"))
    val k4 = ch.join(dd, Seq("fp"))
      .select(col("doc_id"), col("n_tokens"),
        when(col("df") >= 3, lit(0L))
          .when(col("win") === struct(col("doc_id"), col("chunk_idx")), col("n_tokens"))
          .otherwise(lit(0L)).as("kt"))
      .groupBy("doc_id")
      .agg(round(sum("kt") * lit(1.0) / sum("n_tokens"), 4).as("rf"))
      .filter(col("rf") >= minRetained).select("doc_id")
    val s4 = s2.join(k4, Seq("doc_id"), "left_semi")
    // narrow flag-conjunction frames carry exactly what funnelAudit
    // needs (count + n_chars); text-needing consumers (the chunk
    // guard, piiScrub) read the text-bearing s2-derived entries
    Seq("fetch" -> docs,
      "robots_gate" -> f.filter(col("f_robots")),
      "url_dedup" -> w.filter(s1c),
      "lang_id_gate" -> w.filter(s15c),
      "domain_quota" -> s2,
      "blocklist_gate" -> w3.filter(col("f_block")),
      "gopher_gate" -> w3.filter(col("f_block") && col("f_gopher")),
      "clf_gate" -> s35,
      "chunk_scrub" -> s4)
  }

  /** q277's body: GATE ATTRIBUTION — the drop-one ablation table every
    * curation run publishes next to the funnel (FineWeb's ablation
    * discipline): for each of the five STATELESS per-doc gates (robots,
    * lang-id, blocklist, Gopher, classifier — the set-dependent stages
    * dedup/quota/chunk-scrub have no per-doc flag by nature), how many
    * documents it fails on the FULL corpus and how many it UNIQUELY
    * kills (fails while every other gate passes) — the number that says
    * whether a gate earns its scan. Unlike q268 (which conditions each
    * stage on upstream survivors), attribution scores every gate on the
    * same corpus so the counts are comparable.
    * Scale shape: each flag source is its standalone query's audited
    * plan; five doc-keyed joins (broadcast at gate SF, co-partitioned
    * hash joins at 100 TB); ONE global partial-aggregable aggregate
    * folds all 12 cells in a single pass; 5-row output. */
  /** The five stateless gate-flag chains as DuckDB CTEs ending in
    * `fl(doc_id, f_robots, f_lang, f_block, f_gopher, f_clf)`
    * (MATERIALIZED: multi-referenced downstream) - the oracle twin of
    * [[gateFlags]], shared by q277 and q281. */
  private[operators] def gateFlagsDuckCte: String =
    s"""cq AS (SELECT doc_id, $canonUrlDuck AS cu FROM documents),
              |uq AS (SELECT doc_id, regexp_extract(cu, '^https://([^/]+)', 1) AS host,
              |regexp_extract(cu, '^https://[^/]+(/.*)$$', 1) AS path FROM cq),
              |rules(rhost, dis) AS (VALUES ${Corpus13.robotsDuck}),
              |mq AS (SELECT uq.doc_id, r.dis FROM uq LEFT JOIN rules r
              |ON uq.host = r.rhost AND starts_with(uq.path, r.dis)),
              |rb AS (SELECT doc_id, max(dis) IS NULL AS f_robots FROM mq GROUP BY 1),
              |${Corpus14.langDuckCte("documents", "a_")},
              |bdq AS (SELECT doc_id, text
              | || CASE WHEN doc_id % 7 = 3 THEN ' badcat0' ELSE '' END
              | || CASE WHEN doc_id % 11 = 5 THEN ' badcat1 badcat1' ELSE '' END
              | || CASE WHEN doc_id % 13 = 8 THEN ' badcat2' ELSE '' END AS bt FROM documents),
              |bwq AS (SELECT doc_id, len(list_filter(string_split(lower(bt), ' '),
              |x -> x IN ('badcat0', 'badcat1', 'badcat2'))) = 0 AS f_block FROM bdq),
              |t AS (SELECT doc_id, ${TextAnalytics.toksDuck} AS w,
              |CAST(length(replace(text, ' ', '')) AS BIGINT) AS tc FROM documents),
              |${topGramDuckCte(2)}, ${topGramDuckCte(3)}, ${topGramDuckCte(4)},
              |${dupCovDuckCte(2)}, ${dupCovDuckCte(3)},
              |gf AS (SELECT t.doc_id,
              |(round(coalesce(f2.topc, 0) * 1.0 / tc, 4) <= 0.20
              | AND round(coalesce(f3.topc, 0) * 1.0 / tc, 4) <= 0.18
              | AND round(coalesce(f4.topc, 0) * 1.0 / tc, 4) <= 0.16
              | AND round(coalesce(l2.covc, 0) * 1.0 / tc, 4) <= 0.20
              | AND round(coalesce(l3.covc, 0) * 1.0 / tc, 4) <= 0.10) AS f_gopher
              |FROM t LEFT JOIN f2 USING (doc_id) LEFT JOIN f3 USING (doc_id)
              |LEFT JOIN f4 USING (doc_id) LEFT JOIN l2 USING (doc_id)
              |LEFT JOIN l3 USING (doc_id)),
              |${Corpus14.clfDuckCte("documents", "c_")},
              |fl AS MATERIALIZED (SELECT rb.doc_id, rb.f_robots,
              |a_lang.keep AS f_lang, bwq.f_block, gf.f_gopher, c_clf.clf_keep AS f_clf
              |FROM rb JOIN a_lang ON rb.doc_id = a_lang.doc_id
              |JOIN bwq ON rb.doc_id = bwq.doc_id
              |JOIN gf ON rb.doc_id = gf.doc_id
              |JOIN c_clf ON rb.doc_id = c_clf.doc_id)""".stripMargin.replace("\n", " ")

  /** The five stateless gate flags joined onto the corpus doc_id spine —
    * shared by q277 (attribution) and q281 (ordering audit). LEFT joins
    * + a per-row null-flag refusal, NOT silent inner joins (r11 ADVICE):
    * every gate frame is one-row-per-doc by construction today, but a
    * future gate that drops token-less docs would have silently shrunk
    * every downstream cell under inner joins. coalesce short-circuits,
    * so raise_error evaluates only on an actually-missing flag — the
    * guard is free on the healthy path and needs no extra count pass. */
  private[graft] def gateFlags(docs: DataFrame): DataFrame = {
    def must(c: String) = coalesce(col(c), raise_error(lit(
      s"gateFlags: $c missing for some doc — a gate frame returned " +
        "fewer rows than the corpus; every stateless gate must flag every " +
        "document"))).as(c)
    docs.select(col("doc_id"))
      .join(Corpus13.robotsDecisions(docs)
        .select(col("doc_id"), col("allowed").as("f_robots")), Seq("doc_id"), "left")
      .join(Corpus14.langGateDecisions(docs)
        .select(col("doc_id"), col("keep").as("f_lang")), Seq("doc_id"), "left")
      .join(Corpus14.blocklistDecisions(docs)
        .select(col("doc_id"), col("keep").as("f_block")), Seq("doc_id"), "left")
      .join(repetitionBattery(docs)
        .select(col("doc_id"), col("keep").as("f_gopher")), Seq("doc_id"), "left")
      .join(Corpus14.qualityClassify(docs)
        .select(col("doc_id"), col("clf_keep").as("f_clf")), Seq("doc_id"), "left")
      .select(col("doc_id"), must("f_robots"), must("f_lang"),
        must("f_block"), must("f_gopher"), must("f_clf"))
  }

  /** The stateless gate universe — (gate, flag column) in the DEPLOYED
    * funnel order (the stateless subset of q268's ladder) — shared by
    * q277 and q281. */
  private[graft] val statelessGates: Seq[(String, String)] =
    Seq(("robots", "f_robots"), ("lang_id", "f_lang"),
      ("blocklist", "f_block"), ("gopher", "f_gopher"), ("classifier", "f_clf"))

  /** MEASURED per-gate unit costs (ns/doc) for q281's cost-weighted
    * ranking — the number the r12 audit left to the consumer ("a regex
    * gate and the classifier's margin fold are not equal work"). Source:
    * ProfGateCost (BASELINE.md "Retired harnesses"), which timed each
    * gate's decision frame standalone at
    * sf0.01 AND sf0.1 in one JVM (rounds interleaved across sizes, the
    * flag forced through an aggregate so Catalyst can't prune the work)
    * and extracts the MARGINAL per-doc cost by size differencing —
    * (t_5000 − t_500)/4500 — because fixed job-scheduling overhead
    * (~0.2-0.3 s) otherwise dominates every cheap gate at these corpus
    * sizes. Two independent runs (2026-08-16, local[32]):
    * robots 24k/9k, lang_id 59k/43k, blocklist 19k/16k, gopher
    * 164k/252k, classifier 37k/26k — the magnitudes swing ~2× with the
    * host, the ORDER (blocklist ≈ robots < classifier < lang_id ≪
    * gopher) is stable, so the baked values are the pooled averages
    * rounded to 1 µs: the decision they feed (SCALE.md "gate ordering")
    * turns on the stable ~6-12× gopher ratio, not the noisy third
    * digit. Integer ns so the cost totals stay integer-exact. */
  private[graft] val gateUnitCostNs: Map[String, Long] = Map(
    "robots" -> 17000L, "lang_id" -> 51000L, "blocklist" -> 17000L,
    "gopher" -> 208000L, "classifier" -> 32000L)

  private[graft] def gateAttribution(docs: DataFrame): DataFrame = {
    val flags = gateFlags(docs)
    val gates = statelessGates
    val allPass = gates.map(g => col(g._2)).reduce(_ && _)
    val aggs = Seq(
      count(lit(1)).as("n_docs"),
      sum(when(allPass, 1L).otherwise(0L)).as("n_pass_all")) ++
      gates.flatMap { case (n, f) =>
        val othersPass = gates.filterNot(_._2 == f)
          .map(g => col(g._2)).reduce(_ && _)
        Seq(sum(when(!col(f), 1L).otherwise(0L)).as(s"nf_$n"),
          sum(when(!col(f) && othersPass, 1L).otherwise(0L)).as(s"nu_$n"))
      }
    val one = flags.agg(aggs.head, aggs.tail: _*)
    val rows = gates.zipWithIndex.map { case ((n, _), i) =>
      struct(lit((i + 1).toLong).as("stage"), lit(n).as("gate"),
        col("n_docs"), col(s"nf_$n").as("n_failed"),
        col(s"nu_$n").as("n_unique_kill"), col("n_pass_all"))
    }
    one.select(explode(array(rows: _*)).as("r"))
      .select(col("r.stage").as("stage"), col("r.gate").as("gate"),
        col("r.n_docs").as("n_docs"), col("r.n_failed").as("n_failed"),
        col("r.n_unique_kill").as("n_unique_kill"),
        col("r.n_pass_all").as("n_pass_all"))
      .orderBy("stage")
  }

  /** q281's body: GATE-ORDERING AUDIT — the classic selection-predicate
    * ordering problem (cheapest-most-selective first) made EXACTLY
    * computable by q277's joint flag table. For every permutation of
    * the five stateless gates, the total number of gate evaluations a
    * short-circuiting funnel performs (each doc is evaluated at stage k
    * iff it passed stages 1..k−1), its char-weighted twin (an upper
    * bound on text bytes read, counting robots' URL-only stage
    * conservatively as a text read), and — r13 — its COST-weighted twin
    * (each evaluation priced at the gate's MEASURED unit cost,
    * [[gateUnitCostNs]], with its own cost_rank), ranked; the deployed
    * CCNet order marked, and `compliant` flags the orders a crawler may
    * legally run (robots first — a disallowed URL must not be fetched,
    * so robots cannot be deferred; the reorder decision reads the best
    * COMPLIANT cost row, see SCALE.md "gate ordering"). No independence
    * assumption anywhere — costs come from the
    * measured JOINT distribution, so gate correlations (q277's
    * unique-kill overlaps) are priced exactly.
    *
    * Scale shape: ONE corpus pass folds the five flags into the ≤2⁵-row
    * contingency cube (partial-aggregable; the flags themselves are the
    * same per-doc work q277 does); the 120-permutation literal crosses
    * the CUBE, never the corpus (≤3840 driver-scale rows); the rank
    * window runs over 120 rows. Everything downstream of the cube is
    * INTEGER arithmetic — no float hazard at all. */
  private[graft] def gateOrdering(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val flags = gateFlags(docs).join(docs.select("doc_id", "n_chars"), Seq("doc_id"))
    val cube = flags.groupBy(statelessGates.map(g => col(g._2)): _*)
      .agg(count(lit(1)).as("n"), sum("n_chars").as("ch"))
    val names = statelessGates.map(_._1)
    val perms = names.permutations.toSeq
      .map(p => (p.mkString(">"), p(0), p(1), p(2), p(3), p(4), p == names))
      .toDF("gate_order", "g1", "g2", "g3", "g4", "g5", "deployed")
    def flagOf(g: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      statelessGates.tail.foldLeft(
        when(g === statelessGates.head._1, col(statelessGates.head._2))) {
        case (acc, (nm, f)) => acc.when(g === nm, col(f))
      }
    val p1 = flagOf(col("g1"))
    val p2 = p1 && flagOf(col("g2"))
    val p3 = p2 && flagOf(col("g3"))
    val p4 = p3 && flagOf(col("g4"))
    def i(c: org.apache.spark.sql.Column) = when(c, 1L).otherwise(0L)
    val stages = lit(1L) + i(p1) + i(p2) + i(p3) + i(p4)
    // cost-weighted twin (r13): each evaluated gate priced at its
    // MEASURED unit cost (gateUnitCostNs) instead of 1 — the reorder
    // decision's actual objective. Same short-circuit structure; still
    // integer-exact (ns are integers).
    def costOf(g: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      statelessGates.tail.foldLeft(
        when(g === statelessGates.head._1, lit(gateUnitCostNs(statelessGates.head._1)))) {
        case (acc, (nm, _)) => acc.when(g === nm, lit(gateUnitCostNs(nm)))
      }
    val costNs = costOf(col("g1")) + i(p1) * costOf(col("g2")) +
      i(p2) * costOf(col("g3")) + i(p3) * costOf(col("g4")) +
      i(p4) * costOf(col("g5"))
    val totals = cube.crossJoin(broadcast(perms))
      .select(col("gate_order"), col("deployed"),
        (col("g1") === statelessGates.head._1).as("compliant"),
        (col("n") * stages).as("de"), (col("ch") * stages).as("ce"),
        (col("n") * costNs).as("cn"))
      .groupBy("gate_order", "deployed", "compliant")
      .agg(sum("de").as("total_evals"), sum("ce").as("total_char_evals"),
        sum("cn").as("total_cost_ns"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("total_evals"), col("gate_order"))
    val wc = org.apache.spark.sql.expressions.Window
      .orderBy(col("total_cost_ns"), col("gate_order"))
    totals.withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cost_rank", row_number().over(wc).cast("long"))
      .select(col("rank"), col("cost_rank"), col("gate_order"),
        col("deployed"), col("compliant"),
        col("total_evals"), col("total_char_evals"), col("total_cost_ns"))
      .orderBy("rank")
  }

  /** The 10-row audit over prebuilt stage frames — exposed so
    * Flows.hygieneFlow can publish the audit WITHOUT re-running the
    * stages it already built. */
  private[graft] def funnelAudit(st: Seq[(String, DataFrame)]): DataFrame = {
    def stat(df: DataFrame, n: String, c: String) =
      df.agg(count(lit(1)).cast("long").as(n),
        coalesce(sum("n_chars"), lit(0L)).as(c))
    val pc = piiScrub(st.last._2)
      .agg(coalesce(sum(length(col("scrubbed"))).cast("long"), lit(0L)).as("pc"))
    val one = st.indices.tail
      .foldLeft(stat(st.head._2, "n0", "c0")) { (acc, i) =>
        acc.crossJoin(broadcast(stat(st(i)._2, s"n$i", s"c$i")))
      }
      .crossJoin(broadcast(pc))
    def row(stage: Int, nm: String, in: String, out: String, chars: org.apache.spark.sql.Column) =
      struct(lit(stage.toLong).as("stage"), lit(nm).as("name"),
        col(in).as("docs_in"), col(out).as("docs_out"),
        (col(in) - col(out)).as("docs_dropped"), chars.as("chars_out"))
    val rows = row(0, "fetch", "n0", "n0", col("c0")) +:
      st.indices.tail.map(i => row(i, st(i)._1, s"n${i - 1}", s"n$i", col(s"c$i"))) :+
      row(st.size, "pii_scrub", s"n${st.size - 1}", s"n${st.size - 1}", col("pc"))
    one.select(explode(array(rows: _*)).as("r"))
      .select(col("r.stage").as("stage"), col("r.name").as("name"),
        col("r.docs_in").as("docs_in"), col("r.docs_out").as("docs_out"),
        col("r.docs_dropped").as("docs_dropped"), col("r.chars_out").as("chars_out"))
      .orderBy("stage")
  }

  /** q268's body: the NINE hygiene gates COMPOSED in production order
    * (RefinedWeb §3 / FineWeb's published ladder, with the fetch-policy
    * gate where it belongs) — robots.txt gate → URL dedup → language-id
    * gate → domain cap → C4 blocklist gate → Gopher repetition gate →
    * trained quality-classifier gate → chunk-level scrub → PII
    * redaction — each stage conditioned on the
    * previous stage's SURVIVOR corpus (URL dedup elects winners only
    * among fetchable docs; the lang gate — in the CCNet/FineWeb position
    * right after URL dedup — sees only elected winners; the cap ranks
    * only target-language docs; the
    * classifier scores only rule-gate survivors — the FineWeb-Edu
    * ordering, cheap rules before the model; chunk document frequencies
    * count only gated docs — composition order is semantics, not
    * presentation). The robots gate runs FIRST because it is the only
    * stage a compliant crawler may not defer: a disallowed URL must not
    * even be fetched, let alone win a dedup election (r9 shipped it as
    * q272 but left the funnel starting at URL dedup — the r9 verdict's
    * composition gap). Output: the 10-row funnel (docs in/out/dropped +
    * surviving chars per stage; the stateless PII stage drops nothing
    * and reports post-redaction chars).
    *
    * Scale shape: every stage is its standalone query's audited plan
    * (q266 partial-aggregable min winner; q265 TopKScored k-heap — the
    * explode of the per-host kept array is bounded at cap rows/host;
    * q263's narrow explode→partial-agg battery; q267's two-level
    * distinct-doc aggregate; q262 stateless regex) glued by left-semi
    * joins on doc_id — no window, no cartesian, nothing quadratic. The
    * funnel's audit aggregates all re-read stage survivors, and
    * Spark has no DataFrame-level CSE, so computed decisions are
    * PINNED (localCheckpoint) — exactly what a production run does
    * anyway (the survivor shards ARE the product; the funnel is their
    * audit trail). Measured (r11): pinning took the sf0.1 funnel from
    * 11.2 s (each count branch re-ran its whole stage prefix) to the
    * sum of one pass per stage; r16 then FUSED the per-doc stateless
    * decisions into two flag passes and cut the pins from eight to
    * five (see hygieneStages' scaladoc — flags are corpus-independent
    * per-doc functions, so the survivor sets are bit-identical flag
    * conjunctions). WHAT each pin holds still follows the
    * corpus-fraction rule (r11/r12): corpus-scale frames pin only
    * narrow decision columns (f: ~80 B/doc incl. the election keys;
    * w: 26 B/doc) and text re-attaches by a column-pruned scan ⋉
    * pinned ids; from the domain cap onward survivors are bounded by
    * cap × |hosts| by construction, so the s2 TEXT pin feeds all five
    * post-cap text readers. Unlike the BPE chain (where a pin was
    * measured to LOSE, see Corpus2), nothing corpus-sized is ever
    * materialized. */
  private[graft] def hygieneFunnel(
      docs0: DataFrame, cap: Int = 10, minRetained: Double = 0.2): DataFrame =
    funnelAudit(hygieneStages(docs0, cap, minRetained))

  def defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q262_pii_scrub",
      // PII REDACTION GATE: per-document email/phone/IPv4 detection
      // counts, category-tagged redaction ([EMAIL]/[PHONE]/[IP]), and
      // the residual-free invariant, over a deterministic doc_id-derived
      // dirty twin of the corpus (the synthetic fixture has no natural
      // PII; injection is the fixture-transport idiom). Scale shape:
      // completely stateless map-side regex work inside one projection —
      // zero shuffles at any corpus size, embarrassingly parallel at
      // 100 TB; the only exchange in the plan is the presentation sort.
      (s, dir) => piiScrub(Tables.documents(s, dir)),
      Some(s"""WITH dirty AS (SELECT doc_id, $dirtyDuck AS t FROM documents),
              |s AS (SELECT doc_id, t,
              |CAST(len(regexp_extract_all(t, '$emailPat')) AS BIGINT) AS n_emails,
              |CAST(len(regexp_extract_all(t, '$phonePat')) AS BIGINT) AS n_phones,
              |CAST(len(regexp_extract_all(t, '$ipPat')) AS BIGINT) AS n_ips,
              |regexp_replace(regexp_replace(regexp_replace(t,
              |'$emailPat', '[EMAIL]', 'g'), '$phonePat', '[PHONE]', 'g'),
              |'$ipPat', '[IP]', 'g') AS scrubbed FROM dirty)
              |SELECT doc_id, n_emails, n_phones, n_ips,
              |n_emails + n_phones + n_ips AS pii_total, scrubbed,
              |(len(regexp_extract_all(scrubbed, '$emailPat'))
              | + len(regexp_extract_all(scrubbed, '$phonePat'))
              | + len(regexp_extract_all(scrubbed, '$ipPat'))) = 0 AS clean
              |FROM s ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q263_repetition_battery",
      // GOPHER REPETITION BATTERY (Rae et al. 2021 A1): per-doc top
      // n-gram character fraction (n=2,3,4) + duplicate n-gram character
      // coverage (position-set union, n=2,3 on this corpus — see
      // repetitionBattery scaladoc) + the AND-of-thresholds keep gate.
      // Scale shape: each signal is one (doc_id, gram)-keyed hash
      // aggregate (partial-aggregable, high-cardinality keys — no skew
      // hazard beyond a boilerplate gram, which AQE splits); the
      // coverage union is a (doc_id, p)-keyed distinct bounded by n x
      // positions; everything meets in doc_id-keyed joins. No windows,
      // no corpus-sized sort except the presentation ORDER BY.
      (s, dir) => repetitionBattery(Tables.documents(s, dir)),
      Some(s"""WITH t AS (SELECT doc_id, ${TextAnalytics.toksDuck} AS w,
              |CAST(length(replace(text, ' ', '')) AS BIGINT) AS tc FROM documents),
              |${topGramDuckCte(2)}, ${topGramDuckCte(3)}, ${topGramDuckCte(4)},
              |${dupCovDuckCte(2)}, ${dupCovDuckCte(3)}
              |SELECT t.doc_id,
              |round(coalesce(f2.topc, 0) * 1.0 / tc, 4) AS top2_frac,
              |round(coalesce(f3.topc, 0) * 1.0 / tc, 4) AS top3_frac,
              |round(coalesce(f4.topc, 0) * 1.0 / tc, 4) AS top4_frac,
              |round(coalesce(l2.covc, 0) * 1.0 / tc, 4) AS dup2_frac,
              |round(coalesce(l3.covc, 0) * 1.0 / tc, 4) AS dup3_frac,
              |(round(coalesce(f2.topc, 0) * 1.0 / tc, 4) <= 0.20
              | AND round(coalesce(f3.topc, 0) * 1.0 / tc, 4) <= 0.18
              | AND round(coalesce(f4.topc, 0) * 1.0 / tc, 4) <= 0.16
              | AND round(coalesce(l2.covc, 0) * 1.0 / tc, 4) <= 0.20
              | AND round(coalesce(l3.covc, 0) * 1.0 / tc, 4) <= 0.10) AS keep
              |FROM t LEFT JOIN f2 USING (doc_id) LEFT JOIN f3 USING (doc_id)
              |LEFT JOIN f4 USING (doc_id) LEFT JOIN l2 USING (doc_id)
              |LEFT JOIN l3 USING (doc_id)
              |ORDER BY t.doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q265_domain_quota",
      // PER-DOMAIN DOCUMENT CAP (RefinedWeb §3.1's per-domain limits /
      // C4's heuristic): keep the top-10 docs per host by n_chars
      // (doc_id tie-break), publish per-host what the cap did. Hosts
      // are doc_id-derived (h0 a deliberate ~1/3-of-corpus heavy
      // hitter — the boilerplate-domain skew the cap exists for). The
      // selection is the TopKScored partial-aggregating k-heap inside
      // groupBy(host) — never a per-host window — so h0's mass trims
      // to ≤2·cap rows per map partition before the exchange; at
      // 100 TB a 10⁹-page domain costs the same as a 20-page one
      // after the map side.
      (s, dir) => domainQuota(Tables.documents(s, dir)),
      Some(s"""WITH h AS (SELECT doc_id, n_chars, $hostDuck AS host FROM documents),
              |r AS (SELECT host, doc_id, n_chars,
              |row_number() OVER (PARTITION BY host ORDER BY n_chars DESC, doc_id) AS rn FROM h)
              |SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
              |CAST(sum(n_chars) AS BIGINT) AS total_chars,
              |CAST(sum(CASE WHEN rn <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              |CAST(sum(CASE WHEN rn <= 10 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
              |count(*) > 10 AS cap_hit
              |FROM r GROUP BY host ORDER BY host""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q266_url_dedup",
      // URL CANONICALIZATION + KEEP-FIRST DEDUP — the fetch-level dedup
      // every web pipeline runs BEFORE content dedup (RefinedWeb §3.1):
      // strip fragment, strip utm tracking query, lowercase, strip
      // www. and trailing slash; then one winner per canonical URL
      // (min doc_id). URLs are doc_id-derived dirty injections (q262
      // idiom) with all three mess classes, and doc_id ≡ (mod 200)
      // collides canonically so duplicate groups exist at every SF.
      // Scale shape: stateless map canonicalization; partial-aggregable
      // min(doc_id) winner per canonical key (heavy-hitter URL collapses
      // map-side); mark-kept join fans out only to the true duplicate
      // count.
      (s, dir) => urlDedup(Tables.documents(s, dir)),
      Some(s"""WITH u AS (SELECT doc_id, $urlDuck AS url FROM documents),
              |c AS (SELECT doc_id, url, ${canonDuck("url")} AS canon_url FROM u),
              |w AS (SELECT canon_url, min(doc_id) AS keep_id FROM c GROUP BY 1)
              |SELECT c.doc_id, c.url, c.canon_url, c.doc_id = w.keep_id AS kept
              |FROM c JOIN w ON c.canon_url = w.canon_url
              |ORDER BY c.doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q268_hygiene_funnel",
      // END-TO-END HYGIENE FUNNEL — the nine gates of a production
      // web-corpus pipeline composed in order (RefinedWeb §3 /
      // FineWeb's ladder): robots.txt fetch gate → URL canonicalization
      // dedup → language-id gate (q275, the CCNet position) →
      // per-domain cap → C4 blocklist gate (q274) → Gopher
      // repetition gate → trained quality-classifier gate (q273's
      // model, the FineWeb-Edu stage) →
      // chunk-level boilerplate/dup scrub → PII redaction, each stage
      // conditioned on the previous stage's survivor corpus. Output:
      // the funnel audit every pipeline run
      // publishes — per stage, documents in/out/dropped and surviving
      // characters (the stateless PII stage drops nothing; its
      // chars_out is post-redaction). See hygieneFunnel's scaladoc for
      // the stage-by-stage scale argument.
      (s, dir) => hygieneFunnel(Tables.documents(s, dir)),
      Some(s"""WITH d0 AS (SELECT doc_id, text, n_chars FROM documents),
              |cu AS (SELECT doc_id, ${canonDuck(s"($urlDuck)")} AS canon_url FROM d0),
              |up AS (SELECT doc_id, regexp_extract(canon_url, '^https://([^/]+)', 1) AS host,
              |regexp_extract(canon_url, '^https://[^/]+(/.*)$$', 1) AS path FROM cu),
              |rules(rhost, dis) AS (VALUES ${Corpus13.robotsDuck}),
              |rb AS (SELECT up.doc_id FROM up LEFT JOIN rules r
              |ON up.host = r.rhost AND starts_with(up.path, r.dis)
              |GROUP BY 1 HAVING max(r.dis) IS NULL),
              |s0 AS MATERIALIZED (SELECT d0.* FROM d0 JOIN rb USING (doc_id)),
              |w1 AS (SELECT canon_url, min(doc_id) AS doc_id
              |FROM cu JOIN rb USING (doc_id) GROUP BY 1),
              |s1 AS MATERIALIZED (SELECT s0.* FROM s0 JOIN w1 USING (doc_id)),
              |${Corpus14.langDuckCte("s1", "f_")},
              |s15 AS MATERIALIZED (SELECT s1.* FROM s1 JOIN f_lang ON s1.doc_id = f_lang.doc_id AND f_lang.keep),
              |hr AS (SELECT doc_id, row_number() OVER (PARTITION BY $hostDuck ORDER BY n_chars DESC, doc_id) AS rn FROM s15),
              |s2 AS MATERIALIZED (SELECT s15.* FROM s15 JOIN hr USING (doc_id) WHERE rn <= 10),
              |bd AS (SELECT doc_id, text
              | || CASE WHEN doc_id % 7 = 3 THEN ' badcat0' ELSE '' END
              | || CASE WHEN doc_id % 11 = 5 THEN ' badcat1 badcat1' ELSE '' END
              | || CASE WHEN doc_id % 13 = 8 THEN ' badcat2' ELSE '' END AS bt FROM s2),
              |bw AS (SELECT doc_id FROM bd WHERE len(list_filter(string_split(lower(bt), ' '),
              |x -> x IN ('badcat0', 'badcat1', 'badcat2'))) = 0),
              |s25 AS MATERIALIZED (SELECT s2.* FROM s2 JOIN bw USING (doc_id)),
              |t AS (SELECT doc_id, ${TextAnalytics.toksDuck} AS w,
              |CAST(length(replace(text, ' ', '')) AS BIGINT) AS tc FROM s25),
              |${topGramDuckCte(2)}, ${topGramDuckCte(3)}, ${topGramDuckCte(4)},
              |${dupCovDuckCte(2)}, ${dupCovDuckCte(3)},
              |gk AS (SELECT t.doc_id FROM t LEFT JOIN f2 USING (doc_id) LEFT JOIN f3 USING (doc_id)
              |LEFT JOIN f4 USING (doc_id) LEFT JOIN l2 USING (doc_id) LEFT JOIN l3 USING (doc_id)
              |WHERE round(coalesce(f2.topc, 0) * 1.0 / tc, 4) <= 0.20
              |AND round(coalesce(f3.topc, 0) * 1.0 / tc, 4) <= 0.18
              |AND round(coalesce(f4.topc, 0) * 1.0 / tc, 4) <= 0.16
              |AND round(coalesce(l2.covc, 0) * 1.0 / tc, 4) <= 0.20
              |AND round(coalesce(l3.covc, 0) * 1.0 / tc, 4) <= 0.10),
              |s3 AS MATERIALIZED (SELECT s25.* FROM s25 JOIN gk USING (doc_id)),
              |${Corpus14.clfDuckCte("s3", "c_")},
              |s35 AS MATERIALIZED (SELECT s3.* FROM s3 JOIN c_clf ON s3.doc_id = c_clf.doc_id AND c_clf.clf_keep),
              |s3t AS MATERIALIZED (SELECT doc_id, ${TextAnalytics.toksDuck} AS w FROM s35),
              |ch AS MATERIALIZED (SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
              |array_to_string(w[i*15+1:i*15+20], ' ') AS chunk,
              |CAST(len(w[i*15+1:i*15+20]) AS BIGINT) AS n_tokens
              |FROM s3t, LATERAL (SELECT unnest(generate_series(0, (len(w)-1)//15)) AS i) g WHERE len(w) > 0),
              |dd AS (SELECT md5(chunk) AS fp, count(DISTINCT doc_id) AS df,
              |min(row(doc_id, chunk_idx)) AS win FROM ch GROUP BY 1),
              |rf AS (SELECT c.doc_id, round(sum(CASE WHEN d.df >= 3 THEN 0
              |WHEN d.win = row(c.doc_id, c.chunk_idx) THEN c.n_tokens ELSE 0 END) * 1.0 / sum(c.n_tokens), 4) AS rf
              |FROM ch c JOIN dd d ON md5(c.chunk) = d.fp GROUP BY 1),
              |s4 AS (SELECT s35.* FROM s35 JOIN rf USING (doc_id) WHERE rf.rf >= 0.2),
              |sc AS (SELECT doc_id, $dirtyDuck AS t FROM s4),
              |np AS (SELECT CAST(coalesce(sum(length(
              |regexp_replace(regexp_replace(regexp_replace(t,
              |'$emailPat', '[EMAIL]', 'g'), '$phonePat', '[PHONE]', 'g'),
              |'$ipPat', '[IP]', 'g'))), 0) AS BIGINT) AS pc FROM sc),
              |n0 AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS c FROM d0),
              |nr AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS c FROM s0),
              |n1 AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS c FROM s1),
              |nl AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS c FROM s15),
              |n2 AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS c FROM s2),
              |nb AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS c FROM s25),
              |n3 AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS c FROM s3),
              |nq AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS c FROM s35),
              |n4 AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS c FROM s4)
              |SELECT * FROM (
              |SELECT CAST(0 AS BIGINT) AS stage, 'fetch' AS name, n0.n AS docs_in, n0.n AS docs_out, CAST(0 AS BIGINT) AS docs_dropped, n0.c AS chars_out FROM n0
              |UNION ALL SELECT 1, 'robots_gate', n0.n, nr.n, n0.n - nr.n, nr.c FROM n0, nr
              |UNION ALL SELECT 2, 'url_dedup', nr.n, n1.n, nr.n - n1.n, n1.c FROM nr, n1
              |UNION ALL SELECT 3, 'lang_id_gate', n1.n, nl.n, n1.n - nl.n, nl.c FROM n1, nl
              |UNION ALL SELECT 4, 'domain_quota', nl.n, n2.n, nl.n - n2.n, n2.c FROM nl, n2
              |UNION ALL SELECT 5, 'blocklist_gate', n2.n, nb.n, n2.n - nb.n, nb.c FROM n2, nb
              |UNION ALL SELECT 6, 'gopher_gate', nb.n, n3.n, nb.n - n3.n, n3.c FROM nb, n3
              |UNION ALL SELECT 7, 'clf_gate', n3.n, nq.n, n3.n - nq.n, nq.c FROM n3, nq
              |UNION ALL SELECT 8, 'chunk_scrub', nq.n, n4.n, nq.n - n4.n, n4.c FROM nq, n4
              |UNION ALL SELECT 9, 'pii_scrub', n4.n, n4.n, 0, np.pc FROM n4, np
              |) ORDER BY stage""".stripMargin.replace("\n", " ")),
      // headline-benched: the composed form is the single most
      // production-representative query on the board — tracks the whole
      // r9 hygiene family's cost round over round.
      bench = true),

    QueryDef(
      "q277_gate_attribution",
      // GATE ATTRIBUTION (drop-one ablation): per stateless gate, docs
      // failed on the full corpus + docs UNIQUELY killed (every other
      // gate passes) — whether each gate earns its scan. This table is
      // the audit that DROVE a change: at the naive t=0 it showed the
      // classifier uniquely killing ~0 docs (r11), and the q276 sweep
      // then recalibrated the deployed threshold to QThreshold=0.03
      // (see Corpus14.QThreshold), at which nu_classifier is non-zero
      // at every SF — the FineWeb ablation loop closed. See
      // gateAttribution for the scale shape; the oracle re-derives all
      // five flag chains (robots longest-match, lang argmax, blocklist
      // tokens, the Gopher battery, the GD-unroll classifier) and folds
      // the 12 cells in one aggregate.
      (s, dir) => gateAttribution(Tables.documents(s, dir)),
      Some(s"""WITH $gateFlagsDuckCte,
              |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
              |CAST(sum(CASE WHEN f_robots AND f_lang AND f_block AND f_gopher AND f_clf THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all,
              |CAST(sum(CASE WHEN NOT f_robots THEN 1 ELSE 0 END) AS BIGINT) AS nf_robots,
              |CAST(sum(CASE WHEN NOT f_robots AND f_lang AND f_block AND f_gopher AND f_clf THEN 1 ELSE 0 END) AS BIGINT) AS nu_robots,
              |CAST(sum(CASE WHEN NOT f_lang THEN 1 ELSE 0 END) AS BIGINT) AS nf_lang,
              |CAST(sum(CASE WHEN NOT f_lang AND f_robots AND f_block AND f_gopher AND f_clf THEN 1 ELSE 0 END) AS BIGINT) AS nu_lang,
              |CAST(sum(CASE WHEN NOT f_block THEN 1 ELSE 0 END) AS BIGINT) AS nf_blocklist,
              |CAST(sum(CASE WHEN NOT f_block AND f_robots AND f_lang AND f_gopher AND f_clf THEN 1 ELSE 0 END) AS BIGINT) AS nu_blocklist,
              |CAST(sum(CASE WHEN NOT f_gopher THEN 1 ELSE 0 END) AS BIGINT) AS nf_gopher,
              |CAST(sum(CASE WHEN NOT f_gopher AND f_robots AND f_lang AND f_block AND f_clf THEN 1 ELSE 0 END) AS BIGINT) AS nu_gopher,
              |CAST(sum(CASE WHEN NOT f_clf THEN 1 ELSE 0 END) AS BIGINT) AS nf_classifier,
              |CAST(sum(CASE WHEN NOT f_clf AND f_robots AND f_lang AND f_block AND f_gopher THEN 1 ELSE 0 END) AS BIGINT) AS nu_classifier
              |FROM fl)
              |SELECT * FROM (
              |SELECT CAST(1 AS BIGINT) AS stage, 'robots' AS gate, n_docs, nf_robots AS n_failed, nu_robots AS n_unique_kill, n_pass_all FROM ag
              |UNION ALL SELECT 2, 'lang_id', n_docs, nf_lang, nu_lang, n_pass_all FROM ag
              |UNION ALL SELECT 3, 'blocklist', n_docs, nf_blocklist, nu_blocklist, n_pass_all FROM ag
              |UNION ALL SELECT 4, 'gopher', n_docs, nf_gopher, nu_gopher, n_pass_all FROM ag
              |UNION ALL SELECT 5, 'classifier', n_docs, nf_classifier, nu_classifier, n_pass_all FROM ag
              |) ORDER BY stage""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q281_gate_ordering",
      // GATE-ORDERING AUDIT: every permutation of the five stateless
      // gates priced by exact short-circuit evaluation counts off the
      // measured JOINT flag distribution (q277's table answers "does
      // each gate earn its scan"; this answers "in what ORDER do the
      // scans cost least") — the selection-predicate-ordering question
      // every multi-gate funnel faces, with correlations priced exactly
      // rather than assumed independent — PLUS (r13) the cost-weighted
      // ranking the r12 audit left to the consumer: each evaluation
      // priced at the gate's MEASURED unit cost (gateUnitCostNs, the
      // ProfGateCost size-differenced ns/doc, BASELINE.md "Retired harnesses"),
      // with `compliant` marking
      // the legally runnable orders (robots first). Integer-exact end
      // to end. See gateOrdering for the cube shape.
      //
      // THE READING (sf0.001): the r12 raw-eval finding INVERTS under
      // measured costs — the eval-count optimum (gopher first, 1417 vs
      // deployed 1875 evals) is cost_rank 65 and 20% MORE expensive
      // than deployed (129.9 vs 108.3 ms), because the most selective
      // gate is also 6-12x the dearest per evaluation. The deployed
      // CCNet order is cost_rank 40/120; the best compliant order
      // (robots>blocklist>lang_id>gopher>classifier — one blocklist/
      // lang_id swap) saves 5.3% of stateless-gate compute. DECISION:
      // the deployed order STAYS — the savings are ~1-2% of funnel
      // wall (inside q268's own official variance band) and the swap
      // would run the English-calibrated C4 blocklist before lang-id,
      // which CCNet/FineWeb deliberately do not; see SCALE.md "gate
      // ordering: the reorder decision" for the numbers on record.
      (s, dir) => gateOrdering(Tables.documents(s, dir)),
      Some {
        val names = statelessGates.map(_._1)
        val permVals = names.permutations.toSeq.map { p =>
          s"('${p.mkString(">")}', '${p(0)}', '${p(1)}', '${p(2)}', '${p(3)}', '${p(4)}', ${p == names})"
        }.mkString(", ")
        def fo(g: String) =
          "CASE " + g + statelessGates.map { case (nm, f) =>
            s" WHEN '$nm' THEN $f"
          }.mkString + " END"
        def co(g: String) =
          "CASE " + g + statelessGates.map { case (nm, _) =>
            s" WHEN '$nm' THEN ${gateUnitCostNs(nm)}"
          }.mkString + " END"
        val sExpr = "1 + " + (1 to 4).map { k =>
          val conj = (1 to k).map(j => fo(s"g$j")).mkString(" AND ")
          s"CASE WHEN $conj THEN 1 ELSE 0 END"
        }.mkString(" + ")
        val cExpr = co("g1") + " + " + (2 to 5).map { k =>
          val conj = (1 until k).map(j => fo(s"g$j")).mkString(" AND ")
          s"CASE WHEN $conj THEN ${co(s"g$k")} ELSE 0 END"
        }.mkString(" + ")
        s"""WITH $gateFlagsDuckCte,
           |fx AS (SELECT fl.*, d.n_chars FROM fl JOIN documents d ON fl.doc_id = d.doc_id),
           |cb AS (SELECT f_robots, f_lang, f_block, f_gopher, f_clf,
           |CAST(count(*) AS BIGINT) AS n, CAST(sum(n_chars) AS BIGINT) AS ch
           |FROM fx GROUP BY 1, 2, 3, 4, 5),
           |pm(gate_order, g1, g2, g3, g4, g5, deployed) AS (VALUES $permVals),
           |ev AS (SELECT gate_order, deployed, g1 = '${names.head}' AS compliant,
           |n * ($sExpr) AS de, ch * ($sExpr) AS ce, n * ($cExpr) AS cn FROM pm, cb),
           |tt AS (SELECT gate_order, deployed, compliant,
           |CAST(sum(de) AS BIGINT) AS total_evals,
           |CAST(sum(ce) AS BIGINT) AS total_char_evals,
           |CAST(sum(cn) AS BIGINT) AS total_cost_ns FROM ev GROUP BY 1, 2, 3),
           |rk AS (SELECT *, CAST(row_number() OVER (ORDER BY total_evals, gate_order) AS BIGINT) AS rank,
           |CAST(row_number() OVER (ORDER BY total_cost_ns, gate_order) AS BIGINT) AS cost_rank FROM tt)
           |SELECT rank, cost_rank, gate_order, deployed, compliant,
           |total_evals, total_char_evals, total_cost_ns
           |FROM rk ORDER BY rank""".stripMargin.replace("\n", " ")
      })
  )
}
