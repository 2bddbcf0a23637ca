package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Folds.{orderedList, orderedSum}

/** Round-4 training-corpus operators — the selection/encoding half of the
  * pipeline that `Corpus` (gate → dedup → decontaminate → chunk) feeds:
  * vocabulary building + id encoding, token-budget selection, mixture
  * sampling, boilerplate detection, Gopher-style repetition signals,
  * n-gram-level eval contamination, percentile gating, balanced shard
  * assignment, cross-source distribution drift, profiling, and
  * deterministic uniform sampling.
  *
  * Scale notes (per query, also in SCALE.md):
  *  - Everything keyed per-doc (q106/q107) shuffles once on doc_id.
  *  - Corpus-wide ordinals/running sums (q103/q109) use Indexing's
  *    two-pass range-exchange primitives — no single-partition window
  *    ever touches full-corpus data. Windows over AGGREGATED tiny tables
  *    (the vocab in q102, per-doc top-1 in q106) are O(|vocab|)/per-key
  *    and scale-free.
  *  - Sampling (q104/q112) is content-hash-deterministic: survives
  *    repartitioning, re-ingestion order, and cluster size, unlike
  *    rand(seed); q112's top-k-by-hash is TakeOrderedAndProject — the
  *    distributed reservoir sample.
  */
object Corpus2 {

  private val toksExpr = TextAnalytics.toksExpr
  private val toksDuck = TextAnalytics.toksDuck

  /** Epoch-tier rule over `nq` (the count of passing q100 gate rules):
    * identical SQL text in both engines; ONE definition shared by q130
    * (mixing) and q133 (per-doc audit). */
  private[operators] val tierCaseSql =
    "CASE WHEN nq = 4 THEN 3 WHEN nq = 3 THEN 2 WHEN nq = 2 THEN 1 ELSE 0 END"

  /** All bigram occurrences of token array `w` in document order —
    * Corpus's shared n-gram template at n=2. */
  private val biSpark = Corpus.ngramSpark(2)
  private val biDuck = Corpus.ngramDuck(2)

  import org.apache.spark.sql.DataFrame

  /** q104's body, input-agnostic (needs `doc_id`, `source`): the
    * content-hash mixture keep decision. ONE definition — the oracled
    * query and `Flows.selectionFlow` share it. */
  def mixtureSample(docs: DataFrame): DataFrame =
    docs
      .withColumn("hx", expr("substring(md5(CAST(doc_id AS STRING)), 1, 4)"))
      .withColumn("u", expr(Corpus.hexFoldSpark("hx", 4)))
      .withColumn("frac_num", expr("CAST(substr(source, 4) AS INT) % 4 + 1"))
      .filter(expr("u * 4 < 65536 * frac_num"))
      .drop("hx", "frac_num")

  /** q115's body, input-agnostic (needs `doc_id`, `source`, `n_chars`,
    * `text`): per-source token-budget prefix in priority order.
    * r5: the running sum is SEGMENTED (the globalPrefixSum
    * decomposition applied per source) — n_chars div 16 buckets are
    * contiguous under the (n_chars desc, doc_id) priority order, so
    * src_run = carry-in from the tiny per-(source, bucket) totals
    * table + an in-bucket prefix sum whose window partitions by
    * (source, bucket). Values are identical to the single per-source
    * window; no source's full doc set ever sorts in one partition. */
  def groupBudget(docs: DataFrame, budget: Long): DataFrame = {
    val base = docs
      .withColumn("n_toks", size(expr(toksExpr)).cast("long"))
      .withColumn("bkt", (col("n_chars") / lit(16)).cast("int"))
    val bc = base.groupBy(col("source").as("bsource"), col("bkt").as("bbkt"))
      .agg(sum("n_toks").as("btoks"))
    val wb = Window.partitionBy("bsource").orderBy(col("bbkt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = bc.withColumn("cumb", coalesce(sum("btoks").over(wb), lit(0L)))
      .select("bsource", "bbkt", "cumb")
    val wIn = Window.partitionBy("source", "bkt")
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .join(broadcast(carry),
        col("source") === col("bsource") && col("bkt") === col("bbkt"))
      .withColumn("src_run", col("cumb") + sum("n_toks").over(wIn))
      .filter(col("src_run") <= budget)
      .drop("bkt", "bsource", "bbkt", "cumb")
  }

  /** q109's ranking body, input-agnostic (needs `doc_id` and a
    * precomputed `n_toks` — callers choose how wide the exchanged row
    * is): per-document shard id by LPT round-robin over the two-pass
    * global token rank. */
  def shardOf(docs: DataFrame, nShards: Int): DataFrame =
    Indexing.globalIndex(docs, Seq(col("n_toks").desc, col("doc_id")))
      .withColumn("shard", expr(s"idx % $nShards"))
      .drop("idx")

  /** q117's evidence pipeline, input-agnostic (needs `doc_id`, `text`):
    * maximal same-diagonal runs of df-capped positional 8-grams per
    * ordered document pair. Returns one row per verbatim island —
    * (doc_a, doc_b, diag, lo_a, hi_a, span) with lo_a/hi_a the first and
    * last matching 8-gram START positions in doc_a (the run covers
    * tokens lo_a .. hi_a+7 in doc_a, lo_a-diag .. hi_a-diag+7 in doc_b).
    * q117 aggregates it into per-pair evidence; q120 turns it into the
    * scrub action. */
  /** The positional interned-8-gram relation g(doc_id, pos, g64) —
    * factored out of [[sharedSpanIslands]] and shared by q117, q120 and
    * q261 (one definition). */
  private[graft] def posGrams8(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(toksExpr).as("w"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(${Corpus.ngramSpark(8)}, g8 -> ${Corpus.fp60Spark("g8")})"))
        .as(Seq("pos", "g")))

  def sharedSpanIslands(docs: DataFrame): DataFrame = {
    // positional 8-grams ride as 60-bit interned fingerprints (r9): the
    // df-cap aggregate and the pair equi-join key 8-byte longs instead
    // of 8-token strings; positions (the actual output) are untouched.
    // Exactness: string-form oracles re-certify per gate run; q261
    // audits the 8-gram vocabulary for fingerprint collisions.
    // r17: g is PINNED — its two readers (the df-cap aggregate and the
    // pair join probe; the capped self-join's own two sides already
    // dedupe via exchange reuse) each re-ran the scan→tokenize→8-gram→
    // fp60 explode. The pin is the NARROW fingerprint form (doc_id,
    // pos, g64 — ~20 B per token position, the pinnedLshState
    // discipline; never gram text), and in a production span-dedup
    // pipeline this relation IS the positional fingerprint index the
    // job materializes. Measured (ProfR17Spans in BASELINE.md "Retired harnesses",
    // same-JVM interleaved):
    // min 2.10 → 1.37 s at sf0.1, rows identical.
    val g = posGrams8(docs).localCheckpoint()
    val dfOk = g.groupBy("g").agg(countDistinct("doc_id").as("df"))
      .filter(col("df") <= 8).select("g")
    val capped = g.join(dfOk, "g")
    val m = capped.as("a").join(capped.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
      .distinct()
      .withColumn("diag", col("pa") - col("pb"))
    m.withColumn("isl", col("pa") - row_number().over(
        Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")))
      .groupBy("doc_a", "doc_b", "diag", "isl")
      .agg(min("pa").as("lo_a"), max("pa").as("hi_a"),
        (max(col("pa")) - min(col("pa")) + 8).cast("long").as("span"))
  }

  /** The DuckDB CTE chain matching [[sharedSpanIslands]]; splice after
    * WITH. Defines `${p}t` (doc tokens) and the final
    * `${p}spans(doc_a, doc_b, diag, lo_a, hi_a, span)`. Positions are
    * 1-based here vs Spark's 0-based posexplode — diffs (diag, span,
    * interval arithmetic) cancel the shift, so every consumer works in
    * either base as long as it stays engine-internal. The optional
    * prefix namespaces the CTEs for multi-relation WITH clauses
    * (q127's fusion). */
  private[operators] def sharedSpansDuckCte(p: String = ""): String =
    s"""${p}t AS (SELECT doc_id, $toksDuck AS w FROM documents),
       |${p}g0 AS MATERIALIZED (SELECT doc_id, i AS pos, ${Corpus.ngramAtDuck(8)} AS g
       |FROM ${p}t, LATERAL (SELECT unnest(generate_series(1, len(w)-7)) AS i) s
       |WHERE len(w) >= 8),
       |${p}dfok AS (SELECT g FROM
       |(SELECT g, count(DISTINCT doc_id) AS df FROM ${p}g0 GROUP BY 1) z WHERE df <= 8),
       |${p}g AS MATERIALIZED (SELECT doc_id, pos, g FROM ${p}g0 JOIN ${p}dfok USING (g)),
       |${p}m AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
       |FROM ${p}g a JOIN ${p}g b ON a.g = b.g AND a.doc_id < b.doc_id),
       |${p}isl AS (SELECT doc_a, doc_b, pa - pb AS diag, pa,
       |pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS isl
       |FROM ${p}m),
       |${p}spans AS (SELECT doc_a, doc_b, diag, isl, min(pa) AS lo_a, max(pa) AS hi_a,
       |CAST(max(pa) - min(pa) + 8 AS BIGINT) AS span
       |FROM ${p}isl GROUP BY 1, 2, 3, 4)""".stripMargin.replace("\n", " ")

  /** q120's body, input-agnostic (needs `doc_id`, `text`): remove every
    * token of the LOWER-priority document (doc_b — keep-first policy)
    * covered by a shared verbatim span ≥ 12 tokens, and reassemble.
    * Returns (doc_id, n_toks, n_kept, n_removed, clean_md5) for every
    * document. */
  def scrubSharedSpans(docs: DataFrame): DataFrame = {
    val iv = sharedSpanIslands(docs).filter(col("span") >= 12)
      .select(col("doc_b").as("doc_id"),
        (col("lo_a") - col("diag")).as("lo"),
        (col("hi_a") - col("diag") + 7).as("hi"))
    val tok = docs.select(col("doc_id"), posexplode(expr(toksExpr)).as(Seq("pos", "tok")))
    val kept = tok.as("t").join(iv.as("r"),
        col("t.doc_id") === col("r.doc_id") &&
          col("t.pos") >= col("r.lo") && col("t.pos") <= col("r.hi"),
        "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(orderedList(col("tok"), col("pos")), " ")).as("clean_md5"))
    docs.select(col("doc_id"), size(expr(toksExpr)).cast("long").as("n_toks"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_toks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
  }

  /** BPE training (Sennrich et al.) on the corpus word-frequency table:
    * the (word, freq) vocab feeds ONE [[graft.functions.BpeTrainer]]
    * aggregate that learns all `rounds` merges in memory, and its 1-row
    * merge list broadcasts back onto the vocab, where
    * [[graft.functions.BpeApply]] replays it per word. Returns
    * (word, freq, syms: array<string>, merges: array<struct<sym, nxt>>);
    * empty when fewer than `rounds` merges can be learned. No window, no
    * pin and no driver collect: any merge count costs one vocab-sized
    * aggregate, and BPE never touches the corpus after the word count. */
  def bpeTrain(docs: DataFrame, rounds: Int): DataFrame = {
    val vocab = docs.select(explode(expr(toksExpr)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val trainer = udaf(new graft.functions.BpeTrainer(rounds))
    val merges = vocab.agg(trainer(col("word"), col("freq")).as("merges"))
      .filter(size(col("merges")) === rounds)
    vocab.crossJoin(broadcast(merges))
      .select(col("word"), col("freq"),
        graft.functions.BpeApply.bpeApply(col("word"), col("merges")).as("syms"),
        col("merges"))
  }

  /** q121's body, input-agnostic (needs `doc_id`, `text`): every word's
    * final symbolization plus the learned merge sequence (merge columns
    * are constant across rows). */
  def bpeMerges(docs: DataFrame, rounds: Int): DataFrame =
    bpeTrain(docs, rounds).select(
      Seq(col("word"), col("freq"), array_join(col("syms"), " ").as("syms")) ++
        (1 to rounds).map { r =>
          val m = col("merges")(r - 1)
          concat(m("sym"), lit("+"), m("nxt")).as(s"merge$r")
        }: _*)

  /** The DuckDB CTE chain for one BPE round r (consuming s{r-1},
    * defining s{r} and b{r}) — the oracle-side twin of [[bpeTrain]],
    * one merge per round: word-partitioned windows + gaps-and-islands
    * (consecutive matches of the winning pair form islands, alternating
    * island positions activate — greedy left-to-right non-overlapping). */
  private def bpeRoundDuckCte(r: Int): String = {
    val (p, i) = (s"s${r - 1}", r)
    s"""p$i AS (SELECT word, freq, pos, sym,
       |lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM $p),
       |b$i AS (SELECT sym AS b_sym, nxt AS b_nxt FROM
       |(SELECT sym, nxt, sum(freq) AS cnt FROM p$i WHERE nxt IS NOT NULL
       |GROUP BY 1, 2 ORDER BY cnt DESC, sym, nxt LIMIT 1) z),
       |f$i AS (SELECT p$i.*, (nxt IS NOT NULL AND sym = b_sym AND nxt = b_nxt) AS m
       |FROM p$i, b$i),
       |i$i AS (SELECT *, pos - sum(CASE WHEN m THEN 1 ELSE 0 END)
       |OVER (PARTITION BY word ORDER BY pos) AS isl FROM f$i),
       |a$i AS (SELECT *, m AND ((pos - min(CASE WHEN m THEN pos END)
       |OVER (PARTITION BY word, isl)) % 2 = 0) AS act FROM i$i),
       |g$i AS (SELECT *, coalesce(lag(act) OVER (PARTITION BY word ORDER BY pos), false)
       |AS prev_act FROM a$i),
       |s$i AS (SELECT word, freq,
       |row_number() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos,
       |CASE WHEN act THEN sym || nxt ELSE sym END AS sym
       |FROM g$i WHERE NOT prev_act)""".stripMargin.replace("\n", " ")
  }

  /** q118's body, input-agnostic (needs `doc_id`, `text`): per-document
    * cross-entropy in nats under an add-1-smoothed bigram LM trained on
    * the same corpus. Returns (doc_id, n_bi, ce). The per-doc log-prob
    * sum folds a position-sorted list (double addition is
    * order-sensitive; q59's discipline). */
  def lmScore(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), expr(toksExpr).as("w"))
    val occ = base
      .select(col("doc_id"), col("w"), posexplode(col("w")).as(Seq("pos", "cur")))
      .filter(col("pos") >= 1)
      .select(col("doc_id"), col("pos"), expr("element_at(w, pos)").as("prev"), col("cur"))
    val lm = occ.groupBy("prev", "cur").agg(count(lit(1)).as("c_bi"))
    val ctx = lm.groupBy("prev").agg(sum("c_bi").as("c_ctx"))
    val v = base.select(explode(col("w")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    occ.join(lm, Seq("prev", "cur"))
      .join(ctx, Seq("prev"))
      .crossJoin(broadcast(v))
      .withColumn("lp", expr("ln((c_bi + 1.0D) / (c_ctx + CAST(v AS DOUBLE)))"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bi"),
        orderedSum(col("lp"), col("pos")).as("s"))
      .select(col("doc_id"), col("n_bi"), expr("round(-s / n_bi, 4)").as("ce"))
  }

  /** q119's body, input-agnostic (needs `doc_id`, `text`): DSIR-style
    * importance weight — the average hashed-unigram log-likelihood ratio
    * of the target distribution (docs `targetIds`, add-1 smoothed over
    * 256 md5 buckets) against the corpus distribution. Returns every
    * scored document (doc_id, n_toks, llr); callers rank/limit. */
  def importanceWeights(docs: DataFrame, targetIds: Seq[Long]): DataFrame = {
    val tok = docs.select(col("doc_id"), expr(toksExpr).as("w"))
      .select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "tok")))
      .withColumn("hx", expr("substring(md5(tok), 1, 2)"))
      .withColumn("b", expr(Corpus.hexFoldSpark("hx", 2)))
      .select("doc_id", "pos", "b")
    // ONE histogram pass builds both distributions (the target count is
    // a conditional sum), so the token scan is hashed twice total —
    // once for the weight table, once for scoring — not three times
    val hist = tok.groupBy("b").agg(count(lit(1)).as("c_c"),
      sum(when(col("doc_id").isInCollection(targetIds), 1L).otherwise(0L)).as("c_t"))
    val totals = hist.agg(sum("c_c").as("n_c"), sum("c_t").as("n_t"))
    val wgt = hist
      .crossJoin(broadcast(totals))
      .withColumn("wgt", expr(
        """ln(((c_t + 1.0D) / (n_t + 256.0D)) /
          |((c_c + 1.0D) / (n_c + 256.0D)))""".stripMargin.replace("\n", " ")))
      .select("b", "wgt")
    tok.join(broadcast(wgt), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        orderedSum(col("wgt"), col("pos")).as("s"))
      .select(col("doc_id"), col("n_toks"), expr("round(s / n_toks, 4)").as("llr"))
  }

  /** 16-bit Morton (Z-order) interleave of two 8-bit coordinates —
    * identical arithmetic emitted for each engine (shift/mask/sum is
    * exact integer math, so the oracle reproduces the curve key
    * bit-for-bit). */
  private def zSpark(x: String, y: String): String =
    (0 until 8).map(i =>
      s"shiftleft(shiftright($x, $i) & 1, ${2 * i}) + shiftleft(shiftright($y, $i) & 1, ${2 * i + 1})")
      .mkString(" + ")
  private def zDuck(x: String, y: String): String =
    (0 until 8).map(i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  def defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q125_zorder_layout",
      // Z-order (Morton-curve) layout key over two scan dimensions —
      // x = scaled document length, y = source number — with per-bucket
      // locality stats. Sorting by z and cutting files on it (Sinks.
      // writeOrdered) bounds BOTH dimensions inside every file, so
      // parquet min/max footers prune selective predicates on EITHER
      // column — the multi-dimensional generalization of the
      // single-key ordered layout, and the standard answer to "which
      // sort key?" when a 100 TB table serves two access paths. The
      // curve key is pure codegen'd integer arithmetic on the scan;
      // the bucket aggregate (z >> 8 fixes the top 4 bits of each
      // coordinate) PROVES the locality: every bucket's x-extent ≤ 60
      // (global 505) and y-extent ≤ 15 (global 19), oracle-checked.
      (s, dir) => {
        val z = Tables.documents(s, dir)
          .select(col("doc_id"),
            expr("least(n_chars div 4, 255L)").as("x"),
            expr("CAST(substr(source, 4) AS BIGINT)").as("y"))
          .withColumn("z", expr(zSpark("x", "y")).cast("long"))
        z.groupBy(expr("CAST(z div 256 AS BIGINT)").as("bucket"))
          .agg(count(lit(1)).as("n"),
            min("x").as("min_x"), max("x").as("max_x"),
            min("y").as("min_y"), max("y").as("max_y"))
          .orderBy("bucket")
      },
      Some(s"""WITH d AS (SELECT doc_id,
              |least(n_chars // 4, 255) AS x,
              |CAST(substr(source, 4) AS BIGINT) AS y FROM documents),
              |z AS (SELECT doc_id, x, y, CAST(${zDuck("x", "y")} AS BIGINT) AS z FROM d)
              |SELECT CAST(z // 256 AS BIGINT) AS bucket, count(*) AS n,
              |min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
              |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q102_vocab_encode",
      // Vocabulary building + id encoding: rank tokens by corpus
      // frequency (count desc, token asc), keep the top 50 as ids
      // 0..49, re-encode every document as its id sequence (OOV → -1).
      // The vocab ranking window runs over the AGGREGATED vocab table
      // (O(|vocab|) rows at any corpus scale — scale-free); encoding is
      // posexplode → broadcast vocab join → per-doc regroup, ordered by
      // the original token position so the id string is exact.
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), posexplode(expr(toksExpr)).as(Seq("pos", "tok")))
        val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
          .withColumn("id",
            row_number().over(Window.orderBy(col("cnt").desc, col("tok"))).cast("long") - 1L)
          .filter(col("id") < 50).select("tok", "id")
        toks.join(broadcast(vocab), Seq("tok"), "left")
          .withColumn("id", coalesce(col("id"), lit(-1L)))
          .groupBy("doc_id")
          .agg(
            array_join(transform(orderedList(col("id"), col("pos")), _.cast("string")), " ")
              .as("ids"),
            sum(when(col("id") === -1L, 1L).otherwise(0L)).as("n_oov"),
            count(lit(1)).as("n_toks"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksDuck AS w FROM documents),
              |tok AS (SELECT doc_id, i AS pos, w[i] AS tok
              |FROM t, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
              |WHERE len(w) > 0),
              |v AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
              |vid AS (SELECT tok, id FROM (SELECT tok,
              |CAST(row_number() OVER (ORDER BY cnt DESC, tok) - 1 AS BIGINT) AS id FROM v) z
              |WHERE id < 50)
              |SELECT doc_id,
              |array_to_string(list(CAST(coalesce(id, -1) AS VARCHAR) ORDER BY pos), ' ') AS ids,
              |CAST(sum(CASE WHEN id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
              |count(*) AS n_toks
              |FROM tok LEFT JOIN vid USING (tok)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q103_token_budget",
      // Token-budget selection: take documents in priority order
      // (n_chars desc as the stand-in quality score, doc_id tie-break)
      // while the INCLUSIVE running token total stays ≤ 10,000 — the
      // "fill the training budget from the best documents" step. The
      // running sum is Indexing.globalPrefixSum's two-pass range
      // exchange, not a single-partition window; the oracle states the
      // naive window — same values, distributed plan.
      (s, dir) => {
        val scored = Tables.documents(s, dir)
          .select(col("doc_id"), col("n_chars"),
            size(expr(toksExpr)).cast("long").as("n_toks"))
        Indexing.globalPrefixSum(scored,
            Seq(col("n_chars").desc, col("doc_id")), col("n_toks"))
          .filter(col("run") <= 10000L)
          .select(col("doc_id"), col("n_chars"), col("n_toks"), col("run"))
          .orderBy(col("n_chars").desc, col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, n_chars, CAST(len($toksDuck) AS BIGINT) AS n_toks FROM documents),
              |r AS (SELECT doc_id, n_chars, n_toks,
              |CAST(sum(n_toks) OVER (ORDER BY n_chars DESC, doc_id
              |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run FROM t)
              |SELECT doc_id, n_chars, n_toks, run FROM r WHERE run <= 10000
              |ORDER BY n_chars DESC, doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q104_mixture_sample",
      // Domain-mixture sampling: each source gets a target keep-fraction
      // (src_num % 4 + 1)/4 ∈ {0.25, 0.5, 0.75, 1.0}; a document is kept
      // iff its md5-derived uniform u ∈ [0, 65536) falls under the
      // fraction. Content-hash sampling is the 100 TB form: pure scan
      // expressions (no shuffle at all), deterministic across
      // repartitioning and cluster size, and re-weightable by changing
      // only the fraction map. Integer compare (u·4 < 65536·k) — no
      // float thresholds to disagree across engines.
      (s, dir) =>
        mixtureSample(Tables.documents(s, dir))
          .select(col("doc_id"), col("source"), col("u"))
          .orderBy("doc_id"),
      Some(s"""WITH d AS (SELECT doc_id, source,
              |substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS hx FROM documents),
              |u AS (SELECT doc_id, source, ${Corpus.hexFoldDuck("hx", 4)} AS u,
              |CAST(substr(source, 4) AS INT) % 4 + 1 AS frac_num FROM d)
              |SELECT doc_id, source, u FROM u WHERE u * 4 < 65536 * frac_num
              |ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q105_boilerplate_ngrams",
      // Cross-document boilerplate detection (the C4 signal at shingle
      // granularity, since this corpus has no line structure): distinct
      // 5-token shingles per doc, explode, count how many documents
      // share each shingle, report repeated ones. One explode + one
      // hash aggregate — the same shape as the n-gram term-freq family;
      // at 100 TB the groupBy key space is bounded by a df-cap (the
      // HAVING ≥ 2 here) long before the top-k.
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), expr(toksExpr).as("w"))
          .select(col("doc_id"), explode(expr(Corpus.shingleSpark)).as("shingle"))
          .groupBy("shingle").agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") >= 2)
          .orderBy(col("n_docs").desc, col("shingle")).limit(50),
      Some(s"""WITH t AS (SELECT doc_id, $toksDuck AS w FROM documents),
              |sh AS (SELECT doc_id, unnest(${Corpus.shingleDuck}) AS shingle FROM t)
              |SELECT shingle, count(*) AS n_docs FROM sh GROUP BY 1
              |HAVING count(*) >= 2
              |ORDER BY n_docs DESC, shingle LIMIT 50""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q106_top2gram_fraction",
      // Gopher's top-2gram repetition signal: the fraction of a doc's
      // bigram occurrences taken by its single most frequent bigram
      // (tie-break lexicographic). explode → per-(doc, bigram) count →
      // per-doc top-1 window — both shuffles are keyed by doc_id, so
      // the work distributes per-document at any corpus size.
      (s, dir) => {
        val bi = Tables.documents(s, dir)
          .select(col("doc_id"), expr(toksExpr).as("w"))
          .withColumn("bi", expr(biSpark))
          .select(col("doc_id"), size(col("bi")).cast("long").as("n_bi"),
            explode(col("bi")).as("g"))
        bi.groupBy("doc_id", "n_bi", "g").agg(count(lit(1)).as("cnt"))
          .withColumn("rn",
            row_number().over(Window.partitionBy("doc_id")
              .orderBy(col("cnt").desc, col("g"))))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("g").as("top_bigram"), col("cnt").as("top_cnt"),
            expr("round(cnt * 1.0D / n_bi, 4)").as("top_frac"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksDuck AS w FROM documents),
              |b0 AS (SELECT doc_id, $biDuck AS bi FROM t),
              |b AS (SELECT doc_id, len(bi) AS n_bi, unnest(bi) AS g FROM b0),
              |c AS (SELECT doc_id, n_bi, g, count(*) AS cnt FROM b GROUP BY 1, 2, 3),
              |r AS (SELECT doc_id, n_bi, g, cnt,
              |row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g) AS rn FROM c)
              |SELECT doc_id, g AS top_bigram, CAST(cnt AS BIGINT) AS top_cnt,
              |round(cnt * 1.0 / n_bi, 4) AS top_frac
              |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q107_ngram_contamination",
      // n-gram-level eval contamination (the graded form of q97/q58's
      // exact-fingerprint decontamination): for every document, the
      // fraction of its distinct 5-token shingles that also appear in
      // the eval docs (3, 7). The eval shingle set is tiny at any
      // scale → broadcast; the corpus side is one explode + one
      // per-doc aggregate. Eval docs themselves score 1.0 (the spec
      // pins this). Shingles ride as 60-bit interned fingerprints
      // (Corpus.shingleFpSpark, r9) — the broadcast set and the probe
      // column are 8-byte longs; the string-form oracle re-certifies
      // exactness every gate run and q261 audits collisions.
      (s, dir) => {
        val sh = Tables.documents(s, dir)
          .select(col("doc_id"), expr(toksExpr).as("w"))
          // r14: codegen shingle interning (≡ Corpus.shingleFpSpark,
          // CorpusSpec twin; exploded consumer — order-insensitive)
          .select(col("doc_id"),
            explode(graft.functions.ShingleFps.shingleFps(col("w"), 5)).as("shingle"))
        val ev = sh.filter(col("doc_id").isInCollection(Seq(3L, 7L)))
          .select("shingle").distinct().withColumn("hit", lit(1))
        sh.join(broadcast(ev), Seq("shingle"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(coalesce(col("hit"), lit(0))).as("n_hit"))
          .withColumn("contamination", expr("round(n_hit * 1.0D / n_shingles, 4)"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksDuck AS w FROM documents),
              |sh AS (SELECT doc_id, unnest(${Corpus.shingleDuck}) AS shingle FROM t),
              |ev AS (SELECT DISTINCT shingle, 1 AS hit FROM sh WHERE doc_id IN (3, 7))
              |SELECT doc_id, count(*) AS n_shingles,
              |CAST(sum(coalesce(hit, 0)) AS BIGINT) AS n_hit,
              |round(sum(coalesce(hit, 0)) * 1.0 / count(*), 4) AS contamination
              |FROM sh LEFT JOIN ev USING (shingle)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q108_percentile_gate",
      // Dynamic quality thresholding: keep documents at or above the
      // corpus 75th percentile of n_chars. The exact interpolated
      // percentile (one tiny global aggregate, broadcast back over the
      // scan) is the oracle-able form; at 100 TB the same query swaps
      // in q92's approx_percentile sketch — same plan shape, fixed
      // memory.
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
        val thr = docs.agg(expr("percentile(n_chars, 0.75D)").as("thr"))
        docs.crossJoin(broadcast(thr))
          .select(col("doc_id"), col("n_chars"),
            round(col("thr"), 4).as("thr"),
            (col("n_chars") >= col("thr")).as("kept"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT quantile_cont(n_chars, 0.75) AS thr FROM documents)
             |SELECT doc_id, n_chars, round(thr, 4) AS thr, n_chars >= thr AS kept
             |FROM documents, t ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q109_shard_assign",
      // Balanced training-shard assignment: rank documents by token
      // count (desc, doc_id tie-break) with Indexing.globalIndex's
      // two-pass range exchange, deal rank % 8 round-robin (longest
      // first ≈ LPT balance), and report per-shard doc/token totals —
      // the output-layout step before Sinks writes one file set per
      // shard. No single-partition window anywhere (the oracle states
      // the naive one).
      (s, dir) =>
        shardOf(Tables.documents(s, dir)
            .select(col("doc_id"), size(expr(toksExpr)).cast("long").as("n_toks")), 8)
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("total_toks"),
            min("n_toks").as("min_toks"), max("n_toks").as("max_toks"))
          .orderBy("shard"),
      Some(s"""WITH t AS (SELECT doc_id, CAST(len($toksDuck) AS BIGINT) AS n_toks FROM documents),
              |r AS (SELECT doc_id, n_toks,
              |CAST((row_number() OVER (ORDER BY n_toks DESC, doc_id) - 1) % 8 AS BIGINT) AS shard FROM t)
              |SELECT shard, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS total_toks,
              |min(n_toks) AS min_toks, max(n_toks) AS max_toks
              |FROM r GROUP BY 1 ORDER BY shard""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q110_distribution_drift",
      // Cross-slice distribution drift: which tokens differ most
      // between the en and de sub-corpora. The score is the
      // cross-multiplied count difference |c_en·t_de − c_de·t_en| —
      // EXACT-INTEGER arithmetic, so it is exactly reproducible across
      // engines (a float KL/JS sum would be summation-order-dependent);
      // it ranks identically to |p_en − p_de| scaled by t_en·t_de.
      // The products are computed in DECIMAL(18,0)·DECIMAL(18,0) →
      // DECIMAL(37,0): at 100 TB a common token's count·total product
      // (~1e11 · ~1e13 = 1e24) overflows BIGINT, and under ANSI mode
      // that aborts the query — decimal keeps the exactness claim true
      // at the design scale; the ORDER BY runs on the exact decimal.
      // The OUTPUT column is narrowed to BIGINT: Spark encodes
      // DECIMAL(38,0) as parquet FIXED_LEN_BYTE_ARRAY(16) while DuckDB
      // backs it with HUGEINT, and cross-engine canonicalization of
      // that type is not hash-stable (COVERAGE.md determinism rules).
      // At the gate SFs every drift value is ≪ 2^63; at 100 TB the
      // emit would switch to a decimal-as-string column instead. One
      // explode + one vocab-keyed aggregate + a broadcast 1-row totals
      // join.
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .filter(col("lang").isin("en", "de"))
          .select(col("lang"), explode(expr(toksExpr)).as("tok"))
        val c = toks.groupBy("tok").agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_en"),
          sum(when(col("lang") === "de", 1L).otherwise(0L)).as("c_de"))
        val tot = c.agg(sum("c_en").as("t_en"), sum("c_de").as("t_de"))
        c.crossJoin(broadcast(tot))
          .select(col("tok"), col("c_en"), col("c_de"),
            abs(col("c_en").cast("decimal(18,0)") * col("t_de").cast("decimal(18,0)")
              - col("c_de").cast("decimal(18,0)") * col("t_en").cast("decimal(18,0)"))
              .as("drift_dec"))
          .orderBy(col("drift_dec").desc, col("tok")).limit(20)
          .select(col("tok"), col("c_en"), col("c_de"),
            col("drift_dec").cast("long").as("drift"))
      },
      Some(s"""WITH t AS (SELECT lang, unnest($toksDuck) AS tok FROM documents
              |WHERE lang IN ('en', 'de')),
              |c AS (SELECT tok,
              |CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_en,
              |CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS c_de
              |FROM t GROUP BY 1),
              |tot AS (SELECT CAST(sum(c_en) AS BIGINT) AS t_en,
              |CAST(sum(c_de) AS BIGINT) AS t_de FROM c),
              |d AS (SELECT tok, c_en, c_de,
              |abs(CAST(c_en AS DECIMAL(18,0)) * CAST(t_de AS DECIMAL(18,0))
              |- CAST(c_de AS DECIMAL(18,0)) * CAST(t_en AS DECIMAL(18,0))) AS drift_dec
              |FROM c, tot ORDER BY drift_dec DESC, tok LIMIT 20)
              |SELECT tok, c_en, c_de, CAST(drift_dec AS BIGINT) AS drift
              |FROM d ORDER BY drift DESC, tok""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q111_profile",
      // Corpus profiling: null count, exact distinct count, and
      // lexicographic min/max per column — the first diagnostic a
      // pipeline runs on a new ingest (TESTDATA.md's tables get exactly
      // this treatment in SURVEY §1). One aggregate pass per column,
      // each a scale-free scalar row; at 100 TB the distincts swap to
      // approx_count_distinct (q92) with the same shape.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        def prof(c: String) = docs.agg(
            sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
            countDistinct(col(c)).as("n_distinct"),
            min(col(c).cast("string")).as("min_val"),
            max(col(c).cast("string")).as("max_val"))
          .select(lit(c).as("col_name"), col("n_null"), col("n_distinct"),
            col("min_val"), col("max_val"))
        prof("source").unionByName(prof("lang")).unionByName(prof("n_chars"))
          .orderBy("col_name")
      },
      Some("""SELECT * FROM (
             |SELECT 'source' AS col_name,
             |CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             |CAST(count(DISTINCT source) AS BIGINT) AS n_distinct,
             |min(source) AS min_val, max(source) AS max_val FROM documents
             |UNION ALL
             |SELECT 'lang',
             |CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |CAST(count(DISTINCT lang) AS BIGINT),
             |min(lang), max(lang) FROM documents
             |UNION ALL
             |SELECT 'n_chars',
             |CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |CAST(count(DISTINCT n_chars) AS BIGINT),
             |min(CAST(n_chars AS VARCHAR)), max(CAST(n_chars AS VARCHAR)) FROM documents
             |) u ORDER BY col_name""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q112_sample_uniform",
      // Deterministic uniform sample without a reservoir: order by a
      // content hash and take the first 100 — plans as
      // TakeOrderedAndProject (per-partition top-k, merge at the
      // driver), the distributed equivalent of reservoir sampling with
      // none of its sequential state, and stable across repartitioning
      // because the key is content-derived.
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"),
            expr("substring(md5(CAST(doc_id AS STRING)), 1, 8)").as("h"))
          .orderBy("h", "doc_id").limit(100),
      Some("""SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h
             |FROM documents ORDER BY h, doc_id LIMIT 100""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q113_fuzzy_join",
      // Fuzzy self-join on a derived title (first 5 tokens): pairs
      // within edit distance 3 — the graded form of the reference's
      // exact-title dedup (scrappy.py:316 drop_duplicates on title).
      // Blocking keeps it off the O(n²) cliff: equi-join on the first
      // token (a hash shuffle, never a cross product), then a cheap
      // length-band filter, THEN levenshtein only inside the band —
      // the classic filter-verify cascade. At 100 TB blocking keys get
      // skew treatment (AQE skew-join is on; q85's salting is the
      // manual form) and the block key graduates to an LSH bucket
      // (q41) — same plan shape either way.
      (s, dir) => {
        val titles = Tables.documents(s, dir)
          .select(col("doc_id"), expr(toksExpr).as("w"))
          .filter(size(col("w")) >= 5)
          .select(col("doc_id"),
            expr("array_join(slice(w, 1, 5), ' ')").as("title"),
            expr("w[0]").as("blk"))
        titles.as("a").join(titles.as("b"),
            col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id") &&
              abs(length(col("a.title")) - length(col("b.title"))) <= 3)
          // one bounded DP per banded candidate (threshold form
          // early-exits rows over the bound, returning -1), computed
          // ONCE — not re-evaluated in both the join filter and the
          // projection
          .withColumn("dist",
            levenshtein(col("a.title"), col("b.title"), 3).cast("long"))
          .filter(col("dist") >= 0 && col("dist") <= 3)
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            col("a.title").as("title_a"), col("b.title").as("title_b"), col("dist"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksDuck AS w FROM documents),
              |titles AS (SELECT doc_id, array_to_string(w[1:5], ' ') AS title, w[1] AS blk
              |FROM t WHERE len(w) >= 5)
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |a.title AS title_a, b.title AS title_b,
              |CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
              |FROM titles a JOIN titles b ON a.blk = b.blk AND a.doc_id < b.doc_id
              |AND abs(length(a.title) - length(b.title)) <= 3
              |AND levenshtein(a.title, b.title) <= 3
              |ORDER BY doc_a, doc_b""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q115_group_budget",
      // q103's budget selection under a MIXTURE: each source fills its
      // own 600-token budget in priority order (n_chars desc, doc_id).
      // Because the budget is per-group, the running sum is an ordinary
      // PARTITIONED window — one shuffle on source, every partition
      // independent, nothing single-partition — so this is the form
      // that scales without the two-pass machinery: specify the mixture
      // and the global budget decomposes into per-source windows.
      (s, dir) =>
        groupBudget(Tables.documents(s, dir), 600L)
          .select(col("doc_id"), col("source"), col("n_chars"),
            col("n_toks"), col("src_run"))
          .orderBy(col("source"), col("n_chars").desc, col("doc_id")),
      Some(s"""WITH t AS (SELECT doc_id, source, n_chars,
              |CAST(len($toksDuck) AS BIGINT) AS n_toks FROM documents),
              |r AS (SELECT doc_id, source, n_chars, n_toks,
              |CAST(sum(n_toks) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id
              |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS src_run FROM t)
              |SELECT doc_id, source, n_chars, n_toks, src_run FROM r
              |WHERE src_run <= 600
              |ORDER BY source, n_chars DESC, doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q116_containment",
      // Asymmetric containment |A∩B|/|A| over distinct 5-shingle sets —
      // what symmetric Jaccard (q42) misses: a short document quoted
      // wholly inside a long one scores low Jaccard but containment
      // ~1.0, and the CONTAINED side is the one a dedup pipeline drops.
      // Same df-capped inverted-index join as q114's edge builder
      // (popular boilerplate shingles are excluded from evidence AND
      // from the per-doc denominator, keeping the ratio consistent);
      // overlap counts once per unordered pair, then both directions'
      // ratios are emitted. Reported at ≥ 0.8; one-sided 1.0 = a doc
      // fully contained in another (the drop candidate).
      (s, dir) => {
        val sh = Corpus.cappedShingles(Tables.documents(s, dir), 8)
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
        val ov = sh.as("a").join(sh.as("b"),
            col("a.sg") === col("b.sg") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("overlap"))
        ov.join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
          .withColumn("cont_a", expr("round(overlap * 1.0D / n_a, 4)"))
          .withColumn("cont_b", expr("round(overlap * 1.0D / n_b, 4)"))
          .filter(expr("greatest(cont_a, cont_b) >= 0.8D"))
          .select(col("doc_a"), col("doc_b"), col("overlap"),
            col("cont_a"), col("cont_b"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH ${Corpus.cappedShinglesDuckCte(8)},
              |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
              |ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS overlap
              |FROM sh a JOIN sh b ON a.sg = b.sg AND a.doc_id < b.doc_id GROUP BY 1, 2),
              |r AS (SELECT doc_a, doc_b, CAST(overlap AS BIGINT) AS overlap,
              |round(overlap * 1.0 / sa.n_sh, 4) AS cont_a,
              |round(overlap * 1.0 / sb.n_sh, 4) AS cont_b
              |FROM ov JOIN sizes sa ON ov.doc_a = sa.doc_id
              |JOIN sizes sb ON ov.doc_b = sb.doc_id)
              |SELECT doc_a, doc_b, overlap, cont_a, cont_b FROM r
              |WHERE greatest(cont_a, cont_b) >= 0.8
              |ORDER BY doc_a, doc_b""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q117_shared_spans",
      // Exact-substring near-dup evidence (the Lee et al. "Deduplicating
      // Training Data Makes Language Models Better" signal): the LONGEST
      // token span shared verbatim by each document pair, found without
      // ever comparing documents directly. Positional 8-grams (kept only
      // below a document-frequency cap, same discipline as q114/q116)
      // equi-join into (pair, pos_a, pos_b) matches; matches on the same
      // DIAGONAL (pos_a − pos_b) with consecutive pos_a form a verbatim
      // run — classic gaps-and-islands: island id = pos_a − row_number
      // per diagonal, span length = island extent + 7. Every stage is an
      // equi-join or a (pair, diag)-keyed window — nothing quadratic in
      // corpus size, nothing single-partition.
      (s, dir) =>
        sharedSpanIslands(Tables.documents(s, dir))
          .groupBy("doc_a", "doc_b")
          .agg(max("span").as("longest_span"), count(lit(1)).as("n_spans"))
          .filter(col("longest_span") >= 12)
          .orderBy("doc_a", "doc_b"),
      Some(s"""WITH ${sharedSpansDuckCte()}
              |SELECT doc_a, doc_b, CAST(max(span) AS BIGINT) AS longest_span,
              |count(*) AS n_spans
              |FROM spans GROUP BY 1, 2 HAVING max(span) >= 12
              |ORDER BY doc_a, doc_b""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q120_span_scrub",
      // The ACTION step of exact-substring dedup (Lee et al. REMOVE the
      // duplicated spans, they don't just report them): every token of
      // the lower-priority document (doc_b under the keep-first policy)
      // covered by a shared verbatim span ≥ 12 tokens is dropped, and
      // the cleaned document is reassembled in original token order.
      // Output is compact and hash-stable: kept/removed counts plus the
      // md5 of the cleaned text. Scale shape: q117's island pipeline
      // (nothing quadratic, nothing single-partition) plus one bounded
      // interval anti-join — intervals per victim are few, keyed by
      // doc_id — and one per-doc regroup.
      (s, dir) =>
        scrubSharedSpans(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(s"""WITH ${sharedSpansDuckCte()},
              |iv AS (SELECT doc_b AS doc_id, lo_a - diag AS lo, hi_a - diag + 7 AS hi
              |FROM spans WHERE span >= 12),
              |tok AS (SELECT doc_id, i AS pos, w[i] AS tok
              |FROM t, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) s
              |WHERE len(w) > 0),
              |kept AS (SELECT tok.doc_id, tok.pos, tok.tok FROM tok
              |WHERE NOT EXISTS (SELECT 1 FROM iv
              |WHERE iv.doc_id = tok.doc_id AND tok.pos BETWEEN iv.lo AND iv.hi)),
              |k AS (SELECT doc_id, count(*) AS n_kept,
              |md5(array_to_string(list(tok ORDER BY pos), ' ')) AS clean_md5
              |FROM kept GROUP BY 1),
              |n AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_toks FROM t)
              |SELECT n.doc_id, n.n_toks,
              |CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
              |CAST(n.n_toks - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
              |coalesce(k.clean_md5, md5('')) AS clean_md5
              |FROM n LEFT JOIN k USING (doc_id)
              |ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q121_bpe_merges",
      // BPE tokenizer training (Sennrich et al.): 3 merge rounds learned
      // on the corpus word-frequency table, reporting every word's final
      // symbolization and the learned merge sequence. The scale story is
      // that BPE never touches the corpus after the first aggregate —
      // training is one aggregate over the VOCAB table (O(|vocab|) rows
      // at any corpus size) and the merge list is a 1-row broadcast
      // replayed per word, so the plan is the same for 3 merges or 50k.
      // The oracle unrolls the rounds as windows + gaps-and-islands
      // (greedy non-overlapping application, exactly oracle-able).
      (s, dir) => bpeMerges(Tables.documents(s, dir), 3).orderBy("word"),
      Some(s"""WITH w0 AS (SELECT unnest($toksDuck) AS word FROM documents),
              |words AS (SELECT word, count(*) AS freq FROM w0 GROUP BY 1),
              |s0 AS (SELECT word, freq, i - 1 AS pos, substr(word, i, 1) AS sym
              |FROM words, LATERAL (SELECT unnest(generate_series(1, length(word))) AS i) g),
              |${bpeRoundDuckCte(1)},
              |${bpeRoundDuckCte(2)},
              |${bpeRoundDuckCte(3)}
              |SELECT word, max(freq) AS freq,
              |array_to_string(list(sym ORDER BY pos), ' ') AS syms,
              |(SELECT b_sym || '+' || b_nxt FROM b1) AS merge1,
              |(SELECT b_sym || '+' || b_nxt FROM b2) AS merge2,
              |(SELECT b_sym || '+' || b_nxt FROM b3) AS merge3
              |FROM s3 GROUP BY word ORDER BY word""".stripMargin.replace("\n", " ")),
      bench = true),

    QueryDef(
      "q122_bpe_encode",
      // The ENCODE step of the trained tokenizer: every document's token
      // stream re-expressed in q121's learned BPE symbols, reported as
      // per-document word/symbol counts and fertility (symbols per
      // word — the tokenizer-efficiency diagnostic every pipeline
      // tracks). The trained tokenizer is a VOCAB-sized artifact: the
      // word → symbol-count table broadcasts, so encoding a 100 TB
      // corpus is one map-side join over the token scan — no shuffle
      // keyed on anything corpus-sized except the final per-doc
      // aggregate.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val ws = bpeTrain(docs, 3).select(col("word"), size(col("syms")).cast("long").as("n_syms"))
        docs.select(col("doc_id"), explode(expr(toksExpr)).as("word"))
          .join(broadcast(ws), "word")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"), sum("n_syms").as("n_bpe"))
          .select(col("doc_id"), col("n_words"), col("n_bpe"),
            expr("round(n_bpe * 1.0D / n_words, 4)").as("fertility"))
          .orderBy("doc_id")
      },
      Some(s"""WITH w0 AS (SELECT unnest($toksDuck) AS word FROM documents),
              |words AS (SELECT word, count(*) AS freq FROM w0 GROUP BY 1),
              |s0 AS (SELECT word, freq, i - 1 AS pos, substr(word, i, 1) AS sym
              |FROM words, LATERAL (SELECT unnest(generate_series(1, length(word))) AS i) g),
              |${bpeRoundDuckCte(1)},
              |${bpeRoundDuckCte(2)},
              |${bpeRoundDuckCte(3)},
              |ws AS (SELECT word, count(*) AS n_syms FROM s3 GROUP BY 1),
              |tok AS (SELECT doc_id, unnest($toksDuck) AS word FROM documents)
              |SELECT doc_id, count(*) AS n_words, CAST(sum(n_syms) AS BIGINT) AS n_bpe,
              |round(sum(n_syms) * 1.0 / count(*), 4) AS fertility
              |FROM tok JOIN ws USING (word)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q118_lm_score",
      // Bigram-LM cross-entropy scoring — the CCNet/KenLM-style
      // distributional quality filter: train an add-1-smoothed bigram LM
      // on the corpus, score every document by its average negative log
      // probability (nats). Documents far from the corpus distribution
      // (high ce) are the filter's drop candidates. Scale shape: the LM
      // is two vocab-keyed aggregates (bounded by vocab², ≪ corpus);
      // scoring is two hash-keyed equi-joins back onto the bigram
      // occurrences — at 100 TB the standard deployment swaps the
      // self-trained LM for a pre-trained external one broadcast to
      // executors, leaving the scoring joins identical. Per-doc sums
      // fold position-sorted lists (q59's order discipline).
      (s, dir) =>
        lmScore(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, $toksDuck AS w FROM documents),
              |occ AS (SELECT doc_id, i - 1 AS pos, w[i-1] AS prev, w[i] AS cur
              |FROM t, LATERAL (SELECT unnest(generate_series(2, len(w))) AS i) g
              |WHERE len(w) >= 2),
              |lm AS (SELECT prev, cur, count(*) AS c_bi FROM occ GROUP BY 1, 2),
              |ctx AS (SELECT prev, CAST(sum(c_bi) AS BIGINT) AS c_ctx FROM lm GROUP BY 1),
              |v AS (SELECT count(DISTINCT tok) AS v FROM (SELECT unnest(w) AS tok FROM t) z),
              |sc AS (SELECT occ.doc_id, occ.pos,
              |ln((lm.c_bi + 1.0) / (ctx.c_ctx + CAST(v.v AS DOUBLE))) AS lp
              |FROM occ JOIN lm USING (prev, cur) JOIN ctx USING (prev), v)
              |SELECT doc_id, count(*) AS n_bi,
              |round(-list_sum(list(lp ORDER BY pos)) / count(*), 4) AS ce
              |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q119_importance",
      // DSIR-style data selection (Xie et al., "Data Selection for
      // Language Models via Importance Resampling"): rank documents by
      // the average log-likelihood ratio of a TARGET distribution (the
      // eval docs 3 and 7 — "find me more data like this") against the
      // corpus distribution, both estimated over 256 hashed unigram
      // buckets with add-1 smoothing. Hashing is what makes this the
      // 100 TB form: the weight table is ≤ 256 rows REGARDLESS of
      // vocabulary size, broadcast to a single map-side join over the
      // token scan — no vocab-sized shuffle anywhere. The md5 hex-fold
      // bucket is engine-portable (q58/q104's trick), so the oracle
      // reproduces the exact bucketing.
      (s, dir) =>
        importanceWeights(Tables.documents(s, dir), Seq(3L, 7L))
          .orderBy(col("llr").desc, col("doc_id")).limit(30),
      Some(s"""WITH t AS (SELECT doc_id, $toksDuck AS w FROM documents),
              |tok0 AS (SELECT doc_id, i AS pos, substr(md5(w[i]), 1, 2) AS hx
              |FROM t, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
              |WHERE len(w) > 0),
              |tok AS (SELECT doc_id, pos, ${Corpus.hexFoldDuck("hx", 2)} AS b FROM tok0),
              |hist AS (SELECT b, count(*) AS c_c,
              |sum(CASE WHEN doc_id IN (3, 7) THEN 1 ELSE 0 END) AS c_t FROM tok GROUP BY 1),
              |tot AS (SELECT CAST(sum(c_c) AS BIGINT) AS n_c,
              |CAST(sum(c_t) AS BIGINT) AS n_t FROM hist),
              |wgt AS (SELECT b,
              |ln(((c_t + 1.0) / (tot.n_t + 256.0)) /
              |((c_c + 1.0) / (tot.n_c + 256.0))) AS wgt
              |FROM hist, tot)
              |SELECT doc_id, count(*) AS n_toks,
              |round(list_sum(list(wgt ORDER BY pos)) / count(*), 4) AS llr
              |FROM tok JOIN wgt USING (b)
              |GROUP BY doc_id ORDER BY llr DESC, doc_id LIMIT 30""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q130_epoch_mixing",
      // (tier rule: see [[Corpus2.tierCaseSql]] — shared with q133's audit)
      // Quality-tiered MULTI-EPOCH UPSAMPLING + deterministic training
      // order — the data-recipe step after gating: docs passing all 4
      // q100 rules are seen 3×, 3 rules 2×, 2 rules 1×, worse dropped
      // (the Gopher/LLaMA-style "repeat good data" mix). Each copy gets
      // a content-hash shuffle key, a contiguous global ordinal, and a
      // 32-sequence training batch id. The gate bits are the SAME
      // factored body q100 declares (qualityGate / gateDuckCte), so the
      // tiering cannot drift from the oracled gate. Scale shape: gate =
      // scan expressions; the ≤3× explode is map-side; the global
      // ordinal is Indexing's two-pass range exchange (never a
      // single-partition window); the hash order makes epoch layout
      // deterministic under repartitioning and cluster resize.
      (s, dir) => {
        val copies = Corpus.qualityGate(Tables.documents(s, dir))
          .withColumn("nq",
            col("len_ok").cast("int") + col("stop_ok").cast("int") +
              col("toklen_ok").cast("int") + col("rep_ok").cast("int"))
          .withColumn("n_copies",
            expr(tierCaseSql))
          .filter(col("n_copies") >= 1)
          .select(col("doc_id"), col("n_copies"),
            explode(expr("sequence(1, n_copies)")).as("copy_idx"))
          .select(col("doc_id"), col("n_copies").cast("long").as("n_copies"),
            col("copy_idx").cast("long").as("copy_idx"))
          .withColumn("sk", md5(concat_ws(":", col("copy_idx"), col("doc_id"))))
        Indexing.globalIndex(copies, Seq(col("sk"), col("doc_id"), col("copy_idx")))
          .select(col("idx"), col("doc_id"), col("copy_idx"), col("n_copies"),
            expr("idx DIV 32").as("batch_id"))
          .orderBy("idx")
      },
      Some(s"""WITH ${Corpus.gateDuckCte()},
              |q AS (SELECT doc_id,
              |(CASE WHEN len_ok THEN 1 ELSE 0 END) + (CASE WHEN stop_ok THEN 1 ELSE 0 END) +
              |(CASE WHEN toklen_ok THEN 1 ELSE 0 END) + (CASE WHEN rep_ok THEN 1 ELSE 0 END) AS nq FROM r),
              |c AS (SELECT doc_id,
              |$tierCaseSql AS n_copies FROM q),
              |cp AS (SELECT doc_id, n_copies, unnest(generate_series(1, n_copies)) AS copy_idx
              |FROM c WHERE n_copies >= 1),
              |k AS (SELECT doc_id, CAST(n_copies AS BIGINT) AS n_copies,
              |CAST(copy_idx AS BIGINT) AS copy_idx,
              |md5(CAST(copy_idx AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS sk FROM cp),
              |x AS (SELECT row_number() OVER (ORDER BY sk, doc_id, copy_idx) - 1 AS idx,
              |doc_id, copy_idx, n_copies FROM k)
              |SELECT idx, doc_id, copy_idx, n_copies, idx // 32 AS batch_id
              |FROM x ORDER BY idx""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q132_source_calibrated_gate",
      // Per-source CALIBRATED quality gating — q108's global percentile
      // gate silently biases against sources whose docs run short
      // (different crawls have different length distributions), so the
      // production recipe normalizes within source: each doc's
      // percent_rank AMONG ITS OWN SOURCE, kept at its source's median,
      // reported next to the global-median verdict so the rows where
      // the two flags disagree quantify the calibration effect. Scale
      // shape (r5): percent_rank is computed EXACTLY on the
      // (source, n_chars) DISTINCT-VALUE table — rank-with-gaps =
      // 1 + strictly-smaller cumulative count, percent = cum/(n−1) —
      // and broadcast-joined back, so the only windows run over the
      // bounded value domain, never a corpus-sized per-source sort in
      // |sources| partitions (the same family as the q50/q153 r4
      // fixes); one 1-row global aggregate broadcasts the median — at
      // 100 TB the exact median swaps in q92's approx sketch.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
        val thr = docs.agg(expr("percentile(n_chars, 0.5D)").as("gthr"))
        val vc = docs.groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
        val wv = Window.partitionBy("source").orderBy("n_chars")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wn = Window.partitionBy("source")
        val ranks = vc
          .withColumn("cum", coalesce(sum("c").over(wv), lit(0L)))
          .withColumn("n", sum("c").over(wn))
          .select(col("source").as("rsource"), col("n_chars").as("rchars"),
            when(col("n") === 1, lit(0.0))
              .otherwise(round(col("cum").cast("double") / (col("n") - 1), 4)).as("pct"))
        docs.join(broadcast(ranks),
            col("source") === col("rsource") && col("n_chars") === col("rchars"))
          .crossJoin(broadcast(thr))
          .select(col("doc_id"), col("source"), col("n_chars"), col("pct"),
            (col("pct") >= 0.5).as("kept_local"),
            (col("n_chars") >= col("gthr")).as("kept_global"))
          .orderBy("doc_id")
      },
      Some("""WITH g AS (SELECT quantile_cont(n_chars, 0.5) AS gthr FROM documents),
             |p AS (SELECT doc_id, source, n_chars,
             |round(percent_rank() OVER (PARTITION BY source ORDER BY n_chars), 4) AS pct
             |FROM documents)
             |SELECT doc_id, source, n_chars, pct,
             |pct >= 0.5 AS kept_local, n_chars >= gthr AS kept_global
             |FROM p, g ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q135_weighted_sample",
      // WEIGHTED sampling without replacement (Efraimidis & Spirakis,
      // IPL 2006 — the distributed weighted reservoir): every doc gets
      // key = ln(u)/w with u a content-hash uniform and w = its token
      // count; the global top-50 by key IS an exact weighted sample
      // without replacement. Longer docs are proportionally likelier,
      // yet no rand() appears: u derives from md5(doc_id) (q104's
      // hex-fold trick), so the sample is identical under
      // repartitioning, re-ingestion order, and cluster resize — and
      // ORACLE-CHECKABLE, which rand(seed) never is cross-engine. Keys
      // round to 8dp before ranking (engine-portable ln), doc_id
      // tie-break. 100 TB shape: one scan expression + top-k
      // (TakeOrderedAndProject) — no shuffle of the corpus, the same
      // plan family as q112's uniform variant.
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), size(expr(toksExpr)).cast("long").as("n_toks"))
          .filter(col("n_toks") > 0)
          .withColumn("hx", expr("substr(md5(CAST(doc_id AS STRING)), 1, 8)"))
          .withColumn("u",
            (expr(Corpus.hexFoldSpark("hx", 8)).cast("double") + lit(0.5)) / lit(4294967296.0))
          .withColumn("skey", round(expr("ln(u) / n_toks"), 8))
          .select("doc_id", "n_toks", "skey")
          .orderBy(col("skey").desc, col("doc_id")).limit(50),
      Some(s"""WITH t AS (SELECT doc_id, CAST(len($toksDuck) AS BIGINT) AS n_toks FROM documents),
              |h AS (SELECT doc_id, n_toks,
              |substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS hx FROM t WHERE n_toks > 0),
              |k AS (SELECT doc_id, n_toks,
              |round(ln((${Corpus.hexFoldDuck("hx", 8)} + 0.5) / 4294967296.0) / n_toks, 8) AS skey
              |FROM h)
              |SELECT doc_id, n_toks, skey FROM k
              |ORDER BY skey DESC, doc_id LIMIT 50""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q136_shard_manifest",
      // SHARD MANIFEST — the integrity artifact a 100 TB writer publishes
      // next to the data: per output shard (q109's LPT assignment, the
      // SAME factored shardOf), the doc count, token total, id range,
      // and an ORDER-INDEPENDENT content checksum — bit_xor of a 60-bit
      // hash of each doc's text — so any reader (or a re-run on a
      // different cluster) can verify a shard without sorting it: XOR
      // commutes, so partition order, task retries, and merge order
      // can't change the value, and one flipped/missing/duplicated doc
      // does. Scale shape: one scan + the q109 range exchange + one
      // per-shard aggregate; the manifest is ≤ |shards| rows.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"),
            size(expr(toksExpr)).cast("long").as("n_toks"),
            expr(Corpus.hexFoldSpark("substr(md5(text), 1, 15)", 15)).as("h"))
        shardOf(docs, 8)
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("total_toks"),
            expr("bit_xor(h)").as("checksum"),
            min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
          .orderBy("shard")
      },
      Some(s"""WITH t AS (SELECT doc_id, CAST(len($toksDuck) AS BIGINT) AS n_toks,
              |${Corpus.hexFoldDuck("substr(md5(text), 1, 15)", 15)} AS h FROM documents),
              |r AS (SELECT doc_id, n_toks, h,
              |CAST((row_number() OVER (ORDER BY n_toks DESC, doc_id) - 1) % 8 AS BIGINT) AS shard FROM t)
              |SELECT shard, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS total_toks,
              |bit_xor(h) AS checksum, min(doc_id) AS min_doc, max(doc_id) AS max_doc
              |FROM r GROUP BY 1 ORDER BY shard""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q139_sequence_packing",
      // SEQUENCE PACKING — the step between selection and the training
      // loop: documents are concatenated in a content-hash-shuffled
      // deterministic order (q130's layout rule) and cut into fixed
      // 512-token training sequences (the GPT-style concatenate-and-
      // split packer — zero padding by construction; a doc crossing a
      // cut boundary is split across consecutive sequences). Per doc:
      // its first sequence, the offset where it starts inside it, and
      // how many cut boundaries fall inside it. The running token total
      // is Indexing.globalPrefixSum's two-pass range exchange — never a
      // single-partition window — so the packing layout is identical
      // under repartitioning, task retries, and cluster resize, and an
      // incremental run appending docs only ever extends the tail.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), size(expr(toksExpr)).cast("long").as("n_toks"))
          .filter(col("n_toks") > 0L)
          .withColumn("sk", md5(col("doc_id").cast("string")))
        Indexing.globalPrefixSum(docs, Seq(col("sk"), col("doc_id")), col("n_toks"))
          .withColumn("start", col("run") - col("n_toks"))
          .select(col("doc_id"), col("n_toks"),
            expr("start DIV 512").as("seq_first"),
            expr("(run - 1) DIV 512").as("seq_last"),
            (col("start") % 512L).as("seq_offset"))
          .withColumn("n_cuts", col("seq_last") - col("seq_first"))
          .orderBy("seq_first", "seq_offset", "doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, CAST(len($toksDuck) AS BIGINT) AS n_toks,
              |md5(CAST(doc_id AS VARCHAR)) AS sk FROM documents WHERE len($toksDuck) > 0),
              |r AS (SELECT doc_id, n_toks,
              |CAST(sum(n_toks) OVER (ORDER BY sk, doc_id
              |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run FROM t),
              |p AS (SELECT doc_id, n_toks, run, run - n_toks AS start FROM r)
              |SELECT doc_id, n_toks, start // 512 AS seq_first, (run - 1) // 512 AS seq_last,
              |start % 512 AS seq_offset, (run - 1) // 512 - start // 512 AS n_cuts
              |FROM p ORDER BY seq_first, seq_offset, doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q142_length_bucketing",
      // LENGTH-BUCKETED BATCHING — q139's packer concatenates, which
      // pretraining can do; instruction-tuning can't (documents must
      // stay whole), so each 32-doc batch pads every doc to the batch
      // max and the bucketing ORDER decides the waste. This query
      // quantifies it: the same corpus batched two ways — length-sorted
      // (the bucketing optimization) vs content-hash-shuffled (the
      // randomized default) — with per-strategy batch count, true token
      // total, padding total, and padded fraction. On this corpus
      // sorting cuts the padded fraction 42% → 4.7% (sf0.001; the spec
      // asserts the gap and replays both layouts exactly). Scale
      // shape: each strategy is one globalIndex range exchange + a
      // batch-keyed aggregate + a 1-row fold; output is 2 rows.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), size(expr(toksExpr)).cast("long").as("n_toks"))
          .withColumn("sk", md5(col("doc_id").cast("string")))
        def stats(order: Seq[org.apache.spark.sql.Column], strategy: String) =
          Indexing.globalIndex(docs, order)
            .withColumn("batch_id", expr("idx DIV 32"))
            .groupBy("batch_id")
            .agg(count(lit(1)).as("cnt"), max("n_toks").as("mx"), sum("n_toks").as("sm"))
            .agg(count(lit(1)).as("n_batches"), sum("sm").as("total_toks"),
              sum(col("cnt") * col("mx") - col("sm")).as("total_pad"))
            .select(lit(strategy).as("strategy"), col("n_batches"), col("total_toks"),
              col("total_pad"),
              round(col("total_pad") / (col("total_pad") + col("total_toks")), 6).as("pad_frac"))
        stats(Seq(col("n_toks").desc, col("doc_id")), "length_sorted")
          .unionByName(stats(Seq(col("sk"), col("doc_id")), "hash_shuffled"))
          .orderBy("strategy")
      },
      Some(s"""WITH t AS (SELECT doc_id, CAST(len($toksDuck) AS BIGINT) AS n_toks,
              |md5(CAST(doc_id AS VARCHAR)) AS sk FROM documents),
              |ls AS (SELECT (row_number() OVER (ORDER BY n_toks DESC, doc_id) - 1) // 32 AS batch_id,
              |n_toks FROM t),
              |lb AS (SELECT batch_id, count(*) AS cnt, max(n_toks) AS mx, sum(n_toks) AS sm
              |FROM ls GROUP BY 1),
              |hs AS (SELECT (row_number() OVER (ORDER BY sk, doc_id) - 1) // 32 AS batch_id,
              |n_toks FROM t),
              |hb AS (SELECT batch_id, count(*) AS cnt, max(n_toks) AS mx, sum(n_toks) AS sm
              |FROM hs GROUP BY 1),
              |u AS (SELECT 'length_sorted' AS strategy, CAST(count(*) AS BIGINT) AS n_batches,
              |CAST(sum(sm) AS BIGINT) AS total_toks, CAST(sum(cnt * mx - sm) AS BIGINT) AS total_pad
              |FROM lb
              |UNION ALL SELECT 'hash_shuffled', CAST(count(*) AS BIGINT),
              |CAST(sum(sm) AS BIGINT), CAST(sum(cnt * mx - sm) AS BIGINT) FROM hb)
              |SELECT strategy, n_batches, total_toks, total_pad,
              |round(total_pad * 1.0 / (total_pad + total_toks), 6) AS pad_frac
              |FROM u ORDER BY strategy""".stripMargin.replace("\n", " ")))
  )
}
