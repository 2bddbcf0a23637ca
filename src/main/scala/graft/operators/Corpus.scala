package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Training-data corpus operators beyond the reference's surface (north
  * star, BASELINE.json): the transforms an LLM data pipeline runs between
  * ingest and training — chunking, scrubbing, split assignment, and the
  * approximate sketches that replace exact aggregates at 100 TB.
  *
  * All are single-pass scan expressions or one-shuffle aggregates:
  *  - q93 chunking: token windows of size 20 / stride 15 via
  *    sequence+transform+explode — rows multiply map-side, no shuffle at
  *    all; at 100 TB this is the map stage before tokenize-and-pack.
  *  - q94 redaction: regexp_replace scrubbing with redaction counts —
  *    pure codegen'd scan expressions.
  *  - q95 split assignment: deterministic md5-bucket train/val/test
  *    labels — content-stable (survives re-partitioning, re-ingestion
  *    order, cluster size), unlike rand(seed) which is partition-dependent.
  *  - q92 sketches: fixed-memory distinct count + quantile per group —
  *    the fixed-memory forms of q16/q25; sketch merge is commutative, so
  *    results are partitioning-independent. Since r12 built from FIRST
  *    PRINCIPLES (q168's HLL register form + a bounded-domain histogram
  *    quantile), so both engines produce identical state and the row is
  *    hash-oracled; the engine-native sketches (approx_count_distinct,
  *    approx_percentile) stay spec-verified against it (CorpusSpec).
  */
object Corpus {

  private val toksExpr = TextAnalytics.toksExpr
  private val toksDuck = TextAnalytics.toksDuck
  private val stopList = TextAnalytics.stopSqlList
  private val fpDuck = TextAnalytics.fpExactDuck

  /** All n-gram occurrences of a token array `w` in document order — THE
    * template for the bigram (q106), trigram (q99/q100), and 5-shingle
    * (q41/q105/q107) signals, generated once for both engines so the
    * 0-based (Spark) vs 1-based (DuckDB) subscript arithmetic and the
    * empty-array ELSE branch live in exactly one place. */
  private[operators] def ngramSpark(n: Int): String = {
    val parts = (0 until n)
      .map(j => if (j == 0) "w[i]" else s"w[i+$j]").mkString(", ' ', ")
    s"CASE WHEN size(w) >= $n THEN transform(sequence(0, size(w)-$n), i -> concat($parts)) ELSE slice(w, 1, 0) END"
  }
  private[operators] def ngramDuck(n: Int): String =
    s"CASE WHEN len(w) >= $n THEN list_transform(generate_series(1, len(w)-${n - 1}), i -> ${ngramAtDuck(n)}) ELSE []::VARCHAR[] END"

  /** The n-gram STARTING AT position `i` of `w` (DuckDB, 1-based `i`) —
    * for positional explodes where `i` comes from a LATERAL series. */
  private[operators] def ngramAtDuck(n: Int): String =
    (0 until n).map(j => if (j == 0) "w[i]" else s"w[i+$j]").mkString(" || ' ' || ")

  /** Distinct 5-token shingles of `w` (q102's note: Spark subscripts are
    * 0-based, DuckDB's 1-based — both forms produce the identical
    * shingle multiset). */
  private[operators] val shingleSpark = s"array_distinct(${ngramSpark(5)})"
  private[operators] val shingleDuck = s"list_distinct(${ngramDuck(5)})"

  /** 60-bit md5-prefix fingerprint of a string SQL expression — the
    * token-interning discipline (Dedup.internExpr, r8) applied to the
    * shingle/n-gram families (r9): every shuffle, window, and self-join
    * keyed on a multi-token shingle string now carries an 8-byte int64
    * instead. Exactness is certified the same three ways as the token
    * form: the DuckDB oracles stay verbatim-string, so each hash-green
    * gate run re-proves fingerprint ≡ exact on that corpus; q261 audits
    * shingle/8-gram vocabulary collisions directly (zero at every gate
    * SF; expected C(|V|,2)/2⁶⁰ ≈ 0.4 pairs even at |V| = 10⁹); and on a
    * NEW corpus the operational contract is to run q260/q261 before
    * trusting interned results. */
  private[operators] def fp60Spark(e: String): String =
    s"CAST(conv(substring(md5($e), 1, 15), 16, 10) AS BIGINT)"

  /** [[shingleSpark]] interned per element — distinct 5-shingle
    * FINGERPRINTS of `w` (collision-free ⇒ same cardinalities and the
    * same join matches as the string form). Since r14 this HOF form is
    * the REFERENCE TWIN: the queries run the codegen'd
    * [[graft.functions.ShingleFps]] (same fingerprints, sorted instead
    * of first-occurrence order — all consumers explode, so order is
    * immaterial; DedupSpec asserts sorted-equality on the corpus). */
  private[operators] val shingleFpSpark =
    s"transform($shingleSpark, s5 -> ${fp60Spark("s5")})"

  /** All trigram occurrences of `w` in document order (q99/q100's signal;
    * q105 aggregates it corpus-wide). */
  private[operators] val triSpark = ngramSpark(3)
  private val triDuck = ngramDuck(3)

  /** (docs, dfCap) → (doc_id, sg): each document's distinct 5-shingles,
    * keeping only shingles whose document frequency is ≤ dfCap — the
    * blocking discipline that bounds every shingle self-join (q114's
    * edge builder, q116's containment evidence) to O(dfCap) fan-out per
    * shingle instead of d². ONE definition on each engine so the cap and
    * the tokenization can never drift between the queries that share it.
    * r9: `sg` is the 60-bit interned fingerprint ([[shingleFpSpark]] —
    * consumers only ever join/count on it, never print it), so the df
    * window and every downstream self-join shuffle 8-byte longs.
    * The df-cap stays a per-shingle window, a measured decision: the
    * partial-aggregable alternative (groupBy(sg) count → semi-join the
    * ≤cap set back) kills the heavy-shingle single-task hazard but
    * duplicates the corpus explode under Spark's no-DataFrame-CSE, and
    * measured +0.6 s on q116 / +0.9 s on q114 at sf0.1 (both of which
    * reference this relation twice more in a self-join). The window's
    * heavy-key rows are pure discarded work (df > cap filters them),
    * so at true web scale — where one boilerplate shingle can carry
    * 10⁹ rows into one window task — swap the two-line semi-join form
    * back in (bit-identical results) and let AQE + the runtime bloom
    * filter drop doomed rows map-side; at gate scales the window is
    * strictly faster. */
  private[operators] def cappedShingles(docs: DataFrame, dfCap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.select(col("doc_id"), expr(TextAnalytics.toksExpr).as("w"))
      // r14: the codegen'd shingle interning (one digest pass, no
      // per-shingle string/hex/conv allocations — exploded consumers are
      // order-insensitive; CorpusSpec asserts ≡ the shingleFpSpark HOF)
      .select(col("doc_id"),
        explode(graft.functions.ShingleFps.shingleFps(col("w"), 5)).as("sg"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("sg")))
      .filter(col("df") <= dfCap)
      .select("doc_id", "sg")
  }

  /** The DuckDB CTE chain matching [[cappedShingles]]; splice after WITH.
    * Defines `t`, `sh0`, and the final `sh(doc_id, sg)`. */
  private[operators] def cappedShinglesDuckCte(dfCap: Int): String =
    s"""t AS (SELECT doc_id, ${TextAnalytics.toksDuck} AS w FROM documents),
       |sh0 AS (SELECT doc_id, unnest($shingleDuck) AS sg FROM t),
       |sh AS MATERIALIZED (SELECT doc_id, sg FROM
       |(SELECT doc_id, sg, count(*) OVER (PARTITION BY sg) AS df FROM sh0) z
       |WHERE df <= $dfCap)""".stripMargin.replace("\n", " ")

  /** q95's content-hash split rule, ONE definition per engine so the
    * assignment (q95) and the leakage audit (q128) can never drift:
    * bucket = first md5 hex digit of the id (0-12 train, 13-14 val,
    * 15 test ≈ 81/13/6). */
  private[operators] def splitBucketSpark(id: String): String =
    s"CAST(locate(substring(md5(CAST($id AS STRING)), 1, 1), '0123456789abcdef') - 1 AS BIGINT)"
  private[operators] def splitSpark(id: String): String =
    s"""CASE WHEN ${splitBucketSpark(id)} <= 12 THEN 'train'
       |WHEN ${splitBucketSpark(id)} <= 14 THEN 'val'
       |ELSE 'test' END""".stripMargin.replace("\n", " ")
  private[operators] def splitBucketDuck(id: String): String =
    s"CAST(strpos('0123456789abcdef', substr(md5(CAST($id AS VARCHAR)), 1, 1)) - 1 AS BIGINT)"
  private[operators] def splitDuck(id: String): String =
    s"""CASE WHEN ${splitBucketDuck(id)} <= 12 THEN 'train'
       |WHEN ${splitBucketDuck(id)} <= 14 THEN 'val'
       |ELSE 'test' END""".stripMargin.replace("\n", " ")

  /** Engine-portable uniform hash bucket: the integer value of the first
    * `n` hex chars of an md5 hex column — the same per-character fold in
    * both engines (q58's trick), uniform on [0, 16^n). `hx` must already
    * hold the hex prefix (precomputed so Spark folds a column, not a
    * re-evaluated md5 call per character). */
  private[operators] def hexFoldSpark(hx: String, n: Int): String =
    // conv() is the codegen'd builtin for exactly this fold — the
    // aggregate()-HOF formulation it replaced fell out of whole-stage
    // codegen and ran interpreted per row (`n` kept for signature parity
    // with the DuckDB twin, which stays a vectorized list fold)
    s"CAST(conv($hx, 16, 10) AS BIGINT)"
  private[operators] def hexFoldDuck(hx: String, n: Int): String =
    s"""CAST(list_sum(list_transform(generate_series(1, $n), i ->
       |(CASE WHEN ascii(substr($hx, i, 1)) >= 97 THEN ascii(substr($hx, i, 1)) - 87
       |ELSE ascii(substr($hx, i, 1)) - 48 END) * (CAST(1 AS BIGINT) << (4 * ($n - i))))) AS BIGINT)"""
      .stripMargin.replace("\n", " ")


  /** q93's body, input-agnostic (docs needs `doc_id`, `text`): stateless
    * map-side chunking — also runs unchanged on a readStream source
    * (StreamingSpec proves batch ≡ stream). */
  def chunkTokens(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), expr(toksExpr).as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, (size(w)-1) div 15), i ->
          |struct(CAST(i AS BIGINT) AS chunk_idx,
          |array_join(slice(w, i*15+1, 20), ' ') AS chunk,
          |CAST(size(slice(w, i*15+1, 20)) AS BIGINT) AS n_tokens))"""
          .stripMargin.replace("\n", " "))).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.chunk"), col("c.n_tokens"))

  /** q100's body, input-agnostic — stateless scan expressions, so the
    * same gate runs on a readStream source (StreamingSpec). */
  def qualityGate(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"), expr(toksExpr).as("w"))
      .withColumn("tri", expr(triSpark))
      .select(col("doc_id"),
        (length(col("text")) >= 100 && length(col("text")) <= 5000).as("len_ok"),
        expr(s"size(w) > 0 AND size(filter(w, x -> x IN ($stopList))) * 1.0D / size(w) BETWEEN 0.05D AND 0.6D").as("stop_ok"),
        expr("size(w) > 0 AND length(replace(text, ' ', '')) * 1.0D / size(w) BETWEEN 2D AND 12D").as("toklen_ok"),
        expr("size(tri) = 0 OR (size(tri) - size(array_distinct(tri))) * 1.0D / size(tri) <= 0.3D").as("rep_ok"))
      .withColumn("keep", col("len_ok") && col("stop_ok") && col("toklen_ok") && col("rep_ok"))

  /** DuckDB CTE chain ending in `${p}r(doc_id, len_ok, stop_ok,
    * toklen_ok, rep_ok)` — the oracle twin of [[qualityGate]]'s rule
    * bits. ONE definition: q100's verdict and q130's tiering both
    * splice this, so the gate rules cannot drift between consumers.
    * Prefix-namespaced like Dedup.lshPairsDuckCte. */
  private[operators] def gateDuckCte(p: String = ""): String =
    s"""${p}t AS (SELECT doc_id, text, $toksDuck AS w FROM documents),
       |${p}g AS (SELECT doc_id, text, w, CASE WHEN len(w) >= 3
       |THEN list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |ELSE []::VARCHAR[] END AS tri FROM ${p}t),
       |${p}r AS (SELECT doc_id,
       |length(text) >= 100 AND length(text) <= 5000 AS len_ok,
       |len(w) > 0 AND len(list_filter(w, x -> x IN ($stopList))) * 1.0 / len(w) BETWEEN 0.05 AND 0.6 AS stop_ok,
       |len(w) > 0 AND length(replace(text, ' ', '')) * 1.0 / len(w) BETWEEN 2 AND 12 AS toklen_ok,
       |len(tri) = 0 OR (len(tri) - len(list_distinct(tri))) * 1.0 / len(tri) <= 0.3 AS rep_ok
       |FROM ${p}g)""".stripMargin.replace("\n", " ")

  /** q63's body, input-agnostic: the gate → fingerprint-dedup →
    * decontaminate → chunk composition. ONE definition — the oracled
    * query and `Flows.corpusFlow` both call this, so the user-facing API
    * can never drift from what the oracle checks. */
  def trainingPipeline(docs: DataFrame, evalDocIds: Seq[Long]): DataFrame = {
    val kept = docs.join(
      qualityGate(docs).filter(col("keep")).select("doc_id"), "doc_id")
    val withFp = kept.select(col("doc_id"), col("text"),
      TextAnalytics.fpExactCol.as("fp"))
    val deduped = Relational.dedupKeepFirst(withFp, Seq("fp"), Seq(col("doc_id")))
    val evalFps = docs.filter(col("doc_id").isInCollection(evalDocIds))
      .select(TextAnalytics.fpExactCol.as("fp")).distinct()
    val clean = deduped.join(broadcast(evalFps), Seq("fp"), "left_anti")
    chunkTokens(clean.select("doc_id", "text"))
  }

  def defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q93_chunk_documents",
      // Fixed-size token windows (size 20, stride 15 → 5-token overlap),
      // the chunking step before tokenization/packing. Chunk starts are
      // i·stride for i in 0..(n-1) div stride, so every token lands in ≥1
      // chunk; the final chunk clips at the document end.
      (s, dir) =>
        chunkTokens(Tables.documents(s, dir)).orderBy("doc_id", "chunk_idx"),
      Some(s"""WITH t AS (SELECT doc_id, $toksDuck AS w FROM documents)
              |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
              |array_to_string(w[i*15+1 : i*15+20], ' ') AS chunk,
              |CAST(len(w[i*15+1 : i*15+20]) AS BIGINT) AS n_tokens
              |FROM t, LATERAL (SELECT unnest(generate_series(0, (len(w)-1)//15)) AS i) g
              |WHERE len(w) > 0
              |ORDER BY doc_id, chunk_idx""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q94_redact",
      // Quality scrubbing: mask numeric tokens (the stand-in for
      // phone/id/email scrubbing — this corpus has no PII shapes) and
      // count the redactions. Pure scan expressions, fully pushed into
      // whole-stage codegen.
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"),
            regexp_replace(col("text"), "[0-9]+", "<NUM>").as("redacted"),
            expr("CAST(size(regexp_extract_all(text, '[0-9]+', 0)) AS BIGINT)").as("n_redactions"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS redacted,
             |CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_redactions
             |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q95_split_assign",
      // Deterministic train/val/test assignment from a CONTENT hash
      // bucket (first md5 hex digit of the id: 0-c train, d-e val,
      // f test ≈ 81/13/6) — the split a 100 TB pipeline can recompute on
      // any cluster without a stored assignment table. md5 agrees across
      // engines; rand(seed) would not survive repartitioning. The split
      // rule is ONE definition per engine (splitSpark/splitDuck), shared
      // with q128's leakage audit.
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), expr(splitBucketSpark("doc_id")).as("bucket"))
          .withColumn("split",
            when(col("bucket") <= 12, "train")
              .when(col("bucket") <= 14, "val")
              .otherwise("test"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, ${splitBucketDuck("doc_id")} AS bucket,
             |${splitDuck("doc_id")} AS split
             |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q96_pack_chunks",
      // Sequence packing: assign q93's chunks to fixed-budget context
      // windows (128 tokens). Greedy first-fit is inherently sequential,
      // so the SCALABLE form is contiguous packing inside hash-partitioned
      // pack groups: a running token total per group (one window shuffle),
      // bin = previous-total div budget. Groups pack in parallel; only the
      // per-group stream is ordered — the shape that holds at 100 TB,
      // where a global greedy pass cannot.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val chunks = chunkTokens(Tables.documents(s, dir))
          .select(col("doc_id"), col("chunk_idx"), col("n_tokens"))
          .withColumn("grp", (col("doc_id") % 8).cast("long"))
        val w = Window.partitionBy("grp").orderBy("doc_id", "chunk_idx")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        chunks
          .withColumn("run", sum("n_tokens").over(w))
          .select(col("grp"), col("doc_id"), col("chunk_idx"), col("n_tokens"),
            ((col("run") - col("n_tokens")) / 128).cast("long").as("bin"))
          .orderBy("grp", "doc_id", "chunk_idx")
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksDuck AS w FROM documents),
              |chunks AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
              |CAST(len(w[i*15+1 : i*15+20]) AS BIGINT) AS n_tokens,
              |CAST(doc_id % 8 AS BIGINT) AS grp
              |FROM t, LATERAL (SELECT unnest(generate_series(0, (len(w)-1)//15)) AS i) g
              |WHERE len(w) > 0)
              |SELECT grp, doc_id, chunk_idx, n_tokens,
              |CAST(floor((sum(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id, chunk_idx
              |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 128) AS BIGINT) AS bin
              |FROM chunks ORDER BY grp, doc_id, chunk_idx""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q97_decontaminate",
      // Eval-set decontamination: drop training docs whose normalized
      // fingerprint (md5 of the C1-normalized text — q35's fp_exact)
      // appears in a pinned benchmark fingerprint list. The eval list is
      // tiny at any scale → broadcast anti-join; the corpus never
      // shuffles. Fingerprints here are derived live from two known
      // doc_ids so the fixture stays corpus-independent.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"),
            TextAnalytics.fpExactCol.as("fp"))
        val evalSet = docs.filter(col("doc_id").isInCollection(Seq(3L, 7L)))
          .select(col("fp")).distinct()
        docs.join(broadcast(evalSet), Seq("fp"), "left_anti")
          .select(col("doc_id"), col("fp"))
          .orderBy("doc_id")
      },
      Some(s"""WITH docs AS (SELECT doc_id,
             |$fpDuck AS fp FROM documents),
             |ev AS (SELECT DISTINCT fp FROM docs WHERE doc_id IN (3, 7))
             |SELECT doc_id, fp FROM docs
             |WHERE fp NOT IN (SELECT fp FROM ev)
             |ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q84_length_histogram",
      // Sequence-length distribution (the first diagnostic run before
      // choosing a chunk/pack size — q93/q96's parameters come from
      // exactly this histogram): bucket docs by token count in bins of
      // 32. Single scan + one tiny groupBy; the histogram has
      // O(max_len/32) rows at ANY corpus scale.
      (s, dir) =>
        Tables.documents(s, dir)
          .select(size(expr(toksExpr)).cast("long").as("n_toks"))
          .select(expr("n_toks div 32").as("bucket"), col("n_toks"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"),
            min("n_toks").as("min_toks"), max("n_toks").as("max_toks"))
          .orderBy("bucket"),
      Some(s"""WITH t AS (SELECT CAST(len($toksDuck) AS BIGINT) AS n_toks FROM documents)
              |SELECT n_toks // 32 AS bucket, count(*) AS n_docs,
              |min(n_toks) AS min_toks, max(n_toks) AS max_toks
              |FROM t GROUP BY 1 ORDER BY bucket""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q58_bloom_decontaminate",
      // q97's decontamination at the scale where the eval list itself is
      // too big to broadcast raw: fold the eval fingerprints into an
      // m=4096-bit / k=3 Bloom bitmap (64 longs — DISTRIBUTED build via
      // groupBy(word)+bit_or, so the eval set never collects), broadcast
      // the tiny bitmap, bit-test every corpus fingerprint, and run the
      // exact membership join ONLY on Bloom hits. No false negatives by
      // construction, so kept == q97's survivors exactly (CorpusSpec);
      // false positives only cost a redundant exact check. At 1e9 eval
      // fps you'd size m ≈ 10·n (still MBs); the build stays one
      // shuffle of (word, bit) pairs. Hash positions are md5-derived
      // (engine-portable): value of the first 8 hex chars of
      // md5(h ':' fp), mod m, for h = 0,1,2.
      (s, dir) => {
        val posSpark =
          """transform(transform(sequence(0, 2), h -> substring(md5(concat(CAST(h AS STRING), ':', fp)), 1, 8)),
            |hx -> CAST(aggregate(sequence(1, 8), 0L, (a, i) ->
            |a * 16 + CASE WHEN ascii(substring(hx, i, 1)) >= 97
            |THEN CAST(ascii(substring(hx, i, 1)) - 87 AS BIGINT)
            |ELSE CAST(ascii(substring(hx, i, 1)) - 48 AS BIGINT) END) % 4096 AS INT))"""
            .stripMargin.replace("\n", " ")
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"),
            TextAnalytics.fpExactCol.as("fp"))
        val ev = docs.filter(col("doc_id").isInCollection(Seq(3L, 7L)))
          .select(col("fp")).distinct()
        val words = ev.select(explode(expr(posSpark)).as("pos"))
          .select(expr("pos div 64").as("word"), expr("pos % 64").as("bit"))
          .groupBy("word").agg(expr("bit_or(shiftleft(1L, bit))").as("bits"))
        val tested = docs
          .select(col("doc_id"), col("fp"), explode(expr(posSpark)).as("pos"))
          .select(col("doc_id"), col("fp"),
            expr("pos div 64").as("word"), expr("pos % 64").as("bit"))
          .join(broadcast(words), Seq("word"), "left")
          .select(col("doc_id"), col("fp"),
            expr("CASE WHEN bits IS NULL THEN 0 ELSE CAST(shiftright(bits, bit) & 1 AS INT) END").as("setbit"))
          .groupBy("doc_id", "fp").agg(min("setbit").as("bloom_hit"))
        // The exact membership join consumes ONLY the Bloom-hit rows —
        // misses are kept outright. At true scale the hit set is tiny,
        // so this join runs as a standard shuffle join of |hits| rows
        // against the eval table; the broadcast here is local-test
        // convenience, not the load-bearing part.
        val hits = tested.filter(col("bloom_hit") === 1)
          .join(broadcast(ev.withColumn("inev", lit(1))), Seq("fp"), "left")
          .select(col("doc_id"), col("bloom_hit").cast("long").as("bloom_hit"),
            expr("CASE WHEN inev = 1 THEN 0L ELSE 1L END").as("kept"))
        val misses = tested.filter(col("bloom_hit") === 0)
          .select(col("doc_id"), col("bloom_hit").cast("long").as("bloom_hit"),
            lit(1L).as("kept"))
        hits.unionByName(misses).orderBy("doc_id")
      },
      Some(s"""WITH docs AS (SELECT doc_id,
             |$fpDuck AS fp FROM documents),
             |ev AS (SELECT DISTINCT fp FROM docs WHERE doc_id IN (3, 7)),
             |evpos AS (SELECT unnest(list_transform(
             |list_transform(generate_series(0, 2), h -> substr(md5(CAST(h AS VARCHAR) || ':' || fp), 1, 8)),
             |hx -> CAST(list_sum(list_transform(generate_series(1, 8), i ->
             |(CASE WHEN ascii(substr(hx, i, 1)) >= 97 THEN ascii(substr(hx, i, 1)) - 87
             |ELSE ascii(substr(hx, i, 1)) - 48 END) * (CAST(1 AS BIGINT) << (4 * (8 - i))))) % 4096 AS INT))) AS pos
             |FROM ev),
             |words AS (SELECT pos // 64 AS word, bit_or(CAST(1 AS BIGINT) << (pos % 64)) AS bits
             |FROM evpos GROUP BY 1),
             |dpos AS (SELECT doc_id, fp, unnest(list_transform(
             |list_transform(generate_series(0, 2), h -> substr(md5(CAST(h AS VARCHAR) || ':' || fp), 1, 8)),
             |hx -> CAST(list_sum(list_transform(generate_series(1, 8), i ->
             |(CASE WHEN ascii(substr(hx, i, 1)) >= 97 THEN ascii(substr(hx, i, 1)) - 87
             |ELSE ascii(substr(hx, i, 1)) - 48 END) * (CAST(1 AS BIGINT) << (4 * (8 - i))))) % 4096 AS INT))) AS pos
             |FROM docs),
             |tested AS (SELECT doc_id, fp, min(CASE WHEN w.bits IS NULL THEN 0
             |ELSE CAST((w.bits >> (pos % 64)) & 1 AS INT) END) AS bloom_hit
             |FROM dpos LEFT JOIN words w ON pos // 64 = w.word GROUP BY 1, 2)
             |SELECT doc_id, CAST(bloom_hit AS BIGINT) AS bloom_hit,
             |CASE WHEN bloom_hit = 1 AND fp IN (SELECT fp FROM ev) THEN 0 ELSE 1 END::BIGINT AS kept
             |FROM tested ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q99_repetition_score",
      // Within-document repetition (the Gopher/C4 quality signal): the
      // fraction of trigram occurrences that are repeats of an earlier
      // trigram in the SAME doc — 0 for fully novel text, →1 for loops.
      // Single-pass scan expression over the trigram array; no shuffle.
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), expr(toksExpr).as("w"))
          .withColumn("tri", expr(
            """CASE WHEN size(w) >= 3
              |THEN transform(sequence(0, size(w)-3), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
              |ELSE slice(w, 1, 0) END""".stripMargin.replace("\n", " ")))
          .select(col("doc_id"),
            size(col("tri")).cast("long").as("n_trigrams"),
            size(array_distinct(col("tri"))).cast("long").as("n_distinct"),
            expr("CASE WHEN size(tri) = 0 THEN NULL ELSE round((size(tri) - size(array_distinct(tri))) * 1.0D / size(tri), 4) END")
              .as("rep_ratio"))
          .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, $toksDuck AS w FROM documents),
              |g AS (SELECT doc_id, CASE WHEN len(w) >= 3
              |THEN list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
              |ELSE []::VARCHAR[] END AS tri FROM t)
              |SELECT doc_id, len(tri) AS n_trigrams,
              |len(list_distinct(tri)) AS n_distinct,
              |CASE WHEN len(tri) = 0 THEN NULL ELSE round((len(tri) - len(list_distinct(tri))) * 1.0 / len(tri), 4) END AS rep_ratio
              |FROM g ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q100_quality_gate",
      // The composite keep/drop decision of a pretraining filter, from
      // rules already proven individually: length bounds, stopword-ratio
      // band (q33), token-length band, repetition cap (q99). One scan,
      // every rule a codegen'd expression, the verdict plus each rule's
      // bit so a 100 TB run can report WHY documents dropped.
      (s, dir) => qualityGate(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(s"""WITH ${gateDuckCte()}
              |SELECT doc_id, len_ok, stop_ok, toklen_ok, rep_ok,
              |len_ok AND stop_ok AND toklen_ok AND rep_ok AS keep
              |FROM r ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q63_training_pipeline",
      // The whole corpus flow end-to-end AS ONE QUERY — documents →
      // quality gate (q100) → exact dedup keep-first on the normalized
      // fingerprint (q40/q95's key) → eval-set decontamination (q97) →
      // token-window chunking (q93) — composed from the SAME
      // input-agnostic bodies the individual queries declare, so this is
      // the integration proof that the pieces actually chain: one scan
      // feeds codegen'd gate expressions, the only shuffles are the
      // dedup window and the final order, the eval set broadcasts, and
      // chunking multiplies rows map-side. The DuckDB oracle replays the
      // identical four stages as chained CTEs.
      (s, dir) =>
        trainingPipeline(Tables.documents(s, dir), Seq(3L, 7L))
          .orderBy("doc_id", "chunk_idx"),
      Some(s"""WITH t AS (SELECT doc_id, text, $toksDuck AS w FROM documents),
              |g AS (SELECT doc_id, text, w, CASE WHEN len(w) >= 3
              |THEN list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
              |ELSE []::VARCHAR[] END AS tri FROM t),
              |keepers AS (SELECT doc_id, text FROM g
              |WHERE length(text) >= 100 AND length(text) <= 5000
              |AND len(w) > 0 AND len(list_filter(w, x -> x IN ($stopList))) * 1.0 / len(w) BETWEEN 0.05 AND 0.6
              |AND length(replace(text, ' ', '')) * 1.0 / len(w) BETWEEN 2 AND 12
              |AND (len(tri) = 0 OR (len(tri) - len(list_distinct(tri))) * 1.0 / len(tri) <= 0.3)),
              |fps AS (SELECT doc_id, text,
              |$fpDuck AS fp FROM keepers),
              |dd AS (SELECT doc_id, text, fp FROM
              |(SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM fps) x WHERE rn = 1),
              |ev AS (SELECT DISTINCT $fpDuck AS fp
              |FROM documents WHERE doc_id IN (3, 7)),
              |clean AS (SELECT doc_id, $toksDuck AS w FROM dd
              |WHERE fp NOT IN (SELECT fp FROM ev))
              |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
              |array_to_string(w[i*15+1 : i*15+20], ' ') AS chunk,
              |CAST(len(w[i*15+1 : i*15+20]) AS BIGINT) AS n_tokens
              |FROM clean, LATERAL (SELECT unnest(generate_series(0, (len(w)-1)//15)) AS i) g
              |WHERE len(w) > 0
              |ORDER BY doc_id, chunk_idx""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q92_approx_sketches",
      // The fixed-memory aggregates that REPLACE q16/q25 at 100 TB, now
      // ORACLED (the board's last rows-only entry, retired in r12 by the
      // r11 verdict's ask): per l_returnflag,
      //  (a) a first-principles m=256 HyperLogLog distinct-partkey count
      //      on the shared 60-bit hash — q168's register form, so both
      //      engines build IDENTICAL registers — published as the
      //      q153/q168 honesty pair (estimate, exact, err_ratio); and
      //  (b) a fixed-bin HISTOGRAM quantile sketch for the median
      //      quantity: l_quantity's domain is 50 integral values, so a
      //      50-bucket count histogram is a bona fide bounded-memory
      //      quantile structure (the bounded-domain special case of a
      //      digest; its lower-median is exact on this domain).
      // Spark's engine-native sketches (approx_count_distinct HLL++,
      // approx_percentile) remain spec-verified against these outputs
      // (CorpusSpec) — they cannot be hash-oracled directly because
      // DuckDB's sketches differ by construction, which is exactly why
      // the register form exists. Scale: HLL state is 256 B per flag
      // FOREVER (one (flag, idx) max-aggregate + one 256-row fold); the
      // histogram is ≤50 rows per flag (one partial-aggregable count
      // aggregate + one ≤50-element fold) — no distinct over values, no
      // sort, no corpus-sized anything; merges are max/sum monoids so
      // any partitioning yields the same state (CorpusSpec proves it).
      (s, dir) => approxSketches(Tables.lineitem(s, dir)),
      Some {
        val ph = hexFoldDuck(
          "substr(md5(concat('p#', CAST(l_partkey AS VARCHAR))), 1, 15)", 15)
        s"""WITH li AS (SELECT l_returnflag, l_partkey, CAST(l_quantity AS BIGINT) AS q FROM lineitem),
           |ph AS (SELECT l_returnflag, $ph + 1 AS h FROM li),
           |rho AS (SELECT l_returnflag, h % 256 AS idx,
           |CASE WHEN h // 256 = 0 THEN 53 ELSE 53 - length(bin(h // 256)) END AS rho FROM ph),
           |reg AS (SELECT l_returnflag, idx, max(rho) AS mx FROM rho GROUP BY 1, 2),
           |spine AS (SELECT l_returnflag, i AS idx FROM (SELECT DISTINCT l_returnflag FROM reg) s,
           |LATERAL (SELECT unnest(generate_series(0, 255)) AS i) g),
           |full_ AS (SELECT spine.l_returnflag, spine.idx, coalesce(reg.mx, 0) AS mx
           |FROM spine LEFT JOIN reg ON spine.l_returnflag = reg.l_returnflag AND spine.idx = reg.idx),
           |est AS (SELECT l_returnflag, list_sum(list(pow(2, -mx) ORDER BY idx)) AS s,
           |sum(CASE WHEN mx = 0 THEN 1 ELSE 0 END) AS v FROM full_ GROUP BY 1),
           |er AS (SELECT l_returnflag,
           |round(CASE WHEN (0.7213 / (1 + 1.079 / 256.0)) * 65536.0 / s <= 2.5 * 256 AND v > 0
           |THEN 256.0 * ln(256.0 / v)
           |ELSE (0.7213 / (1 + 1.079 / 256.0)) * 65536.0 / s END, 1) AS est_parts FROM est),
           |ex AS (SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts FROM li GROUP BY 1),
           |hist AS (SELECT l_returnflag, q, count(*) AS c FROM li GROUP BY 1, 2),
           |cum AS (SELECT l_returnflag, q, sum(c) OVER (PARTITION BY l_returnflag ORDER BY q) AS run,
           |sum(c) OVER (PARTITION BY l_returnflag) AS n FROM hist),
           |md AS (SELECT l_returnflag, CAST(min(q) AS BIGINT) AS median_qty FROM cum
           |WHERE run >= (n + 1) // 2 GROUP BY 1)
           |SELECT er.l_returnflag AS l_returnflag, est_parts, exact_parts,
           |round(est_parts / exact_parts, 4) AS err_ratio, median_qty
           |FROM er JOIN ex USING (l_returnflag) JOIN md USING (l_returnflag)
           |ORDER BY l_returnflag""".stripMargin.replace("\n", " ")
      })
  )

  /** q92's body, input-agnostic (needs `l_returnflag`, `l_partkey`,
    * `l_quantity`) — see the QueryDef comment for the design. Exposed so
    * CorpusSpec can prove partitioning-independence by re-running it on
    * a repartitioned input (the register max and histogram count are
    * monoids; the folds read SORTED state, so association order is
    * pinned on both engines). */
  private[graft] def approxSketches(lineitem: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_returnflag"), col("l_partkey"),
      col("l_quantity").cast("long").as("q"))
    val ph =
      "CAST(conv(substr(md5(concat('p#', CAST(l_partkey AS STRING))), 1, 15), 16, 10) AS BIGINT) + 1"
    val est = Corpus4.hllRegisters(li, Seq("l_returnflag"), expr(ph))
      .groupBy("l_returnflag").agg(round(Corpus4.hllEstimate(col("mx")), 1).as("est_parts"))
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("exact_parts"))
    val med = li.groupBy("l_returnflag", "q").agg(count(lit(1)).as("c"))
      .groupBy("l_returnflag").agg(
        expr("array_sort(collect_list(struct(q, c)))").as("hs"),
        sum("c").as("n"))
      .withColumn("k", expr("(n + 1) DIV 2"))
      .select(col("l_returnflag"), expr(
        """aggregate(hs, struct(CAST(0 AS BIGINT) AS run, CAST(NULL AS BIGINT) AS m),
          |(a, x) -> struct(a.run + x.c,
          |CASE WHEN a.m IS NULL AND a.run + x.c >= k THEN x.q ELSE a.m END),
          |a -> a.m)""".stripMargin.replace("\n", " ")).as("median_qty"))
    est.join(exact, "l_returnflag").join(med, "l_returnflag")
      .select(col("l_returnflag"), col("est_parts"), col("exact_parts"),
        round(col("est_parts") / col("exact_parts"), 4).as("err_ratio"),
        col("median_qty"))
      .orderBy("l_returnflag")
  }
}
