package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** North-star deduplication suite over `documents` / `embeddings`
  * (BASELINE.json north star; reference's own dedup is title keep-first,
  * scrappy.py:316,334-335 — generalized here to content-defined keys).
  *
  * Six strategies, all shuffle-on-key (never cross-join) so they scale:
  *  - q40 exact: hash-groupBy on a content key; keep-first via window.
  *  - q41 MinHash+LSH: signature → band → bucket self-equi-join. The join
  *    key is (band, hash) — at 100 TB candidate generation shuffles only
  *    bucket-sized groups, never the corpus cross product.
  *  - q45 survivor form: identical signatures collapse to representatives
  *    BEFORE the pairwise verify (the production path — see SCALE.md).
  *  - q42 n-gram Jaccard ground truth: prefix-filtered inverted-index
  *    join — only the first ⌈(1-j)|w|⌉+1 sorted tokens probe the postings
  *    list, bounding the blowup of high-df tokens without losing a pair.
  *  - q43 SimHash: 32-bit signature from token hashes; prefix-bucket
  *    blocking + Hamming-distance verify inside buckets.
  *  - q44 embedding cosine near-dup: hyperplane-sketch blocks (the q53
  *    LSH sketch) + q45-style anchor verify — candidates are linear in
  *    the corpus, never a within-block cross product.
  *
  * All hashing is md5 (engine-portable); min/lexicographic comparisons on
  * hex strings agree between Spark and DuckDB.
  */
object Dedup {

  private val toksExpr = TextAnalytics.toksExpr
  private val toksDuck = TextAnalytics.toksDuck

  import org.apache.spark.sql.DataFrame

  /** documents → (doc_id, w: distinct token set). */
  private def tokenSets(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), expr(s"array_distinct($toksExpr)").as("w"))

  /** k=6 salted-md5 minhash signature array over the token set — the HOF
    * reference form, kept as the equality twin for the codegen'd
    * [[graft.functions.MinHashSigs]] expression that actually runs
    * (DedupSpec asserts they agree on the corpus). */
  private[graft] val sigsHofExpr =
    "transform(sequence(0, 5), i -> array_min(transform(w, u -> md5(concat(cast(i AS STRING), ':', u)))))"

  /** The signature column the queries use: codegen'd, same semantics. */
  private def sigsCol: org.apache.spark.sql.Column =
    graft.functions.MinHashSigs.minhashSigs(col("w"), 6)

  /** b=3 bands of r=2 rows: band hash = md5 of two consecutive minhashes.
    * P[band match] = j² keeps buckets small on low-diversity corpora;
    * 3 bands put recall at 1-(1-j²)³ ≈ 0.993 at the j=0.9 threshold. */
  private[graft] val bandsExpr =
    "transform(sequence(0, 2), b -> md5(concat(sigs[2*b], '|', sigs[2*b+1])))"

  /** (doc_id, w, sigs, ...) → exploded (doc_id, n, band, h) band table.
    * `n` (the token-set size) rides along so [[bucketPairs]] can apply
    * the size-compatibility prune INSIDE the bucket join. */
  private def bandHashes(withSigs: DataFrame): DataFrame =
    withSigs.select(col("doc_id"), size(col("w")).cast("long").as("n"),
        posexplode(expr(bandsExpr)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "h")

  /** Distinct candidate pairs from bucket collisions (da <op> db).
    * With minJ > 0 the [[sizeCompatible]] ratio test (same constant,
    * same 1e-3 slack — see its proof of losslessness) is applied as a
    * join-side predicate, BEFORE the pair distinct: collision rows that
    * can never verify are dropped in the map stage instead of surviving
    * the (da, db) shuffle and two more broadcast joins. Values are
    * bit-identical to pruning after the distinct (the predicate only
    * reads the pair's two set sizes). */
  private def bucketPairs(bands: DataFrame, pairCond: (Column, Column) => Column,
      minJ: Double = 0.0): DataFrame = {
    val sizeOk =
      if (minJ > 0.0)
        least(col("a.n"), col("b.n")) >=
          (lit(minJ) - lit(0.001)) * greatest(col("a.n"), col("b.n"))
      else lit(true)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.h") === col("b.h") &&
          pairCond(col("a.doc_id"), col("b.doc_id")) && sizeOk)
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
  }

  /** Inverted token index: one (doc_id, s) posting per token. */
  private def invertedIndex(t: DataFrame): DataFrame =
    t.select(col("doc_id"), explode(col("w")).as("s"))

  /** Lossless size-compatibility prefilter: J(A,B) ≥ j forces
    * min(|A|,|B|) ≥ j·max(|A|,|B|) (because |A∩B| ≤ min and
    * |A∪B| ≥ max), so a candidate pair whose set sizes violate the
    * ratio can never verify — drop it BEFORE the token-intersection
    * join, the expensive half of LSH verify. The two size joins are
    * broadcast-cheap ((doc_id, n) is corpus-cardinality); a 1e-3 slack
    * keeps pairs admitted only via the round(·,4) ≥ j boundary, so the
    * verified pair set is bit-identical to the unfiltered plan. On the
    * small-vocab testdata corpus the minhash value space is tiny and
    * buckets fill with size-incompatible false positives — this filter
    * is what keeps the all-pairs q41 policy affordable there. */
  private def sizeCompatible(cand: DataFrame, sz: DataFrame, minJ: Double): DataFrame =
    cand
      .join(broadcast(sz.select(col("doc_id").as("da"), col("n").as("na"))), "da")
      .join(broadcast(sz.select(col("doc_id").as("db"), col("n").as("nb"))), "db")
      .filter(least(col("na"), col("nb")) >=
        (lit(minJ) - lit(0.001)) * greatest(col("na"), col("nb")))
      .select(col("da"), col("db"))

  /** 60-bit token interning (r8): lift a distinct string-token set to
    * its md5-prefix int64 fingerprint set. `array_intersect` over longs
    * is ~35% cheaper than over strings at the q137 shape (measured:
    * verify 3.4 → 2.2 s at sf0.1), and at 100 TB the verify-side
    * shuffle/broadcast carries 8-byte ids instead of full tokens. A
    * fingerprint collision (two distinct tokens, equal 60-bit prefix)
    * could perturb a Jaccard value; expected colliding VOCABULARY pairs
    * are C(|V|,2)/2⁶⁰ = |V|²/2⁶¹ ≈ 0.4 even at a 10⁹-token web
    * vocabulary, and q260
    * audits the actual corpus (zero collisions at every gate SF). The
    * DuckDB oracles stay in EXACT string form — every hash-green gate
    * run therefore re-certifies that the fingerprint Jaccard equals the
    * exact one on that data.
    *
    * OPERATIONAL CONTRACT: the gate/audit safety net only covers
    * corpora it has run on. On any NEW corpus, run q260 (tokens; q261
    * for the shingle/8-gram families) once before trusting interned
    * results — one cheap distinct-vs-distinct aggregate — and a nonzero
    * `n_vocab_collisions` means the verify must fall back to the exact
    * string form (`exact = true`). */
  /** The HOF reference form of the interning, kept as the equality twin
    * for the codegen'd [[graft.functions.InternTokens]] that actually
    * runs since r14 (DedupSpec asserts sort(this) ≡ InternTokens on the
    * corpus — the sigsHofExpr discipline). */
  private[graft] val internExpr =
    "array_distinct(transform(w, u -> CAST(conv(substring(md5(u), 1, 15), 16, 10) AS BIGINT)))"

  /** The operational contract above, ENFORCEABLE IN-PIPELINE (ADVICE r8):
    * recompute the q260/q261 vocabulary audits on `docs` and throw if any
    * two distinct tokens / 5-shingles / 8-grams share a fingerprint — the
    * precondition under which every interned Jaccard, containment, and
    * span match equals its exact string form. Cost: one distinct + one
    * hash aggregate per family (the same plans q260/q261 run). Call once
    * per NEW corpus before trusting interned results; on failure, rerun
    * the affected queries with their exact string verifies. `hexWidth`
    * parameterizes the fingerprint width for tests (production = 15). */
  def assertInterningExact(docs: DataFrame, hexWidth: Int = 15): Unit = {
    val v = Corpus11.fingerprintAudit(docs, hexWidth)
      .select("n_vocab_collisions").head().getLong(0)
    require(v == 0L,
      s"token interning UNSAFE on this corpus: $v vocabulary fingerprint " +
        "collisions — fall back to the exact string verify (q260 contract)")
    val r = Corpus11.ngramFingerprintAudit(docs, hexWidth)
      .select("n_sh5_collisions", "n_g8_collisions").head()
    require(r.getLong(0) == 0L && r.getLong(1) == 0L,
      s"n-gram interning UNSAFE on this corpus: ${r.getLong(0)} shingle / " +
        s"${r.getLong(1)} 8-gram fingerprint collisions — fall back to the " +
        "exact string forms (q261 contract)")
  }

  /** Array-form verify (r7): join the candidate pairs against the
    * (doc_id, w) SET table once per side and compute the intersection
    * as one codegen'd `array_intersect` per pair — replacing the
    * exploded (pair × token) join + 100M-row count aggregate. Values
    * are bit-identical (w is array_distinct, so |A∩B| and the sizes
    * are the same integers; pairs with i = 0 now appear with jaccard
    * 0.0, which every caller's ≥ threshold filter drops — measured at
    * sf0.1: q137 6.2→5.1 s, q143 5.9→5.0 s, q41 27.1→16.0 s). Scale:
    * the set table
    * joins are doc-keyed (broadcast at test SF, key-partitioned hash
    * joins at 100 TB — the pair relation shuffles ONCE per side
    * instead of fanning out per token); the per-pair intersect is
    * O(|A|+|B|) in the map stage with no further shuffle.
    *
    * This is q42's ground-truth form: the intersection runs over the
    * verbatim token strings — the exact/interned pair gives q260 its
    * audit baseline. The LSH family verifies over interned fingerprints
    * instead ([[internedJaccard]]). */
  private def jaccardOfCandidates(cand: DataFrame, t: DataFrame, minJ: Double): DataFrame = {
    val sz = t.select(col("doc_id"), size(col("w")).cast("long").as("n"))
    sizeCompatible(cand, sz, minJ)
      .join(t.select(col("doc_id").as("da"), col("w").as("wa")), "da")
      .join(t.select(col("doc_id").as("db"), col("w").as("wb")), "db")
      .withColumn("i", size(array_intersect(col("wa"), col("wb"))).cast("long"))
      .select(col("da"), col("db"),
        round(col("i") * lit(1.0) /
          (size(col("wa")) + size(col("wb")) - col("i")), 4).as("jaccard"))
  }

  private type Column = org.apache.spark.sql.Column

  /** The flagged union of the three independent near-dup signal
    * relations — one row per (pair, detecting signal), each relation the
    * SAME factored body its own oracled query declares. q127 aggregates
    * it into the provenance matrix; q128 projects the distinct pair set
    * for the split-leakage audit. */
  private[operators] def signalUnion(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val lsh = lshVerifiedPairs(s, dir)
      .select(col("da"), col("db"),
        lit(1L).as("lsh"), lit(0L).as("emb"), lit(0L).as("span"))
    val emb = embAnchorPairs(s, dir)
      .select(col("va").as("da"), col("vb").as("db"),
        lit(0L).as("lsh"), lit(1L).as("emb"), lit(0L).as("span"))
    val sp = Corpus2.sharedSpanIslands(Tables.documents(s, dir))
      .groupBy(col("doc_a").as("da"), col("doc_b").as("db"))
      .agg(max("span").as("ms")).filter(col("ms") >= 12)
      .select(col("da"), col("db"),
        lit(0L).as("lsh"), lit(0L).as("emb"), lit(1L).as("span"))
    lsh.unionByName(emb).unionByName(sp)
  }

  /** q137's detection body, shared with q143's ladder: per-training-doc
    * eval-split near-dup evidence — match count and best verified
    * Jaccard (≥ 0.8) from the banded-LSH bucket join with the
    * train×eval condition applied inside it. */
  /** ONE narrow pin of the per-doc LSH state (r16, the q45 discipline):
    * (doc_id, n = |token set|, sigs, iw = interned token set). The band
    * builder and both verify sides consume it, and without the pin
    * column pruning specializes their subtrees so ReuseExchange cannot
    * collapse them — the scan → tokenize → 6-md5-per-token signature
    * pass re-ran once per reader. The pin is fingerprint-sized
    * (8 B/distinct token + 6 hashes/doc), never text. */
  private def pinnedLshState(t: DataFrame): DataFrame =
    t.withColumn("sigs", sigsCol)
      .select(col("doc_id"), size(col("w")).cast("long").as("n"), col("sigs"),
        graft.functions.InternTokens.internTokens(col("w")).as("iw"))
      .localCheckpoint()

  /** The band hash as a LONG (r17): xxhash64 over the same two minhash
    * strings (+ the band index, though posexplode already separates
    * bands). Bucket equality is unchanged for equal sig-pairs — equal
    * inputs hash equal — so the candidate set differs from the md5 form
    * only via a 64-bit collision on UNEQUAL sig-pairs (≈10⁻¹² across
    * every cross pair of this corpus's band table), and any extra
    * candidate is then verified EXACTLY by the Jaccard threshold. The
    * md5-string twin stays in [[bandsExpr]] (q243's raw-candidate oracle
    * is defined over it); DedupSpec pins candidate-set equality of the
    * two forms on the corpus, and the hash-green gate re-certifies the
    * verified outputs per run — the fp60 interning discipline. Payoff:
    * the band self-join keys and the bucket shuffle carry 8-byte longs
    * instead of 32-char md5 hex (guide §2.3 narrower types; measured
    * pairs 1.11 → 0.99 s, full verify 1.43 → 1.28 s at sf0.1).
    * NULL signatures (an empty or null token set) give a NULL bucket,
    * as md5 of a null concat does: xxhash64 skips null inputs, so
    * unguarded every such document would share one bucket per band and
    * pair with every other (DedupSpec's empty-corpus fixture). */
  private[graft] val bandsLongExpr =
    "transform(sequence(0, 2), b -> IF(sigs[2*b] IS NULL OR sigs[2*b+1] IS NULL, " +
      "CAST(NULL AS BIGINT), xxhash64(b, sigs[2*b], sigs[2*b+1])))"

  /** [[bandHashes]] over a pinned LSH-state frame (n precomputed);
    * long-valued buckets — see [[bandsLongExpr]]. */
  private def bandsOfPinned(t: DataFrame): DataFrame =
    t.select(col("doc_id"), col("n"), posexplode(expr(bandsLongExpr)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "h")

  /** Interned verify over a pinned LSH-state frame (`iw` = the
    * [[graft.functions.InternTokens]] set: sorted distinct md5-prefix64
    * longs): the per-pair count comes from
    * [[graft.functions.SortedLongIntersectCount]] (two-pointer merge
    * walk — no per-pair OpenHashSet or materialized intersection
    * array), value-identical to `size(array_intersect)` over
    * [[internExpr]] (DedupSpec asserts both ≡ on the corpus). */
  private def internedJaccard(cand: DataFrame, t: DataFrame): DataFrame =
    cand
      .join(t.select(col("doc_id").as("da"), col("iw").as("wa")), "da")
      .join(t.select(col("doc_id").as("db"), col("iw").as("wb")), "db")
      .withColumn("i", graft.functions.SortedLongIntersectCount
        .sortedIntersectCount(col("wa"), col("wb")))
      .select(col("da"), col("db"),
        round(col("i") * lit(1.0) /
          (size(col("wa")) + size(col("wb")) - col("i")), 4).as("jaccard"))

  private def neardupEvalHits(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val t = pinnedLshState(tokenSets(s, dir))
    // size prune fused into the bucket join (minJ), as before.
    val cand = bucketPairs(bandsOfPinned(t),
      (da, db) => (da % 10 =!= 1) && (db % 10 === 1), minJ = 0.8)
    internedJaccard(cand, t)
      .filter(col("jaccard") >= 0.8)
      .groupBy("da")
      .agg(count(lit(1)).as("n_eval_matches"), max("jaccard").as("mj"))
      .withColumnRenamed("da", "doc_id")
  }

  /** The q41 pipeline up to (but not including) its final ORDER BY:
    * LSH-candidate pairs verified at token-set Jaccard ≥ 0.9 (computed
    * over [[internExpr]] fingerprints — exact on any collision-free
    * corpus, which q260 audits and the string-form oracle certifies) —
    * (da, db, jaccard) with da < db. Also the edge set q55's
    * connected-components clustering runs on. */
  private[graft] def lshVerifiedPairs(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    // pinned state (r16): one signature pass for the band builder and
    // both verify sides — see pinnedLshState.
    val t = pinnedLshState(tokenSets(s, dir))
    internedJaccard(bucketPairs(bandsOfPinned(t), _ < _, minJ = 0.9), t)
      .filter(col("jaccard") >= 0.9)
  }

  /** The RAW bucket-collision candidates (pre-verify) — q243's
    * operating-point audit needs them to measure candidate precision;
    * q41 only ever publishes the verified subset. */
  private[graft] def lshCandidatePairs(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val t = tokenSets(s, dir)
    bucketPairs(bandHashes(t.withColumn("sigs", sigsCol)), _ < _)
  }

  /** DuckDB CTE chain ending in `${p}pairs(da, db)` — the oracle twin of
    * [[lshVerifiedPairs]] (q41's oracle recomputes the jaccard column in
    * its final SELECT from the same `inter`/`sz` CTEs). The optional
    * prefix namespaces every CTE so multiple pair relations can share
    * one WITH clause (q127's fusion) without name collisions. */
  private[operators] def lshPairsDuckCte(
      p: String = "",
      pairCond: String = "a.doc_id < b.doc_id",
      thr: String = "0.9"): String =
    s"""${p}t AS MATERIALIZED (SELECT doc_id, list_distinct($toksDuck) AS w FROM documents),
       |${p}sigs AS (SELECT doc_id, list_transform(generate_series(0, 5), i ->
       |list_min(list_transform(w, u -> md5(CAST(i AS VARCHAR) || ':' || u)))) AS sigs FROM ${p}t),
       |${p}sig AS MATERIALIZED (SELECT doc_id, b AS band, md5(sigs[2*b+1] || '|' || sigs[2*b+2]) AS h
       |FROM ${p}sigs, LATERAL (SELECT unnest(generate_series(0, 2)) AS b) g),
       |${p}cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db FROM ${p}sig a
       |JOIN ${p}sig b ON a.band = b.band AND a.h = b.h AND $pairCond),
       |${p}sh AS MATERIALIZED (SELECT doc_id, unnest(w) AS s FROM ${p}t),
       |${p}sz AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM ${p}sh GROUP BY 1),
       |${p}inter AS (SELECT da, db, count(*) AS i FROM ${p}cand
       |JOIN ${p}sh sa ON da = sa.doc_id JOIN ${p}sh sb ON db = sb.doc_id AND sa.s = sb.s GROUP BY 1, 2),
       |${p}pairs AS MATERIALIZED (SELECT da, db, round(i * 1.0 / (za.n + zb.n - i), 4) AS jaccard
       |FROM ${p}inter JOIN ${p}sz za ON da = za.doc_id JOIN ${p}sz zb ON db = zb.doc_id
       |WHERE round(i * 1.0 / (za.n + zb.n - i), 4) >= $thr)""".stripMargin.replace("\n", " ")

  /** Incremental near-dup dedup — the shape a GROWING 100 TB corpus
    * actually runs: the store's band table is a persisted index that is
    * NEVER recomputed; only the (tiny) new batch is signed and banded,
    * probes the index for store collisions, and self-joins for
    * within-batch collisions. A batch doc is dropped when it
    * Jaccard-verifies ≥ 0.9 against ANY store doc or a SMALLER-id batch
    * doc (greedy-by-id, the q45 anchor discipline); `dup_of` reports the
    * minimum such partner, -1 when kept. Both inputs are (doc_id, w)
    * token-set frames. */
  private[graft] def dedupIncremental(store: DataFrame, batch: DataFrame): DataFrame = {
    // pinned per-side LSH state (r16): one signature pass per side for
    // the index build, the self-join, and the verify — see
    // pinnedLshState (in production the store pin IS the persisted
    // band/fingerprint index this function models).
    val sPin = pinnedLshState(store)
    val bPin = pinnedLshState(batch)
    val storeIdx = bandsOfPinned(sPin)
    val bBands = bandsOfPinned(bPin)
    val candStore = bBands.as("b")
      .join(storeIdx.as("s"),
        col("b.band") === col("s.band") && col("b.h") === col("s.h"))
      .select(col("b.doc_id").as("da"), col("s.doc_id").as("db"))
    val candBatch = bBands.as("x")
      .join(bBands.as("y"),
        col("x.band") === col("y.band") && col("x.h") === col("y.h") &&
          col("x.doc_id") > col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
    val cand = candStore.union(candBatch).distinct()
    // The verify index covers ONLY store docs that actually collided
    // (semi-join on the candidate partners) plus the batch — without
    // this, every ingest would re-probe the full store's sets
    // and the O(|batch|) incremental claim would be false.
    val touched = sPin.join(
      cand.select(col("db").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
    val verifySet = touched.unionByName(bPin)
    // lossless size prune over the pinned sizes
    val dup = internedJaccard(sizeCompatible(cand, verifySet, 0.9), verifySet)
      .filter(col("jaccard") >= 0.9)
      .groupBy("da").agg(min("db").as("dup_of"))
    batch.select(col("doc_id"))
      .join(dup.withColumnRenamed("da", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        when(col("dup_of").isNull, 1L).otherwise(0L).as("kept"))
      .orderBy("doc_id")
  }

  def defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q64_dedup_incremental",
      // Store = doc_id % 5 != 0, batch = the rest — a deterministic split
      // standing in for "yesterday's corpus + today's crawl". The oracle
      // derives the same verdicts from the full q41 pair relation
      // restricted to (batch × store) ∪ (batch × smaller-batch): the
      // incremental index-probe plan and the full-corpus pair relation
      // agree exactly, which is the correctness claim of incremental
      // dedup (no near-dup is missed by only banding the delta).
      (s, dir) => {
        val t = tokenSets(s, dir)
        dedupIncremental(
          t.filter(col("doc_id") % 5 =!= 0), t.filter(col("doc_id") % 5 === 0))
      },
      Some(s"""WITH ${lshPairsDuckCte()},
              |partners AS (SELECT da AS d, db AS p FROM pairs UNION ALL SELECT db AS d, da AS p FROM pairs),
              |batch AS MATERIALIZED (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
              |q AS (SELECT b.doc_id, min(p.p) AS dup_of FROM batch b
              |JOIN partners p ON p.d = b.doc_id
              |WHERE p.p % 5 <> 0 OR p.p < b.doc_id GROUP BY 1)
              |SELECT b.doc_id, coalesce(q.dup_of, -1) AS dup_of,
              |CAST(CASE WHEN q.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
              |FROM batch b LEFT JOIN q ON b.doc_id = q.doc_id
              |ORDER BY b.doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q40_dedup_exact",
      // Exact dedup by content key (md5 of the first-3-token prefix of the
      // normalized text), deterministic keep-first by doc_id. The window is
      // hash-partitioned on the key — one shuffle at any scale.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val t = Tables.documents(s, dir)
          .select(col("doc_id"), expr(toksExpr).as("w"))
          .filter(size(col("w")) >= 3)
          // Spark arrays are 0-based.
          .select(col("doc_id"), md5(expr("concat(w[0], ' ', w[1], ' ', w[2])")).as("k"))
        val win = Window.partitionBy("k")
        t.withColumn("rn", row_number().over(win.orderBy("doc_id")))
          .withColumn("group_size", count(lit(1)).over(win))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("k"), col("group_size"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksDuck AS w FROM documents),
              |k AS (SELECT doc_id, md5(w[1] || ' ' || w[2] || ' ' || w[3]) AS k FROM t WHERE len(w) >= 3),
              |r AS (SELECT doc_id, k,
              |row_number() OVER (PARTITION BY k ORDER BY doc_id) AS rn,
              |count(*) OVER (PARTITION BY k) AS group_size FROM k)
              |SELECT doc_id, k, group_size FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q41_dedup_minhash_lsh",
      // MinHash + LSH (k=6 permutations, b=3 bands of r=2 — see sigsHofExpr/
      // bandsExpr above for the recall math) → candidate pairs from bucket
      // collisions → verified at token-set Jaccard ≥ 0.9 over interned
      // fingerprints (the string-form oracle certifies exactness; q260).
      (s, dir) => lshVerifiedPairs(s, dir).orderBy("da", "db"),
      Some(s"""WITH t AS (SELECT doc_id, list_distinct($toksDuck) AS w FROM documents),
              |sigs AS (SELECT doc_id, list_transform(generate_series(0, 5), i ->
              |list_min(list_transform(w, u -> md5(CAST(i AS VARCHAR) || ':' || u)))) AS sigs FROM t),
              |sig AS (SELECT doc_id, b AS band, md5(sigs[2*b+1] || '|' || sigs[2*b+2]) AS h
              |FROM sigs, LATERAL (SELECT unnest(generate_series(0, 2)) AS b) g),
              |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db FROM sig a
              |JOIN sig b ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
              |sh AS (SELECT doc_id, unnest(w) AS s FROM t),
              |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
              |inter AS (SELECT da, db, count(*) AS i FROM cand
              |JOIN sh sa ON da = sa.doc_id JOIN sh sb ON db = sb.doc_id AND sa.s = sb.s GROUP BY 1, 2)
              |SELECT da, db, round(i * 1.0 / (za.n + zb.n - i), 4) AS jaccard
              |FROM inter JOIN sz za ON da = za.doc_id JOIN sz zb ON db = zb.doc_id
              |WHERE round(i * 1.0 / (za.n + zb.n - i), 4) >= 0.9
              |ORDER BY da, db""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q45_dedup_survivors",
      // The 100 TB-shaped dedup: identical-signature docs collapse to one
      // representative FIRST (hash-groupBy — kills the quadratic blowup of
      // near-identical clusters), then LSH + Jaccard-verify runs only on
      // representatives; a rep is dropped if a smaller-id rep is ≥ 0.9
      // similar. Output: surviving rep per cluster + collapsed size.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val t = tokenSets(s, dir)
          .withColumn("sigs", sigsCol)
          // Exact-collapse key = hash of the SORTED TOKEN SET itself, not
          // the minhash signature: true set-identity collapse, independent
          // of the banding configuration.
          .withColumn("sigkey", md5(concat_ws(" ", array_sort(col("w")))))
        // Keep-first winner AND cluster size from ONE sigkey window
        // (r16, the q40 shape): the former groupBy(sigkey)+join re-ran
        // the whole scan→minhash pipeline a second time behind a
        // differently-pruned exchange. Same keep-first rows, same
        // counts — one shuffle.
        val win = Window.partitionBy("sigkey")
        val reps = t
          .withColumn("__rn", row_number().over(win.orderBy("doc_id")))
          .withColumn("cluster_size", count(lit(1)).over(win))
          .filter(col("__rn") === 1)
        // ONE narrow pin of exactly what the three readers consume
        // (r16): band signatures, interned verify sets (+ the string-set
        // size the lossless prune tests), and the output columns.
        // Column pruning specializes each reader's subtree differently,
        // so without the pin ReuseExchange cannot collapse them and the
        // 6-md5-per-token signature pass re-ran up to 4× (q45's
        // formatted plan held five separate documents scans). At 100 TB
        // the pin is interned-fingerprint-sized (8 B/distinct token +
        // 6 band hashes/doc — a small fraction of text bytes), never
        // the text itself.
        val r = reps.select(col("doc_id"),
            size(col("w")).cast("long").as("n"), col("sigs"),
            graft.functions.InternTokens.internTokens(col("w")).as("iw"),
            col("cluster_size"))
          .localCheckpoint()
        // Anchor policy: each rep is verified ONLY against the minimum
        // doc_id of its LSH bucket — candidates are O(b) per rep instead of
        // O(bucket²), which is what keeps this linear when near-identical
        // clusters make buckets huge (the all-pairs policy is q41).
        val bands = r.select(col("doc_id"), col("n"), posexplode(expr(bandsExpr)))
          .withColumnRenamed("pos", "band").withColumnRenamed("col", "h")
        val anchors = bands.groupBy("band", "h").agg(min("doc_id").as("anchor"))
        val cand = bands.join(anchors, Seq("band", "h"))
          .filter(col("doc_id") > col("anchor"))
          .select(col("doc_id").as("da"), col("anchor").as("db"))
          .distinct()
        // (Measured, r3: q64-style semi-join pruning of the verify index
        // is ~1.5s SLOWER here at sf0.1 — on this corpus nearly every rep
        // pairs with an anchor, so the prune keeps ~all tokens. q64 keeps
        // the prune because its store/batch asymmetry makes it pay.)
        // Lossless size prune over the string-set sizes, then the
        // interned verify over the pinned sets.
        val dropped = internedJaccard(sizeCompatible(cand, r, 0.9), r)
          .filter(col("jaccard") >= 0.9)
          .select(col("da").as("doc_id")).distinct()
        r.join(dropped, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("cluster_size"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, list_distinct($toksDuck) AS w FROM documents),
              |sg AS (SELECT doc_id, w, list_transform(generate_series(0, 5), i ->
              |list_min(list_transform(w, u -> md5(CAST(i AS VARCHAR) || ':' || u)))) AS sigs FROM t),
              |sk AS (SELECT doc_id, w, sigs, md5(array_to_string(list_sort(w), ' ')) AS sigkey FROM sg),
              |reps AS (SELECT doc_id, w, sigs, sigkey FROM
              |(SELECT *, row_number() OVER (PARTITION BY sigkey ORDER BY doc_id) AS rn FROM sk) x WHERE rn = 1),
              |csize AS (SELECT sigkey, count(*) AS cluster_size FROM sk GROUP BY 1),
              |bands AS (SELECT doc_id, b AS band, md5(sigs[2*b+1] || '|' || sigs[2*b+2]) AS h
              |FROM reps, LATERAL (SELECT unnest(generate_series(0, 2)) AS b) g),
              |anchors AS (SELECT band, h, min(doc_id) AS anchor FROM bands GROUP BY 1, 2),
              |cand AS (SELECT DISTINCT b.doc_id AS da, a.anchor AS db FROM bands b
              |JOIN anchors a ON b.band = a.band AND b.h = a.h AND b.doc_id > a.anchor),
              |sh AS (SELECT doc_id, unnest(w) AS s FROM reps),
              |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
              |dropped AS (SELECT DISTINCT da AS doc_id FROM
              |(SELECT da, db, count(*) AS i FROM cand
              |JOIN sh sa ON da = sa.doc_id JOIN sh sb ON db = sb.doc_id AND sa.s = sb.s
              |GROUP BY 1, 2) iv
              |JOIN sz za ON da = za.doc_id JOIN sz zb ON db = zb.doc_id
              |WHERE round(i * 1.0 / (za.n + zb.n - i), 4) >= 0.9)
              |SELECT r.doc_id, c.cluster_size FROM reps r
              |JOIN csize c ON r.sigkey = c.sigkey
              |WHERE r.doc_id NOT IN (SELECT doc_id FROM dropped)
              |ORDER BY r.doc_id""".stripMargin.replace("\n", " ")),
      bench = true),

    QueryDef(
      "q42_dedup_jaccard",
      // Ground-truth n-gram Jaccard pairs ≥ 0.9 — with PREFIX FILTERING
      // (VERDICT r1 #2) so the posting-list join is bounded: only the
      // first ⌈(1-j)·|w|⌉+1 tokens of the lexicographically sorted token
      // set act as probe keys. Completeness is the classic pigeonhole
      // argument: J(A,B) ≥ j ⟹ |A∩B| ≥ ⌈j·|A|⌉, so if NO prefix token of
      // A were in B the intersection would be ≤ |A| - p = |A| - ⌊(1-j)|A|⌋
      // - 1 < ⌈j·|A|⌉ — contradiction. A token with document frequency d
      // now contributes d_prefix·d pairs instead of d², and high-df tokens
      // rarely sort into the short prefix. Verification is unchanged
      // (exact Jaccard over full token sets), so the result set is
      // IDENTICAL to the unbounded inverted-index join.
      (s, dir) => {
        val t = tokenSets(s, dir)
        val pref = t
          .withColumn("p", (ceil(size(col("w")) * lit(0.1)) + lit(1)).cast("int"))
          .select(col("doc_id"), explode(expr("slice(array_sort(w), 1, p)")).as("s"))
        val sh = invertedIndex(t)
        val cand = pref.as("pa")
          .join(sh.as("fb"), col("pa.s") === col("fb.s") && col("pa.doc_id") < col("fb.doc_id"))
          .select(col("pa.doc_id").as("da"), col("fb.doc_id").as("db"))
          .distinct()
        jaccardOfCandidates(cand, t, minJ = 0.9)
          .filter(col("jaccard") >= 0.9)
          .orderBy("da", "db")
      },
      Some(s"""WITH t AS (SELECT doc_id, list_distinct($toksDuck) AS w FROM documents),
              |pr AS (SELECT doc_id, unnest(list_sort(w)[1:CAST(ceil(len(w) * 0.1) AS INT) + 1]) AS s FROM t),
              |sh AS (SELECT doc_id, unnest(w) AS s FROM t),
              |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
              |cand AS (SELECT DISTINCT pa.doc_id AS da, fb.doc_id AS db FROM pr pa
              |JOIN sh fb ON pa.s = fb.s AND pa.doc_id < fb.doc_id),
              |inter AS (SELECT da, db, count(*) AS i FROM cand
              |JOIN sh sa ON da = sa.doc_id JOIN sh sb ON db = sb.doc_id AND sa.s = sb.s GROUP BY 1, 2)
              |SELECT da, db, round(i * 1.0 / (za.n + zb.n - i), 4) AS jaccard
              |FROM inter JOIN sz za ON da = za.doc_id JOIN sz zb ON db = zb.doc_id
              |WHERE round(i * 1.0 / (za.n + zb.n - i), 4) >= 0.9
              |ORDER BY da, db""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q43_dedup_simhash",
      // 32-bit SimHash from per-token md5 hex-digit parity (one bit per
      // md5 hex position); near-dup pairs via 8-bit prefix blocking +
      // Hamming ≤ 4 verify inside blocks.
      (s, dir) => {
        val sim = Tables.documents(s, dir)
          .select(col("doc_id"), expr(toksExpr).as("w"))
          .select(col("doc_id"), expr(
            """aggregate(sequence(1, 32), 0L, (acc, j) -> acc +
              |CASE WHEN aggregate(w, 0, (a2, u) ->
              |a2 + CASE WHEN ascii(substring(md5(u), j, 1)) % 2 = 1 THEN 1 ELSE -1 END) > 0
              |THEN shiftleft(1L, j - 1) ELSE 0L END)""".stripMargin.replace("\n", " ")).as("simhash"))
        sim.as("a")
          .join(sim.as("b"),
            expr("shiftright(a.simhash, 24) = shiftright(b.simhash, 24) AND a.doc_id < b.doc_id"))
          .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
            expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"))
          .filter(col("hamming") <= 4)
          .orderBy("da", "db")
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksDuck AS w FROM documents),
              |sim AS (SELECT doc_id, CAST(list_sum(list_transform(generate_series(1, 32), j ->
              |CASE WHEN list_sum(list_transform(w, u ->
              |CASE WHEN ascii(substr(md5(u), j, 1)) % 2 = 1 THEN 1 ELSE -1 END)) > 0
              |THEN (CAST(1 AS BIGINT) << (j - 1)) ELSE 0 END)) AS BIGINT) AS simhash FROM t)
              |SELECT a.doc_id AS da, b.doc_id AS db,
              |CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
              |FROM sim a JOIN sim b ON (a.simhash >> 24) = (b.simhash >> 24) AND a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
              |ORDER BY da, db""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q44_dedup_embedding",
      // Embedding-cosine near-dup with the SCALE-SAFE candidate policy
      // (VERDICT r1 #1): block by the random-hyperplane cosine sketch
      // (Similarity.sketchSpark — the same 4-bit LSH used by q53), then
      // verify each vector ONLY against its block's anchor (min vec_id).
      // Candidates are exactly n - |blocks| — linear in the corpus — where
      // the previous within-label all-pairs form was O(n²/L). The sketch
      // groups by cosine direction, so near-identical vectors land in the
      // same block and match its anchor; like q45's anchor policy, this
      // trades all-pairs recall (q50 brute force remains the ground truth)
      // for a candidate count that survives a 100× corpus.
      (s, dir) => embAnchorPairs(s, dir).orderBy("va", "vb"),
      Some(s"""WITH ${embPairsDuckCte()}
             |SELECT va, vb, cos FROM pairs
             |ORDER BY va, vb""".stripMargin.replace("\n", " ")),
      bench = true),

    QueryDef(
      "q128_split_leakage",
      // Dedup-aware SPLIT-LEAKAGE audit — the eval-hygiene report that
      // connects the dedup and split families: every fused near-dup
      // pair (q127's consolidated relation) whose endpoints land in
      // DIFFERENT q95 splits leaks information from train into val/test
      // (the Lee et al. contamination failure mode). Output is the
      // pair count per unordered split combination with a leak flag —
      // off-diagonal rows are the pairs a dedup-aware splitter must
      // co-assign. The split rule and every signal relation are the
      // same factored bodies their own oracled queries declare. Shape:
      // the fusion union + two broadcast-sized hash joins onto the
      // id→split projection + a ≤6-row aggregate.
      (s, dir) => {
        val sp = Tables.documents(s, dir)
          .select(col("doc_id"), expr(Corpus.splitSpark("doc_id")).as("split"))
        signalUnion(s, dir).select("da", "db").distinct()
          .join(sp.select(col("doc_id").as("da"), col("split").as("sa")), "da")
          .join(sp.select(col("doc_id").as("db"), col("split").as("sb")), "db")
          .select(least(col("sa"), col("sb")).as("split_lo"),
            greatest(col("sa"), col("sb")).as("split_hi"))
          .groupBy("split_lo", "split_hi")
          .agg(count(lit(1)).as("n_pairs"))
          .withColumn("leak", col("split_lo") =!= col("split_hi"))
          .orderBy("split_lo", "split_hi")
      },
      Some(s"""WITH ${lshPairsDuckCte("l_")},
              |${embPairsDuckCte("e_")},
              |${Corpus2.sharedSpansDuckCte("v_")},
              |v_p AS (SELECT doc_a AS da, doc_b AS db FROM v_spans
              |GROUP BY 1, 2 HAVING max(span) >= 12),
              |u AS MATERIALIZED (SELECT DISTINCT da, db FROM
              |(SELECT da, db FROM l_pairs
              |UNION ALL SELECT va, vb FROM e_pairs
              |UNION ALL SELECT da, db FROM v_p) z),
              |s AS MATERIALIZED (SELECT doc_id, ${Corpus.splitDuck("doc_id")} AS split FROM documents)
              |SELECT least(sa.split, sb.split) AS split_lo,
              |greatest(sa.split, sb.split) AS split_hi,
              |count(*) AS n_pairs,
              |least(sa.split, sb.split) <> greatest(sa.split, sb.split) AS leak
              |FROM u JOIN s sa ON u.da = sa.doc_id JOIN s sb ON u.db = sb.doc_id
              |GROUP BY 1, 2 ORDER BY split_lo, split_hi""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q127_signal_fusion",
      // Dedup SIGNAL FUSION — what a production pipeline actually ships:
      // the three independent near-dup detectors (q41's Jaccard-verified
      // token LSH, q44's sketch-anchored embedding cosine, q117's
      // verbatim spans ≥ 12 tokens) union into ONE consolidated pair
      // relation with per-signal provenance flags, ranked by how many
      // signals agree. Each relation is the SAME factored body its own
      // oracled query declares (lshVerifiedPairs / embAnchorPairs /
      // sharedSpanIslands), so fusion can never drift from the
      // per-signal gates; the oracle splices the three prefix-namespaced
      // CTE chains into one WITH clause. Scale shape: the detectors are
      // individually scale-safe (banded, anchored, df-capped) and fusion
      // adds one union + one pair-keyed aggregate.
      (s, dir) =>
        signalUnion(s, dir)
          .groupBy("da", "db")
          .agg(max("lsh").as("lsh"), max("emb").as("emb"), max("span").as("span"))
          .withColumn("n_signals", col("lsh") + col("emb") + col("span"))
          .orderBy(col("n_signals").desc, col("da"), col("db")),
      Some(s"""WITH ${lshPairsDuckCte("l_")},
              |${embPairsDuckCte("e_")},
              |${Corpus2.sharedSpansDuckCte("v_")},
              |v_p AS (SELECT doc_a AS da, doc_b AS db FROM v_spans
              |GROUP BY 1, 2 HAVING max(span) >= 12),
              |u AS (SELECT da, db, 1 AS lsh, 0 AS emb, 0 AS span FROM l_pairs
              |UNION ALL SELECT va, vb, 0, 1, 0 FROM e_pairs
              |UNION ALL SELECT da, db, 0, 0, 1 FROM v_p)
              |SELECT da, db, CAST(max(lsh) AS BIGINT) AS lsh,
              |CAST(max(emb) AS BIGINT) AS emb, CAST(max(span) AS BIGINT) AS span,
              |CAST(max(lsh) + max(emb) + max(span) AS BIGINT) AS n_signals
              |FROM u GROUP BY 1, 2
              |ORDER BY n_signals DESC, da, db""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q131_dedup_impact",
      // Per-source DEDUP IMPACT REPORT — the operations view of q127:
      // the consolidated near-dup pairs bucketed by the (source_lo,
      // source_hi) pair of their endpoints, with pair counts and the
      // number of distinct documents implicated per cell. Off-diagonal
      // cells show which feeds duplicate EACH OTHER (crawl overlap /
      // mirror sites); the diagonal shows within-feed redundancy — the
      // report that decides which upstream source to dedupe or drop.
      // The pair relation is the SAME factored signalUnion q127/q128
      // declare. Scale shape: two broadcast-sized joins of the pair
      // table against the (doc_id, source) projection, then an agg on
      // ≤ |sources|² cells.
      (s, dir) => {
        val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
        val lab = signalUnion(s, dir).select("da", "db").distinct()
          .join(src.select(col("doc_id").as("da"), col("source").as("sa")), "da")
          .join(src.select(col("doc_id").as("db"), col("source").as("sb")), "db")
          .select(least(col("sa"), col("sb")).as("src_lo"),
            greatest(col("sa"), col("sb")).as("src_hi"),
            col("da"), col("db"))
        val cells = lab.groupBy("src_lo", "src_hi")
          .agg(count(lit(1)).as("n_pairs"))
        val docs = lab.select(col("src_lo"), col("src_hi"), col("da").as("d"))
          .unionByName(lab.select(col("src_lo"), col("src_hi"), col("db").as("d")))
          .groupBy("src_lo", "src_hi")
          .agg(countDistinct(col("d")).as("n_docs"))
        // both sides are ≤ |sources|² aggregate rows — broadcast, never SMJ
        cells.join(broadcast(docs), Seq("src_lo", "src_hi"))
          .orderBy("src_lo", "src_hi")
      },
      Some(s"""WITH ${lshPairsDuckCte("l_")},
              |${embPairsDuckCte("e_")},
              |${Corpus2.sharedSpansDuckCte("v_")},
              |v_p AS (SELECT doc_a AS da, doc_b AS db FROM v_spans
              |GROUP BY 1, 2 HAVING max(span) >= 12),
              |u AS MATERIALIZED (SELECT DISTINCT da, db FROM
              |(SELECT da, db FROM l_pairs
              |UNION ALL SELECT va, vb FROM e_pairs
              |UNION ALL SELECT da, db FROM v_p) z),
              |p AS MATERIALIZED (SELECT u.da, u.db,
              |least(a.source, b.source) AS src_lo, greatest(a.source, b.source) AS src_hi
              |FROM u JOIN documents a ON u.da = a.doc_id JOIN documents b ON u.db = b.doc_id),
              |c AS (SELECT src_lo, src_hi, CAST(count(*) AS BIGINT) AS n_pairs
              |FROM p GROUP BY 1, 2),
              |d AS (SELECT src_lo, src_hi, CAST(count(DISTINCT dd) AS BIGINT) AS n_docs FROM
              |(SELECT src_lo, src_hi, da AS dd FROM p
              |UNION ALL SELECT src_lo, src_hi, db FROM p) z GROUP BY 1, 2)
              |SELECT c.src_lo, c.src_hi, n_pairs, n_docs
              |FROM c JOIN d USING (src_lo, src_hi)
              |ORDER BY src_lo, src_hi""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q137_neardup_decontaminate",
      // NEAR-DUP eval decontamination — the third rung of the
      // contamination ladder (q97 exact fingerprints → q107 n-gram
      // overlap → this): training docs whose token-set Jaccard with ANY
      // eval doc reaches 0.8 are paraphrase-level leaks that exact and
      // n-gram checks miss; they are found with the SAME banded LSH the
      // dedup family uses (one band table over the whole corpus, the
      // train×eval pair condition applied INSIDE the bucket join — no
      // second signature pass, never a cross product) and verified at
      // token-set Jaccard (interned fingerprints, q260-audited; the
      // string-form oracle certifies exactness on this corpus).
      // Output: every training doc with its eval-match
      // count, best Jaccard, and the keep verdict. The 0.8 threshold is
      // deliberately below dedup's 0.9 — decontamination trades recall
      // for precision the other way. Eval set = doc_id % 10 = 1 (the
      // fixture rule; production passes its eval fingerprint table).
      (s, dir) => {
        val hits = neardupEvalHits(s, dir)
        Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 1)
          .select("doc_id")
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_eval_matches"), lit(0L)).as("n_eval_matches"),
            coalesce(col("mj"), lit(-1.0)).as("max_jaccard"),
            col("mj").isNull.as("kept"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${lshPairsDuckCte("", "a.doc_id % 10 <> 1 AND b.doc_id % 10 = 1", "0.8")},
              |hits AS (SELECT da, CAST(count(*) AS BIGINT) AS n_eval_matches,
              |max(jaccard) AS mj FROM pairs GROUP BY 1),
              |tr AS (SELECT doc_id FROM documents WHERE doc_id % 10 <> 1)
              |SELECT tr.doc_id, coalesce(n_eval_matches, 0) AS n_eval_matches,
              |coalesce(mj, -1.0) AS max_jaccard, mj IS NULL AS kept
              |FROM tr LEFT JOIN hits ON tr.doc_id = hits.da
              |ORDER BY tr.doc_id""".stripMargin.replace("\n", " ")),
      bench = true),

    QueryDef(
      "q143_contamination_ladder",
      // THE CONTAMINATION LADDER, assembled: every training doc judged
      // by all three decontamination rungs against ONE eval definition
      // (the % 10 = 1 split) — (1) exact normalized fingerprint in the
      // eval set (q97's rule), (2) ≥ half of its distinct 5-token
      // shingles shared with eval docs (q107's graded form), (3)
      // token-set Jaccard ≥ 0.8 via q137's banded LSH (the paraphrase
      // rung). Output: each rung's raw evidence, the FIRST rung that
      // fires (strictest wins — an exact dup is also a near-dup; the
      // ladder records why it was dropped), and the keep verdict. Each
      // rung is the same factored body its own oracled query declares
      // (fpExactCol / shingleSpark / neardupEvalHits). Scale shape: the
      // eval side of every rung is tiny (fingerprints, shingle set, LSH
      // partners of the eval split) → three broadcast joins over corpus
      // scans; nothing quadratic. On this corpus the report itself shows
      // why the ladder has three rungs: the generator plants PARAPHRASE
      // near-dups, so rung 3 flags 282 of 450 train docs whose ordered
      // 5-gram overlap is ≈0 (rung 2 sees 4, rung 1 none — no
      // byte-identical cross-split pair exists); each rung catches what
      // the one above it cannot (sf0.001 figures).
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val isEval = col("doc_id") % 10 === 1
        // rungs 1+2 share ONE pinned per-doc frame (r16, the q45/q137
        // discipline): exact fingerprint + interned 5-shingle set from
        // a single scan, where the four readers (eval fps, train fps,
        // eval shingles, train shingles) previously each re-ran the
        // scan + md5/ShingleFps codegen behind differently-pruned
        // subtrees. Fingerprint-sized pin (8 B/shingle + 16 B/doc).
        val d2 = docs
          .select(col("doc_id"), TextAnalytics.fpExactCol.as("fp"),
            graft.functions.ShingleFps.shingleFps(
              expr(TextAnalytics.toksExpr), 5).as("shs"))
          .localCheckpoint()
        val evFp = d2.filter(isEval)
          .select(col("fp")).distinct()
          .withColumn("ex", lit(true))
        val ex = d2.filter(!isEval)
          .select(col("doc_id"), col("fp"))
          .join(broadcast(evFp), Seq("fp"), "left")
          .select(col("doc_id"), coalesce(col("ex"), lit(false)).as("exact_hit"))
        // rung 2's shingles ride as 60-bit interned fingerprints
        // (r9; r14: the codegen ShingleFps pass — no per-shingle
        // string/hex/conv allocations) — broadcast set + probe are
        // longs; the string-form oracle re-certifies exactness, q261
        // audits.
        val sh = d2.select(col("doc_id"), explode(col("shs")).as("shingle"))
        val evSh = sh.filter(col("doc_id") % 10 === 1)
          .select("shingle").distinct().withColumn("hit", lit(1))
        val ng = sh.filter(col("doc_id") % 10 =!= 1)
          .join(broadcast(evSh), Seq("shingle"), "left")
          .groupBy("doc_id")
          .agg(expr("round(sum(coalesce(hit, 0)) * 1.0D / count(1), 4)").as("ngram_frac"))
        val nd = neardupEvalHits(s, dir).select(col("doc_id"), col("mj"))
        ex.join(ng, Seq("doc_id"), "left")
          .join(nd, Seq("doc_id"), "left")
          .select(col("doc_id"), col("exact_hit"),
            coalesce(col("ngram_frac"), lit(0.0)).as("ngram_frac"),
            coalesce(col("mj"), lit(-1.0)).as("neardup_mj"),
            when(col("exact_hit"), 1L)
              .when(coalesce(col("ngram_frac"), lit(0.0)) >= 0.5, 2L)
              .when(col("mj").isNotNull, 3L).otherwise(0L).as("rung"))
          .withColumn("kept", col("rung") === 0L)
          .orderBy("doc_id")
      },
      Some(s"""WITH ${lshPairsDuckCte("", "a.doc_id % 10 <> 1 AND b.doc_id % 10 = 1", "0.8")},
              |hits AS (SELECT da AS doc_id, max(jaccard) AS mj FROM pairs GROUP BY 1),
              |docs AS (SELECT doc_id, ${TextAnalytics.fpExactDuck} AS fp FROM documents),
              |evfp AS (SELECT DISTINCT fp FROM docs WHERE doc_id % 10 = 1),
              |ex AS (SELECT doc_id, fp IN (SELECT fp FROM evfp) AS exact_hit
              |FROM docs WHERE doc_id % 10 <> 1),
              |t2 AS (SELECT doc_id, $toksDuck AS w FROM documents),
              |sh2 AS (SELECT doc_id, unnest(${Corpus.shingleDuck}) AS shingle FROM t2),
              |evsh AS (SELECT DISTINCT shingle, 1 AS hit FROM sh2 WHERE doc_id % 10 = 1),
              |ng AS (SELECT doc_id, round(sum(coalesce(hit, 0)) * 1.0 / count(*), 4) AS ngram_frac
              |FROM sh2 LEFT JOIN evsh USING (shingle) WHERE doc_id % 10 <> 1 GROUP BY 1),
              |z AS (SELECT ex.doc_id, exact_hit,
              |coalesce(ngram_frac, 0.0) AS ngram_frac, coalesce(mj, -1.0) AS neardup_mj,
              |CASE WHEN exact_hit THEN 1 WHEN coalesce(ngram_frac, 0.0) >= 0.5 THEN 2
              |WHEN mj IS NOT NULL THEN 3 ELSE 0 END AS rung
              |FROM ex LEFT JOIN ng ON ex.doc_id = ng.doc_id
              |LEFT JOIN hits ON ex.doc_id = hits.doc_id)
              |SELECT doc_id, exact_hit, ngram_frac, neardup_mj, CAST(rung AS BIGINT) AS rung,
              |rung = 0 AS kept FROM z ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      bench = true)
  )

  /** The q44 pipeline up to (but not including) its final ORDER BY:
    * sketch-blocked anchor pairs verified at cosine ≥ 0.2 — (va, vb,
    * cos) with va = the block anchor. Also the edge set q69's embedding
    * clustering runs on. */
  private[graft] def embAnchorPairs(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorExprs.{vecDot, vecNorm}
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        vecNorm(col("embedding")).as("nrm"),
        Similarity.sketchCol(col("embedding")).as("sk"))
    // ≤ 2^planes = 16 blocks: both the anchor map and the anchor
    // vectors are broadcast-sized at ANY corpus scale.
    val anchors = e.groupBy("sk").agg(min("vec_id").as("anchor"))
    val anchorVecs = e.join(anchors.select(col("anchor").as("vec_id")), Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("anchor"), col("embedding").as("ae"), col("nrm").as("an"))
    e.join(broadcast(anchors), "sk")
      .filter(col("vec_id") > col("anchor"))
      .join(broadcast(anchorVecs), "anchor")
      .select(col("anchor").as("va"), col("vec_id").as("vb"),
        round(vecDot(col("embedding"), col("ae")) / (col("nrm") * col("an")), 4).as("cos"))
      .filter(col("cos") >= 0.2)
  }

  /** DuckDB CTE chain ending in `${p}pairs(va, vb, cos)` — the oracle
    * twin of [[embAnchorPairs]]. Prefix-namespaced like
    * [[lshPairsDuckCte]]. */
  private[operators] def embPairsDuckCte(p: String = ""): String =
    s"""${p}e AS MATERIALIZED (SELECT vec_id, embedding,
       |sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
       |${Similarity.sketchDuck} AS sk
       |FROM embeddings),
       |${p}anchors AS (SELECT sk, min(vec_id) AS anchor FROM ${p}e GROUP BY sk),
       |${p}cand AS (SELECT a.anchor AS va, e.vec_id AS vb FROM ${p}e e
       |JOIN ${p}anchors a ON e.sk = a.sk AND e.vec_id > a.anchor),
       |${p}pairs AS (SELECT va, vb,
       |round(list_sum(list_transform(generate_series(1, len(ea.embedding)), i ->
       |CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))) / (ea.nrm * eb.nrm), 4) AS cos
       |FROM ${p}cand JOIN ${p}e ea ON va = ea.vec_id JOIN ${p}e eb ON vb = eb.vec_id
       |WHERE round(list_sum(list_transform(generate_series(1, len(ea.embedding)), i ->
       |CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))) / (ea.nrm * eb.nrm), 4) >= 0.2)"""
      .stripMargin.replace("\n", " ")
}
