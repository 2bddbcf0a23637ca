package graft.operators

import graft.QueryDef
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components — the transitive-closure step a
  * near-dup pipeline needs between "LSH gives me verified PAIRS" (q41)
  * and "give me one CLUSTER id per document" (the form every corpus
  * dedup actually consumes: keep one doc per component).
  *
  * Reference analog: scrappy.py's dedup is per-title keep-first
  * (scrappy.py:316,334-335) — no pair graph ever forms. At 100 TB the
  * pair graph is unavoidable (near-dup similarity is not transitive), so
  * this implements the alternating large-star/small-star algorithm of
  * Kiveris et al., "Connected Components in MapReduce and Beyond"
  * (SoCC 2014): each round is two shuffle stages built purely from
  * groupBy(min) + equi-join — no collect, no driver-side graph — and the
  * edge set converges to a star forest rooted at each component's
  * minimum id in O(log² n) rounds (2-4 in practice on dedup graphs,
  * whose components are near-cliques from LSH buckets).
  *
  * Scale notes:
  *  - Each round's lineage is cut with an eager localCheckpoint —
  *    without it the iterated plan doubles per round and the optimizer
  *    re-plans the whole prefix chain every iteration.
  *  - Convergence is detected by (count, bit_xor(xxhash64)) of the
  *    canonical edge set: edge sets here are exact duplicates-free
  *    (a < b, distinct), so equal count + equal xor-fold across
  *    consecutive rounds means "same set" up to an astronomically
  *    unlikely 64-bit collision; an exact `except` check would cost two
  *    extra jobs per round at any scale.
  *  - High-degree skew (one doc near-dup to millions) is exactly what
  *    large-star handles: it rewires a big star's leaves directly to the
  *    minimum, so no reducer ever sees more than a node's CURRENT
  *    neighborhood, which shrinks every round.
  */
object Components {

  /** Connected components over an undirected pair list. Input: first two
    * columns are the edge endpoints (any orientation, self-loops and
    * duplicates tolerated). Output: (id, comp) for every endpoint that
    * appears in `pairs`, where comp = the minimum id in the component.
    * Singleton docs never appear in a pair list — callers left-join. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val cols = pairs.columns
    var e = pairs
      .select(col(cols(0)).cast("long").as("a"), col(cols(1)).cast("long").as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
      .localCheckpoint()

    def checksum(d: DataFrame): (Long, Long) = {
      // bit_xor fold: order-independent, can't overflow under ANSI mode,
      // and duplicate rows (which would cancel under xor) can't occur —
      // the edge set is distinct by construction.
      val r = d.agg(count(lit(1)), coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    var prev = checksum(e)
    var it = 0
    var converged = prev._1 == 0L
    while (!converged && it < maxIter) {
      // Large-star: for every node u, connect each LARGER neighbor v
      // directly to m(u) = min(u ∪ neighbors(u)). Detaches big stars'
      // leaves onto the minimum in one round.
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val ls = sym.filter(col("v") > col("u"))
        .join(mins, "u")
        // m ≤ u < v, so (m, v) is already canonical; m = v impossible.
        .select(col("m").as("a"), col("v").as("b"))
        .distinct()

      // Small-star: for every node u, connect each SMALLER neighbor
      // (and u itself) to the minimum of u's smaller neighborhood.
      // On canonical edges (a < b), u's smaller neighbors are the `a`
      // side of its `b` rows.
      val mins2 = ls.groupBy("b").agg(min("a").as("m"))
      val ss = ls.join(mins2, "b")
        .select(col("a"), col("m"))
        .union(mins2.select(col("b").as("a"), col("m")))
        .filter(col("a") =!= col("m"))
        .select(least(col("m"), col("a")).as("a"), greatest(col("m"), col("a")).as("b"))
        .distinct()

      val next = ss.localCheckpoint()
      val c = checksum(next)
      converged = c == prev
      prev = c
      // Free the superseded round's checkpoint blocks now — over 50
      // rounds the copies would otherwise sit in executor storage until
      // the ContextCleaner happens to collect them.
      org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(e)
      e = next
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // Star forest: every edge is (root, leaf) with root = component min.
    e.select(col("b").as("id"), col("a").as("comp"))
      .union(e.select(col("a").as("id"), col("a").as("comp")))
      .distinct()
  }

  def defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q55_dedup_clusters",
      // q41's verified near-dup pairs → one cluster id per document plus
      // the component size: the consumable form of LSH dedup (keep
      // doc_id == comp, drop the rest). Oracle: DuckDB recursive CTE
      // computing min-reachable-id over the same pair list.
      (s, dir) => {
        val cc = connectedComponents(Dedup.lshVerifiedPairs(s, dir).select("da", "db"))
        cc.join(cc.groupBy("comp").agg(count(lit(1)).as("cluster_size")), "comp")
          .select(col("id").as("doc_id"), col("comp"), col("cluster_size"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ${Dedup.lshPairsDuckCte()},
              |edges AS MATERIALIZED (SELECT da AS a, db AS b FROM pairs UNION SELECT db AS a, da AS b FROM pairs),
              |reach AS (
              |SELECT a AS id, a AS r FROM (SELECT DISTINCT a FROM edges) base
              |UNION
              |SELECT e.a AS id, re.r AS r FROM edges e JOIN reach re ON re.id = e.b),
              |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
              |sizes AS (SELECT comp, count(*) AS cluster_size FROM comp GROUP BY comp)
              |SELECT c.id AS doc_id, c.comp, s.cluster_size
              |FROM comp c JOIN sizes s USING (comp) ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q65_dedup_best_survivor",
      // Survivor SELECTION on top of q55's clusters: real pipelines keep
      // the best-quality member of each near-dup cluster, not the
      // smallest id — here longest-token-count wins (ties → min doc_id),
      // the standard keep-the-most-complete-copy heuristic. One window
      // over the (tiny) clustered subset; the quality signal joins in
      // from the corpus scan.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val cc = connectedComponents(Dedup.lshVerifiedPairs(s, dir).select("da", "db"))
        val toks = graft.Tables.documents(s, dir)
          .select(col("doc_id"),
            expr(s"CAST(size(array_distinct(${TextAnalytics.toksExpr})) AS BIGINT)").as("n_toks"))
        cc.withColumnRenamed("id", "doc_id")
          .join(toks, "doc_id")
          .withColumn("rn", row_number().over(
            Window.partitionBy("comp").orderBy(col("n_toks").desc, col("doc_id"))))
          .filter(col("rn") === 1)
          .join(cc.groupBy("comp").agg(count(lit(1)).as("cluster_size")), "comp")
          .select(col("comp"), col("doc_id").as("survivor"),
            col("n_toks").as("survivor_toks"), col("cluster_size"))
          .orderBy("comp")
      },
      Some(s"""WITH RECURSIVE ${Dedup.lshPairsDuckCte()},
              |edges AS MATERIALIZED (SELECT da AS a, db AS b FROM pairs UNION SELECT db AS a, da AS b FROM pairs),
              |reach AS (
              |SELECT a AS id, a AS r FROM (SELECT DISTINCT a FROM edges) base
              |UNION
              |SELECT e.a AS id, re.r AS r FROM edges e JOIN reach re ON re.id = e.b),
              |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
              |toks AS (SELECT doc_id, CAST(len(list_distinct(${TextAnalytics.toksDuck})) AS BIGINT) AS n_toks
              |FROM documents),
              |ranked AS (SELECT c.comp, c.id, t.n_toks,
              |row_number() OVER (PARTITION BY c.comp ORDER BY t.n_toks DESC, c.id) AS rn
              |FROM comp c JOIN toks t ON c.id = t.doc_id),
              |sizes AS (SELECT comp, count(*) AS cluster_size FROM comp GROUP BY comp)
              |SELECT r.comp, r.id AS survivor, r.n_toks AS survivor_toks, s.cluster_size
              |FROM ranked r JOIN sizes s USING (comp) WHERE r.rn = 1
              |ORDER BY r.comp""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q69_embedding_clusters",
      // The same pair→cluster closure for the EMBEDDING near-dup family:
      // connected components over q44's sketch-anchor pairs. Blocks are
      // star-shaped around their anchors, so components converge in 1-2
      // large-star/small-star rounds; the closure input is the (small)
      // verified pair set, never the vector corpus.
      (s, dir) => {
        val cc = connectedComponents(Dedup.embAnchorPairs(s, dir).select("va", "vb"))
        cc.join(cc.groupBy("comp").agg(count(lit(1)).as("cluster_size")), "comp")
          .select(col("id").as("vec_id"), col("comp"), col("cluster_size"))
          .orderBy("vec_id")
      },
      Some(s"""WITH RECURSIVE ${Dedup.embPairsDuckCte()},
              |edges AS MATERIALIZED (SELECT va AS a, vb AS b FROM pairs UNION SELECT vb AS a, va AS b FROM pairs),
              |reach AS (
              |SELECT a AS id, a AS r FROM (SELECT DISTINCT a FROM edges) base
              |UNION
              |SELECT e2.a AS id, re.r AS r FROM edges e2 JOIN reach re ON re.id = e2.b),
              |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
              |sizes AS (SELECT comp, count(*) AS cluster_size FROM comp GROUP BY comp)
              |SELECT c.id AS vec_id, c.comp, s.cluster_size
              |FROM comp c JOIN sizes s USING (comp) ORDER BY vec_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q114_pagerank",
      // Fixed-iteration PageRank (d=0.85, 3 rounds) over the
      // shingle-share graph: docs are linked iff they share a 5-token
      // shingle whose document frequency is ≤ 8 — the df-cap is the
      // same blocking discipline as q42's prefix filter (an unbounded
      // shingle self-join is the quadratic blowup q45 exists to kill).
      // Centrality here is a survivor-selection policy: q65 keeps the
      // longest cluster member, this ranks members by how connected
      // they are inside the near-dup neighborhood. Every iteration is
      // edges ⋈ ranks on src + one dst-keyed aggregate — two shuffles
      // per round, partitioned by node id, no driver-side graph; the
      // edge set is pinned once with localCheckpoint. The iteration
      // count is FIXED (not convergence-tested), which is what makes
      // the query expressible as three chained oracle CTEs. At a
      // billion-node graph the same loop runs with the edge table
      // bucketed by src so the per-round join co-locates.
      (s, dir) => {
        val capped = Corpus.cappedShingles(graft.Tables.documents(s, dir), 8)
        val pairs = capped.as("a").join(capped.as("b"),
            col("a.sg") === col("b.sg") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst")).distinct()
        val e = pairs
          .unionByName(pairs.select(col("dst").as("src"), col("src").as("dst")))
          .localCheckpoint()
        val deg = e.groupBy("src").agg(count(lit(1)).cast("double").as("deg"))
        val nDf = deg.agg(count(lit(1)).cast("double").as("n"))
        var pr = deg.select(col("src").as("id")).crossJoin(broadcast(nDf))
          .select(col("id"), (lit(1.0) / col("n")).as("pr"))
        // each round's incoming contributions are summed via a SORTED
        // fold over src (the q59 discipline: double addition is
        // order-sensitive, shuffle order is not deterministic — the
        // oracle folds in the same src order)
        for (_ <- 1 to 3)
          pr = e.join(pr.withColumnRenamed("id", "src"), "src")
            .join(deg, "src")
            .select(col("dst").as("id"), col("src"), (col("pr") / col("deg")).as("c"))
            .groupBy("id")
            .agg(Folds.orderedSum(col("c"), col("src")).as("m"))
            .crossJoin(broadcast(nDf))
            .select(col("id"), (lit(0.15) / col("n") + lit(0.85) * col("m")).as("pr"))
        pr.select(col("id").as("doc_id"), round(col("pr"), 6).as("pr"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${Corpus.cappedShinglesDuckCte(8)},
              |p AS MATERIALIZED (SELECT a.doc_id AS src, b.doc_id AS dst FROM sh a
              |JOIN sh b ON a.sg = b.sg AND a.doc_id < b.doc_id GROUP BY 1, 2),
              |e AS MATERIALIZED (SELECT src, dst FROM p UNION ALL SELECT dst AS src, src AS dst FROM p),
              |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY 1),
              |n AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS nn FROM deg),
              |pr0 AS (SELECT src AS id, 1.0 / (SELECT nn FROM n) AS pr FROM deg),
              |pr1 AS (SELECT e.dst AS id, 0.15 / (SELECT nn FROM n) + 0.85 * list_sum(list(p0.pr / d.deg ORDER BY e.src)) AS pr
              |FROM e JOIN pr0 p0 ON e.src = p0.id JOIN deg d ON e.src = d.src GROUP BY e.dst),
              |pr2 AS (SELECT e.dst AS id, 0.15 / (SELECT nn FROM n) + 0.85 * list_sum(list(p1.pr / d.deg ORDER BY e.src)) AS pr
              |FROM e JOIN pr1 p1 ON e.src = p1.id JOIN deg d ON e.src = d.src GROUP BY e.dst),
              |pr3 AS (SELECT e.dst AS id, 0.15 / (SELECT nn FROM n) + 0.85 * list_sum(list(p2.pr / d.deg ORDER BY e.src)) AS pr
              |FROM e JOIN pr2 p2 ON e.src = p2.id JOIN deg d ON e.src = d.src GROUP BY e.dst)
              |SELECT id AS doc_id, round(pr, 6) AS pr FROM pr3
              |ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q129_split_repair",
      // Dedup-aware split REPAIR — the action q128's leakage report
      // demands: every document is re-assigned to the split of its
      // fused-near-dup-cluster ROOT (connected components over q127's
      // consolidated pairs; singletons keep their own q95 assignment),
      // so no near-dup pair can straddle train/eval — post-repair
      // leakage is exactly zero BY CONSTRUCTION, and the spec asserts
      // it against the pair relation. Output reports each doc's
      // cluster, original and final split, and whether it moved.
      // Oracle: the same recursive min-reachable-id closure as q55 over
      // the fused edge set — gate-scale only like q55/q65 (DuckDB's
      // recursion is O(E·cluster)); at larger SFs the zero-leakage
      // invariant is checked directly on Spark results (DedupSpec ×
      // ClusterCheck pattern).
      (s, dir) => {
        val cc = connectedComponents(
          Dedup.signalUnion(s, dir).select("da", "db").distinct())
        val split = graft.Tables.documents(s, dir)
          .select(col("doc_id"), expr(Corpus.splitSpark("doc_id")).as("own_split"))
        val withComp = split
          .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .withColumn("comp", coalesce(col("comp"), col("doc_id")))
        withComp
          .join(split.select(col("doc_id").as("comp"), col("own_split").as("final_split")),
            "comp")
          .select(col("doc_id"), col("comp"), col("own_split"), col("final_split"),
            (col("own_split") =!= col("final_split")).as("moved"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ${Dedup.lshPairsDuckCte("l_")},
              |${Dedup.embPairsDuckCte("e_")},
              |${Corpus2.sharedSpansDuckCte("v_")},
              |v_p AS (SELECT doc_a AS da, doc_b AS db FROM v_spans
              |GROUP BY 1, 2 HAVING max(span) >= 12),
              |u AS MATERIALIZED (SELECT DISTINCT da, db FROM
              |(SELECT da, db FROM l_pairs
              |UNION ALL SELECT va, vb FROM e_pairs
              |UNION ALL SELECT da, db FROM v_p) z),
              |edges AS MATERIALIZED (SELECT da AS a, db AS b FROM u UNION SELECT db AS a, da AS b FROM u),
              |reach AS (
              |SELECT a AS id, a AS r FROM (SELECT DISTINCT a FROM edges) base
              |UNION
              |SELECT e.a AS id, re.r AS r FROM edges e JOIN reach re ON re.id = e.b),
              |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
              |sp AS (SELECT doc_id, ${Corpus.splitDuck("doc_id")} AS split FROM documents),
              |j AS (SELECT sp.doc_id, coalesce(c.comp, sp.doc_id) AS comp, sp.split AS own_split
              |FROM sp LEFT JOIN comp c ON sp.doc_id = c.id)
              |SELECT j.doc_id, j.comp, j.own_split, r.split AS final_split,
              |j.own_split <> r.split AS moved
              |FROM j JOIN sp r ON j.comp = r.doc_id
              |ORDER BY j.doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q133_doc_audit",
      // Per-document PIPELINE AUDIT — the one-row-per-doc decision
      // record a production corpus build publishes alongside the data:
      // the q100 gate verdict, the first-wins near-dup partner (q64's
      // admission rule over q127's fused pairs: the minimum SMALLER
      // partner id, -1 if none — non-recursive, so it stays oracled at
      // every SF unlike the full component closure), the q95 split, the
      // q130 epoch tier, and the final kept flag (gate AND not a dup
      // loser). Every input is the SAME factored body its own oracled
      // query declares, so the audit cannot drift from any stage it
      // reports on. Scale shape: scan-expression gate + one pair-keyed
      // aggregate + two broadcast-ish joins on doc_id — no recursion,
      // no global window.
      (s, dir) => {
        val docs = graft.Tables.documents(s, dir)
        val gate = Corpus.qualityGate(docs)
          .withColumn("nq",
            col("len_ok").cast("int") + col("stop_ok").cast("int") +
              col("toklen_ok").cast("int") + col("rep_ok").cast("int"))
          .select(col("doc_id"), col("keep").as("gate_keep"),
            expr(Corpus2.tierCaseSql).cast("long").as("epoch_tier"))
        val pairs = Dedup.signalUnion(s, dir).select("da", "db").distinct()
        val dupOf = pairs.select(col("da").as("d"), col("db").as("p"))
          .unionByName(pairs.select(col("db").as("d"), col("da").as("p")))
          .filter(col("p") < col("d"))
          .groupBy("d").agg(min("p").as("dup_of"))
          .withColumnRenamed("d", "doc_id")
        gate
          .join(dupOf, Seq("doc_id"), "left")
          .withColumn("dup_of", coalesce(col("dup_of"), lit(-1L)))
          .withColumn("split", expr(Corpus.splitSpark("doc_id")))
          .withColumn("kept", col("gate_keep") && col("dup_of") === -1L)
          .select("doc_id", "gate_keep", "dup_of", "split", "epoch_tier", "kept")
          .orderBy("doc_id")
      },
      Some(s"""WITH ${Corpus.gateDuckCte("g_")},
              |${Dedup.lshPairsDuckCte("l_")},
              |${Dedup.embPairsDuckCte("e_")},
              |${Corpus2.sharedSpansDuckCte("v_")},
              |v_p AS (SELECT doc_a AS da, doc_b AS db FROM v_spans
              |GROUP BY 1, 2 HAVING max(span) >= 12),
              |u AS MATERIALIZED (SELECT DISTINCT da, db FROM
              |(SELECT da, db FROM l_pairs
              |UNION ALL SELECT va, vb FROM e_pairs
              |UNION ALL SELECT da, db FROM v_p) z),
              |dup AS (SELECT d AS doc_id, min(p) AS dup_of FROM
              |(SELECT da AS d, db AS p FROM u UNION ALL SELECT db AS d, da AS p FROM u) z
              |WHERE p < d GROUP BY 1),
              |q AS (SELECT doc_id,
              |len_ok AND stop_ok AND toklen_ok AND rep_ok AS gate_keep,
              |(CASE WHEN len_ok THEN 1 ELSE 0 END) + (CASE WHEN stop_ok THEN 1 ELSE 0 END) +
              |(CASE WHEN toklen_ok THEN 1 ELSE 0 END) + (CASE WHEN rep_ok THEN 1 ELSE 0 END) AS nq
              |FROM g_r)
              |SELECT q.doc_id, q.gate_keep,
              |coalesce(dup.dup_of, -1) AS dup_of,
              |${Corpus.splitDuck("q.doc_id")} AS split,
              |CAST(${Corpus2.tierCaseSql} AS BIGINT) AS epoch_tier,
              |q.gate_keep AND coalesce(dup.dup_of, -1) = -1 AS kept
              |FROM q LEFT JOIN dup ON q.doc_id = dup.doc_id
              |ORDER BY q.doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q167_label_propagation",
      // FIXED-ROUND SYNCHRONOUS MIN-LABEL PROPAGATION — the
      // iteration-bounded community operator used when running a full
      // transitive closure (q55's large-star/small-star loop iterates
      // to convergence) is unnecessary or unaffordable: 3 synchronous
      // rounds of lbl(v) ← min(lbl(v), min over neighbors' labels)
      // over the q114 df-capped shingle-share graph. After r rounds a
      // node's label is exactly the min doc_id within its r-hop
      // neighborhood — on short-diameter near-dup blocks this IS the
      // component root; on longer chains it shows how far
      // consolidation has spread (ComponentsSpec pins both the 3-round
      // replay and the never-crosses-a-q55-component invariant).
      // INTEGER mins only, so no float discipline is needed and the
      // oracle is 3 chained CTEs. Scale: each round is one edge⋈label
      // join + one node-keyed min aggregate (the q114 two-shuffle
      // round shape), edge list built once and checkpointed; at 100 TB
      // the same loop runs with edges bucketed by v so the per-round
      // join co-locates.
      (s, dir) => {
        val edges = Corpus5.shingleEdges(graft.Tables.documents(s, dir))
        val e = edges
          .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
          .localCheckpoint()
        var lbl = e.select(col("u").as("id")).distinct()
          .withColumn("lbl", col("id"))
        for (_ <- 1 to 3)
          lbl = e
            .join(lbl.select(col("id").as("v"), col("lbl").as("nl")), "v")
            .select(col("u").as("id"), col("nl"))
            .unionByName(lbl.select(col("id"), col("lbl").as("nl")))
            .groupBy("id").agg(min("nl").as("lbl"))
        lbl.join(lbl.groupBy("lbl").agg(count(lit(1)).as("community_size")), "lbl")
          .select(col("id").as("doc_id"), col("lbl").as("community"),
            col("community_size"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${Corpus.cappedShinglesDuckCte(8)},
              |p AS MATERIALIZED (SELECT a.doc_id AS u, b.doc_id AS v FROM sh a
              |JOIN sh b ON a.sg = b.sg AND a.doc_id < b.doc_id GROUP BY 1, 2),
              |e AS MATERIALIZED (SELECT u, v FROM p UNION ALL SELECT v AS u, u AS v FROM p),
              |l0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS lbl FROM e),
              |l1 AS MATERIALIZED (SELECT id, min(l) AS lbl FROM (
              |SELECT e.u AS id, l0.lbl AS l FROM e JOIN l0 ON l0.id = e.v
              |UNION ALL SELECT id, lbl AS l FROM l0) z1 GROUP BY id),
              |l2 AS MATERIALIZED (SELECT id, min(l) AS lbl FROM (
              |SELECT e.u AS id, l1.lbl AS l FROM e JOIN l1 ON l1.id = e.v
              |UNION ALL SELECT id, lbl AS l FROM l1) z2 GROUP BY id),
              |l3 AS MATERIALIZED (SELECT id, min(l) AS lbl FROM (
              |SELECT e.u AS id, l2.lbl AS l FROM e JOIN l2 ON l2.id = e.v
              |UNION ALL SELECT id, lbl AS l FROM l2) z3 GROUP BY id),
              |sz AS (SELECT lbl, count(*) AS community_size FROM l3 GROUP BY lbl)
              |SELECT l3.id AS doc_id, l3.lbl AS community, sz.community_size
              |FROM l3 JOIN sz ON l3.lbl = sz.lbl
              |ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q171_kcore_peel",
      // FIXED-ROUND k-CORE PEELING (k=2, 3 rounds) over the
      // shingle-share graph — the density filter on the near-dup
      // neighborhood: nodes that SURVIVE iterated removal of low-degree
      // members sit in cycle-bearing boilerplate/template families,
      // exactly the docs a corpus build caps hardest. k=2 is the
      // honest knob for this df-capped graph (max degree 2 at sf0.01 —
      // the 2-core is its one triangle; 295 survivors at sf0.1; a
      // 3-core only appears at sf0.1). Each round drops nodes whose
      // CURRENT degree < k together with their edges and recounts;
      // 3 rounds bound the cascade the way q167 bounds
      // propagation (a fixpoint loop is the q55-style driver loop; the
      // fixed unroll is what stays oracle-able at every SF — all
      // integer ops). Output: surviving docs with residual degree and
      // the round-0 degree for contrast. Scale: each round is one
      // node-keyed count + one semi-join of the edge list against
      // survivors — same two-shuffle round shape as q114/q167.
      (s, dir) => {
        val edges = Corpus5.shingleEdges(graft.Tables.documents(s, dir))
        var e = edges
          .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
          .localCheckpoint()
        val deg0 = e.groupBy("u").agg(count(lit(1)).as("deg0"))
        for (_ <- 1 to 3) {
          val keep = e.groupBy("u").agg(count(lit(1)).as("d"))
            .filter(col("d") >= 2).select("u")
          e = e.join(keep, "u")
            .join(keep.select(col("u").as("v")), "v")
            .select("u", "v")
        }
        e.groupBy("u").agg(count(lit(1)).as("deg"))
          .join(deg0, "u")
          .select(col("u").as("doc_id"), col("deg"), col("deg0"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${Corpus.cappedShinglesDuckCte(8)},
              |p AS MATERIALIZED (SELECT a.doc_id AS u, b.doc_id AS v FROM sh a
              |JOIN sh b ON a.sg = b.sg AND a.doc_id < b.doc_id GROUP BY 1, 2),
              |e0 AS MATERIALIZED (SELECT u, v FROM p UNION ALL SELECT v AS u, u AS v FROM p),
              |dg0 AS (SELECT u, count(*) AS deg0 FROM e0 GROUP BY u),
              |k1 AS MATERIALIZED (SELECT u FROM e0 GROUP BY u HAVING count(*) >= 2),
              |e1 AS MATERIALIZED (SELECT e0.u, e0.v FROM e0
              |JOIN k1 a ON e0.u = a.u JOIN k1 b ON e0.v = b.u),
              |k2 AS MATERIALIZED (SELECT u FROM e1 GROUP BY u HAVING count(*) >= 2),
              |e2 AS MATERIALIZED (SELECT e1.u, e1.v FROM e1
              |JOIN k2 a ON e1.u = a.u JOIN k2 b ON e1.v = b.u),
              |k3 AS MATERIALIZED (SELECT u FROM e2 GROUP BY u HAVING count(*) >= 2),
              |e3 AS MATERIALIZED (SELECT e2.u, e2.v FROM e2
              |JOIN k3 a ON e2.u = a.u JOIN k3 b ON e2.v = b.u)
              |SELECT e3.u AS doc_id, count(*) AS deg, any_value(dg0.deg0) AS deg0
              |FROM e3 JOIN dg0 ON e3.u = dg0.u
              |GROUP BY e3.u ORDER BY doc_id""".stripMargin.replace("\n", " ")))
  )
}
