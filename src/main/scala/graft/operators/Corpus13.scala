package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-9 corpus operators, continued: host-graph centrality — the
  * crawl-prioritization / quality-weighting signal every web-corpus
  * pipeline derives from a host-level graph (PageRank over hyperlinks
  * in the classic form; CommonCrawl publishes exactly such host ranks).
  * The synthetic corpus has no hyperlinks, so the graph is derived from
  * a signal the engine already computes: CONTENT SYNDICATION — two
  * hosts are linked when they serve the same chunk fingerprint (the
  * q259/q267 chunking), which is how mirror/aggregator relationships
  * surface in a real crawl when link data is absent.
  */
object Corpus13 {

  /** Fixed-point scale for the integer PageRank iterates: rank r(v) is
    * carried as t(v) = r(v)·N·S, an exact int64.
    *
    * SAFE ENVELOPE (exactness, not a soft bound — r9 ADVICE): the
    * damping term 17·m needs 17·Σt = 17·N·S < 2^63, so at S = 10^12 the
    * graph may hold N ≤ ~5.4·10^5 hosts even under total rank
    * concentration; the split edge term (t mod wu)·w needs
    * wu·max(w) < 2^63, safe while a host's total out-weight stays below
    * ~3·10^9 shared-chunk edges (the maxHosts cap bounds per-fp
    * fan-out, not wout itself). Beyond either bound, lower S (each
    * factor-of-k drop buys k× more hosts at 1/k rank resolution) —
    * 10^12 gives 6-figure host counts with 12 significant digits,
    * the right default for a per-crawl host graph; a full-web billion-
    * host graph wants S = 10^8. */
  private val S = 1000000000000L // 10^12

  /** The (edges, out-weights, nodes) triple of the host syndication
    * graph, each PINNED via localCheckpoint: all three are host-sized
    * (tiny at any corpus size) but rebuilt from corpus-sized chunking
    * lineage, and every PageRank round references e/ow while nodes
    * anchors each iterate and the final join — the q268/q235 pin rule
    * (small frame, read >1×) rather than trusting ReuseExchange to
    * dedupe identical aggregate subtrees (an optimizer courtesy, not a
    * contract). */
  private def hostGraph(docs: DataFrame, maxHosts: Int): (DataFrame, DataFrame, DataFrame) = {
    val hc = Corpus.chunkTokens(docs)
      .select(md5(col("chunk")).as("fp"), Corpus12.hostCol.as("host"))
      .distinct()
    val e = hc.groupBy("fp")
      .agg(array_sort(collect_set(col("host"))).as("hs"))
      .filter(size(col("hs")).between(2, maxHosts))
      .select(explode(col("hs")).as("u"), col("hs"))
      .select(col("u"), explode(col("hs")).as("v"))
      .filter(col("u") =!= col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("w"))
      .localCheckpoint()
    val nodes = hc.select("host").distinct().localCheckpoint()
    val ow = nodes
      .join(e.groupBy("u").agg(sum("w").as("wout")),
        nodes("host") === col("u"), "left")
      .select(col("host"), coalesce(col("wout"), lit(0L)).as("wout"))
      .localCheckpoint()
    (e, ow, nodes)
  }

  /** One damped round over pinned (e, ow, nodes) — shared verbatim by the
    * 2-round declarative unroll (q269) and the iterative form. */
  private def prStep(e: DataFrame, ow: DataFrame, nodes: DataFrame)(t: DataFrame): DataFrame = {
    val m = e
      .join(t.withColumnRenamed("host", "u"), Seq("u"))
      .join(ow.select(col("host").as("u"), col("wout").as("wu")), Seq("u"))
      .select(col("v"),
        expr("(t div wu) * w + ((t % wu) * w) div wu").as("c"))
      .groupBy("v").agg(sum("c").as("m"))
    nodes.join(m, nodes("host") === col("v"), "left")
      .select(col("host"),
        (lit(3L * S / 20L) +
          expr("(17 * coalesce(m, CAST(0 AS BIGINT))) div 20")).as("t"))
  }

  /** Final presentation shared by both forms. */
  private def prFinish(t2: DataFrame, ow: DataFrame, nodes: DataFrame): DataFrame = {
    val nn = nodes.agg(count(lit(1)).as("n"))
    t2.join(ow, Seq("host"))
      .crossJoin(broadcast(nn))
      .select(col("host"), col("wout").as("out_w"),
        col("t").as("rank_scaled"),
        round(col("t") * lit(1.0) / (col("n") * lit(S)), 6).as("rank"))
      .orderBy(col("rank_scaled").desc, col("host"))
  }

  /** q269's body: 2 damped PageRank rounds (d = 0.85 = 17/20) over the
    * host syndication graph, ENTIRELY IN INT64 ARITHMETIC — no float
    * sum exists anywhere, so Spark and DuckDB agree bit-for-bit with no
    * rounding discipline needed (the q219-HITS determinism idea, pushed
    * one step further: HITS kept integer numerators because it is
    * scale-invariant; PageRank is not, so the iterate is fixed-point
    * scaled instead, t(v) = r(v)·N·S, and each edge contribution
    * floor-divides ONCE per round: c(u,v) = ⌊t(u)·w/W(u)⌋ in the
    * overflow-safe split form (t div W)·w + ((t mod W)·w) div W, exact
    * for t·w beyond int64). Fixed rounds, not convergence — the
    * oracle-checkable-prefix contract of q114/q121/q216/q217.
    *
    * Scale shape: chunking is stateless map work; the (fp, host)
    * distinct and the per-fp host-set aggregate are the only
    * corpus-sized shuffles (both partial-aggregable). Per-fp pair
    * fan-out is bounded by the syndication-width cap (a chunk served by
    * > maxHosts hosts is boilerplate, not syndication — the df-cap
    * discipline of cappedShingles; non-binding on this corpus where
    * |hosts| = 24 < 64, load-bearing at web scale where one universal
    * chunk would otherwise emit |hosts|² pairs). The iteration joins
    * are keyed on host — data-sized at web scale (millions of hosts),
    * never corpus-sized, and each round is one join + one
    * partial-aggregable sum. Dangling hosts (no out-edges) contribute
    * no mass, the standard drop-dangling convention, stated here
    * because ranks then sum to < 1. */
  private[graft] def hostPageRank(docs: DataFrame, maxHosts: Int = 64): DataFrame = {
    val (e, ow, nodes) = hostGraph(docs, maxHosts)
    val step = prStep(e, ow, nodes) _
    prFinish(step(step(nodes.withColumn("t", lit(S)))), ow, nodes)
  }

  /** The REAL-ROUND-COUNT form (the per-round pin discipline): each
    * round's host-sized iterate is pinned before the next round reads
    * it, so the plan stays one-join-one-aggregate deep at ANY round
    * count instead of growing a 2^rounds lineage. Corpus13Spec proves
    * its 2-round prefix ≡ q269's declarative unroll. */
  private[graft] def hostPageRankIterative(docs: DataFrame, rounds: Int, maxHosts: Int = 64): DataFrame = {
    val (e, ow, nodes) = hostGraph(docs, maxHosts)
    val step = prStep(e, ow, nodes) _
    var t = nodes.withColumn("t", lit(S))
    for (_ <- 0 until rounds) t = step(t).localCheckpoint()
    prFinish(t, ow, nodes)
  }

  /** q272's deterministic robots corpus: per-host disallow path-prefixes
    * (the parsed form of each host's robots.txt — in production this
    * table is crawled and data-sized; here 6 rules over the q266 URL
    * hosts, chosen to exercise every class: a multi-rule host with
    * NESTED prefixes (ex4: /p/1 and /p/15 — longest match must win), a
    * disallow-everything host (ex2: /p/ blocks its whole path space),
    * and plain single-prefix hosts). */
  private[operators] val robotsRules = Seq(
    ("ex0.com", "/p/1"), ("ex4.com", "/p/1"), ("ex4.com", "/p/15"),
    ("ex8.com", "/p/1"), ("ex12.com", "/p/1"), ("ex2.com", "/p/"))
  private[operators] def robotsDuck = robotsRules
    .map { case (h, d) => s"('$h', '$d')" }.mkString(", ")

  /** The URL-level form of the gate: input is any (doc_id, canon_url)
    * relation — batch OR stream (stateless, so it chains in front of the
    * admission topology for free); output keeps canon_url so downstream
    * stages can continue from it. */
  private[graft] def robotsDecideUrls(u: DataFrame): DataFrame = {
    val spark = u.sparkSession
    val parsed = u.select(col("doc_id"), col("canon_url"),
      regexp_extract(col("canon_url"), "^https://([^/]+)", 1).as("host"),
      regexp_extract(col("canon_url"), "^https://[^/]+(/.*)$", 1).as("path"))
    val ruleSets = spark.createDataFrame(robotsRules).toDF("rhost", "dis")
      .groupBy("rhost").agg(array_sort(collect_list(col("dis"))).as("rs"))
    parsed.join(broadcast(ruleSets), col("host") === col("rhost"), "left")
      .select(col("doc_id"), col("canon_url"), col("host"), col("path"),
        expr("array_max(filter(coalesce(rs, array()), r -> startswith(path, r)))").as("rule"))
      .select(col("doc_id"), col("canon_url"), col("host"), col("path"),
        coalesce(col("rule"), lit("")).as("matched_rule"),
        col("rule").isNull.as("allowed"))
  }

  /** APPENDING form of the robots decision (r16, the withLangGate
    * discipline): adds `allowed` to `df` (which must carry canon_url)
    * via the same broadcast rules join — composers avoid a doc_id join
    * per gate. Same expressions as [[robotsDecideUrls]]. */
  private[graft] def withRobotsAllowed(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val ruleSets = spark.createDataFrame(robotsRules).toDF("rhost", "dis")
      .groupBy("rhost").agg(array_sort(collect_list(col("dis"))).as("rs"))
    df.withColumn("__rhost", regexp_extract(col("canon_url"), "^https://([^/]+)", 1))
      .withColumn("__rpath", regexp_extract(col("canon_url"), "^https://[^/]+(/.*)$", 1))
      .join(broadcast(ruleSets), col("__rhost") === col("rhost"), "left")
      .withColumn("allowed", expr(
        "array_max(filter(coalesce(rs, array()), r -> startswith(__rpath, r)))").isNull)
      .drop("__rhost", "__rpath", "rhost", "rs")
  }

  /** q272's body, WITHOUT the presentation sort — the truly stateless
    * form: rules collapse to one array per host (a tiny/broadcast
    * build), the URL side takes ONE equi-join on host, and the longest
    * match is an array HOF per row (robots precedence; matching rules
    * are nested prefixes of the path, so longest = lexicographic max =
    * array_max of the filtered set). ZERO shuffles on the URL side at
    * any corpus size — no (doc, host, path)-keyed aggregate exists —
    * which is also why it runs UNCHANGED on a readStream frontier
    * (stream-static join + map; StatefulStreamingSpec proves stream ≡
    * batch). In production the per-host rule arrays are data-sized:
    * same plan, hash join instead of broadcast. */
  private[graft] def robotsDecisions(docs: DataFrame): DataFrame =
    robotsDecideUrls(Corpus12.canonUrls(docs).select("doc_id", "canon_url"))
      .drop("canon_url")

  /** q272: [[robotsDecisions]] + the deterministic presentation sort. */
  private[graft] def robotsGate(docs: DataFrame): DataFrame =
    robotsDecisions(docs).orderBy("doc_id")

  def defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q272_robots_gate",
      // ROBOTS.TXT FETCH GATE (the admission check upstream of even
      // q266's URL dedup): parse host + path from the canonical URL,
      // match against the per-host disallow-prefix table, block on any
      // match, report the longest matching rule. See robotsGate for the
      // rule fixture and scale shape.
      (s, dir) => robotsGate(Tables.documents(s, dir)),
      Some(s"""WITH c AS (SELECT doc_id, ${Corpus12.canonUrlDuck} AS cu FROM documents),
              |u AS (SELECT doc_id, regexp_extract(cu, '^https://([^/]+)', 1) AS host,
              |regexp_extract(cu, '^https://[^/]+(/.*)$$', 1) AS path FROM c),
              |rules(rhost, dis) AS (VALUES $robotsDuck),
              |m AS (SELECT u.doc_id, u.host, u.path, r.dis
              |FROM u LEFT JOIN rules r ON u.host = r.rhost AND starts_with(u.path, r.dis))
              |SELECT doc_id, host, path, coalesce(max(dis), '') AS matched_rule,
              |max(dis) IS NULL AS allowed
              |FROM m GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q269_host_pagerank",
      // HOST-GRAPH PAGERANK over the content-syndication graph: hosts
      // are linked when they serve the same chunk fingerprint (edge
      // weight = number of shared distinct chunks); two damped rounds
      // (d = 17/20) from the uniform start rank every host. All
      // arithmetic is exact int64 fixed-point (see hostPageRank) — the
      // published rank_scaled column is the exact iterate, `rank` its
      // readable fraction-of-total form. h0, the deliberate
      // heavy-hitter host, should and does dominate.
      (s, dir) => hostPageRank(Tables.documents(s, dir)),
      Some(s"""WITH t AS (SELECT doc_id, ${TextAnalytics.toksDuck} AS w FROM documents),
              |ch AS (SELECT doc_id, array_to_string(w[i*15+1:i*15+20], ' ') AS chunk
              |FROM t, LATERAL (SELECT unnest(generate_series(0, (len(w)-1)//15)) AS i) g WHERE len(w) > 0),
              |hc AS (SELECT DISTINCT md5(chunk) AS fp, ${Corpus12.hostDuck} AS host FROM ch),
              |fps AS (SELECT fp FROM hc GROUP BY 1 HAVING count(*) BETWEEN 2 AND 64),
              |e AS (SELECT a.host AS u, b.host AS v, CAST(count(*) AS BIGINT) AS w
              |FROM hc a JOIN hc b ON a.fp = b.fp AND a.host <> b.host
              |JOIN fps ON fps.fp = a.fp GROUP BY 1, 2),
              |nodes AS (SELECT DISTINCT host FROM hc),
              |ow AS (SELECT n.host, CAST(coalesce(sum(e.w), 0) AS BIGINT) AS wout
              |FROM nodes n LEFT JOIN e ON e.u = n.host GROUP BY 1),
              |t0 AS (SELECT host, CAST(1000000000000 AS BIGINT) AS t FROM nodes),
              |c0 AS (SELECT e.v AS host, CAST(sum((t0.t // ow.wout) * e.w + ((t0.t % ow.wout) * e.w) // ow.wout) AS BIGINT) AS m
              |FROM e JOIN t0 ON t0.host = e.u JOIN ow ON ow.host = e.u GROUP BY 1),
              |t1 AS (SELECT n.host, (3 * 1000000000000) // 20 + (17 * coalesce(c0.m, 0)) // 20 AS t
              |FROM nodes n LEFT JOIN c0 ON c0.host = n.host),
              |c1 AS (SELECT e.v AS host, CAST(sum((t1.t // ow.wout) * e.w + ((t1.t % ow.wout) * e.w) // ow.wout) AS BIGINT) AS m
              |FROM e JOIN t1 ON t1.host = e.u JOIN ow ON ow.host = e.u GROUP BY 1),
              |t2 AS (SELECT n.host, CAST((3 * 1000000000000) // 20 + (17 * coalesce(c1.m, 0)) // 20 AS BIGINT) AS t
              |FROM nodes n LEFT JOIN c1 ON c1.host = n.host),
              |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes)
              |SELECT t2.host AS host, ow.wout AS out_w, t2.t AS rank_scaled,
              |round(t2.t * 1.0 / (nn.n * 1000000000000), 6) AS rank
              |FROM t2 JOIN ow ON ow.host = t2.host, nn
              |ORDER BY rank_scaled DESC, t2.host""".stripMargin.replace("\n", " ")))
  )
}
