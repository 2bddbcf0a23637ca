package graft

import org.scalatest.funsuite.AnyFunSuite

/** Behavioral checks for q269 (host-graph PageRank): a full local
  * integer replay of the syndication-edge derivation and both damped
  * rounds, plus the mass and dominance invariants.
  */
class Corpus13Spec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("q269 host pagerank: local integer replay of edges and both rounds") {
    val S = 1000000000000L
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    def host(id: Long) = if (id % 3 == 0) "h0" else s"h${id % 23 + 1}"
    // (fp → distinct hosts) over the q93 chunking; fp stands in for the
    // chunk string itself (md5 is injective on this corpus per q260)
    val hc = docs.flatMap { case (id, text) =>
      val w = text.toLowerCase.split(" ").filter(_.nonEmpty).toSeq
      if (w.isEmpty) Seq.empty
      else (0 to (w.length - 1) / 15).map { i =>
        (w.slice(i * 15, i * 15 + 20).mkString(" "), host(id))
      }
    }.distinct
    val nodes = hc.map(_._2).distinct.sorted
    val byChunk = hc.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      .filter { case (_, hs) => hs.size >= 2 && hs.size <= 64 }
    val e = byChunk.toSeq.flatMap { case (_, hs) =>
      for (u <- hs.toSeq; v <- hs.toSeq if u != v) yield (u, v)
    }.groupBy(identity).map { case ((u, v), o) => (u, v, o.size.toLong) }.toSeq
    val bigW = e.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var t = nodes.map(_ -> S).toMap
    for (_ <- 1 to 2) {
      val m = e.groupBy(_._2).view.mapValues(_.map { case (u, _, w) =>
        (t(u) / bigW(u)) * w + ((t(u) % bigW(u)) * w) / bigW(u)
      }.sum).toMap
      t = nodes.map(h => h -> ((3L * S) / 20L + 17L * m.getOrElse(h, 0L) / 20L)).toMap
    }
    val exp = nodes.map { h =>
      (h, bigW.getOrElse(h, 0L), t(h),
        BigDecimal(t(h) * 1.0 / (nodes.size * S))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (h, _, ts, _) => (-ts, h) }
    val got = SparkEntry.queries("q269_host_pagerank")(spark, sfDir)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got == exp)
    // dominance: the deliberate heavy-hitter host outranks everyone
    assert(got.head._1 == "h0" && got.head._3 > got(1)._3)
    // mass: fixed-point total never exceeds N·S (floor + dangling only lose)
    assert(got.map(_._3).sum <= nodes.size * S)
    // the graph is real on this corpus: edges exist and a dangling or
    // low-connectivity host sits at the uniform-teleport floor
    assert(e.nonEmpty)
    assert(got.last._3 >= (3L * S) / 20L)
  }

  test("q269 syndication-width cap binds: a universal chunk contributes no edges") {
    // The cap is non-binding on the 24-host corpus, so exercise it at
    // maxHosts = 3 on a fixture: one chunk shared by the hosts of docs
    // 1/2/4/5/8 (width 5 > 3 — the 'universal boilerplate' class the
    // cap exists for at web scale) must contribute NOTHING, while a
    // chunk shared by docs 7 and 14 (width 2, hosts h8/h15) forms the
    // only edges. 15 identical tokens = exactly one chunk per doc (20
    // would add a stride-15 tail chunk and double every weight); no
    // doc_id is a multiple of 3, so no host collapses onto h0.
    def doc(id: Long, tok: String) = (id, Seq.fill(15)(tok).mkString(" "))
    val fixture = (Seq(1L, 2L, 4L, 5L, 8L).map(doc(_, "wide")) ++
      Seq(doc(7L, "pair"), doc(14L, "pair"))).toDF("doc_id", "text")
    val got = operators.Corpus13.hostPageRank(fixture, maxHosts = 3)
      .as[(String, Long, Long, Double)].collect().toSeq
    // the wide-chunk hosts (h2 h3 h5 h6 h9) all dangling (out_w = 0);
    // h8 and h15 (docs 7, 14) carry the single pair edge each way
    val byHost = got.map(r => r._1 -> r._2).toMap
    assert(byHost.keySet == Set("h2", "h3", "h5", "h6", "h9", "h8", "h15"))
    Seq("h2", "h3", "h5", "h6", "h9").foreach(h => assert(byHost(h) == 0L, h))
    assert(byHost("h8") == 1L && byHost("h15") == 1L)
    // and the uncapped run keeps the wide chunk's edges
    val uncapped = operators.Corpus13.hostPageRank(fixture, maxHosts = 64)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(uncapped("h2") == 4L) // 4 partners via the wide chunk
  }

  test("q269 iterative form: 2-round prefix equals the declarative unroll exactly") {
    // the per-round pin discipline: the per-round-pinned iterative
    // form must be BIT-EQUAL to q269's declarative 2-round unroll (all
    // arithmetic is int64 fixed-point, so equality is exact, not
    // tolerance-based), certifying the iterative path for real round
    // counts where the unrolled lineage would be intractable.
    val docs = Tables.documents(spark, sfDir)
    val unrolled = operators.Corpus13.hostPageRank(docs)
      .as[(String, Long, Long, Double)].collect().toSeq
    val iterative = operators.Corpus13.hostPageRankIterative(docs, 2)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(iterative == unrolled)
    // more rounds keep the fixed-point invariants: total mass below N·S
    // (dangling hosts leak mass) and every rank at least the teleport
    // floor 3S/20
    val r4 = operators.Corpus13.hostPageRankIterative(docs, 4)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(r4.map(_._3).sum < r4.size * 1000000000000L)
    assert(r4.forall(_._3 >= 3L * 1000000000000L / 20L))
    assert(r4.map(_._1).sorted == unrolled.map(_._1).sorted)
  }

  test("q272 robots gate: local longest-match replay; every rule class fires") {
    val rules = Seq("ex0.com" -> "/p/1", "ex4.com" -> "/p/1",
      "ex4.com" -> "/p/15", "ex8.com" -> "/p/1", "ex12.com" -> "/p/1",
      "ex2.com" -> "/p/")
    val ids = Tables.documents(spark, sfDir)
      .select("doc_id").as[Long].collect().toSeq
    // q266's proven canonical form: host ex{id%50}.com, path /p/{id%200}
    val expected = ids.map { id =>
      val host = s"ex${id % 50}.com"
      val path = s"/p/${id % 200}"
      val ms = rules.collect { case (h, d) if h == host && path.startsWith(d) => d }
      (id, host, path, if (ms.isEmpty) "" else ms.max, ms.isEmpty)
    }.sortBy(_._1)
    val got = SparkEntry.queries("q272_robots_gate")(spark, sfDir)
      .as[(Long, String, String, String, Boolean)].collect().toSeq
    assert(got == expected)
    // every rule class fires on this corpus:
    // nested prefixes resolve to the LONGEST match (doc 154/354: ex4
    // /p/154 matches both /p/1 and /p/15)...
    assert(got.exists(r => r._2 == "ex4.com" && r._4 == "/p/15" && !r._5))
    // ...the disallow-everything host blocks ALL its docs...
    val ex2 = got.filter(_._2 == "ex2.com")
    assert(ex2.nonEmpty && ex2.forall(!_._5))
    // ...and the gate discriminates (blocked and allowed both occur)
    assert(got.exists(!_._5) && got.exists(_._5))
  }
}
