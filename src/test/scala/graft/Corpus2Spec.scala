package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral checks for the q102-q112 selection/encoding tranche — what
  * the DuckDB oracle can't see: invariants (coverage, budgets, balance),
  * determinism under repartitioning, and invariants of the shared
  * primitives (globalIndex/globalPrefixSum have direct unit coverage in
  * IndexingSpec; their no-SinglePartition plans are pinned in
  * PlanShapeSpec).
  */
class Corpus2Spec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("q102 encoding round-trips: in-vocab ids decode back to the original tokens") {
    val enc = SparkEntry.queries("q102_vocab_encode")(spark, sfDir)
      .select("doc_id", "ids", "n_oov", "n_toks")
      .as[(Long, String, Long, Long)].collect()
    assert(enc.nonEmpty)
    val toks = Tables.documents(spark, sfDir)
      .select($"doc_id", expr(operators.TextAnalytics.toksExpr).as("w"))
      .as[(Long, Seq[String])].collect().toMap
    // rebuild the vocab the query's contract declares: top-50 by (count
    // desc, token asc), ids 0..49
    val vocab = toks.values.flatten
      .groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy { case (t, c) => (-c, t) }.take(50).map(_._1)
      .zipWithIndex.toMap
    enc.foreach { case (d, ids, nOov, nToks) =>
      val w = toks(d)
      assert(nToks == w.size, s"doc $d token count")
      val encoded = ids.split(' ').map(_.toLong)
      assert(encoded.length == w.size, s"doc $d id-sequence length")
      val expected = w.map(t => vocab.get(t).map(_.toLong).getOrElse(-1L))
      assert(encoded.toSeq == expected, s"doc $d id sequence")
      assert(nOov == expected.count(_ == -1L), s"doc $d oov count")
    }
  }

  test("q103 fills the budget maximally in priority order") {
    val sel = SparkEntry.queries("q103_token_budget")(spark, sfDir)
      .select("doc_id", "n_chars", "n_toks", "run")
      .as[(Long, Long, Long, Long)].collect()
    assert(sel.nonEmpty)
    assert(sel.forall(_._4 <= 10000L), "every inclusive running total within budget")
    // selection is the exact prefix of the (n_chars desc, doc_id) order:
    // the first unselected doc must overflow the budget
    val all = Tables.documents(spark, sfDir)
      .select($"doc_id", $"n_chars",
        expr(s"CAST(size(${operators.TextAnalytics.toksExpr}) AS BIGINT)"))
      .as[(Long, Long, Long)].collect()
      .sortBy { case (d, c, _) => (-c, d) }
    val runs = all.scanLeft(0L) { case (acc, (_, _, t)) => acc + t }.tail
    val expectedKeep = all.zip(runs).takeWhile(_._2 <= 10000L)
    assert(sel.map(_._1).toSeq == expectedKeep.map(_._1._1).toSeq,
      "selected ids are the exact budget prefix")
    if (expectedKeep.length < all.length)
      assert(runs(expectedKeep.length) > 10000L, "next doc would overflow")
  }

  test("q104 mixture sampling hits per-source fractions and is repartition-stable") {
    val q = SparkEntry.queries("q104_mixture_sample")
    val kept = q(spark, sfDir).select("doc_id", "source").as[(Long, String)].collect()
    assert(kept.nonEmpty)
    val totals = Tables.documents(spark, sfDir).groupBy("source").count()
      .as[(String, Long)].collect().toMap
    totals.keys.foreach { src =>
      val frac = (src.drop(3).toInt % 4 + 1) / 4.0
      val got = kept.count(_._2 == src).toDouble / totals(src)
      // sf0.001 has 25 docs/source — binomial noise is wide; just pin
      // the ordering property: fraction-1.0 sources keep everything
      if (frac == 1.0) assert(got == 1.0, s"$src: frac-1.0 source must keep all docs")
      else assert(got <= 1.0 && math.abs(got - frac) < 0.35, s"$src: got $got want ~$frac")
    }
    // the keep set is pure content-hash arithmetic — recompute it OFF
    // Spark (so no physical layout, partitioning, or engine state can
    // influence it) and demand exact equality
    val expected = Tables.documents(spark, sfDir)
      .select("doc_id", "source").as[(Long, String)].collect()
      .filter { case (d, src) =>
        val u = java.lang.Long.parseLong(
          org.apache.commons.codec.digest.DigestUtils.md5Hex(d.toString).take(4), 16)
        val fracNum = src.drop(3).toInt % 4 + 1
        u * 4 < 65536L * fracNum
      }.map(_._1).sorted
    assert(kept.map(_._1).sorted.toSeq == expected.toSeq)
  }

  test("q107 eval docs are fully contaminated; disjoint docs score 0") {
    val c = SparkEntry.queries("q107_ngram_contamination")(spark, sfDir)
      .select("doc_id", "contamination").as[(Long, Double)].collect().toMap
    assert(c(3L) == 1.0 && c(7L) == 1.0, "eval docs overlap themselves completely")
    assert(c.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(c.values.count(_ == 0.0) > 0, "some doc shares no 5-gram with the eval set")
  }

  test("q108 keeps exactly the docs at/above the exact 75th percentile") {
    val rows = SparkEntry.queries("q108_percentile_gate")(spark, sfDir)
      .select("doc_id", "n_chars", "thr", "kept")
      .as[(Long, Long, Double, Boolean)].collect()
    val chars = rows.map(_._2.toDouble).sorted
    val idx = 0.75 * (chars.length - 1)
    val lo = chars(idx.toInt)
    val hi = chars(math.ceil(idx).toInt)
    val thr = lo + (idx - idx.toInt) * (hi - lo)
    assert(math.abs(rows.head._3 - thr) < 1e-9, "interpolated percentile")
    rows.foreach { case (d, c, t, k) => assert(k == (c >= t), s"doc $d gate bit") }
    val kept = rows.count(_._4).toDouble / rows.length
    assert(kept >= 0.2 && kept <= 0.35, s"~25% pass a p75 gate, got $kept")
  }

  test("q109 shards are balanced and partition all documents") {
    val shards = SparkEntry.queries("q109_shard_assign")(spark, sfDir)
      .select("shard", "n_docs", "total_toks").as[(Long, Long, Long)].collect()
    assert(shards.map(_._1).sorted.toSeq == (0L until 8L))
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(shards.map(_._2).sum == nDocs, "every doc lands in exactly one shard")
    val toks = shards.map(_._3)
    // LPT round-robin on the 500-doc fixture: token totals within ~20%
    assert(toks.max - toks.min <= toks.max / 5, s"balance: ${toks.mkString(",")}")
  }

  test("q113 fuzzy pairs respect the block, the band, and the edit bound") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val pairs = SparkEntry.queries("q113_fuzzy_join")(spark, sfDir)
      .select("doc_a", "doc_b", "title_a", "title_b", "dist")
      .as[(Long, Long, String, String, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b, ta, tb, dist) =>
      assert(a < b, "canonical orientation")
      assert(ta.split(' ').head == tb.split(' ').head, "same block key")
      assert(dist == lev(ta, tb), s"($a,$b) reported distance")
      assert(dist <= 3)
    }
    // the exact-dup pairs (distance 0) must all be present
    val dup0 = pairs.count(_._5 == 0L)
    assert(dup0 > 0, "corpus has exact title dups; the join must surface them")
  }

  test("q114 PageRank conserves mass and covers exactly the graph's nodes") {
    val pr = SparkEntry.queries("q114_pagerank")(spark, sfDir)
      .select("doc_id", "pr").as[(Long, Double)].collect()
    assert(pr.nonEmpty)
    assert(pr.forall(_._2 > 0.0))
    // symmetric graph + no dangling nodes → total rank stays 1.0
    assert(math.abs(pr.map(_._2).sum - 1.0) < 1e-3, s"mass = ${pr.map(_._2).sum}")
    assert(pr.map(_._1).distinct.length == pr.length)
  }

  test("q115 fills each source's budget maximally in priority order") {
    val sel = SparkEntry.queries("q115_group_budget")(spark, sfDir)
      .select("doc_id", "source", "n_toks", "src_run")
      .as[(Long, String, Long, Long)].collect()
    assert(sel.nonEmpty)
    assert(sel.forall(_._4 <= 600L))
    assert(sel.length < Tables.documents(spark, sfDir).count(),
      "the budget must actually cut — a budget above every source's total selects nothing")
    val bySrc = sel.groupBy(_._2)
    assert(bySrc.keySet == Tables.documents(spark, sfDir)
      .select("source").distinct().as[String].collect().toSet,
      "every source fills some of its budget")
    val all = Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"n_chars",
        expr(s"CAST(size(${operators.TextAnalytics.toksExpr}) AS BIGINT)"))
      .as[(Long, String, Long, Long)].collect()
    all.groupBy(_._2).foreach { case (src, docs) =>
      val ordered = docs.sortBy { case (d, _, c, _) => (-c, d) }
      val runs = ordered.scanLeft(0L) { case (acc, (_, _, _, t)) => acc + t }.tail
      val expected = ordered.zip(runs).takeWhile(_._2 <= 600L).map(_._1._1)
      assert(bySrc(src).map(_._1).sorted.toSeq == expected.sorted.toSeq,
        s"$src: exact per-source budget prefix")
    }
  }

  test("q116 containment flags exact dups at 1.0 and stays within [0,1]") {
    val rows = SparkEntry.queries("q116_containment")(spark, sfDir)
      .select("doc_a", "doc_b", "cont_a", "cont_b")
      .as[(Long, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, ca, cb) =>
      assert(a < b)
      assert(ca > 0.0 && ca <= 1.0 && cb > 0.0 && cb <= 1.0)
      assert(math.max(ca, cb) >= 0.8, "only high-containment pairs are reported")
    }
    // the corpus's near-dups are not shingle-identical (q113's dist-0
    // pairs share only the 5-token TITLE), so mutual 1.0 doesn't occur —
    // but one-sided full containment (every capped shingle of the
    // shorter doc inside the longer) does, and that sub-document case
    // is precisely what this operator exists to flag
    assert(rows.exists { case (_, _, ca, cb) => math.max(ca, cb) == 1.0 })
  }

  test("q117 shared spans are genuine verbatim runs, bounded by the true LCS") {
    // longest common token substring by DP
    def lcs(a: Array[String], b: Array[String]): Int = {
      var best = 0
      val dp = Array.ofDim[Int](b.length + 1)
      for (i <- 1 to a.length) {
        var prev = 0
        for (j <- 1 to b.length) {
          val cur = dp(j)
          dp(j) = if (a(i - 1) == b(j - 1)) prev + 1 else 0
          if (dp(j) > best) best = dp(j)
          prev = cur
        }
      }
      best
    }
    val spans = SparkEntry.queries("q117_shared_spans")(spark, sfDir)
      .select("doc_a", "doc_b", "longest_span").as[(Long, Long, Long)].collect()
    assert(spans.nonEmpty)
    val toks = Tables.documents(spark, sfDir)
      .select($"doc_id", expr(operators.TextAnalytics.toksExpr))
      .as[(Long, Seq[String])].collect().toMap
    spans.foreach { case (a, b, span) =>
      assert(a < b && span >= 12)
      val true_ = lcs(toks(a).toArray, toks(b).toArray)
      // the df cap can only REMOVE evidence (a popular 8-gram inside a
      // span), never invent it — reported span ≤ the true LCS
      assert(span <= true_, s"($a,$b): reported $span > true LCS ${true_}")
    }
    // and on pairs whose evidence survives the cap, it is exact
    assert(spans.exists { case (a, b, span) =>
      span == lcs(toks(a).toArray, toks(b).toArray) })
  }

  test("q112 sample is the global top-k by content hash and repartition-stable") {
    val q = SparkEntry.queries("q112_sample_uniform")
    val s1 = q(spark, sfDir).select("doc_id", "h").as[(Long, String)].collect()
    val all = Tables.documents(spark, sfDir).select("doc_id").as[Long].collect()
    assert(s1.length == math.min(100, all.length))
    val expected = all.map(d =>
        (d, org.apache.commons.codec.digest.DigestUtils.md5Hex(d.toString).take(8)))
      .sortBy { case (d, h) => (h, d) }.take(100)
    assert(s1.toSeq == expected.toSeq, "exact hash-order prefix")
  }

  test("q120 scrub removes exactly the span-covered victim tokens and reassembles") {
    val got = SparkEntry.queries("q120_span_scrub")(spark, sfDir)
      .select("doc_id", "n_toks", "n_kept", "n_removed", "clean_md5")
      .as[(Long, Long, Long, Long, String)].collect()
    val toks = localToks
    assert(got.length == toks.size, "every document is reported")
    // replay the scrub locally from the factored island relation: victim
    // intervals → kept positions → reassembled text
    val iv = operators.Corpus2.sharedSpanIslands(Tables.documents(spark, sfDir))
      .filter($"span" >= 12)
      .select($"doc_b", $"lo_a" - $"diag", $"hi_a" - $"diag" + 7)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3))).toMap
    got.foreach { case (d, nToks, nKept, nRemoved, md5Got) =>
      val w = toks(d)
      assert(nToks == w.length && nKept + nRemoved == nToks, s"doc $d counts")
      val ranges = iv.getOrElse(d, Array.empty[(Long, Long)])
      val kept = w.zipWithIndex.collect {
        case (t, p) if !ranges.exists(r => p >= r._1 && p <= r._2) => t
      }
      assert(nKept == kept.length, s"doc $d kept count")
      assert(md5Got ==
        org.apache.commons.codec.digest.DigestUtils.md5Hex(kept.mkString(" ")),
        s"doc $d cleaned text")
    }
    // the corpus's embedded near-dups make this non-vacuous: something
    // is scrubbed, and untouched docs pass through verbatim
    assert(got.exists(_._4 > 0), "at least one doc scrubbed")
    assert(got.exists(g => g._4 == 0 &&
      g._5 == org.apache.commons.codec.digest.DigestUtils.md5Hex(
        toks(g._1).mkString(" "))), "untouched doc reassembles identically")
  }

  /** Textbook greedy BPE over a word-frequency table — the reference
    * both the oracled q121 and the 10-merge training are held to (ASCII
    * only: it splits words by UTF-16 unit). */
  private def referenceBpe(words: Map[String, Long], rounds: Int)
      : (Map[String, Vector[String]], Seq[String]) = {
    var syms: Map[String, Vector[String]] =
      words.keys.map(w => w -> w.split("").toVector).toMap
    val merges = scala.collection.mutable.Buffer[String]()
    for (_ <- 1 to rounds) {
      val cnt = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
      for ((w, ss) <- syms; p <- ss.sliding(2).filter(_.length == 2))
        cnt((p(0), p(1))) += words(w)
      val best = cnt.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
      merges += s"${best._1}+${best._2}"
      syms = syms.map { case (w, ss) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < ss.length) {
          if (i + 1 < ss.length && ss(i) == best._1 && ss(i + 1) == best._2) {
            out += ss(i) + ss(i + 1); i += 2
          } else { out += ss(i); i += 1 }
        }
        w -> out.result()
      }
    }
    (syms, merges.toSeq)
  }

  private def wordFreqs: Map[String, Long] = localToks.values.flatten.toSeq
    .groupBy(identity).view.mapValues(_.size.toLong).toMap

  test("q121 matches a reference BPE implementation: merges, symbolizations, coverage") {
    val got = SparkEntry.queries("q121_bpe_merges")(spark, sfDir)
      .select("word", "freq", "syms", "merge1", "merge2", "merge3")
      .as[(String, Long, String, String, String, String)].collect()
    assert(got.nonEmpty)
    val words = wordFreqs
    val (syms, merges) = referenceBpe(words, 3)
    assert(got.map(_._1).toSet == words.keySet, "every vocab word symbolized")
    got.foreach { case (w, f, s, m1, m2, m3) =>
      assert(f == words(w), s"word $w freq")
      assert(Seq(m1, m2, m3) == merges, "learned merge sequence")
      assert(s == syms(w).mkString(" "), s"word $w symbolization")
    }
  }

  test("BPE trainer at 10 merges matches the reference; its first 3 merges are q121's") {
    val rows = operators.Corpus2.bpeMerges(Tables.documents(spark, sfDir), 10).collect()
    val merges = (1 to 10).map(r => rows.head.getAs[String](s"merge$r"))
    val (refSyms, refMerges) = referenceBpe(wordFreqs, 10)
    assert(merges == refMerges, s"merges $merges vs $refMerges")
    // the first three merges are exactly the oracled q121 sequence
    val q121 = SparkEntry.queries("q121_bpe_merges")(spark, sfDir)
      .select("merge1", "merge2", "merge3").as[(String, String, String)].head()
    assert(merges.take(3) == Seq(q121._1, q121._2, q121._3))
    val got = rows.map(r => r.getAs[String]("word") -> r.getAs[String]("syms")).toMap
    assert(got.keySet == refSyms.keySet)
    got.foreach { case (w, s) =>
      assert(s == refSyms(w).mkString(" "), s"word $w after 10 merges")
    }
  }

  test("BPE edge cases: repeated-symbol merges, UTF-8 tie order, code-point split, no pairs") {
    // U+FB00 (LATIN SMALL LIGATURE FF) sorts BEFORE U+1D49C (MATHEMATICAL
    // SCRIPT CAPITAL A) in code-point / UTF-8 order but AFTER it in UTF-16
    // order (0xFB00 > the 0xD835 high surrogate); `lower` keeps both
    val ff = "\uFB00"
    val sa = new String(Character.toChars(0x1D49C))
    val docs = Seq((1L, s"aaaa ${ff}b ${ff}b"), (2L, s"${sa}b b$sa ${sa}b")).toDF("doc_id", "text")
    // vocab aaaa:1, ﬀb:2, 𝒜b:2, b𝒜:1 — by hand:
    //  1: a+a 3 (overlapping: aaaa holds it 3×) → aaaa = [aa, aa]
    //  2: ﬀ+b 2 ties 𝒜+b 2; ﬀ < 𝒜 in UTF-8 order
    //  3: 𝒜+b 2
    //  4: aa+aa 1 ties b+𝒜 1; "aa" < "b"
    val got = operators.Corpus2.bpeMerges(docs, 4)
      .select("word", "freq", "syms", "merge1", "merge2", "merge3", "merge4")
      .as[(String, Long, String, String, String, String, String)].collect().sortBy(_._1)
    val merges = ("a+a", s"$ff+b", s"$sa+b", "aa+aa")
    val expected = Seq(
      ("aaaa", 1L, "aaaa"), (s"b$sa", 1L, s"b $sa"), (s"${ff}b", 2L, s"${ff}b"), (s"${sa}b", 2L, s"${sa}b"))
      .map { case (w, f, s) => (w, f, s, merges._1, merges._2, merges._3, merges._4) }
    assert(got.toSeq == expected.sortBy(_._1))
    // b𝒜 splits into 2 code points, not 3 UTF-16 units: round 5 fuses
    // them, and no 6th merge exists — fewer than `rounds` is empty
    assert(operators.Corpus2.bpeMerges(docs, 5).select("merge5").as[String].collect()
      .distinct.toSeq == Seq(s"b+$sa"))
    assert(operators.Corpus2.bpeMerges(docs, 6).isEmpty)
    // one-character words (𝒜 is one code point) hold no pair at all
    val singles = Seq((1L, s"x $sa $ff x")).toDF("doc_id", "text")
    assert(operators.Corpus2.bpeMerges(singles, 1).isEmpty)
  }

  test("q122 encoding is consistent with q121's symbolizations, word by word") {
    val symLen = SparkEntry.queries("q121_bpe_merges")(spark, sfDir)
      .select("word", "syms").as[(String, String)].collect()
      .map { case (w, s) => w -> s.split(' ').length.toLong }.toMap
    val got = SparkEntry.queries("q122_bpe_encode")(spark, sfDir)
      .select("doc_id", "n_words", "n_bpe", "fertility")
      .as[(Long, Long, Long, Double)].collect()
    val toks = localToks
    assert(got.length == toks.count(_._2.nonEmpty))
    got.foreach { case (d, nW, nB, fert) =>
      val w = toks(d)
      assert(nW == w.length, s"doc $d word count")
      val expected = w.map(symLen).sum
      assert(nB == expected, s"doc $d bpe symbol count")
      assert(math.abs(fert - nB.toDouble / nW) <= 1e-4, s"doc $d fertility")
      assert(fert >= 1.0, "a word never encodes to fewer than 1 symbol")
    }
  }

  test("q125 z-order buckets bound both dimensions; the curve key matches a local Morton recompute") {
    val got = SparkEntry.queries("q125_zorder_layout")(spark, sfDir)
      .select("bucket", "n", "min_x", "max_x", "min_y", "max_y")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    // locality: z >> 8 fixes the top 4 bits of each coordinate, so any
    // bucket spans ≤ 16 consecutive values of x (scaled ×4 outside) and
    // of y — far narrower than the global extents
    got.foreach { case (b, n, minX, maxX, minY, maxY) =>
      assert(n > 0 && maxX - minX <= 15 && maxY - minY <= 15, s"bucket $b locality")
    }
    // exact curve key: recompute z locally from the raw table
    def morton(x: Long, y: Long): Long =
      (0 until 8).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    val docs = Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "n_chars", "CAST(substr(source, 4) AS BIGINT) AS y")
      .as[(Long, Long, Long)].collect()
    val local = docs
      .map { case (_, nc, y) => morton(math.min(nc / 4, 255L), y) >> 8 }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got.map(g => g._1 -> g._2).toMap == local, "bucket histogram")
    // the layout materialized: writeOrdered on z cuts files whose
    // parquet footers bound BOTH x and y (the pruning evidence)
    val out = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val z = Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "least(n_chars div 4, 255L) AS x",
        "CAST(substr(source, 4) AS BIGINT) AS y")
      .withColumn("z", expr(
        (0 until 8).map(i =>
          s"shiftleft(shiftright(x, $i) & 1, ${2 * i}) + shiftleft(shiftright(y, $i) & 1, ${2 * i + 1})")
          .mkString(" + ")).cast("long"))
    graft.sources.Sinks.writeOrdered(z, Seq(col("z"), col("doc_id")), out, Some(8))
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length > 1)
    val globalSpanX = 255L
    val avgSpanX = files.map { f =>
      val d = spark.read.parquet(f.getPath).agg(max("x") - min("x")).as[Long].head()
      d
    }.sum.toDouble / files.length
    assert(avgSpanX < globalSpanX / 2.0,
      s"z-ordered files localize x (avg span $avgSpanX vs global $globalSpanX)")
  }

  private def localToks: Map[Long, Array[String]] =
    Tables.documents(spark, sfDir).select("doc_id", "text")
      .as[(Long, String)].collect()
      .map { case (d, t) => d -> t.toLowerCase.split(' ').filter(_.nonEmpty) }
      .toMap

  test("q118 cross-entropy matches an independent local bigram-LM recompute") {
    val got = SparkEntry.queries("q118_lm_score")(spark, sfDir)
      .select("doc_id", "n_bi", "ce").as[(Long, Long, Double)].collect()
    assert(got.nonEmpty)
    val toks = localToks
    val bigrams = toks.toSeq.flatMap { case (_, w) => w.sliding(2).filter(_.length == 2) }
      .map(p => (p(0), p(1)))
    val cBi = bigrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cCtx = bigrams.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val v = toks.values.flatten.toSet.size.toDouble
    got.foreach { case (d, nBi, ce) =>
      val w = toks(d)
      assert(nBi == math.max(0, w.length - 1), s"doc $d bigram count")
      // fold in document (position) order, like the query
      val s = w.sliding(2).filter(_.length == 2).map { p =>
        math.log((cBi((p(0), p(1))) + 1.0) / (cCtx(p(0)) + v))
      }.foldLeft(0.0)(_ + _)
      assert(math.abs(ce - (-s / nBi)) <= 1e-4, s"doc $d ce $ce vs ${-s / nBi}")
    }
    // discriminative sanity: scores vary across the corpus
    assert(got.map(_._3).distinct.length > 10)
  }

  test("q119 importance weights match a local recompute and rank the target docs on top") {
    val toks = localToks
    def bucket(tok: String): Long = {
      val hx = org.apache.commons.codec.digest.DigestUtils.md5Hex(tok).take(2)
      java.lang.Long.parseLong(hx, 16)
    }
    val buckets = toks.view.mapValues(_.map(bucket)).toMap
    val cC = buckets.values.flatten.toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val target = Seq(3L, 7L)
    val cT = target.flatMap(buckets(_)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nC = cC.values.sum.toDouble
    val nT = target.map(buckets(_).length).sum.toDouble
    def wgt(b: Long): Double =
      math.log(((cT.getOrElse(b, 0L) + 1.0) / (nT + 256.0)) /
        ((cC(b) + 1.0) / (nC + 256.0)))
    val local = buckets.map { case (d, bs) =>
      d -> bs.foldLeft(0.0)((a, b) => a + wgt(b)) / bs.length
    }
    // the full scored relation (the declared query limits to 30)
    val full = operators.Corpus2.importanceWeights(
        Tables.documents(spark, sfDir), target)
      .select("doc_id", "n_toks", "llr").as[(Long, Long, Double)].collect()
    assert(full.length == toks.count(_._2.nonEmpty))
    full.foreach { case (d, n, llr) =>
      assert(n == toks(d).length, s"doc $d token count")
      assert(math.abs(llr - local(d)) <= 1e-4, s"doc $d llr $llr vs ${local(d)}")
    }
    // the target docs ARE distributed like the target: both in the top 10
    val ranked = full.sortBy { case (d, _, llr) => (-llr, d) }.map(_._1).toSeq
    target.foreach { d =>
      assert(ranked.indexOf(d) < 10, s"target doc $d rank ${ranked.indexOf(d)}")
    }
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("q130 epoch mix: tier multiplicities from q100's bits, hash-total order, contiguous batches") {
    val got = SparkEntry.queries("q130_epoch_mixing")(spark, sfDir)
      .select("idx", "doc_id", "copy_idx", "n_copies", "batch_id")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    // multiplicity per doc = the declared tier rule applied to the
    // PUBLISHED q100 gate bits (shared body — but recheck the contract)
    val bits = SparkEntry.queries("q100_quality_gate")(spark, sfDir)
      .select("doc_id", "len_ok", "stop_ok", "toklen_ok", "rep_ok")
      .as[(Long, Boolean, Boolean, Boolean, Boolean)].collect()
    val wantCopies = bits.map { case (d, a, b, c, e) =>
      val nq = Seq(a, b, c, e).count(identity)
      d -> (nq match { case 4 => 3L; case 3 => 2L; case 2 => 1L; case _ => 0L })
    }.toMap
    val gotCopies = got.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    wantCopies.foreach { case (d, n) =>
      assert(gotCopies.getOrElse(d, 0L) == n, s"doc $d copies")
    }
    // every copy run is 1..n_copies exactly once
    got.groupBy(_._2).foreach { case (d, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.head._4).toSeq, s"doc $d copy idxs")
    }
    // idx is the contiguous ordinal of ascending (md5(copy:doc), doc, copy)
    val n = got.length
    assert(got.map(_._1).sorted.toSeq == (0L until n).toSeq, "idx not a permutation")
    val expectedOrder = got
      .map { case (_, d, c, _, _) => (md5hex(s"$c:$d"), d, c) }.sorted
    val gotOrder = got.sortBy(_._1)
      .map { case (_, d, c, _, _) => (md5hex(s"$c:$d"), d, c) }.toSeq
    assert(gotOrder == expectedOrder.toSeq, "hash-shuffle order broken")
    // batch = idx div 32
    got.foreach { case (i, _, _, _, b) => assert(b == i / 32, s"idx $i batch") }
    // the mix is non-trivial on this corpus: several tiers are populated
    // (no doc here fails ≥3 gate rules, so the drop tier stays empty)
    assert(wantCopies.values.exists(_ >= 2), "no doc upsampled")
    assert(wantCopies.values.toSet.size >= 2, "single-tier mix — vacuous")
  }

  test("q132 source-calibrated gate: exact local percent_rank + global median recompute") {
    val got = SparkEntry.queries("q132_source_calibrated_gate")(spark, sfDir)
      .select("doc_id", "source", "n_chars", "pct", "kept_local", "kept_global")
      .as[(Long, String, Long, Double, Boolean, Boolean)].collect()
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "source", "n_chars").as[(Long, String, Long)].collect()
    assert(got.length == docs.length)
    // interpolated global median (quantile_cont 0.5)
    val sorted = docs.map(_._3.toDouble).sorted
    val h = 0.5 * (sorted.length - 1)
    val gthr = sorted(h.toInt) +
      (h - h.toInt) * (sorted(math.min(h.toInt + 1, sorted.length - 1)) - sorted(h.toInt))
    // percent_rank within source: (rank - 1) / (n - 1), ties share rank
    val bySource = docs.groupBy(_._2)
    val localPct = docs.map { case (d, s, c) =>
      val xs = bySource(s).map(_._3)
      val rank = xs.count(_ < c) + 1
      d -> (if (xs.length == 1) 0.0
            else math.rint((rank - 1).toDouble / (xs.length - 1) * 1e4) / 1e4)
    }.toMap
    got.foreach { case (d, _, c, pct, kl, kg) =>
      assert(pct == localPct(d), s"doc $d pct $pct vs ${localPct(d)}")
      assert(kl == (pct >= 0.5), s"doc $d kept_local")
      assert(kg == (c >= gthr), s"doc $d kept_global")
    }
    // calibration is non-vacuous: the two verdicts disagree somewhere
    assert(got.exists { case (_, _, _, _, kl, kg) => kl != kg },
      "local and global gates never disagree — corpus can't show the effect")
  }

  test("q135 weighted sample: exact Efraimidis-Spirakis recompute, and weighting is real") {
    val got = SparkEntry.queries("q135_weighted_sample")(spark, sfDir)
      .select("doc_id", "n_toks", "skey").as[(Long, Long, Double)].collect()
    assert(got.length == 50)
    val toks = Tables.documents(spark, sfDir)
      .select($"doc_id", size(expr(operators.TextAnalytics.toksExpr)).cast("long"))
      .as[(Long, Long)].collect().filter(_._2 > 0)
    val expected = toks.map { case (d, n) =>
      val hx = md5hex(d.toString).take(8)
      val u = (java.lang.Long.parseLong(hx, 16) + 0.5) / 4294967296.0
      (d, n, math.rint(math.log(u) / n * 1e8) / 1e8)
    }.sortBy { case (d, _, k) => (-k, d) }.take(50)
    assert(got.toSeq == expected.toSeq,
      s"got=${got.take(3).toSeq} expected=${expected.take(3).toSeq}")
    // without replacement + the weight matters: the sample's mean token
    // count exceeds the corpus mean (longer docs proportionally likelier)
    assert(got.map(_._1).distinct.length == 50)
    val sampleMean = got.map(_._2).sum.toDouble / 50
    val corpusMean = toks.map(_._2).sum.toDouble / toks.length
    assert(sampleMean > corpusMean,
      s"sample mean $sampleMean not above corpus mean $corpusMean")
  }

  test("q136 manifest: exact local recompute; checksum is order-independent and tamper-evident") {
    val got = SparkEntry.queries("q136_shard_manifest")(spark, sfDir)
      .select("shard", "n_docs", "total_toks", "checksum", "min_doc", "max_doc")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.map(_._1).toSeq == (0L until 8L).toSeq)
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", size(expr(operators.TextAnalytics.toksExpr)).cast("long"), $"text")
      .as[(Long, Long, String)].collect()
    def h(text: String): Long =
      java.lang.Long.parseLong(md5hex(text).take(15), 16)
    // the LPT assignment: rank by (n_toks desc, doc_id), deal % 8
    val assigned = docs.sortBy { case (d, n, _) => (-n, d) }
      .zipWithIndex.map { case ((d, n, t), i) => (i % 8, d, n, h(t)) }
    val expected = assigned.groupBy(_._1).toSeq.sortBy(_._1).map { case (s, rows) =>
      (s.toLong, rows.length.toLong, rows.map(_._3).sum,
        rows.map(_._4).reduce(_ ^ _), rows.map(_._2).min, rows.map(_._2).max)
    }
    assert(got.toSeq == expected, s"got=${got.head} expected=${expected.head}")
    // order-independence: XOR over any permutation is the same value
    val shard0 = assigned.filter(_._1 == 0)
    assert(shard0.reverse.map(_._4).reduce(_ ^ _) == got(0)._4)
    // tamper-evidence: flipping one doc's content changes its shard's checksum
    val tampered = shard0.map(_._4).updated(0, h("tampered")).reduce(_ ^ _)
    assert(tampered != got(0)._4)
  }

  test("q139 packing: exact local replay; sequences are full (zero padding) except the tail") {
    val got = SparkEntry.queries("q139_sequence_packing")(spark, sfDir)
      .select("doc_id", "n_toks", "seq_first", "seq_last", "seq_offset", "n_cuts")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    val toks = Tables.documents(spark, sfDir)
      .select($"doc_id", size(expr(operators.TextAnalytics.toksExpr)).cast("long"))
      .as[(Long, Long)].collect().filter(_._2 > 0)
    // local replay of the packer: hash-shuffled order, concatenate, cut at 512
    val ordered = toks.sortBy { case (d, _) => (md5hex(d.toString), d) }
    var run = 0L
    val expected = ordered.map { case (d, n) =>
      val start = run; run += n
      (d, n, start / 512, (run - 1) / 512, start % 512, (run - 1) / 512 - start / 512)
    }
    assert(got.sortBy(_._1).toSeq == expected.sortBy(_._1).toSeq)
    // the doc intervals partition [0, total): every sequence below the
    // last holds exactly 512 tokens — zero padding by construction
    val total = toks.map(_._2).sum
    assert(run == total)
    val perSeq = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    var pos = 0L
    expected.foreach { case (_, n, _, _, _, _) =>
      var rem = n
      while (rem > 0) {
        val s = pos / 512
        val take = math.min(rem, (s + 1) * 512 - pos)
        perSeq(s) += take; pos += take; rem -= take
      }
    }
    val last = (total - 1) / 512
    perSeq.toSeq.sortBy(_._1).foreach { case (s, t) =>
      if (s < last) assert(t == 512L, s"seq $s holds $t tokens")
    }
    assert(perSeq(last) == total - last * 512)
    // a doc's cut count is exactly the boundaries interior to its span
    got.foreach { case (_, n, sf, sl, off, cuts) =>
      assert(cuts == sl - sf && cuts == (off + n - 1) / 512)
    }
  }

  test("q142 padding stats replay exactly, and length bucketing beats the shuffled layout") {
    val got = SparkEntry.queries("q142_length_bucketing")(spark, sfDir)
      .select("strategy", "n_batches", "total_toks", "total_pad", "pad_frac")
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    val toks = Tables.documents(spark, sfDir)
      .select($"doc_id", size(expr(operators.TextAnalytics.toksExpr)).cast("long"))
      .as[(Long, Long)].collect()
    def pad(ordered: Seq[Long]): (Long, Long, Long) = {
      val batches = ordered.grouped(32).toSeq
      (batches.size.toLong, ordered.sum,
        batches.map(b => b.size * b.max - b.sum).sum)
    }
    val sorted = pad(toks.sortBy { case (d, n) => (-n, d) }.map(_._2).toSeq)
    val shuffled = pad(toks.sortBy { case (d, _) => (md5hex(d.toString), d) }.map(_._2).toSeq)
    assert((got("length_sorted")._2, got("length_sorted")._3, got("length_sorted")._4) == sorted)
    assert((got("hash_shuffled")._2, got("hash_shuffled")._3, got("hash_shuffled")._4) == shuffled)
    // the optimization is real: sorted padding is at most half the shuffled
    assert(sorted._3 * 2 < shuffled._3,
      s"sorted pad ${sorted._3} not well under shuffled ${shuffled._3}")
  }
}
