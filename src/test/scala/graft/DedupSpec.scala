package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("codegen'd minhash_sigs equals the HOF form, incl. empty and null tokens") {
    val corpus = Tables.documents(spark, sfDir)
      .select($"doc_id", expr("array_distinct(filter(split(lower(text), ' '), x -> x <> ''))").as("w"))
    val edge = Seq(
      (9001L, Array("alpha", "beta")),
      (9002L, Array.empty[String]),
      (9003L, Array("solo")))
      .toDF("doc_id", "w")
      // a null element among the tokens (the HOF hashes it to null and
      // array_min skips it)
      .union(Seq(9004L).toDF("doc_id")
        .select($"doc_id", expr("array('tok', CAST(NULL AS STRING))").as("w")))
      // a NULL token-set column (null-text doc): both forms → k nulls
      .union(Seq(9005L).toDF("doc_id")
        .select($"doc_id", expr("CAST(NULL AS ARRAY<STRING>)").as("w")))
    Seq(corpus, edge).foreach { df =>
      val both = df.select(
        graft.functions.MinHashSigs.minhashSigs($"w", 6).as("fast"),
        expr(operators.Dedup.sigsHofExpr).as("hof"))
      assert(both.count() > 0)
      assert(both.filter(!($"fast" <=> $"hof")).count() == 0)
    }
  }

  test("codegen'd intern_tokens + sorted_intersect_count equal the HOF interning forms") {
    // (a) InternTokens ≡ array_sort(internExpr) on the corpus — the
    // fingerprints, their dedup, and the ascending order all match the
    // conv(substring(md5)) reference chain the oracle semantics cite
    val corpus = Tables.documents(spark, sfDir)
      .select($"doc_id", expr("array_distinct(filter(split(lower(text), ' '), x -> x <> ''))").as("w"))
    val both = corpus.select(
      graft.functions.InternTokens.internTokens($"w").as("fast"),
      expr(s"array_sort(${operators.Dedup.internExpr})").as("hof"))
    assert(both.count() > 0)
    assert(both.filter(!($"fast" <=> $"hof")).count() == 0)
    // null elements are skipped (the HOF maps them to null; the twin
    // compare above never sees one on the corpus, so pin it directly)
    val edge = Seq(9004L).toDF("doc_id")
      .select($"doc_id", expr("array('tok', CAST(NULL AS STRING))").as("w"))
      .select(graft.functions.InternTokens.internTokens($"w").as("f"),
        expr(s"array_sort(array_distinct(transform(filter(w, x -> x IS NOT NULL), " +
          "u -> CAST(conv(substring(md5(u), 1, 15), 16, 10) AS BIGINT))))").as("h"))
    assert(edge.filter(!($"f" <=> $"h")).count() == 0)
    // (b) the merge-walk count ≡ size(array_intersect) on real pairs:
    // every corpus doc against every 3rd doc (a dense mix of disjoint,
    // partial, and identical overlaps)
    val a = corpus.select($"doc_id".as("da"),
      graft.functions.InternTokens.internTokens($"w").as("wa"))
    val b = corpus.filter($"doc_id" % 3 === 0).select($"doc_id".as("db"),
      graft.functions.InternTokens.internTokens($"w").as("wb"))
    val pairs = a.crossJoin(b).select(
      graft.functions.SortedLongIntersectCount.sortedIntersectCount($"wa", $"wb").as("fast"),
      size(array_intersect($"wa", $"wb")).cast("long").as("ref"))
    assert(pairs.count() > 0)
    assert(pairs.filter($"fast" =!= $"ref").count() == 0)
    assert(pairs.filter($"fast" > 0).count() > 0, "overlapping pairs must occur")
  }

  test("intern/intersect/shingle expressions: seeded generative sweep vs set semantics") {
    // 200 deterministic pseudo-random token-set pairs (incl. empty and
    // single-token sets) — the corpus twins above prove HOF equality on
    // real data; this pins the SET SEMANTICS themselves on adversarial
    // shapes: |intern(A) ∩ intern(B)| must equal |set(A) ∩ set(B)| and
    // the shingle-fp count must equal the distinct-shingle count.
    val rnd = new scala.util.Random(14)
    def randToks(): Seq[String] =
      Seq.fill(rnd.nextInt(12))(s"t${rnd.nextInt(30)}")
    val rows = (0 until 200).map(i => (i.toLong, randToks(), randToks()))
    val df = rows.toDF("id", "wa0", "wb0")
      .select($"id", $"wa0", expr("array_distinct(wa0)").as("wa"),
        expr("array_distinct(wb0)").as("wb"))
    val got = df.select($"id",
      graft.functions.SortedLongIntersectCount.sortedIntersectCount(
        graft.functions.InternTokens.internTokens($"wa"),
        graft.functions.InternTokens.internTokens($"wb")).as("n"),
      size(graft.functions.ShingleFps.shingleFps($"wa0", 5)).cast("long").as("ns"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    rows.foreach { case (id, a, b) =>
      assert(got(id)._1 == a.toSet.intersect(b.toSet).size.toLong, s"intersect case $id")
      val expSh =
        if (a.size < 5) 0L
        else a.sliding(5).map(_.mkString(" ")).toSet.size.toLong
      assert(got(id)._2 == expSh, s"shingle case $id")
    }
  }

  test("codegen'd shingle_fps equals the HOF shingle-interning form (sorted)") {
    // the HOF reference chain (Corpus.shingleFpSpark): distinct shingle
    // STRINGS then conv(substring(md5)) per element; the codegen twin
    // dedups fingerprints and sorts — compare both sides sorted. Raw
    // tokens (q107/q143's form), not the distinct token set: shingles
    // are windows over the token SEQUENCE.
    val hof = "array_sort(transform(array_distinct(CASE WHEN size(w) >= 5 THEN " +
      "transform(sequence(0, size(w)-5), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2], ' ', w[i+3], ' ', w[i+4])) " +
      "ELSE slice(w, 1, 0) END), s5 -> CAST(conv(substring(md5(s5), 1, 15), 16, 10) AS BIGINT)))"
    val both = Tables.documents(spark, sfDir)
      .select(expr("filter(split(lower(text), ' '), x -> x <> '')").as("w"))
      .select(graft.functions.ShingleFps.shingleFps($"w", 5).as("fast"),
        expr(hof).as("hof"))
    assert(both.count() > 0)
    assert(both.filter(!($"fast" <=> $"hof")).count() == 0)
    // short docs (< 5 tokens) yield the empty array on both sides
    val short = Seq("a b c").toDF("text")
      .select(expr("filter(split(lower(text), ' '), x -> x <> '')").as("w"))
      .select(graft.functions.ShingleFps.shingleFps($"w", 5).as("fast"),
        expr(hof).as("hof"))
    assert(short.filter(!($"fast" <=> $"hof")).count() == 0)
  }

  test("incremental dedup: store dups, in-batch dups, and novel docs are classified") {
    def toks(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .select($"doc_id", expr("array_distinct(filter(split(lower(text), ' '), x -> x <> ''))").as("w"))
    val store = toks(Seq((1L, "alpha beta gamma delta epsilon")))
    val batch = toks(Seq(
      (5L, "alpha beta gamma delta epsilon"),   // exact dup of store doc 1
      (10L, "totally novel content here now"),  // kept
      (15L, "totally novel content here now"))) // in-batch dup of 10
    val got = operators.Dedup.dedupIncremental(store, batch)
      .select("doc_id", "dup_of", "kept").as[(Long, Long, Long)].collect().toList
    assert(got == List((5L, 1L, 0L), (10L, -1L, 1L), (15L, 10L, 0L)))
  }

  test("q41 minhash: identical token sets always share every band") {
    // jaccard=1 docs must collide in ALL bands — LSH can never miss them.
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma alpha beta"))
      .toDF("doc_id", "text")
      .select($"doc_id", expr("array_distinct(filter(split(lower(text), ' '), x -> x <> ''))").as("w"))
      .select($"doc_id", expr(
        "transform(sequence(0, 3), i -> array_min(transform(w, u -> md5(concat(cast(i AS STRING), ':', u)))))").as("sigs"))
    val Array(a, b) = df.orderBy("doc_id").collect()
    assert(a.getSeq[String](1) == b.getSeq[String](1))
  }

  test("merge existing-wins never updates an existing row") {
    val existing = Seq(("t1", "old")).toDF("title", "v")
      .withColumn("source_rank", lit(-1)).withColumn("ingest_idx", lit(0))
    val batch = Seq(("t1", "new"), ("t2", "fresh")).toDF("title", "v")
      .withColumn("source_rank", lit(0))
      .withColumn("ingest_idx", monotonically_increasing_id().cast("int"))
    val merged = operators.Ingest.mergeExistingWins(existing, batch)
    val m = merged.select("title", "v").as[(String, String)].collect().toMap
    assert(m == Map("t1" -> "old", "t2" -> "fresh"))
  }

  test("q42 prefix filtering: no qualifying pair lost, candidate volume bounded") {
    // Prefix candidates (the q42 form) vs the unbounded inverted-index
    // self-join (the r1 form the VERDICT flagged): the prefix filter must
    // (a) generate strictly fewer candidates and (b) retain EVERY pair
    // whose true Jaccard ≥ 0.9 (pigeonhole guarantee).
    val t = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", expr("array_distinct(filter(split(lower(text), ' '), x -> x <> ''))").as("w"))
    val sh = t.select($"doc_id", explode($"w").as("s"))
    val full = sh.as("sa")
      .join(sh.as("sb"), col("sa.s") === col("sb.s") && col("sa.doc_id") < col("sb.doc_id"))
      .select(col("sa.doc_id").as("da"), col("sb.doc_id").as("db")).distinct()
    val pref = t.withColumn("p", (ceil(size($"w") * lit(0.1)) + lit(1)).cast("int"))
      .select($"doc_id", explode(expr("slice(array_sort(w), 1, p)")).as("s"))
    val cand = pref.as("pa")
      .join(sh.as("fb"), col("pa.s") === col("fb.s") && col("pa.doc_id") < col("fb.doc_id"))
      .select(col("pa.doc_id").as("da"), col("fb.doc_id").as("db")).distinct()
    val nFull = full.count()
    val nCand = cand.count()
    assert(nCand < nFull, s"prefix candidates $nCand should be < unbounded $nFull")
    // ground truth ≥ 0.9 pairs from the unbounded join
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = full
      .join(sh.as("xa"), col("da") === col("xa.doc_id"))
      .join(sh.as("xb"), col("db") === col("xb.doc_id") && col("xa.s") === col("xb.s"))
      .groupBy("da", "db").agg(count(lit(1)).as("i"))
    val truth = inter
      .join(sz.as("za"), col("da") === col("za.doc_id"))
      .join(sz.as("zb"), col("db") === col("zb.doc_id"))
      .filter(col("i") * lit(1.0) / (col("za.n") + col("zb.n") - col("i")) >= 0.9)
      .select("da", "db")
    val lost = truth.join(cand, Seq("da", "db"), "left_anti").count()
    assert(lost == 0, s"$lost qualifying pairs lost by the prefix filter")
  }

  test("simhash of identical texts is identical; of disjoint texts differs") {
    val sim = Seq((1L, "one two three"), (2L, "one two three"), (3L, "xx yy zz qq"))
      .toDF("doc_id", "text")
      .select($"doc_id", expr("filter(split(lower(text), ' '), x -> x <> '')").as("w"))
      .select($"doc_id", expr(
        """aggregate(sequence(1, 16), 0L, (acc, j) -> acc +
          |CASE WHEN aggregate(w, 0, (a2, u) ->
          |a2 + CASE WHEN ascii(substring(md5(u), j, 1)) % 2 = 1 THEN 1 ELSE -1 END) > 0
          |THEN shiftleft(1L, j - 1) ELSE 0L END)""".stripMargin.replace("\n", " ")).as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(sim(1L) == sim(2L))
    assert(sim(1L) != sim(3L))
  }

  test("q127 fusion is exactly the flagged union of its three factored signal relations") {
    val got = SparkEntry.queries("q127_signal_fusion")(spark, sfDir)
      .select("da", "db", "lsh", "emb", "span", "n_signals")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val lshSet = operators.Dedup.lshVerifiedPairs(spark, sfDir)
      .select("da", "db").as[(Long, Long)].collect().toSet
    val embSet = operators.Dedup.embAnchorPairs(spark, sfDir)
      .select("va", "vb").as[(Long, Long)].collect().toSet
    val spanSet = operators.Corpus2.sharedSpanIslands(Tables.documents(spark, sfDir))
      .groupBy("doc_a", "doc_b").agg(max("span").as("ms")).filter($"ms" >= 12)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got.map(g => (g._1, g._2)).toSet == (lshSet ++ embSet ++ spanSet),
      "fused pair set is the union")
    got.foreach { case (da, db, lsh, emb, span, n) =>
      assert(lsh == (if (lshSet((da, db))) 1L else 0L), s"($da,$db) lsh flag")
      assert(emb == (if (embSet((da, db))) 1L else 0L), s"($da,$db) emb flag")
      assert(span == (if (spanSet((da, db))) 1L else 0L), s"($da,$db) span flag")
      assert(n == lsh + emb + span)
    }
    // the corpus's embedded near-dups make multi-signal agreement real
    assert(got.exists(_._6 >= 2), "some pair is confirmed by ≥2 signals")
  }

  test("q128 leakage matrix is exactly q127's pairs bucketed by q95's splits") {
    val got = SparkEntry.queries("q128_split_leakage")(spark, sfDir)
      .select("split_lo", "split_hi", "n_pairs", "leak")
      .as[(String, String, Long, Boolean)].collect()
    val pairs = SparkEntry.queries("q127_signal_fusion")(spark, sfDir)
      .select("da", "db").as[(Long, Long)].collect()
    val split = SparkEntry.queries("q95_split_assign")(spark, sfDir)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val expected = pairs
      .map { case (a, b) =>
        val (sa, sb) = (split(a), split(b))
        (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa) }
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((lo, hi), n) => (lo, hi, n, lo != hi) }
      .sortBy { case (lo, hi, _, _) => (lo, hi) }
    assert(got.toSeq == expected, s"got=${got.toSeq} exp=$expected")
    // this corpus's embedded dups DO straddle the content-hash split —
    // the audit is non-vacuous and the train↔test cell is the one that
    // matters
    assert(got.exists { case (lo, hi, n, leak) =>
      leak && lo == "test" && hi == "train" && n > 0 })
  }

  test("q129 repair assigns whole near-dup clusters to one split — zero residual leakage") {
    val got = SparkEntry.queries("q129_split_repair")(spark, sfDir)
      .select("doc_id", "comp", "own_split", "final_split", "moved")
      .as[(Long, Long, String, String, Boolean)].collect()
    val byDoc = got.map(r => r._1 -> r).toMap
    // every document appears exactly once
    assert(got.length == Tables.documents(spark, sfDir).count())
    // invariant 1: final split is constant within a component
    got.groupBy(_._2).foreach { case (comp, rows) =>
      assert(rows.map(_._4).distinct.length == 1, s"component $comp split-mixed")
    }
    // invariant 2: no fused near-dup pair straddles final splits —
    // the leakage q128 reports is zero after repair BY CONSTRUCTION
    val pairs = SparkEntry.queries("q127_signal_fusion")(spark, sfDir)
      .select("da", "db").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(byDoc(a)._4 == byDoc(b)._4, s"pair ($a,$b) still straddles splits")
    }
    // invariant 3: moved flag is exact, and the final split is the
    // component root's own q95 assignment (singletons never move)
    got.foreach { case (id, comp, own, fin, moved) =>
      assert(moved == (own != fin), s"doc $id moved flag")
      assert(fin == byDoc(comp)._3, s"doc $id final != root's own split")
      if (comp == id) assert(!moved, s"root $id moved")
    }
    // the corpus's straddling dups make the repair non-vacuous
    assert(got.exists(_._5), "repair moved at least one document")
  }

  test("q131 impact matrix is exactly q127's pairs bucketed by source pair") {
    val got = SparkEntry.queries("q131_dedup_impact")(spark, sfDir)
      .select("src_lo", "src_hi", "n_pairs", "n_docs")
      .as[(String, String, Long, Long)].collect()
    val src = Tables.documents(spark, sfDir)
      .select("doc_id", "source").as[(Long, String)].collect().toMap
    val pairs = SparkEntry.queries("q127_signal_fusion")(spark, sfDir)
      .select("da", "db").as[(Long, Long)].collect()
    val expected = pairs
      .map { case (a, b) =>
        val (sa, sb) = (src(a), src(b))
        ((if (sa <= sb) sa else sb, if (sa <= sb) sb else sa), (a, b)) }
      .groupBy(_._1).view
      .mapValues(ps => (ps.length.toLong,
        ps.flatMap { case (_, (a, b)) => Seq(a, b) }.distinct.length.toLong))
      .toMap
    assert(got.length == expected.size)
    got.foreach { case (lo, hi, np, nd) =>
      assert(expected((lo, hi)) == ((np, nd)), s"cell ($lo,$hi)")
    }
    // both redundancy shapes exist on this corpus: within-feed and cross-feed
    assert(got.exists { case (lo, hi, _, _) => lo == hi }, "no diagonal cell")
    assert(got.exists { case (lo, hi, _, _) => lo != hi }, "no cross-source cell")
  }

  test("q133 audit rows agree with every stage's own published output") {
    val got = SparkEntry.queries("q133_doc_audit")(spark, sfDir)
      .select("doc_id", "gate_keep", "dup_of", "split", "epoch_tier", "kept")
      .as[(Long, Boolean, Long, String, Long, Boolean)].collect()
    assert(got.length == Tables.documents(spark, sfDir).count())
    val keep = SparkEntry.queries("q100_quality_gate")(spark, sfDir)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    val split = SparkEntry.queries("q95_split_assign")(spark, sfDir)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val pairs = SparkEntry.queries("q127_signal_fusion")(spark, sfDir)
      .select("da", "db").as[(Long, Long)].collect()
    val minPartner = (pairs ++ pairs.map(_.swap))
      .filter { case (d, p) => p < d }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val tier = SparkEntry.queries("q130_epoch_mixing")(spark, sfDir)
      .select("doc_id", "n_copies").as[(Long, Long)].collect().toMap
    got.foreach { case (d, gk, dup, sp, et, kept) =>
      assert(gk == keep(d), s"doc $d gate")
      assert(dup == minPartner.getOrElse(d, -1L), s"doc $d dup_of")
      assert(sp == split(d), s"doc $d split")
      // q130 publishes only tiers >= 1; an absent doc means tier 0
      assert(et == tier.getOrElse(d, 0L), s"doc $d tier")
      assert(kept == (gk && dup == -1L), s"doc $d kept")
    }
    // the audit separates the failure modes on this corpus
    assert(got.exists { case (_, gk, dup, _, _, _) => gk && dup != -1L },
      "no doc dropped solely as a dup loser")
    assert(got.exists { case (_, _, _, _, _, k) => k }, "nothing kept")
  }

  test("q137 near-dup decon: no false flags, claimed jaccards are real, recall ≥ 0.8 vs brute force") {
    val got = SparkEntry.queries("q137_neardup_decontaminate")(spark, sfDir)
      .select("doc_id", "n_eval_matches", "max_jaccard", "kept")
      .as[(Long, Long, Double, Boolean)].collect()
    val toks = Tables.documents(spark, sfDir)
      .select($"doc_id", expr(s"array_distinct(${operators.TextAnalytics.toksExpr})"))
      .as[(Long, Seq[String])].collect().map { case (d, w) => d -> w.toSet }.toMap
    val evalIds = toks.keys.filter(_ % 10 == 1).toSeq
    def jac(a: Set[String], b: Set[String]): Double = {
      val i = (a & b).size
      math.rint(i * 1.0 / (a.size + b.size - i) * 1e4) / 1e4
    }
    assert(got.length == toks.keys.count(_ % 10 != 1))
    val bruteFlagged = got.map(_._1).filter { d =>
      evalIds.exists(e => jac(toks(d), toks(e)) >= 0.8)
    }.toSet
    got.foreach { case (d, n, mj, kept) =>
      assert(kept == (n == 0L) && kept == (mj == -1.0), s"doc $d flag coherence")
      if (!kept) {
        // the claimed best jaccard is a REAL verified value for some eval doc
        val true_ = evalIds.map(e => jac(toks(d), toks(e)))
        assert(true_.contains(mj) && mj >= 0.8, s"doc $d claimed $mj not real")
        assert(bruteFlagged(d), s"doc $d flagged but brute force disagrees")
      }
    }
    // non-vacuity + measured LSH recall at j=0.8 (b=3/r=2 predicts 0.953)
    val flagged = got.filter(!_._4).map(_._1).toSet
    assert(flagged.nonEmpty, "no contamination found — corpus can't show the op")
    // (no upper cap: this corpus embeds heavy near-duplication by design —
    // 286/450 train docs DO have an eval near-dup, each one brute-verified above)
    assert(flagged.size < got.length, "everything flagged")
    val recall = flagged.size.toDouble / bruteFlagged.size
    assert(recall >= 0.8, s"recall $recall vs brute-force ${bruteFlagged.size}")
  }

  test("q143 ladder: every rung's evidence replays exactly; precedence and verdicts cohere") {
    val got = SparkEntry.queries("q143_contamination_ladder")(spark, sfDir)
      .select("doc_id", "exact_hit", "ngram_frac", "neardup_mj", "rung", "kept")
      .as[(Long, Boolean, Double, Double, Long, Boolean)].collect()
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text",
        expr(operators.TextAnalytics.toksExpr).as("w"))
      .as[(Long, String, Seq[String])].collect()
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // rung 1: the q97 fingerprint rule, recomputed from raw text
    def fp(t: String): String =
      md5hex(t.replaceAll("[^a-zA-Z0-9 ]", "").toLowerCase.trim)
    val evalFps = docs.filter(_._1 % 10 == 1).map(d => fp(d._2)).toSet
    // rung 2: distinct 5-token shingle overlap with the eval shingle set
    def shingles(w: Seq[String]): Set[String] =
      if (w.size < 5) Set.empty else w.sliding(5).map(_.mkString(" ")).toSet
    val evalSh = docs.filter(_._1 % 10 == 1).flatMap(d => shingles(d._3)).toSet
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // rung 3: the PUBLISHED q137 evidence (same factored body)
    val mjOf = SparkEntry.queries("q137_neardup_decontaminate")(spark, sfDir)
      .select("doc_id", "max_jaccard").as[(Long, Double)].collect().toMap
    val byId = docs.map(d => d._1 -> d).toMap
    assert(got.length == docs.count(_._1 % 10 != 1))
    got.foreach { case (d, ex, ngf, mj, rung, kept) =>
      val (_, text, w) = byId(d)
      assert(ex == evalFps.contains(fp(text)), s"doc $d exact rung")
      val sh = shingles(w)
      val expNgf = if (sh.isEmpty) 0.0 else r4((sh & evalSh).size.toDouble / sh.size)
      assert(ngf == expNgf, s"doc $d ngram $ngf vs $expNgf")
      assert(mj == mjOf(d), s"doc $d neardup $mj vs published ${mjOf(d)}")
      val expRung =
        if (ex) 1L else if (ngf >= 0.5) 2L else if (mj >= 0.8) 3L else 0L
      assert(rung == expRung && kept == (rung == 0L), s"doc $d rung $rung vs $expRung")
    }
    // the rungs are non-redundant on this corpus: 2 and 3 both fire, and
    // rung-3 catches paraphrases rung 2 misses (low ordered-shingle overlap)
    assert(got.exists(_._5 == 2L) && got.exists(_._5 == 3L))
    assert(got.filter(_._5 == 3L).forall(_._3 < 0.5))
  }

  /** Raw band-collision rows (a.doc_id < b.doc_id, one per shared
    * bucket) of (doc_id, text) docs under a band-hash expression. */
  private def bandCollisions(docs: org.apache.spark.sql.DataFrame, bandsExpr: String)
      : Seq[(Long, Long)] = {
    import org.apache.spark.sql.functions._
    val t = docs
      .select(col("doc_id"), expr(s"array_distinct(${operators.TextAnalytics.toksExpr})").as("w"))
      .withColumn("sigs", graft.functions.MinHashSigs.minhashSigs(col("w"), 6))
    val b = t.select(col("doc_id"), posexplode(expr(bandsExpr)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "h")
    b.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  test("long band hash yields EXACTLY the md5 form's candidate pairs (r17 bucket-key audit)") {
    // bandsOfPinned switched to xxhash64 buckets (8-byte join keys); the
    // candidate set must equal the md5-string reference form on the
    // corpus — the q260/q261-style audit for the bucket keys. Equal
    // sig-pairs hash equal under both; a difference would mean an
    // unequal-input collision in one of them.
    val docs = Tables.documents(spark, sfDir)
    val md5Set = bandCollisions(docs, operators.Dedup.bandsExpr).toSet
    val longSet = bandCollisions(docs, operators.Dedup.bandsLongExpr).toSet
    assert(md5Set.nonEmpty, "corpus produced no candidates — vacuous audit")
    assert(md5Set == longSet,
      s"bucket forms disagree: md5-only=${(md5Set -- longSet).take(5)} long-only=${(longSet -- md5Set).take(5)}")
  }

  test("empty and null-text documents never share an LSH bucket (both band-hash forms)") {
    // 1,000 empty docs + 3 null-text docs + one real near-duplicate pair.
    // An empty token set has NULL signatures; a band hash that skipped
    // them would put every such doc in one bucket per band — ~1.5M
    // collision rows here, n² in general. Both forms must yield only
    // the near-dup pair, in at most one collision row per band.
    val base = (1 to 30).map(i => s"tok$i")
    val rows = (1L to 1000L).map(d => (d, "")) ++
      (1001L to 1003L).map(d => (d, null: String)) ++
      Seq((2001L, base.mkString(" ")), (2002L, (base.init :+ "other").mkString(" ")))
    val docs = rows.toDF("doc_id", "text")
    val md5Rows = bandCollisions(docs, operators.Dedup.bandsExpr)
    val longRows = bandCollisions(docs, operators.Dedup.bandsLongExpr)
    // compare sizes first: a failing set comparison would print ~500k pairs
    val (md5Set, longSet) = (md5Rows.toSet, longRows.toSet)
    assert(md5Set.size == 1 && md5Set.contains((2001L, 2002L)), s"md5 form: ${md5Set.take(5)}")
    assert(longRows.size <= 3, s"${longRows.size} collision rows for 1 real pair over 3 bands")
    assert(longSet == md5Set)
  }
}
