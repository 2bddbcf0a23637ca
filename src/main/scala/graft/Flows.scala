package graft

import graft.operators.{Ingest, KeywordTree, Relational}
import graft.sources.Articles
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's five CLI entry points (scrappy.py main, scrappy.py:545-625;
  * article_querry.py) as one Spark-native API — what a user who switches
  * from the reference actually calls. Each flow is the composition of the
  * declared operators; artifacts land in `outDir` (the reference writes
  * raw_articles.csv / search_terms.json / topic_tree.json next to itself).
  *
  * The `main` drives all five flows end-to-end against the fixtures +
  * testdata and prints one status line per flow (FlowsSpec asserts the
  * artifact contents).
  */
object Flows {

  /** --fetch-articles: fetch all sources → dedup → merge into the
    * persistent store (existing wins) → delta report. */
  def fetchArticles(spark: SparkSession, storeDir: String, terms: Seq[String]): DataFrame = {
    val batch = Ingest.dedupByTitle(Ingest.unionSources(spark, Articles.allSources, terms))
    // snapshot the prior titles EAGERLY — persistMerge swaps the store
    // files underneath, so a lazy read of the old dir would dangle (a
    // table format's snapshot id replaces this localCheckpoint at scale)
    val before = Tables.tableOrEmpty(spark, storeDir, batch.schema)
      .select("title").localCheckpoint()
    Ingest.persistMerge(spark, storeDir, batch)
    // the delta is checkpointed too: the returned frame must survive the
    // NEXT merge's store swap, not just this one's
    Ingest.deltaNew(spark.read.parquet(storeDir), before).localCheckpoint()
  }

  /** --query-articles: the conjunctive filter family over the store
    * (term/institution/year/keyword, each optional), limit 10. */
  def queryArticles(store: DataFrame, term: Option[String] = None,
      institution: Option[String] = None, year: Option[String] = None,
      keyword: Option[String] = None, limit: Int = 10): DataFrame = {
    val t0 = store
    val t1 = term.fold(t0)(t => t0.filter(
      Relational.containsCI(col("title"), t) || Relational.containsCI(col("abstract"), t)))
    val t2 = institution.fold(t1)(i => t1.filter(
      Relational.containsCI(array_join(flatten(col("institutions")), "; "), i)))
    val t3 = year.fold(t2)(y => t2.filter(col("year").cast("string") === lit(y)))
    val t4 = keyword.fold(t3)(k => t3.filter(
      Relational.containsCI(array_join(col("keywords"), ","), k)))
    t4.orderBy(col("source_rank"), col("ingest_idx")).limit(limit)
  }

  /** --suggest-terms over a docs corpus (doc_id, text). */
  def suggestTerms(docs: DataFrame, existing: Seq[String], topN: Int): DataFrame =
    Ingest.suggestTerms(docs, existing, topN, examples = 2)

  /** --build-tree: expansion + the nested topic_tree.json artifact. */
  def buildTree(docs: DataFrame, seeds: Seq[String], depth: Int, outPath: java.nio.file.Path): String = {
    val edges = KeywordTree.expand(docs, seeds, depth, fanout = 5)
    val json = KeywordTree.toNestedJson(edges, seeds)
    java.nio.file.Files.writeString(outPath, json)
    json
  }

  /** The training-corpus flow (north star, q63's composition as API):
    * quality gate → exact-fingerprint dedup (keep-first) → eval-set
    * decontamination → token-window chunking, with the chunks written as
    * a globally ordered parquet layout (disjoint sorted key ranges —
    * Sinks.writeOrdered) ready for a pack/tokenize stage to consume with
    * min/max pruning. Returns the chunk frame; `evalDocIds` marks the
    * held-out docs whose fingerprints must not survive. */
  def corpusFlow(docs: DataFrame, evalDocIds: Seq[Long], outDir: String,
      numFiles: Option[Int] = Some(4)): DataFrame = {
    // Same body as the oracled q63 — ONE definition in Corpus, so this
    // API can never drift from what the correctness gate checks.
    val chunks = operators.Corpus.trainingPipeline(docs, evalDocIds)
    graft.sources.Sinks.writeOrdered(
      chunks, Seq(col("doc_id"), col("chunk_idx")), outDir, numFiles)
    // Hand back the LANDED layout, not the unwritten lineage — a caller
    // action on the lineage would re-run the whole pipeline per action.
    docs.sparkSession.read.parquet(outDir)
  }

  /** The corpus SELECTION flow (round 4's tranche as API): mixture
    * sampling (q104) → per-source token budgets (q115) → balanced shard
    * assignment (q109) → one hive partition per shard, ready for a
    * per-shard training reader. Same input-agnostic bodies as the
    * oracled queries — the API cannot drift from the correctness gate.
    * Returns the landed layout (reading it back prunes by `shard=`). */
  def selectionFlow(docs: DataFrame, budget: Long, nShards: Int,
      outDir: String): DataFrame = {
    val sampled = operators.Corpus2.mixtureSample(docs)
    val selected = operators.Corpus2.groupBudget(sampled, budget)
    val sharded = operators.Corpus2.shardOf(
      selected.select("doc_id", "source", "n_chars", "n_toks"), nShards)
    graft.sources.Sinks.writeHivePartitioned(sharded, Seq("shard"), outDir)
    docs.sparkSession.read.parquet(outDir)
  }

  /** The TOKENIZER flow (round 4's BPE family as API): learn `rounds`
    * BPE merges on the corpus (q121's body) → encode every document with
    * the trained tokenizer (q122's body) → land the encoded corpus
    * hive-partitioned by source for per-source training readers, with
    * the learned merge table written alongside as the model artifact.
    * Same input-agnostic bodies as the oracled queries — the API cannot
    * drift from the correctness gate. Training runs once: encoding reads
    * each word's symbol count back from the landed artifact. Returns the
    * landed encoded layout. */
  def tokenizerFlow(docs: DataFrame, rounds: Int, outDir: String): DataFrame = {
    operators.Corpus2.bpeMerges(docs, rounds)
      .write.mode("overwrite").parquet(s"$outDir/_tokenizer")
    val ws = docs.sparkSession.read.parquet(s"$outDir/_tokenizer")
      .select(col("word"), size(split(col("syms"), " ")).cast("long").as("n_syms"))
    val encoded = docs.select(col("doc_id"), col("source"),
        explode(expr(operators.TextAnalytics.toksExpr)).as("word"))
      .join(broadcast(ws), "word")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_words"), sum("n_syms").as("n_bpe"))
    graft.sources.Sinks.writeHivePartitioned(encoded, Seq("source"), s"$outDir/encoded")
    docs.sparkSession.read.parquet(s"$outDir/encoded")
  }

  /** The PACKING flow (round 4's closers as API): contamination-ladder
    * decontamination (q143's verdict — exact / shingle / near-dup rungs)
    * → q139's concatenate-and-cut sequence packing at 512 tokens over
    * the kept docs → a globally ordered landing (disjoint sorted
    * (seq_first, seq_offset) ranges per file, so a training reader
    * streams sequences in layout order with min/max pruning) → a
    * per-pack-shard integrity manifest (q136's bit_xor checksum rule)
    * written alongside as `_manifest`. Returns the landed layout. */
  def packingFlow(spark: SparkSession, dir: String, outDir: String,
      internHexWidth: Int = 15): DataFrame = {
    import operators.{Indexing, TextAnalytics}
    // The interning-exactness contract (q260/q261), enforced IN-PIPELINE
    // rather than by convention: the contamination ladder below verifies
    // via 60-bit interned fingerprints, and a corpus where those collide
    // must fail loudly BEFORE any interned verdict lands (the r9 ADVICE
    // made the guard callable; this makes it unskippable on the flow
    // path — FlowsSpec proves it fires on the forced-collision corpus
    // and that nothing is written when it does). The width parameter
    // exists only so the test can force a collision by pigeonhole.
    operators.Dedup.assertInterningExact(Tables.documents(spark, dir), internHexWidth)
    val keep = SparkEntry.queries("q143_contamination_ladder")(spark, dir)
      .filter(col("kept")).select("doc_id")
    val docs = Tables.documents(spark, dir).join(keep, "doc_id")
      .select(col("doc_id"), col("text"),
        size(expr(TextAnalytics.toksExpr)).cast("long").as("n_toks"),
        expr("CAST(conv(substr(md5(text), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .filter(col("n_toks") > 0L)
      .withColumn("sk", md5(col("doc_id").cast("string")))
    val packed = Indexing.globalPrefixSum(docs,
        Seq(col("sk"), col("doc_id")), col("n_toks"))
      .withColumn("seq_first", expr("(run - n_toks) DIV 512"))
      .withColumn("seq_offset", (col("run") - col("n_toks")) % 512L)
      .drop("sk", "run")
    graft.sources.Sinks.writeOrdered(
      packed, Seq(col("seq_first"), col("seq_offset")), outDir, Some(4))
    // the manifest describes (and is derived from) the LANDED bytes, not
    // the lineage — a re-run of the pipeline is not what it certifies;
    // the `_` prefix keeps it invisible to parquet readers of outDir
    val landed = spark.read.parquet(outDir)
    landed.withColumn("pack_shard", col("seq_first") % 4L)
      .groupBy("pack_shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("total_toks"),
        expr("bit_xor(h)").as("checksum"))
      .write.mode("overwrite").parquet(s"$outDir/_manifest")
    landed
  }

  /** The HYGIENE flow (the nine-gate funnel as API): run the
    * admission ladder (robots → URL dedup → lang-id → domain cap →
    * blocklist → Gopher → classifier → chunk scrub), land the
    * PII-SCRUBBED survivor corpus ordered by doc_id — the training-ready product, with
    * `n_chars` recomputed from the scrubbed text — and write q268's
    * 10-row audit alongside as `_funnel` (the artifact a curation run
    * reviews before committing). The audit is assembled from the SAME
    * pinned stage frames that produced the landing (funnelAudit), so
    * nothing re-runs and the flow cannot drift from the oracled query.
    * Returns the landed layout. */
  def hygieneFlow(spark: SparkSession, dir: String, outDir: String,
      chunkFpHexWidth: Int = 32): DataFrame = {
    val st = operators.Corpus12.hygieneStages(Tables.documents(spark, dir))
    // Fingerprint-exactness contract, enforced IN-PIPELINE (the
    // packingFlow discipline, extended per the r10 verdict): the chunk
    // scrub keys its df counts and keep-first winners on md5(chunk) —
    // a corpus where those keys conflate distinct chunks must fail
    // loudly BEFORE the training-ready product lands. The audit runs
    // over exactly the chunks the scrub keyed (the clf-gate survivors).
    // Width is parameterized only so FlowsSpec can force a collision by
    // pigeonhole; production = the full 32-hex digest.
    operators.Corpus12.assertChunkFpExact(
      operators.Corpus.chunkTokens(
        st.collectFirst { case ("clf_gate", f) => f }.get),
      chunkFpHexWidth)
    val product = operators.Corpus12.piiScrub(st.last._2)
      .select(col("doc_id"), col("scrubbed").as("text"),
        length(col("scrubbed")).cast("long").as("n_chars"))
    graft.sources.Sinks.writeOrdered(product, Seq(col("doc_id")), outDir, Some(4))
    operators.Corpus12.funnelAudit(st)
      .write.mode("overwrite").parquet(s"$outDir/_funnel")
    spark.read.parquet(outDir)
  }

  /** The SEMANTIC-DEDUP flow (round 5's capability as API): q170's
    * SemDeDup verdicts (cluster-then-prune over the learned LloydKMeans
    * space) pick one exemplar per semantic-dup group → the kept docs
    * land ordered by doc_id with a per-cluster survivor ledger
    * (`_clusters`: kept/dropped counts + the exemplar policy's rank-1
    * doc) written alongside — the artifact a curation pipeline reviews
    * before committing a prune. Returns the kept-doc frame. */
  def semanticDedupFlow(spark: SparkSession, dir: String, outDir: String): DataFrame = {
    // Degenerate-input contract (the decontamSides zero-vector
    // discipline, extended per the r10 verdict so every flow keyed on a
    // DERIVED quantity carries its guard): q170's verdicts rank members
    // by cosine to the cluster centroid, which is UNDEFINED for a
    // zero-magnitude embedding — such a row would rank on a null and
    // could silently become (or displace) a cluster exemplar. Fail
    // loudly before any verdict lands.
    // NULL counts as degenerate too: aggregate() over a NULL array is
    // NULL, and a NULL === 0 filter would silently DROP the row from
    // the guard — the exact hole the guard exists to close. Same for a
    // NULL ELEMENT inside an otherwise-present array (r11 ADVICE): the
    // fold's sum goes NULL, `NULL === 0` filters the row OUT of the
    // guard while its cosine still evaluates NULL downstream — so
    // null-element vectors get their own exists() clause.
    val nz = Tables.embeddings(spark, dir)
      .filter(col("embedding").isNull ||
        expr("exists(embedding, x -> x IS NULL)") ||
        expr("aggregate(embedding, 0D, (a, x) -> a + abs(CAST(x AS DOUBLE)))") === 0d)
      .count()
    require(nz == 0L,
      s"semanticDedupFlow: $nz zero-magnitude, NULL, or null-element " +
        "embeddings in this corpus — cosine-to-centroid ranking is undefined " +
        "for them; drop or repair them upstream (the semanticDecontam " +
        "zero-vector contract)")
    val verdicts = SparkEntry.queries("q170_semdedup")(spark, dir)
    val kept = Tables.documents(spark, dir)
      .join(verdicts.filter(col("kept")).select("vec_id", "cluster"),
        col("doc_id") === col("vec_id"))
      .drop("vec_id")
    graft.sources.Sinks.writeOrdered(kept, Seq(col("doc_id")), outDir, Some(4))
    verdicts.groupBy("cluster").agg(
      sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
      sum(when(!col("kept"), 1L).otherwise(0L)).as("n_dropped"),
      min(when(col("crank") === 1, col("vec_id"))).as("exemplar"))
      .write.mode("overwrite").parquet(s"$outDir/_clusters")
    spark.read.parquet(outDir)
  }

  /** The SERIES-MONITORING flow (round 5's observability family as one
    * API): per event type, q185's distribution-drift verdict, q188's
    * Holt level/trend/forecasts, and q184's higher moments joined into
    * a single health report, landed ordered by event_type with q181's
    * flagged anomalous days written alongside (`_anomalies`) — the
    * artifact an ingest-monitoring plane reviews each day. Returns the
    * health frame. Every component is its own oracled query; the flow
    * only joins |event_type|-row outputs, so composition adds no
    * corpus-scale work. */
  def monitoringFlow(spark: SparkSession, dir: String, outDir: String): DataFrame = {
    val drift = SparkEntry.queries("q185_ks_drift")(spark, dir)
      .select(col("event_type"), col("ks_d"), col("drift"))
    val forecast = SparkEntry.queries("q188_holt_forecast")(spark, dir)
      .select(col("event_type"), col("level"), col("trend"),
        col("f1"), col("f2"), col("f3"), col("msse"))
    val moments = SparkEntry.queries("q184_moments_profile")(spark, dir)
      .select(col("event_type"), col("n"), col("mean_val"),
        col("sd_val"), col("skewness"), col("ex_kurtosis"))
    val health = moments.join(drift, Seq("event_type"))
      .join(forecast, Seq("event_type"))
    graft.sources.Sinks.writeOrdered(health, Seq(col("event_type")), outDir, Some(1))
    SparkEntry.queries("q181_seasonal_anomaly")(spark, dir)
      .filter(col("anomaly") === 1)
      .write.mode("overwrite").parquet(s"$outDir/_anomalies")
    spark.read.parquet(outDir)
  }

  /** The CORPUS-DIAGNOSTICS flow (round 5's corpus-statistics family
    * as API): q228's Heaps vocabulary-growth curve landed as the main
    * artifact, q226's Good-Turing smoothing table and q227's Zipf fit
    * as sidecars (`_good_turing`, `_zipf`), and a ONE-ROW summary
    * returned to the caller: token/vocab totals, the unseen-mass
    * estimate P₀ (Good-Turing's r=1 mass), the Zipf slope/R²
    * naturalness gate, and the terminal Heaps exponent. Every
    * component is its own oracled query; the flow joins one 1-row,
    * one ≤10-row, and one 10-row output — no corpus-scale work. */
  def corpusDiagnosticsFlow(spark: SparkSession, dir: String, outDir: String): DataFrame = {
    val heaps = SparkEntry.queries("q228_heaps_growth")(spark, dir)
    val gt = SparkEntry.queries("q226_good_turing")(spark, dir)
    val zipf = SparkEntry.queries("q227_zipf_fit")(spark, dir)
    graft.sources.Sinks.writeOrdered(heaps, Seq(col("b")), outDir, Some(1))
    gt.write.mode("overwrite").parquet(s"$outDir/_good_turing")
    zipf.write.mode("overwrite").parquet(s"$outDir/_zipf")
    val p0 = gt.filter(col("r") === 1)
      .select(col("n_tokens"), col("vocab"), col("mass").as("p0_unseen"))
    val beta = heaps.orderBy(desc("b")).limit(1)
      .select(col("vocab_cum"), col("heaps_beta").as("final_heaps_beta"))
    p0.crossJoin(beta)
      .crossJoin(zipf.select(col("slope").as("zipf_slope"), col("r2").as("zipf_r2")))
  }

  /** The QUALITY-SIGNALS flow (r13): one per-document SCORECARD joining
    * all four quality verdicts — q100 rule gate, q273 trained classifier
    * (margin + keep), q283 LM perplexity (ppl + CCNet tercile), q284
    * DSIR importance weight (+ top-quarter selection) — plus (r14) the
    * q286 ensemble DECISION per doc (`ens_keep`: rule mandatory +
    * 2-of-3 learned majority), landed ordered by doc_id, with the q285
    * agreement cube (`_cube`) and the q286 ensemble verdict
    * (`_verdict`) as sidecars folded from ONE pass over the landed
    * bytes. Returns the cube. The scorecard is what a curation decision
    * actually reads (which docs, which signal dissented, what the
    * policy decided); the sidecars are its one-page summaries. Composition cost: each signal is its
    * standalone query's audited plan glued by doc-keyed joins — nothing
    * beyond what the four queries already pay. `numFiles` sizes the
    * landed layout (r14: the corpus-sized scorecard must not funnel
    * through one writer task at scale — default stays 1 only because
    * the test corpora are tiny; a 100 TB run passes a size-derived
    * count, as SCALE.md's writeOrdered note prescribes). */
  def qualitySignalsFlow(spark: SparkSession, dir: String, outDir: String,
      numFiles: Option[Int] = Some(1)): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // one gate pin shared by the rule column and both gate-trained
    // signals (the q285 discipline), and the cube FOLDS FROM the landed
    // scorecard's own lineage — one computation, provably one story
    // (FlowsSpec additionally ties the sidecar to q285's published cube).
    // LEFT joins + the must() raise_error contract (r14 ADVICE): a
    // signal frame that fails to score a doc (q283/q284 drop <2-token
    // docs at the bigram explode) fails LOUD here, exactly like the
    // standalone q285 — the flow and the query can never tell different
    // stories on a corpus containing short docs. The message names the
    // offending doc_id (r15): on a 100 TB run the operator needs a row
    // to chase, not just a column name — raise_error takes a Column, so
    // the id is spliced per-row at zero cost on the non-error path.
    def must(c: String) = coalesce(col(c), raise_error(concat(
      lit(s"qualitySignalsFlow: $c missing for doc_id="),
      col("doc_id").cast("string"),
      lit(" — a quality-signal frame returned fewer rows than the corpus")))).as(c)
    val gate = operators.Corpus.qualityGate(docs)
      .select("doc_id", "keep").localCheckpoint()
    val scorecard = docs.select(col("doc_id"))
      .join(gate.select(col("doc_id"), col("keep").as("rule_keep")),
        Seq("doc_id"), "left")
      .join(operators.Corpus14.qualityMargins(docs)
        .select(col("doc_id"), col("clf_margin"),
          (col("clf_margin") > operators.Corpus14.QThreshold).as("clf_keep")),
        Seq("doc_id"), "left")
      .join(operators.Corpus14.lmPerplexityFrom(docs, gate)
        .select(col("doc_id"), col("ppl"), col("tercile")), Seq("doc_id"), "left")
      .join(operators.Corpus14.dsirSelectFrom(docs, gate)
        .select(col("doc_id"), col("log_w"),
          col("selected").as("dsir_selected")), Seq("doc_id"), "left")
      .select(col("doc_id"), must("rule_keep"), must("clf_margin"),
        must("clf_keep"), must("ppl"), must("tercile"),
        must("log_w"), must("dsir_selected"))
      // the q286 DECISION, per doc (r14): rule gate mandatory + 2-of-3
      // learned majority — the scorecard now carries the verdict a
      // curation run acts on, not just the votes
      .withColumn("ens_keep", col("rule_keep") &&
        (col("clf_keep").cast("int") + (col("tercile") =!= "tail").cast("int") +
          col("dsir_selected").cast("int")) >= 2)
    graft.sources.Sinks.writeOrdered(scorecard, Seq(col("doc_id")), outDir, numFiles)
    val landed = spark.read.parquet(outDir)
    // ONE cell fold from the LANDED bytes feeds both sidecars: the q285
    // cube and (r14) the q286 ensemble verdict — each provably tells the
    // landed scorecard's story (FlowsSpec ties both to their published
    // queries)
    val cells = landed
      .select(col("rule_keep"), col("clf_keep"),
        (col("tercile") =!= "tail").as("ppl_keep"), col("dsir_selected"))
      .groupBy("rule_keep", "clf_keep", "ppl_keep", "dsir_selected")
      .agg(count(lit(1)).as("n_docs"))
      .localCheckpoint()
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    val cube = cells
      .withColumn("share", round(col("n_docs") * lit(1.0) /
        sum("n_docs").over(all), 4))
      .orderBy("rule_keep", "clf_keep", "ppl_keep", "dsir_selected")
    cube.write.mode("overwrite").parquet(s"$outDir/_cube")
    operators.Corpus14.ensembleFromCells(cells)
      .write.mode("overwrite").parquet(s"$outDir/_verdict")
    cube
  }

  /** The INTEGRITY-AUDIT flow (round 5's Merkle family as API): build
    * the q198 hash tree over snapshot v1 and a second snapshot v2,
    * compare trees top-down — root mismatch ⇒ divergent shards ⇒
    * divergent pages — then fingerprint-compare ONLY the docs inside
    * divergent pages (q155's zipper scoped to the localized subtrees).
    * Lands the per-node verdict ordered by (level, node) with the
    * localized changed docs alongside (`_tampered`). Returns the node
    * verdict frame. Composition cost: three dimension-sized joins plus
    * one doc-level compare bounded by the divergent pages — the whole
    * point of the tree. */
  def integrityAuditFlow(v1: DataFrame, v2: DataFrame, outDir: String): DataFrame = {
    val spark = v1.sparkSession
    val t1 = operators.Corpus8.merkle(v1)
      .withColumnRenamed("digest", "d1").withColumnRenamed("n_docs", "n1")
    val t2 = operators.Corpus8.merkle(v2)
      .withColumnRenamed("digest", "d2").withColumnRenamed("n_docs", "n2")
    val verdict = t1.join(t2, Seq("level", "node"), "full_outer")
      .withColumn("ok", when(col("d1") === col("d2"), 1).otherwise(0))
      .select(col("level"), col("node"), col("n1"), col("n2"), col("ok"),
        col("d1"), col("d2"))
    val badPages = verdict.filter(col("level") === "page" && col("ok") === 0)
      .select(col("node").as("page"))
    val in1 = v1.select(col("doc_id"), md5(col("text")).as("fp1"))
      .withColumn("page", expr("doc_id div 64"))
      .join(broadcast(badPages), "page")
    val in2 = v2.select(col("doc_id"), md5(col("text")).as("fp2"))
      .withColumn("page", expr("doc_id div 64"))
      .join(broadcast(badPages), "page")
    // land the tree verdict FIRST (writeOrdered overwrites outDir),
    // then the localized doc diff as a sidecar inside it
    graft.sources.Sinks.writeOrdered(verdict, Seq(col("level"), col("node")), outDir, Some(1))
    in1.join(in2, Seq("page", "doc_id"), "full_outer")
      .withColumn("change", when(col("fp1").isNull, "added")
        .when(col("fp2").isNull, "removed")
        .when(col("fp1") =!= col("fp2"), "changed"))
      .filter(col("change").isNotNull)
      .select("doc_id", "page", "change")
      .write.mode("overwrite").parquet(s"$outDir/_tampered")
    spark.read.parquet(outDir)
  }

  /** Drains the streaming bridge's batchId-keyed landing into a durable
    * doc_id-keyed parquet store, then prunes the drained batch dirs —
    * the COMPACTION step the idempotent landing (StreamingTwin.landBatch)
    * makes necessary at scale: one hive partition per micro-batch is
    * exactly-once-correct but accumulates a dir per batch forever
    * (millions of small files at 100 TB ingest rates; the classic
    * streaming small-file problem). The drain upserts every batch with
    * `batch_id <= upTo` into `storeDir` via the SAME crash-safe
    * stage-and-swap protocol as the article store (Ingest.stageSwapStore)
    * with existing-wins/earliest-batch-wins keep-first semantics, then
    * deletes the drained partitions.
    *
    * Safety contract, in order:
    *  - `upTo` must be a COMMITTED watermark (the streaming checkpoint's
    *    offset log has moved past batch upTo) — committed batches can
    *    never be re-delivered, so their dirs are safe to prune. Batches
    *    above the watermark are left untouched for a possible replay.
    *  - Idempotent anyway: if a crash lands between the store swap and
    *    the prune (or an uncommitted batch IS re-delivered after its
    *    early drain), the next drain re-reads the same rows and the
    *    keyed upsert is a no-op — the store converges, never doubles.
    *  - Crash inside the swap itself: stageSwapStore's torn-swap
    *    recovery restores the backup; the batch dirs are still present
    *    (pruning is last), so re-draining reproduces the same store.
    *
    * Consumer side: a downstream file-stream reading the bridge keeps
    * its own checkpoint; deleting partitions it has CONSUMED is safe
    * (the source's seen-files log ignores deletions; only unprocessed
    * files matter) — so the drain watermark must trail BOTH the
    * producer's commit and every consumer's consumption. A consumer
    * bootstrapping from scratch after a drain starts from the compacted
    * store, not the bridge. StreamingRecoverySpec proves BOTH consumer
    * paths: the restart (a consumer checkpointed past batches 0-1
    * survives their drain, delivers exactly the undrained batch, and
    * store ∪ deliveries conserves the truth) and the fresh bootstrap
    * (a no-checkpoint consumer reading store snapshot ∪ bridge stream
    * sees exactly the truth once — drained rows via the store, the
    * undrained batch via the stream, zero overlap).
    *
    * Precondition on `key`: within a single landed batch the key must be
    * unique (landBatch's keyed frames satisfy this by construction). The
    * keep-first merge orders by (pri, batch_id) and then a content hash
    * of the full row as the final tiebreak — so even a caller that
    * violates the precondition gets a DETERMINISTIC pick (and exact
    * duplicate rows collapse to an arbitrary-but-identical survivor),
    * never a run-to-run nondeterministic one.
    *
    * `consumedFloor`: the highest batch id every downstream consumer has
    * provably consumed (e.g. read from its checkpoint's offset log).
    * When supplied, the drain watermark is min(upTo, consumedFloor) —
    * enforcing the "trail every consumer" half of the safety contract
    * instead of trusting the caller. When absent (a bridge with no
    * file-stream consumers), `upTo` alone governs. Pruned batch ids are
    * logged one line per drain so an over-eager drain is diagnosable.
    *
    * Returns the number of batch partitions drained. FlowsSpec proves
    * convergence under double-drain and post-drain replay, and that the
    * store compacts to O(1) files while the bridge dir shrinks. */
  def drainBridge(spark: SparkSession, bridgeDir: String, storeDir: String,
      upTo: Long, key: Seq[String] = Seq("doc_id"),
      consumedFloor: Option[Long] = None): Int = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val base = Paths.get(bridgeDir)
    if (!Files.isDirectory(base)) return 0
    val effectiveUpTo = consumedFloor.fold(upTo)(math.min(upTo, _))
    // drain is called repeatedly from a long-lived driver: close the
    // directory streams (they hold OS handles until GC otherwise)
    val ls = Files.list(base)
    val drained =
      try ls.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("batch_id="))
        // toLongOption: a malformed or foreign batch_id=* entry (a stray
        // temp dir, a corrupt landing) is skipped, not a permanent
        // NumberFormatException failing every subsequent drain
        .filter(p => p.getFileName.toString.stripPrefix("batch_id=")
          .toLongOption.exists(_ <= effectiveUpTo))
        // numeric order, not lexicographic (r14 ADVICE): the pruned=
        // audit log line must read in batch order (10 after 2, not
        // before); merge correctness never depended on this (the upsert
        // orders by the batch_id COLUMN), only the diagnostic did
        .toSeq.sortBy(_.getFileName.toString.stripPrefix("batch_id=")
          .toLongOption.getOrElse(Long.MaxValue))
      finally ls.close()
    if (drained.isEmpty) return 0
    // an empty micro-batch lands a dir with no part files (AvailableNow
    // triggers deliver them routinely) — nothing to upsert, but the dir
    // still counts as drained and gets pruned below
    def hasData(p: java.nio.file.Path): Boolean = {
      val ls2 = Files.list(p)
      try ls2.iterator().asScala.exists(_.getFileName.toString.endsWith(".parquet"))
      finally ls2.close()
    }
    val withData = drained.filter(hasData)
    if (withData.nonEmpty) {
      val landed = spark.read.option("basePath", bridgeDir)
        .parquet(withData.map(_.toString): _*)
        .withColumn("batch_id", col("batch_id").cast("long"))
      Ingest.stageSwapStore(spark, storeDir) {
        case Some(existing) =>
          // existing wins (it came from an earlier drain of earlier
          // batches), then earliest batch — the same priority-window
          // merge as mergeExistingWins, keyed generically; the full-row
          // content hash is the deterministic final tiebreak (scaladoc
          // precondition — only bites on a duplicate key WITHIN a batch)
          val e = existing.withColumn("pri", lit(0)).withColumn("batch_id", lit(-1L))
          val b = landed.withColumn("pri", lit(1))
          val u = e.unionByName(b)
          Relational.dedupKeepFirst(u, key,
            Seq(col("pri"), col("batch_id"), xxhash64(u.columns.map(col): _*)))
            .drop("pri", "batch_id")
        case None =>
          Relational.dedupKeepFirst(landed, key,
            Seq(col("batch_id"), xxhash64(landed.columns.map(col): _*)))
            .drop("batch_id")
      }
    }
    // prune LAST: a crash anywhere above leaves every batch dir in
    // place and the next drain converges to the same store
    println(s"FLOW drain-bridge upTo=$effectiveUpTo pruned=" +
      drained.map(_.getFileName.toString.stripPrefix("batch_id=")).mkString(","))
    drained.foreach { p =>
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => Files.delete(q))
      finally walk.close()
    }
    drained.size
  }

  def main(args: Array[String]): Unit = {
    val spark = Session()
    val out = java.nio.file.Files.createTempDirectory("graft_flows")
    val store = out.resolve("articles_store").toString

    val delta = fetchArticles(spark, store, Seq("security"))
    println(s"FLOW fetch-articles delta=${delta.count()} store=${spark.read.parquet(store).count()}")

    val q = queryArticles(spark.read.parquet(store), term = Some("ransomware"))
    println(s"FLOW query-articles rows=${q.count()}")

    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val sug = suggestTerms(docs, Seq("data", "join"), topN = 5)
    println(s"FLOW suggest-terms rows=${sug.count()}")

    val json = buildTree(docs, Seq("join"), depth = 2, out.resolve("topic_tree.json"))
    println(s"FLOW build-tree chars=${json.length}")

    val taxonomy = SparkEntry.queries("q77_wordcloud_weights")(spark, "/root/testdata/sf0.001")
    println(s"FLOW build-taxonomy rows=${taxonomy.count()}")

    val chunks = corpusFlow(docs, Seq(3L, 7L), out.resolve("corpus_chunks").toString)
    println(s"FLOW corpus chunks=${chunks.count()}")

    val sel = selectionFlow(docs, budget = 600L, nShards = 4,
      out.resolve("corpus_selection").toString)
    println(s"FLOW selection rows=${sel.count()} shards=${sel.select("shard").distinct().count()}")

    val enc = tokenizerFlow(docs, rounds = 3, out.resolve("tokenizer").toString)
    println(s"FLOW tokenizer encoded=${enc.count()}")

    val packd = packingFlow(spark, "/root/testdata/sf0.001",
      out.resolve("packed").toString)
    println(s"FLOW packing docs=${packd.count()} seqs=${packd.select(max("seq_first")).head.getLong(0) + 1}")

    val sem = semanticDedupFlow(spark, "/root/testdata/sf0.001",
      out.resolve("semdedup").toString)
    println(s"FLOW semdedup kept=${sem.count()}")

    val hyg = hygieneFlow(spark, "/root/testdata/sf0.001",
      out.resolve("hygiene").toString)
    println(s"FLOW hygiene survivors=${hyg.count()}")

    val mon = monitoringFlow(spark, "/root/testdata/sf0.001",
      out.resolve("monitoring").toString)
    println(s"FLOW monitoring series=${mon.count()}")

    // bridge lifecycle: batchId-keyed idempotent landings drained into
    // the compacted doc_id-keyed store (the streaming topology's sink
    // side, runnable standalone)
    val bridge = out.resolve("bridge").toString
    val docsStore = out.resolve("docs_store").toString
    val hosted = operators.Corpus12.hostedDocs(docs)
      .select(col("doc_id"), col("host"), col("n_chars"))
    Seq(0L, 1L, 2L).foreach(b => streaming.StreamingTwin.landBatch(
      hosted.filter(col("doc_id") % 3 === b), b, bridge))
    val drained = drainBridge(spark, bridge, docsStore, upTo = 2L)
    println(s"FLOW drain-bridge batches=$drained " +
      s"store=${spark.read.parquet(docsStore).count()}")
    spark.stop()
  }
}
