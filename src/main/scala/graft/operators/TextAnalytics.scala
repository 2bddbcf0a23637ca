package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text-analytics surface: the reference's n-gram term-frequency mining
  * (scrappy.py:368-373 A1, 467-471 A2), TF-IDF corpus statistics
  * (scrappy.py:36-37 A7), plus the LLM-pipeline text operators from the
  * north star: quality scoring, language ID, token counting, and document
  * fingerprinting — all over the `documents` table.
  *
  * Design rules:
  *  - Tokenization is pure Catalyst (`split`/`filter` higher-order fns) so
  *    it stays inside WholeStageCodegen — no UDFs, no mapPartitions.
  *  - Hashing is md5 (identical hex output in Spark and DuckDB) so
  *    fingerprint/minhash queries are oracle-checkable, unlike
  *    engine-specific hash()/xxhash64.
  *  - Every aggregation is a hash-agg with map-side partials; top-K =
  *    orderBy+limit → TakeOrderedAndProject. At 100 TB the only shuffle is
  *    the groupBy on term — the token explode is map-side.
  *  - Spark arrays are 0-based, DuckDB lists 1-based: n-gram index
  *    sequences are offset accordingly on each side.
  */
object TextAnalytics {

  /** Shared stopword list (reference uses sklearn's english list;
    * scrappy.py:368 — we pin a small explicit list so both engines agree). */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "on", "for", "with")
  /** The one quoted-SQL form of the stop list (oracle-parity critical —
    * every module must interpolate THIS, not its own copy). */
  private[graft] val stopSqlList = Stopwords.map(w => s"'$w'").mkString(", ")

  /** Exact-content fingerprint: md5 of the C1-normalized text (q35's
    * fp_exact) — THE dedup/decontamination key. ONE definition: q35,
    * q58, q63, q97 and their oracles all reference this pair, so a
    * change to the normalization cannot silently desynchronize what
    * "duplicate" means across the pipeline. */
  private[graft] def fpExactCol: org.apache.spark.sql.Column =
    md5(trim(lower(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""))))

  private[graft] val fpExactDuck =
    "md5(trim(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))))"

  /** Tokens: lowercase whitespace split, empties removed (handles the
    * corpus's trailing spaces). Same expression text on both sides. This
    * pair DEFINES what a token is for every oracle-checked query — one
    * shared copy (q30/q42/q77/q93..q100 all interpolate it) so the Spark
    * and DuckDB strings can never drift module-by-module. */
  private[graft] val toksExpr = "filter(split(lower(text), ' '), x -> x <> '')"
  private[graft] val toksDuck = "list_filter(string_split(lower(text), ' '), x -> x <> '')"

  /** The stopword batteries of the lang-id heuristic as ONE DATA TABLE
    * (r12: adding a language is a ROW here, not code — every consumer's
    * count columns, argmax, and oracle CASE are GENERATED from it):
    * (lang, stopwords), ordered by tie-break priority. Rows 1-3
    * (en/es/de) are the original q34/q79 battery; row 4 (ru) is the
    * non-Latin-script row that pins the tokenizer path as honest UTF-8
    * — lower()/split/IN-list matching on Cyrillic, nothing in the chain
    * assumes ASCII (Corpus14Spec proves a Russian document predicts
    * 'ru' through the full q275 gate body). q34/q79 keep the 3-language
    * battery (their published schema); the q275 funnel gate runs the
    * full table. */
  private[graft] val langBatteries: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "an", "and", "or", "of", "is", "to"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "se"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den"),
    "ru" -> Seq("и", "в", "не", "на", "что", "с", "он", "как"))

  /** The IN-list literal for one battery row — the same string
    * interpolates into the Spark HOF and the DuckDB list_filter, so the
    * two engines can never drift. */
  private[operators] def langList(lang: String): String =
    langBatteries.find(_._1 == lang).get._2.map(w => s"'$w'").mkString(",")

  private[operators] val langEnList = langList("en")
  private[operators] val langEsList = langList("es")
  private[operators] val langDeList = langList("de")

  /** The argmax + tie-break (table order) over `langs`' battery counts
    * (columns `n_<lang>`) — ONE generated Spark expression and its
    * byte-identical DuckDB CASE twin, shared by q34, q79, and the
    * funnel gate (q275). A tie-break change or a new language edits the
    * [[langBatteries]] table, nothing else. */
  private[operators] def langPredColOf(langs: Seq[String]): org.apache.spark.sql.Column =
    langs.init.zipWithIndex.foldRight(lit(langs.last)) { case ((l, i), els) =>
      val cond = langs.drop(i + 1).map(o => col(s"n_$l") >= col(s"n_$o")).reduce(_ && _)
      when(cond, l).otherwise(els)
    }
  private[operators] def langPredDuckOf(langs: Seq[String]): String = {
    val cases = langs.init.zipWithIndex.map { case (l, i) =>
      val cond = langs.drop(i + 1).map(o => s"n_$l >= n_$o").mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString(" ")
    s"CASE $cases ELSE '${langs.last}' END"
  }

  private[operators] def langPredCol: org.apache.spark.sql.Column =
    langPredColOf(langBatteries.take(3).map(_._1))
  private[operators] val langPredDuck =
    langPredDuckOf(langBatteries.take(3).map(_._1))

  /** Deterministic multi-language corpus for q79: sentences dense in each
    * language's own stopword signal, disjoint from the other two lists —
    * the fixture where the lang-id heuristic can demonstrably be RIGHT
    * (asserted ≥0.9 accurate in TextAnalyticsSpec). */
  val langIdFixture: Seq[(Int, String, String)] = Seq(
    (0, "en", "the cat and the dog of a farm is to be fed"),
    (1, "en", "a model of the data is to run and to learn"),
    (2, "en", "an old map of the sea is to guide the crew"),
    (3, "en", "the code and the tests of an app is to ship"),
    (4, "es", "el perro y la casa de los vecinos se ve en que calle"),
    (5, "es", "la red se entrena con los datos y el modelo de que habla"),
    (6, "es", "los libros de la biblioteca se leen en el verano y que mas"),
    (7, "es", "el agua de la fuente y los arboles en que plaza se ven"),
    (8, "de", "der hund und die katze von den nachbarn ist mit das haus"),
    (9, "de", "die sonne ist von der stadt und das licht mit den farben"),
    (10, "de", "das auto von der firma und die strasse ist mit den wagen"),
    (11, "de", "der wald und die berge von das land ist mit den seen"))

  /** q59's body, input-agnostic (needs `doc_id`, `text`): BM25 scores
    * (k1=1.2, b=0.75) for the documents matching any of `qterms` —
    * (doc_id, bm25), unordered. Only query-term postings survive the tf
    * filter, so the scoring shuffle is tiny at any corpus size; df and
    * corpus stats broadcast as scalars; per-doc term scores fold a
    * term-sorted list (double addition is order-sensitive). Shared by
    * q59 and q123's fusion. */
  private[operators] def bm25Scores(docs: DataFrame, qterms: Seq[String]): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(expr(toksExpr)).as("term"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg((sum("dl") * lit(1.0) / count(lit(1))).as("avgdl"))
    val n = docs.agg(count(lit(1)).as("n"))
    val tf = tok.filter(col("term").isInCollection(qterms))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfT), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .crossJoin(broadcast(n))
      .withColumn("sc", expr(
        """ln((n - df + 0.5D) / (df + 0.5D) + 1.0D) * tf * 2.2D /
          |(tf + 1.2D * (0.25D + 0.75D * dl / avgdl))""".stripMargin.replace("\n", " ")))
      .groupBy("doc_id")
      .agg(round(Folds.orderedSum(col("sc"), col("term")), 4).as("bm25"))
  }

  /** The DuckDB CTE chain matching [[bm25Scores]]; splice after WITH.
    * Defines the final `bm(doc_id, bm25)`. */
  private[operators] def bm25DuckCte(qterms: Seq[String]): String = {
    val termList = qterms.map(t => s"'$t'").mkString(", ")
    s"""tok AS (SELECT doc_id, unnest($toksDuck) AS term FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
       |stats AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |n AS (SELECT count(*) AS n FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       |WHERE term IN ($termList) GROUP BY 1, 2),
       |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT tf.doc_id, tf.term,
       |ln((n.n - dfx.df + 0.5) / (dfx.df + 0.5) + 1.0) * tf.tf * 2.2 /
       |(tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS sc
       |FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id), stats, n),
       |bm AS (SELECT doc_id, round(list_sum(list(sc ORDER BY term)), 4) AS bm25
       |FROM sc GROUP BY doc_id)""".stripMargin.replace("\n", " ")
  }

  def defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q30_term_freq",
      // A1: corpus-wide term frequency, top-K vocabulary (scrappy.py:368-373).
      (s, dir) =>
        Tables.documents(s, dir)
          .select(explode(expr(toksExpr)).as("term"))
          .filter(!col("term").isInCollection(Stopwords))
          .groupBy("term")
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("term"))
          .limit(100),
      Some(s"""SELECT term, count(*) AS cnt FROM (
              |SELECT unnest($toksDuck) AS term FROM documents) u
              |WHERE term NOT IN ($stopSqlList)
              |GROUP BY term ORDER BY cnt DESC, term LIMIT 100""".stripMargin.replace("\n", " ")),
      bench = true),

    QueryDef(
      "q31_bigram_freq",
      // A2: 2-gram variant (scrappy.py:467-470, ngram_range=(1,2)).
      (s, dir) =>
        Tables.documents(s, dir)
          .select(expr(toksExpr).as("w"))
          .select(explode(expr(
            """CASE WHEN size(w) >= 2
              |THEN zip_with(slice(w, 1, size(w)-1), slice(w, 2, size(w)-1), (x, y) -> concat(x, ' ', y))
              |ELSE slice(w, 1, 0) END""".stripMargin.replace("\n", " "))).as("term"))
          .groupBy("term")
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("term"))
          .limit(100),
      Some(s"""WITH toks AS (SELECT $toksDuck AS w FROM documents)
              |SELECT w[i] || ' ' || w[i+1] AS term, count(*) AS cnt
              |FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w)-1)) AS i) g
              |GROUP BY 1 ORDER BY cnt DESC, term LIMIT 100""".stripMargin.replace("\n", " ")),
      bench = true),

    QueryDef(
      "q46_ngram123",
      // A1 exact shape: CountVectorizer(ngram_range=(1,3), max_features=1000)
      // — unigrams+bigrams+trigrams counted together, top-1000 vocabulary
      // (scrappy.py:368-371). One explode over the concatenated n-gram
      // arrays; map-side partial agg; top-K via TakeOrderedAndProject.
      (s, dir) =>
        Tables.documents(s, dir)
          .select(expr(toksExpr).as("w"))
          .select(explode(expr(
            """concat(w,
              |CASE WHEN size(w) >= 2 THEN zip_with(slice(w, 1, size(w)-1), slice(w, 2, size(w)-1), (x, y) -> concat(x, ' ', y)) ELSE slice(w, 1, 0) END,
              |CASE WHEN size(w) >= 3 THEN transform(sequence(0, size(w)-3), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2])) ELSE slice(w, 1, 0) END)"""
              .stripMargin.replace("\n", " "))).as("term"))
          .filter(!col("term").isInCollection(Stopwords))
          .groupBy("term")
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("term"))
          .limit(1000),
      Some(s"""WITH toks AS (SELECT $toksDuck AS w FROM documents),
              |grams AS (
              |SELECT w[i] AS term FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
              |UNION ALL
              |SELECT w[i] || ' ' || w[i+1] AS term FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w)-1)) AS i) g
              |UNION ALL
              |SELECT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS term FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) g)
              |SELECT term, count(*) AS cnt FROM grams
              |WHERE term NOT IN ($stopSqlList)
              |GROUP BY term ORDER BY cnt DESC, term LIMIT 1000""".stripMargin.replace("\n", " ")),
      bench = true),

    QueryDef(
      "q77_wordcloud_weights",
      // A5 EXACT semantics (scrappy.py:508-517): iterate docs; skip topic
      // -1; for the doc's topic, accumulate every (word, weight) of the
      // topic's word list UNLESS any whitespace token of the word is a
      // stopword (`any(stop in word.split())` — token equality, not
      // substring). Accumulating per doc means a topic's weights count
      // once per member doc: weight(word) = Σ_t n_docs(t)·w_t(word).
      // The topic assignment here is a pinned fixture (doc_id % 4 - 1 —
      // the KMeans path stays rows-only in q72); topic word lists are the
      // per-topic top-5 1-2-grams by count, the deterministic stand-in
      // for BERTopic's c-TF-IDF list.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, dir)
          .withColumn("topic", (col("doc_id") % 4 - 1).cast("long"))
          .filter(col("topic") =!= -1)
        val grams = docs.select(col("topic"), expr(toksExpr).as("w"))
          .select(col("topic"), explode(expr(
            """concat(w, CASE WHEN size(w) >= 2
              |THEN zip_with(slice(w, 1, size(w)-1), slice(w, 2, size(w)-1), (x, y) -> concat(x, ' ', y))
              |ELSE slice(w, 1, 0) END)""".stripMargin.replace("\n", " "))).as("word"))
        val tw = grams.groupBy("topic", "word").agg(count(lit(1)).as("wgt"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("topic").orderBy(col("wgt").desc, col("word"))))
          .filter(col("rn") <= 5)
        val sizes = docs.groupBy("topic").agg(count(lit(1)).as("n_docs"))
        tw.join(sizes, "topic")
          .filter(expr(s"size(filter(split(word, ' '), x -> x IN ($stopSqlList))) = 0"))
          .groupBy("word").agg(sum(col("wgt") * col("n_docs")).as("weight"))
          .orderBy(col("weight").desc, col("word"))
      },
      Some(s"""WITH docs AS (SELECT doc_id, $toksDuck AS w, doc_id % 4 - 1 AS topic
              |FROM documents WHERE doc_id % 4 - 1 <> -1),
              |grams AS (
              |SELECT topic, w[i] AS word FROM docs, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
              |UNION ALL
              |SELECT topic, w[i] || ' ' || w[i+1] AS word FROM docs, LATERAL (SELECT unnest(generate_series(1, len(w)-1)) AS i) g),
              |tw AS (SELECT topic, word, cnt AS wgt FROM (
              |SELECT topic, word, count(*) AS cnt,
              |row_number() OVER (PARTITION BY topic ORDER BY count(*) DESC, word) AS rn
              |FROM grams GROUP BY topic, word) x WHERE rn <= 5),
              |sizes AS (SELECT topic, count(*) AS n_docs FROM docs GROUP BY topic)
              |SELECT word, CAST(sum(wgt * n_docs) AS BIGINT) AS weight
              |FROM tw JOIN sizes USING (topic)
              |WHERE len(list_filter(string_split(word, ' '), x -> x IN ($stopSqlList))) = 0
              |GROUP BY word ORDER BY weight DESC, word""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q59_bm25",
      // BM25 ranking (Robertson/Spärck Jones probabilistic retrieval;
      // k1=1.2, b=0.75) for a fixed 3-term query — the scale-grade
      // upgrade of the reference's contains-filter search
      // (article_querry.py:13-27): instead of a boolean match, every doc
      // gets the standard tf-saturated, length-normalized relevance
      // score. Shape at 100 TB: one explode→groupBy for tf (only QUERY
      // terms survive the filter, so the shuffle is tiny), df and corpus
      // stats broadcast as scalars. Per-doc term scores are summed with
      // Folds.orderedSum in term order because double addition is
      // order-sensitive — the oracle folds in the same term order.
      (s, dir) =>
        bm25Scores(Tables.documents(s, dir), Seq("scan", "join", "filter"))
          .orderBy(col("bm25").desc, col("doc_id")),
      Some(s"""WITH ${bm25DuckCte(Seq("scan", "join", "filter"))}
              |SELECT doc_id, bm25 FROM bm
              |ORDER BY bm25 DESC, doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q66_pmi_collocations",
      // Pointwise mutual information over document co-occurrence — the
      // classic collocation/association signal (Church & Hanks 1990):
      // PMI(a,b) = ln(df(a,b)·N / (df(a)·df(b))) on the top-20
      // non-stopword vocabulary. Scale shape: the vocabulary cap bounds
      // the pair space at V²/2 (190 pairs) regardless of corpus size,
      // the top-V table broadcasts, and the per-doc self-join runs on
      // the doc-partitioned filtered term sets — never on the raw
      // corpus.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val tok = docs.select(col("doc_id"),
          explode(expr(s"array_distinct($toksExpr)")).as("t"))
          .filter(!col("t").isInCollection(Stopwords))
        val top = tok.groupBy("t").agg(count(lit(1)).as("df"))
          .orderBy(col("df").desc, col("t")).limit(20)
        val ft = tok.join(broadcast(top), "t")
        val n = docs.agg(count(lit(1)).as("n"))
        ft.as("a")
          .join(ft.as("b"),
            col("a.doc_id") === col("b.doc_id") && col("a.t") < col("b.t"))
          .groupBy(col("a.t").as("ta"), col("b.t").as("tb"))
          .agg(count(lit(1)).as("df_ab"),
            first(col("a.df")).as("df_a"), first(col("b.df")).as("df_b"))
          .crossJoin(broadcast(n))
          .select(col("ta"), col("tb"), col("df_ab"),
            round(log(col("df_ab") * col("n") * lit(1.0) / (col("df_a") * col("df_b"))), 6).as("pmi"))
          .orderBy(col("pmi").desc, col("ta"), col("tb"))
      },
      Some(s"""WITH tok AS (SELECT DISTINCT doc_id, t FROM
              |(SELECT doc_id, unnest(list_distinct($toksDuck)) AS t FROM documents) u
              |WHERE t NOT IN ($stopSqlList)),
              |top AS (SELECT t, count(*) AS df FROM tok GROUP BY 1 ORDER BY df DESC, t LIMIT 20),
              |ft AS (SELECT tok.doc_id, tok.t, top.df FROM tok JOIN top USING (t)),
              |n AS (SELECT count(*) AS n FROM documents),
              |p AS (SELECT a.t AS ta, b.t AS tb, count(*) AS df_ab,
              |any_value(a.df) AS df_a, any_value(b.df) AS df_b
              |FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.t < b.t GROUP BY 1, 2)
              |SELECT ta, tb, df_ab,
              |round(ln(df_ab * n.n * 1.0 / (df_a * df_b)), 6) AS pmi
              |FROM p, n ORDER BY pmi DESC, ta, tb""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q32_tfidf",
      // A7: TF-IDF as two grouped aggregates + a broadcast join — sklearn's
      // smooth-idf formula ln((N+1)/(df+1))+1 (scrappy.py:36-37).
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val tok = docs.select(col("doc_id"), explode(expr(toksExpr)).as("term"))
        val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfT = tf.groupBy("term").agg(countDistinct("doc_id").as("df"))
        val n = docs.agg(count(lit(1)).as("n"))
        tf.join(broadcast(dfT), "term")
          .crossJoin(broadcast(n))
          .select(col("doc_id"), col("term"),
            round(col("tf") * (log((col("n") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)), 6).as("tfidf"))
          .orderBy(col("tfidf").desc, col("doc_id"), col("term"))
          .limit(200)
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest($toksDuck) AS term FROM documents),
              |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
              |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
              |n AS (SELECT count(*) AS n FROM documents)
              |SELECT tf.doc_id, tf.term, round(tf.tf * (ln((n.n+1.0)/(df.df+1.0))+1.0), 6) AS tfidf
              |FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
              |ORDER BY tfidf DESC, tf.doc_id, tf.term LIMIT 200""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q33_quality_score",
      // North-star text quality: length / token-count / stopword-ratio
      // signals per document, all single-pass scan expressions.
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), expr(toksExpr).as("w"), col("text"))
          .select(
            col("doc_id"),
            length(col("text")).cast("long").as("text_len"),
            size(col("w")).cast("long").as("n_tokens"),
            expr(s"size(filter(w, x -> x IN ($stopSqlList)))").cast("long").as("n_stop"),
            // 1.0D: a bare 1.0 literal is DECIMAL in Spark SQL, which would
            // make round() return Decimal while DuckDB returns DOUBLE.
            expr("CASE WHEN size(w) = 0 THEN NULL ELSE round(length(replace(text, ' ', '')) * 1.0D / size(w), 4) END").as("avg_token_len"),
            expr(s"CASE WHEN size(w) = 0 THEN NULL ELSE round(size(filter(w, x -> x IN ($stopSqlList))) * 1.0D / size(w), 4) END").as("stopword_ratio"))
          .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, text, $toksDuck AS w FROM documents)
              |SELECT doc_id, length(text) AS text_len, len(w) AS n_tokens,
              |len(list_filter(w, x -> x IN ($stopSqlList))) AS n_stop,
              |CASE WHEN len(w) = 0 THEN NULL ELSE round(length(replace(text, ' ', '')) * 1.0 / len(w), 4) END AS avg_token_len,
              |CASE WHEN len(w) = 0 THEN NULL ELSE round(len(list_filter(w, x -> x IN ($stopSqlList))) * 1.0 / len(w), 4) END AS stopword_ratio
              |FROM t ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q34_lang_id",
      // North-star language ID: deterministic stopword-hit heuristic with a
      // fixed argmax tie-break (en > es > de). Pure scan expressions.
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), expr(toksExpr).as("w"))
          .select(
            col("doc_id"), col("lang"),
            expr(s"size(filter(w, x -> x IN ($langEnList)))").cast("long").as("n_en"),
            expr(s"size(filter(w, x -> x IN ($langEsList)))").cast("long").as("n_es"),
            expr(s"size(filter(w, x -> x IN ($langDeList)))").cast("long").as("n_de"))
          .withColumn("predicted", langPredCol)
          .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, lang, $toksDuck AS w FROM documents),
             |c AS (SELECT doc_id, lang,
             |len(list_filter(w, x -> x IN ($langEnList))) AS n_en,
             |len(list_filter(w, x -> x IN ($langEsList))) AS n_es,
             |len(list_filter(w, x -> x IN ($langDeList))) AS n_de
             |FROM t)
             |SELECT doc_id, lang, n_en, n_es, n_de,
             |$langPredDuck AS predicted
             |FROM c ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q79_lang_id_fixture",
      // The same stopword-hit heuristic as q34, on a corpus where the
      // signal EXISTS (VERDICT r1 "what's wrong" #4): a pinned
      // multi-language literal fixture. TextAnalyticsSpec asserts the
      // heuristic's accuracy on it; the testdata corpus (q34) only proves
      // determinism, not capability.
      (s, _) => {
        import s.implicits._
        langIdFixture.toDF("id", "lang", "text")
          .select(col("id").cast("long").as("id"), col("lang"), expr(toksExpr).as("w"))
          .select(
            col("id"), col("lang"),
            expr(s"size(filter(w, x -> x IN ($langEnList)))").cast("long").as("n_en"),
            expr(s"size(filter(w, x -> x IN ($langEsList)))").cast("long").as("n_es"),
            expr(s"size(filter(w, x -> x IN ($langDeList)))").cast("long").as("n_de"))
          .withColumn("predicted", langPredCol)
          .orderBy("id")
      },
      Some(s"""WITH f(id, lang, text) AS (VALUES ${langIdFixture.map {
                case (i, l, t) => s"($i, '$l', '$t')" }.mkString(", ")}),
              |t AS (SELECT CAST(id AS BIGINT) AS id, lang,
              |$toksDuck AS w FROM f),
              |c AS (SELECT id, lang,
              |len(list_filter(w, x -> x IN ($langEnList))) AS n_en,
              |len(list_filter(w, x -> x IN ($langEsList))) AS n_es,
              |len(list_filter(w, x -> x IN ($langDeList))) AS n_de
              |FROM t)
              |SELECT id, lang, n_en, n_es, n_de,
              |$langPredDuck AS predicted
              |FROM c ORDER BY id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q35_fingerprint",
      // North-star fingerprinting: exact content hash over normalized text
      // (C1, scrappy.py:46-47) + a 1-permutation minhash over 3-token
      // shingles — md5 so both engines produce identical hex.
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"),
            fpExactCol.as("fp_exact"),
            expr(toksExpr).as("w"))
          .withColumn("fp_shingle_min",
            // Spark arrays are 0-based: indices 0 .. size-3.
            expr("""CASE WHEN size(w) >= 3
                   |THEN array_min(transform(sequence(0, size(w)-3), i -> md5(concat(w[i], ' ', w[i+1], ' ', w[i+2]))))
                   |ELSE NULL END""".stripMargin.replace("\n", " ")))
          .drop("w")
          .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, text, $toksDuck AS w FROM documents)
              |SELECT doc_id,
              |$fpExactDuck AS fp_exact,
              |CASE WHEN len(w) >= 3
              |THEN list_min(list_transform(generate_series(1, len(w)-2), i -> md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2])))
              |ELSE NULL END AS fp_shingle_min
              |FROM t ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q91_token_entropy",
      // Shannon entropy of the within-document token distribution — the
      // standard repetitiveness signal for quality filtering (low entropy =
      // degenerate/repetitive text). Two hash-aggs; ln() agrees bit-for-bit
      // across engines on identical count-derived ratios.
      (s, dir) => {
        val tok = Tables.documents(s, dir)
          .select(col("doc_id"), explode(expr(toksExpr)).as("term"))
        val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
        val n = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
        tf.join(n, "doc_id")
          .groupBy("doc_id")
          .agg(round(-sum((col("c") / col("n")) * log(col("c") / col("n"))), 6).as("entropy"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest($toksDuck) AS term FROM documents),
              |tf AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2),
              |n AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1)
              |SELECT tf.doc_id,
              |round(-sum((c * 1.0 / n.n) * ln(c * 1.0 / n.n)), 6) AS entropy
              |FROM tf JOIN n ON tf.doc_id = n.doc_id
              |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q90_rolling_hash",
      // Rabin-Karp-style polynomial prefix hash (base 31 over the first 8
      // chars — fits in int64 without modular reduction). Spark computes it
      // as a Horner fold; the oracle spells out the powers — identical
      // integer result, exact compare.
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"),
            expr("aggregate(sequence(1, 8), 0L, (acc, i) -> acc * 31 + ascii(substring(text, i, 1)))")
              .as("polyhash"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |CAST(list_sum(list_transform(generate_series(1, 8), i ->
             |ascii(substr(text, i, 1)) * ([27512614111, 887503681, 28629151, 923521, 29791, 961, 31, 1])[i]
             |)) AS BIGINT) AS polyhash
             |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q36_token_count",
      // North-star token counting: whitespace tokens, regex word tokens, and
      // a chars/4 BPE-style approximation.
      (s, dir) =>
        Tables.documents(s, dir)
          .select(
            col("doc_id"),
            expr("size(filter(split(text, ' '), x -> x <> ''))").cast("long").as("ws_tokens"),
            expr("size(filter(split(text, '[^a-zA-Z0-9]+'), x -> x <> ''))").cast("long").as("re_tokens"),
            ceil(length(col("text")) / lit(4.0)).cast("long").as("approx_bpe"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |len(list_filter(string_split(text, ' '), x -> x <> '')) AS ws_tokens,
             |len(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> '')) AS re_tokens,
             |CAST(ceil(length(text) / 4.0) AS BIGINT) AS approx_bpe
             |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q138_retrieval_ndcg",
      // OFFLINE RETRIEVAL EVAL — nDCG@10 of the q59 BM25 ranking (the
      // SAME factored bm25Scores body), judged by graded term-presence
      // relevance (rel = how many of the 3 query terms the doc's token
      // set contains, 0-3): DCG@10 over the ranking, IDCG@10 over the
      // ideal rel-desc ordering, their ratio. The metric pipeline every
      // retrieval stack ships next to its index build — computed
      // relationally so a 100 TB eval is two top-10s (TakeOrdered) and
      // two 10-row ordered folds (the repo's float discipline: sums
      // fold over rank-sorted lists, never an unordered float agg).
      (s, dir) => {
        val terms = Seq("scan", "join", "filter")
        val docs = Tables.documents(s, dir)
        val rel = docs
          .select(col("doc_id"), expr(s"array_distinct($toksExpr)").as("w"))
          .select(col("doc_id"),
            terms.map(t => expr(s"CASE WHEN array_contains(w, '$t') THEN 1L ELSE 0L END"))
              .reduce(_ + _).as("rel"))
        val ranked = bm25Scores(docs, terms)
          .orderBy(col("bm25").desc, col("doc_id")).limit(10)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
          .join(rel, "doc_id")
          .withColumn("contrib", expr("rel / log2(rank + 1.0D)"))
        val ideal = rel.orderBy(col("rel").desc, col("doc_id")).limit(10)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy(col("rel").desc, col("doc_id"))).cast("long"))
          .withColumn("contrib", expr("rel / log2(rank + 1.0D)"))
        val gain = round(Folds.orderedSum(col("contrib"), col("rank")), 6)
        val dcg = ranked.agg(gain.as("dcg"))
        val idcg = ideal.agg(gain.as("idcg"))
        dcg.crossJoin(idcg)
          .select(col("dcg"), col("idcg"),
            round(col("dcg") / col("idcg"), 6).as("ndcg"))
      },
      Some(s"""WITH ${bm25DuckCte(Seq("scan", "join", "filter"))},
              |rel AS (SELECT doc_id,
              |(CASE WHEN list_contains(list_distinct($toksDuck), 'scan') THEN 1 ELSE 0 END) +
              |(CASE WHEN list_contains(list_distinct($toksDuck), 'join') THEN 1 ELSE 0 END) +
              |(CASE WHEN list_contains(list_distinct($toksDuck), 'filter') THEN 1 ELSE 0 END) AS rel
              |FROM documents),
              |ranked AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank
              |FROM (SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT 10) z),
              |rc AS (SELECT rank, rel / log2(rank + 1.0) AS contrib FROM ranked JOIN rel USING (doc_id)),
              |ideal AS (SELECT doc_id, rel, CAST(row_number() OVER (ORDER BY rel DESC, doc_id) AS BIGINT) AS rank
              |FROM (SELECT doc_id, rel FROM rel ORDER BY rel DESC, doc_id LIMIT 10) z),
              |ic AS (SELECT rank, rel / log2(rank + 1.0) AS contrib FROM ideal),
              |d AS (SELECT round(list_sum(list(contrib ORDER BY rank)), 6) AS dcg FROM rc),
              |i AS (SELECT round(list_sum(list(contrib ORDER BY rank)), 6) AS idcg FROM ic)
              |SELECT dcg, idcg, round(dcg / idcg, 6) AS ndcg FROM d, i""".stripMargin.replace("\n", " "))),

    QueryDef(
      "q177_phrase_search",
      // EXACT PHRASE SEARCH over POSITIONAL POSTINGS — the token-level
      // operator `contains` can't express (substring match ignores
      // token boundaries; BM25 ignores adjacency): postings (term,
      // doc_id, pos) joined against a broadcast (phrase, slot, term)
      // table; a row contributes candidate start = pos − slot, and a
      // start position with ALL |phrase| distinct slots present is an
      // exact occurrence. This is the classic inverted-index phrase
      // algorithm (and the contamination-check primitive for exact
      // n-gram probes with positions). Scale: the broadcast join keeps
      // only postings of the phrases' terms (the join IS the filter),
      // then one (phrase, doc, start)-keyed count — no corpus
      // self-join, no window.
      (s, dir) => {
        import s.implicits._
        // Phrases have DISTINCT terms, so per (start) each slot matches
        // at most once and count(*) == plen certifies the occurrence
        // (a repeated-term phrase would count DISTINCT slot instead).
        val phrases = Seq("slow hash batch", "customer part join", "window fast query")
        val pdf = phrases.flatMap { p =>
          val ts = p.split(' ')
          ts.zipWithIndex.map { case (t, sl) => (p, sl.toLong, t, ts.length.toLong) }
        }.toDF("phrase", "slot", "term", "plen")
        val postings = Tables.documents(s, dir)
          .select(col("doc_id"), posexplode(expr(toksExpr)))
          .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("term"))
        postings.join(broadcast(pdf), "term")
          .select(col("phrase"), col("plen"), col("doc_id"),
            (col("pos") - col("slot")).as("start"))
          .filter(col("start") >= 0)
          .groupBy("phrase", "plen", "doc_id", "start")
          .agg(count(lit(1)).as("nslots"))
          .filter(col("nslots") === col("plen"))
          .groupBy("phrase", "doc_id")
          .agg(count(lit(1)).as("n_matches"), min("start").as("first_pos"))
          .orderBy("phrase", "doc_id")
      },
      Some(s"""WITH ph AS (
             |SELECT 'slow hash batch' AS phrase UNION ALL
             |SELECT 'customer part join' UNION ALL SELECT 'window fast query'),
             |pt AS (SELECT phrase, CAST(i - 1 AS BIGINT) AS slot,
             |string_split(phrase, ' ')[i] AS term,
             |CAST(len(string_split(phrase, ' ')) AS BIGINT) AS plen
             |FROM ph, LATERAL (SELECT unnest(generate_series(1, len(string_split(phrase, ' ')))) AS i) g),
             |postings AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, w[i] AS term
             |FROM (SELECT doc_id, $toksDuck AS w FROM documents) t,
             |LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g),
             |cand AS (SELECT pt.phrase, pt.plen, p.doc_id, p.pos - pt.slot AS start
             |FROM postings p JOIN pt ON p.term = pt.term WHERE p.pos - pt.slot >= 0),
             |hits AS (SELECT phrase, plen, doc_id, start, count(*) AS nslots
             |FROM cand GROUP BY 1, 2, 3, 4)
             |SELECT phrase, doc_id, count(*) AS n_matches,
             |CAST(min(start) AS BIGINT) AS first_pos
             |FROM hits WHERE nslots = plen
             |GROUP BY phrase, doc_id ORDER BY phrase, doc_id""".stripMargin.replace("\n", " ")))
  )
}
