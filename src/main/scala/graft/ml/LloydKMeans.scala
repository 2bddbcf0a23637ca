package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Folds.{orderedList, orderedSum}

/** Deterministic fixed-iteration Lloyd k-means over the embedding column
  * — the ORACLE-ABLE form of the clustering step (reference analog:
  * BERTopic's fit, scrappy.py:500-505, whose UMAP+HDBSCAN internals are
  * approximated at the contract level; see SURVEY §2.10). An MLlib
  * KMeans fit is seeded but not engine-portable, so q52/q72 were
  * rows-only through r4; this unroll makes them hash-checkable
  * (r4 verdict, next-round item #5):
  *
  *  - PINNED initial centroids: the embeddings of the k lowest vec_ids
  *    (data rows, so no literal matrix ships in the SQL).
  *  - FIXED iteration count (like q114's PageRank / q121's BPE rounds):
  *    each Lloyd round is expressible as one chained CTE pair, so the
  *    DuckDB oracle replays the identical computation.
  *  - ENGINE-EXACT float math (the q114/q59 discipline): every
  *    order-sensitive double sum is a SORTED sequential fold —
  *    assignment distances fold dims 0..63 left-to-right (matching
  *    DuckDB's list_sum over generate_series order, the proven q50
  *    pattern), and centroid means fold members in vec_id order
  *    ([[graft.operators.Folds.orderedSum]] ↔
  *    `list_sum(list(... ORDER BY vec_id))`). No rounding is needed
  *    anywhere inside the loop: both engines produce bit-identical
  *    doubles, so argmin assignment matches exactly.
  *  - Tie-breaks: nearest centroid = FIRST index attaining the min
  *    (`array_position(d, array_min(d))` ↔ `list_position(d,
  *    list_min(d))` — both 1-based, first match, exact-equality).
  *  - Cluster ids are RE-DERIVED each round as the index into the
  *    cl-sorted centroid list, so a cluster that empties out (possible
  *    once centroids move) renumbers identically on both engines.
  *
  * Scale shape: assignment is a zero-shuffle projection against one
  * broadcast row holding all k·d centroid doubles; the rebuild is one
  * (cl, dim)-keyed hash aggregate + two tiny regroupings. At 100 TB
  * that is exactly distributed Lloyd's — per-iteration cost one corpus
  * scan, mirror of MLlib's implementation — with k·d ≈ 512 doubles of
  * driver-free state carried in the plan.
  */
object LloydKMeans {

  /** Embedding dimensionality of the `embeddings` table. */
  val Dims = 64

  /** (cl, cent) k rows: pinned seeds = embeddings of the k LOWEST vec_ids
    * of the source (orderBy+limit, so a filtered source still yields k
    * seeds), cl = rank in that order. */
  private def initCents(emb: DataFrame, k: Int): DataFrame =
    emb.orderBy("vec_id").limit(k)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("cent"))
      .withColumn("cl",
        (org.apache.spark.sql.functions.row_number()
          .over(org.apache.spark.sql.expressions.Window.orderBy("vec_id")) - 1).cast("int"))
      .select("cl", "cent")

  /** Collapse (cl, cent) rows into ONE broadcastable row whose `cc` is
    * the centroid list in cl order — assignment indexes into it. */
  private def asRow(cents: DataFrame): DataFrame =
    cents.groupBy().agg(orderedList(col("cent"), col("cl")).as("cc"))

  /** Nearest-centroid assignment: a pure projection per corpus row
    * (dists to all k centroids, first-min index), no shuffle. */
  private def assignTo(emb: DataFrame, centsRow: DataFrame): DataFrame =
    emb.crossJoin(broadcast(centsRow))
      .withColumn("dists", expr(
        s"""transform(cc, c -> aggregate(sequence(0, ${Dims - 1}), 0D,
           |(a, i) -> a + pow(CAST(embedding[i] AS DOUBLE) - c[i], 2D)))"""
          .stripMargin.replace("\n", " ")))
      .select(col("vec_id"), col("embedding"),
        (expr("array_position(dists, array_min(dists))") - 1).cast("int").as("cl"))

  /** Per-cluster per-dim mean with the vec_id-sorted fold. */
  private def recompute(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cl"), col("vec_id"), posexplode(col("embedding")))
      .select(col("cl"), col("vec_id"), col("pos"), col("col").cast("double").as("v"))
      .groupBy("cl", "pos")
      .agg((orderedSum(col("v"), col("vec_id")) / count(lit(1))).as("cv"))
      .groupBy("cl")
      .agg(orderedList(col("cv"), col("pos")).as("cent"))

  /** doc/vec → cluster id after `lloydIters` full Lloyd rounds (each =
    * centroid rebuild + reassignment) on top of the seed assignment. */
  def assign(emb: DataFrame, k: Int, lloydIters: Int): DataFrame =
    fit(emb, k, lloydIters)._1

  /** [[assign]] plus the FINAL centroid row that produced it — the
    * frozen codebook a maintenance pass (q169) assigns new batches to
    * without retraining. */
  def fit(emb: DataFrame, k: Int, lloydIters: Int): (DataFrame, DataFrame) = {
    var row = asRow(initCents(emb, k))
    var assigned = assignTo(emb, row)
    for (_ <- 1 to lloydIters) {
      row = asRow(recompute(assigned))
      assigned = assignTo(emb, row)
    }
    (assigned.select(col("vec_id"), col("cl")), row)
  }

  /** Assign a batch to a FROZEN centroid row from [[fit]] — the
    * index-update-without-retrain path. */
  def assignFrozen(batch: DataFrame, centsRow: DataFrame): DataFrame =
    assignTo(batch, centsRow).select(col("vec_id"), col("cl"))

  /** DuckDB CTE chain replaying [[assign]]/[[fit]] verbatim over `src`
    * (any relation with vec_id + embedding); ends in
    * [[finalAssignCte]]`(vec_id, cl)`, with the final centroid row in
    * `kmc<lloydIters>`. All CTE names are km-prefixed to compose with
    * other oracle fragments. */
  def assignDuckCte(k: Int = 8, lloydIters: Int = 2, src: String = "embeddings"): String = {
    def rebuildCtes(r: Int): String =
      s"""kmd$r AS (SELECT cl, i AS pos,
         |list_sum(list(CAST(embedding[i] AS DOUBLE) ORDER BY vec_id)) / count(*) AS cv
         |FROM kma$r, LATERAL (SELECT unnest(generate_series(1, $Dims)) AS i) g
         |GROUP BY cl, i),
         |kmp$r AS (SELECT cl, list(cv ORDER BY pos) AS cent FROM kmd$r GROUP BY cl),
         |kmc$r AS (SELECT list(cent ORDER BY cl) AS cc FROM kmp$r)"""
    val init =
      s"""kmc0 AS (SELECT list(list_transform(embedding, x -> CAST(x AS DOUBLE))
         |ORDER BY vec_id) AS cc FROM
         |(SELECT vec_id, embedding FROM $src ORDER BY vec_id LIMIT $k) kmseeds)"""
    val rounds = (1 to lloydIters).map { r =>
      rebuildCtes(r) + ",\n" + assignFrozenDuckCte(s"kma${r + 1}", src, s"kmc$r")
    }
    (Seq(init, assignFrozenDuckCte("kma1", src, "kmc0")) ++ rounds)
      .mkString(",\n").stripMargin.replace("\n", " ")
  }

  /** One assignment CTE `name(vec_id, embedding, cl)`: `src` against the
    * frozen centroid row `centsCte` — the oracle twin of [[assignFrozen]]. */
  def assignFrozenDuckCte(name: String, src: String, centsCte: String): String =
    s"""$name AS (SELECT vec_id, embedding, list_position(d, list_min(d)) - 1 AS cl FROM (
       |SELECT vec_id, embedding, list_transform(cc, c ->
       |list_sum(list_transform(generate_series(1, $Dims), i ->
       |pow(CAST(embedding[i] AS DOUBLE) - c[i], 2)))) AS d
       |FROM $src, $centsCte) z$name)""".stripMargin.replace("\n", " ")

  /** Name of the final assignment CTE produced by [[assignDuckCte]]. */
  def finalAssignCte(lloydIters: Int = 2): String = s"kma${lloydIters + 1}"
}
