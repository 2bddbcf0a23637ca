package graft.ml

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Folds.orderedList

/** M5: topic clustering (reference: BERTopic fit_transform,
  * scrappy.py:500-505). Contract preserved — doc → topic id, topic →
  * top-5 keyword list — via k-means over the embedding column +
  * per-cluster term counts (c-TF-IDF simplified to cluster-local
  * frequency; the approximation is documented in SURVEY.md §2.10).
  *
  * Since r5 the production path ([[topicSummary]], q72) clusters with
  * [[LloydKMeans]] — the fixed-seed, fixed-iteration unroll whose DuckDB
  * twin makes the whole summary hash-checkable end-to-end. [[cluster]]
  * keeps the MLlib KMeans capability (distributed Lloyd's with k-means||
  * init) exercised by MlSpec; same contract, but an iterative fit the
  * oracle can't replay.
  *
  * No UDFs: array<float> → Vector via ml.functions.array_to_vector.
  * Scale: both paths are distributed Lloyd's; the keyword aggregation is
  * the same hash-agg shape as TextAnalytics.
  */
object Topics {

  /** MLlib KMeans variant (capability surface, not the oracled path). */
  def cluster(embeddings: DataFrame, k: Int = 8, seed: Long = 42L): DataFrame = {
    val feat = embeddings.withColumn("features", array_to_vector(col("embedding")))
    val model = new KMeans().setK(k).setSeed(seed).setFeaturesCol("features")
      .setPredictionCol("topic_id").fit(feat)
    model.transform(feat).select(col("vec_id"), col("topic_id"))
  }

  /** Per-topic summary: size + top-5 keywords from the joined documents
    * (vec_id aligns with doc_id in the testdata). Deterministic:
    * assignments come from the LloydKMeans unroll (k=8, 2 rounds). */
  def topicSummary(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val assigned = LloydKMeans.assign(graft.Tables.embeddings(spark, dir), k, 2)
      .withColumnRenamed("cl", "topic_id")
    val docs = graft.Tables.documents(spark, dir)
    val toks = docs.join(assigned, docs("doc_id") === assigned("vec_id"))
      .select(col("topic_id"), explode(expr(graft.operators.TextAnalytics.toksExpr)).as("term"))
      .filter(!col("term").isInCollection(graft.operators.TextAnalytics.Stopwords))
    val counts = toks.groupBy("topic_id", "term").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("topic_id").orderBy(col("cnt").desc, col("term"))
    val top = counts.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .groupBy("topic_id")
      .agg(concat_ws(",", orderedList(col("term"), col("rn"))).as("top_terms"))
    val sizes = assigned.groupBy("topic_id").agg(count(lit(1)).as("n_docs"))
    sizes.join(top, Seq("topic_id"), "left")
      .select(col("topic_id").cast("long"), col("n_docs"), col("top_terms"))
      .orderBy("topic_id")
  }
}
