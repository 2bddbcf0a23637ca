package perfbench

import graft.Tables
import graft.functions.{GopherStats, InternTokens, MinHashSigs, ShingleFps, SortedLongIntersectCount, VectorExprs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-layer measurements of the traced headline run that sit outside the
  * query passes: table scans and the `graft.functions` kernels. */
object Layers {
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Noop scans of documents, lineitem and embeddings: seconds and tasks. */
  def scans(spark: SparkSession, probe: Probe, dir: String, run: Run): Unit = {
    probe.take()
    val u = Jvm.measure(Seq(Tables.documents _, Tables.lineitem _, Tables.embeddings _)
      .foreach(t => noop(t(spark, dir))))
    val (c, _) = probe.take()
    run.layers ++= Seq("tables.scan_s" -> u.wallS, "tables.scan_tasks" -> c.tasks.toDouble)
  }

  /** Nanoseconds per row of each kernel's public Column builder over a
    * cached input made from copies of the documents (16) or embeddings
    * (256), net of projecting the input column's size: the median of at
    * least five timed repetitions, and of at least a second, each. A kernel
    * cheaper than the timing noise can read slightly below zero. */
  def kernels(spark: SparkSession, dir: String, cores: Int, run: Run): Unit = {
    def copies(n: Int) = explode(array((0 until n).map(lit(_)): _*))
    val toks = Tables.documents(spark, dir)
      .select(copies(16).as("copy"), expr("filter(split(lower(text), ' '), x -> x <> '')").as("w"))
      .repartition(cores).cache()
    val pairs = toks.select(InternTokens.internTokens(col("w")).as("a"))
      .select(col("a"), expr("filter(a, x -> x % 2 = 0)").as("b")).cache()
    val emb = Tables.embeddings(spark, dir).select(copies(256).as("copy"), col("embedding"))
      .repartition(cores).cache()
    val dims = emb.head().getSeq[Float](1).size
    val rnd = new scala.util.Random(7)
    val masks = Seq.fill(16)(rnd.nextLong())
    def median(df: DataFrame): Double = {
      noop(df)
      val times = Iterator.continually(Jvm.measure(noop(df)).wallS)
        .scanLeft((0, 0.0, List.empty[Double])) { case ((i, s, xs), t) => (i + 1, s + t, t :: xs) }
        .dropWhile { case (i, s, _) => i < 5 || s < 1.0 }.next()._3.sorted
      times(times.size / 2)
    }
    val inputs = Seq(toks -> "w", pairs -> "a", emb -> "embedding")
      .map { case (df, c) => df -> (df.count(), median(df.select(size(col(c))))) }.toMap
    Seq(
      "FloatVecDot" -> emb.select(VectorExprs.vecDot(col("embedding"), col("embedding"))),
      "HyperplaneSketch" -> emb.select(VectorExprs.vecSketch(col("embedding"), masks, dims)),
      "MinHashSigs" -> toks.select(MinHashSigs.minhashSigs(col("w"), 6)),
      "InternTokens" -> toks.select(InternTokens.internTokens(col("w"))),
      "ShingleFps" -> toks.select(ShingleFps.shingleFps(col("w"), 5)),
      "GopherStats" -> toks.select(GopherStats.gopherStats(col("w"))),
      "SortedLongIntersectCount" ->
        pairs.select(SortedLongIntersectCount.sortedIntersectCount(col("a"), col("b")))
    ).zip(Seq(emb, emb, toks, toks, toks, toks, pairs)).foreach { case ((name, df), input) =>
      val (rows, empty) = inputs(input)
      run.layers(s"functions.$name.ns_per_row") = (median(df) - empty) / rows * 1e9
    }
    Seq(toks, pairs, emb).foreach(_.unpersist())
  }
}
