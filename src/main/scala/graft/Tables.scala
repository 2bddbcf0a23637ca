package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Scale note: at 100 TB each of these would be a partitioned parquet/iceberg
  * location; `spark.read.parquet(dir)` already scales — Catalyst prunes
  * partitions and pushes filters/projections into the scan, so every query in
  * this library states *what* it reads and lets the scan node minimize IO.
  */
object Tables {
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Scale-adaptive parallelism floor (r17; guide §2.5 "repartition
    * immediately after the read" for unsplittable inputs). The gate-SF
    * corpus tables are each ONE small parquet file with one row group,
    * so their scans are a single task at any core count and the whole
    * scan-stage map pipeline — tokenize, 6-md5 minhash, the Gopher
    * battery, the language batteries, every explode's partial aggregate
    * — ran single-threaded (measured: documents = 1 partition,
    * lineitem = 3, on local[32]). When the source is too small for the
    * scan to reach the session's parallelism by itself, hash-repartition
    * by the table's primary key right after the read: deterministic
    * routing (no rand, no round-robin), values partition-independent by
    * the repo's determinism discipline (content-hash sampling, range-
    * partitioned running totals, order-insensitive aggregates).
    *
    * The byte threshold makes this a LOCAL-ONLY crutch by construction,
    * not a tuned constant: a table below cores × openCostInBytes
    * (4 MB/core default) cannot produce one split per core no matter
    * how it is configured, while any production-sized table clears the
    * threshold and never pays the extra exchange. The partition count
    * comes from spark.sql.shuffle.partitions (the session's scale knob,
    * = $SPARK_GRAFT_CPUS under the bench contract), so the low-core
    * driver run keeps its proportionally smaller layout. */
  private def parallelFloor(spark: SparkSession, dir: String, name: String,
      df: DataFrame, key: String): DataFrame = {
    val bytes =
      try sourceFiles(Paths.get(s"$dir/$name.parquet")).map(Files.size).sum
      catch { case _: Throwable => Long.MaxValue } // unknown → assume big
    val cores = spark.sparkContext.defaultParallelism.toLong
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    if (bytes < cores * openCost)
      df.repartition(spark.sessionState.conf.numShufflePartitions, col(key))
    else df
  }

  /** Every regular file under a table's source path, recursively and in
    * path order (the path itself when it is a file). The one walk behind
    * both the [[parallelFloor]] size probe and the [[preparedTable]]
    * fingerprint, so a nested or partitioned parquet directory is sized
    * and fingerprinted by its data files, not by its directory entries. */
  private def sourceFiles(src: Path): Seq[Path] = {
    val w = Files.walk(src)
    try w.filter(Files.isRegularFile(_)).sorted().iterator().asScala.toVector
    finally w.close()
  }

  def region(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = t(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "lineitem")
  /** `events` with `ts` as one TIMESTAMP column — see [[eventsTs]]. */
  def events(spark: SparkSession, dir: String): DataFrame =
    eventsTs(rawEvents(spark, dir))

  /** `events` as the batch reader surfaces it. `events.ts` is parquet
    * TIMESTAMP(NANOS); depending on the Spark build that column comes
    * back either as raw nanos (legacy long mode, older readers) or
    * natively as TIMESTAMP_NTZ (current 4.1.2 jars). The streaming
    * reader probes this schema to pin its own. */
  private[graft] def rawEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    t(spark, dir, "events")
  }

  /** Normalize either representation of `ts` (see [[rawEvents]]) to one
    * TIMESTAMP column. Both paths floor-truncate to microseconds — the
    * exact truncation DuckDB applies when it reads the same column, so
    * event-time queries hash-match the oracle either way; the NTZ wall
    * time is reinterpreted as a UTC instant (session timezone is pinned
    * to UTC). Batch and streaming readers both call this. */
  private[graft] def eventsTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case _ =>
      df.withColumn("ts", col("ts").cast("timestamp"))
  }
  def documents(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")

  /** `documents` behind the [[parallelFloor]] — OPT-IN, for operators
    * whose per-row work is heavy enough to earn the extra exchange
    * (measured r17, same-JVM on/off A/B over the full headline set;
    * ProfR17Floor in BASELINE.md "Retired harnesses"):
    * applied blanket to every documents read the floor LOST 0.81×
    * overall (q30 0.57×, q44 0.39×, q259 0.60× — the barrier costs more
    * than 5000 docs of map work saves), but the real-codec multimodal
    * path (javax.imageio encode+decode per row) won 1.54× (q254
    * 0.55 vs 0.84 s). Only that family opts in. */
  private[graft] def documentsParallel(spark: SparkSession, dir: String): DataFrame =
    parallelFloor(spark, dir, "documents", t(spark, dir, "documents"), "doc_id")

  /** S6 missing-store guard (article_querry.py:5-11: a missing
    * raw_articles.csv yields an EMPTY frame, not a crash — queries over a
    * store that hasn't been written yet return no rows). Schema-pinned so
    * downstream selects/filters still resolve. */
  def tableOrEmpty(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    if (Files.exists(Paths.get(path)))
      spark.read.schema(schema).parquet(path)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** `documents` with PERSISTED lowercased columns (`text_lc`, `source_lc`),
    * materialized once per source dir — the ingest-time mitigation for the
    * reference's hottest query path (case-insensitive contains,
    * article_querry.py:13-27). A filter on `lower(text)` can never reach
    * the scan (the function call hides the attribute); a plain `contains`
    * on a stored column translates to IsNotNull + StringContains in
    * `PushedFilters`, so row groups can be skipped and the predicate runs
    * inside the scan. At 100 TB this is a generated column written by the
    * ingest job — one-time cost, paid back by every subsequent query.
    * (PlanShapeSpec pins the pushed-filter plan shape.)
    *
    * The cache key fingerprints the SOURCE (path + per-file size/mtime),
    * so regenerated testdata invalidates the materialization instead of
    * silently serving stale rows. Writers stage into a per-attempt dir
    * and atomically rename; a concurrent winner's output is accepted
    * (losers discard their stage), so concurrent JVMs are safe.
    */
  def preparedDocuments(spark: SparkSession, dir: String): DataFrame =
    preparedTable(spark, dir, "documents", Seq("text", "source"))

  /** `part` with a persisted `p_name_lc` twin — the same prepared-column
    * discipline applied to the TPC-H side of the surface (r4 verdict #6):
    * q02's case-insensitive name filter rides the LowercaseContainsRewrite
    * rule onto the stored column and into `PushedFilters`. */
  def preparedPart(spark: SparkSession, dir: String): DataFrame =
    preparedTable(spark, dir, "part", Seq("p_name"))

  /** Shared materialization: `table` + a declared `<c>_lc` lowercased twin
    * (column metadata `graft.lc_of = c`) for each requested column. */
  private def preparedTable(spark: SparkSession, dir: String, table: String,
                            lcCols: Seq[String]): DataFrame = {
    val src = Paths.get(s"$dir/$table.parquet")
    val fingerprint = {
      val parts =
        if (Files.isDirectory(src))
          sourceFiles(src).map(p =>
            s"${src.relativize(p)}:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}")
            .mkString("|")
        else s"${Files.size(src)}:${Files.getLastModifiedTime(src).toMillis}"
      // prepV bumps whenever the prepared schema/metadata contract
      // changes — an old build's materialization must never be served
      // to a build that expects different columns. Superseded
      // fingerprints are NOT swept (a sibling may be another sf dir's
      // LIVE cache); orphans rely on OS tmp reaping.
      val prepV = s"v3:$table:${lcCols.mkString(",")}:graft.lc_of"
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s"$prepV|$dir|$parts".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    }
    val base = Paths.get(sys.props("java.io.tmpdir"), "graft-prepared")
    val out = base.resolve(fingerprint)
    this.synchronized {
      if (!Files.exists(out.resolve("_SUCCESS"))) {
        // per-attempt stage dir: concurrent JVMs never write the same path
        val stage = base.resolve(s"$fingerprint.stage-${java.util.UUID.randomUUID()}")
        lcCols.foldLeft(t(spark, dir, table)) { (df, c) =>
          df.withColumn(s"${c}_lc", lower(col(c)).as(s"${c}_lc",
            new org.apache.spark.sql.types.MetadataBuilder()
              .putString("graft.lc_of", c).build()))
        }.write.mode("overwrite").parquet(stage.toString)
        try Files.move(stage, out, StandardCopyOption.ATOMIC_MOVE)
        catch {
          // another JVM won the race: accept its output, drop ours
          case _: java.nio.file.FileAlreadyExistsException
               | _: java.nio.file.DirectoryNotEmptyException
               | _: java.nio.file.AccessDeniedException =>
            val w = Files.walk(stage)
            try w.sorted(java.util.Comparator.reverseOrder())
              .forEach(p => Files.delete(p))
            finally w.close()
        }
      }
    }
    spark.read.parquet(out.toString)
  }
}
