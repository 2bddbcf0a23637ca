package graft.streaming

import graft.operators.EventWindows
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming twins of the batch event-window queries
  * (SURVEY.md §2.11). The transforms in [[EventWindows]] are input-agnostic;
  * here the same code runs on `readStream`, with the two streaming-only
  * pieces added: a watermark (bounds state) and streaming dedup (the
  * streaming analog of the reference's merge dedup D2, scrappy.py:334-335).
  *
  * At scale: state is keyed by (window × type) / (user × session) /
  * event_id respectively — all partitioned by key across executors; the
  * watermark caps state size regardless of stream length.
  */
object StreamingTwin {

  /** The `events` schema as read from a stream source (ts already micros). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming tumbling-window counts with a 10-minute watermark. */
  def tumblingStream(events: DataFrame): DataFrame =
    EventWindows.tumblingAgg(events.withWatermark("ts", "10 minutes"))

  /** Streaming exact dedup by event_id within the watermark horizon. */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes").dropDuplicates("event_id")

  /** Watermark-bounded dedup (Spark 3.5+ dropDuplicatesWithinWatermark):
    * unlike [[dedupStream]], state for a key is dropped once the
    * watermark passes its FIRST-seen event time plus the delay, so the
    * state store is bounded by stream rate × delay instead of by total
    * distinct keys — the form that survives an unbounded 100 TB stream
    * where event_ids never repeat after their horizon. */
  def dedupWithinWatermarkStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each click paired with the same user's
    * views in the preceding 5 minutes. Input-agnostic — the batch twin
    * runs it on static frames (StreamingSpec proves equality). On
    * streams, BOTH sides carry watermarks and the time-interval predicate
    * is what lets Spark bound each side's join state (state for a view
    * is dropped once the watermark passes ts + 5 min); an equi-join
    * without the interval would keep both streams' full history. */
  def clickViewJoin(views: DataFrame, clicks: DataFrame): DataFrame =
    clicks.as("c").join(views.as("v"),
      expr("""c.user_id = v.user_id AND
             |v.ts >= c.ts - INTERVAL 5 MINUTES AND v.ts <= c.ts""".stripMargin.replace("\n", " ")))
      .select(col("c.event_id").as("click_id"), col("v.event_id").as("view_id"),
        col("c.user_id").as("user_id"),
        (unix_timestamp(col("c.ts")) - unix_timestamp(col("v.ts"))).as("gap_s"))

  /** Streaming upsert sink: every micro-batch is existing-wins-merged
    * into the parquet store via foreachBatch — the streaming face of the
    * reference's D2 persistent merge (scrappy.py:334-335). foreachBatch
    * is the idiomatic seam for sinks Spark has no native writer for;
    * persistMerge is idempotent, so a batch replayed after a failure
    * (foreachBatch's at-least-once contract) converges to the same
    * store. */
  def upsertSink(spark: SparkSession, batches: DataFrame, storeDir: String): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val q = batches.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        graft.operators.Ingest.persistMerge(spark, storeDir, b)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** IDEMPOTENT foreachBatch parquet landing — the bridge sink for
    * composed streaming topologies (service A's foreachBatch lands rows
    * that service B's file source then consumes). foreachBatch is
    * AT-LEAST-ONCE: a micro-batch whose write finished but whose commit
    * didn't (post-write pre-commit crash) is RE-DELIVERED with the same
    * batchId on restart, and a plain `mode("append")` landing would
    * double its rows into every downstream reader — the one
    * exactly-once hole kill/restart recovery alone doesn't close. Each
    * batch therefore lands as its OWN batchId-keyed hive partition with
    * mode("overwrite") scoped to that directory: re-delivery rewrites
    * `dir/batch_id=N` with the identical rows (the batch's offset range
    * is fixed in the WAL before foreachBatch runs, so the replayed
    * input is the same) and the landing converges byte-stably no matter
    * how many times the batch is delivered. Readers list the base dir;
    * `batch_id` surfaces as an ordinary prunable partition column.
    * StreamingRecoverySpec proves a forced double-delivery changes
    * nothing and runs the composed admission topology over this sink. */
  def landBatch(b: DataFrame, batchId: Long, dir: String): Unit =
    b.write.mode("overwrite").parquet(s"$dir/batch_id=$batchId")

  // One staged copy per source dir per JVM — repeated calls (tests, demos)
  // must not leak a fresh copy of the dataset into /tmp each time.
  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** The stream schema of `events`, with `ts` pinned to the type the
    * batch reader surfaces on this build ([[graft.Tables.rawEvents]]). */
  def eventReadSchema(spark: SparkSession, dir: String): StructType = {
    val tsType = graft.Tables.rawEvents(spark, dir).schema("ts").dataType
    StructType(eventSchema.fields.map(f =>
      if (f.name == "ts") StructField("ts", tsType) else f))
  }

  /** The batch normalization of the probed `ts` ([[graft.Tables.eventsTs]]). */
  def fixTs(df: DataFrame): DataFrame = graft.Tables.eventsTs(df)

  /** Stream the events table from a staged directory (the streaming file
    * source wants a directory; a real deployment points at the ingest
    * path), with the TIMESTAMP(NANOS) handling from Tables.events. */
  def eventStream(spark: SparkSession, dir: String): DataFrame = {
    val stage = stagedDirs.computeIfAbsent(dir, { d =>
      val p = java.nio.file.Files.createTempDirectory("graft_stream_events")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$d/events.parquet"),
        p.resolve("events.parquet"))
      p
    })
    fixTs(spark.readStream
      .schema(eventReadSchema(spark, dir))
      .parquet(stage.toString))
  }

  /** The `documents` schema for stream sources. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Stream the documents table from a staged directory (keyed separately
    * from the events stage — same dir, different table). */
  def docStream(spark: SparkSession, dir: String): DataFrame = {
    val stage = stagedDirs.computeIfAbsent(s"$dir#documents", { _ =>
      val p = java.nio.file.Files.createTempDirectory("graft_stream_docs")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/documents.parquet"),
        p.resolve("documents.parquet"))
      p
    })
    spark.readStream.schema(docSchema).parquet(stage.toString)
  }

  /** Drive a parquet-backed stream of the events table through the
    * tumbling aggregation into a memory sink; returns the settled result.
    * Used by tests and the demo main. */
  def runTumblingDemo(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val raw = eventStream(spark, dir)
    val q = tumblingStream(raw).writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("tumbling_demo")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table("tumbling_demo")
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Session()
    val res = runTumblingDemo(spark, "/root/testdata/sf0.001")
    println(s"STREAM tumbling rows=${res.count()}")
    res.orderBy("win_start", "event_type").show(5, false)
    // Batch/stream equivalence: same transform, same input, same rows.
    val batch = EventWindows.tumbling(graft.Tables.events(spark, "/root/testdata/sf0.001"))
    val diff = batch.exceptAll(res).count() + res.exceptAll(batch).count()
    println(s"STREAM batch-equivalence diff=$diff")
    spark.stop()
  }
}
