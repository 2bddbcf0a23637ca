package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Extra args
  * (builder-side only; the driver passes two) select a subset of query
  * names for targeted re-dumps at expensive scale factors.
  *
  * r15: dumps run CONCURRENTLY on a bounded pool (main uses 2× the
  * session's core count since r16 — see main() for the
  * oversubscription measurement). The r14 driver artifact came back
  * empty with the engine provably green — the likely mechanism was the
  * sweep's wall-clock (~19 min sequential at 285 queries), and most of a
  * small-SF query's cost is DRIVER-side single-threaded work
  * (analysis/optimization/codegen), which parallelizes across submitting
  * threads even on a 4-core host. Safety audit for concurrency: every
  * temp-view name is used by exactly one query (orders_v/lineitem_v/
  * part_v), scratch dirs come from Files.createTempDirectory, and the
  * only session-conf write (nanosAsLong) is an idempotent same-value set.
  * Each dump writes to its own outDir/<name> directory. Each dump thread
  * sets its own on-demand scheduler pool (inter-pool scheduling is FAIR
  * under spark.scheduler.mode=FAIR, so a long query can't starve the
  * small ones' task slots; within one dump's pool FIFO is what we want).
  *
  * r16 — kill-proof delivery (the r15 driver artifact had 5 spurious
  * 0-row FAILs and 57 absentees from a mid-sweep wrapper kill):
  *  (a) ATOMIC landing: each dump writes to outDir/.tmp-<name> and is
  *      Files.move'd to outDir/<name> only on success — an interrupted
  *      write yields an ABSENT dir (per-query "no output"), never a
  *      partial dir the comparer reads as a 0-row wrong answer.
  *  (b) CHEAPEST-FIRST submission from the committed timings snapshot
  *      tools/gate_timings.json (refreshed by tools/run_gate.sh), so a
  *      wall-clock kill loses only the most expensive tail instead of
  *      an arbitrary Map-hash-order 20%.
  *  (c) A loud end-of-sweep stderr line lists every registered query
  *      without a landed dir.
  *
  * Also emits per-query dump seconds to stderr and outDir/timings.json
  * (slowest first) — the feedback loop for trimming the slow tail.
  */
object Verify {
  /** The dump body, session-in/session-out (VerifyContractSpec runs it
    * on the shared test session — main owns session lifecycle, not this). */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      only: Set[String], par: Int): Unit = {
    new java.io.File(outDir).mkdirs()
    // oracle_sql.json lands BEFORE the dumps (r15): if a wrapper's
    // timeout kills the sweep mid-dump, the completed queries still
    // compare — with the JSON written last (as through r14), a killed
    // sweep left an outDir the comparer reads as EMPTY, zeroing the
    // whole round instead of just the un-dumped tail.
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, par))
    val timings = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    val failed = new java.util.concurrent.atomic.AtomicInteger(0)
    // Cheapest-first: recorded per-query dump seconds from the committed
    // snapshot (refreshed by tools/run_gate.sh after a green gate).
    // Unknown (new) queries get a mid-tail default so they run after the
    // cheap bulk but before the known monsters. Ties break by name so
    // submission order is deterministic.
    val recorded = recordedCosts()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .toSeq.sortBy { case (name, _) => (recorded.getOrElse(name, 3.0), name) }
    selected.foreach { case (name, fn) =>
        pool.execute { () =>
          // Own on-demand pool per dump: inter-pool FAIR sharing.
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", name)
          val t0 = System.nanoTime()
          val tmp = Paths.get(s"$outDir/.tmp-$name")
          val fin = Paths.get(s"$outDir/$name")
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(tmp.toString)
            // Land atomically: a kill before this point leaves only the
            // .tmp- dir, which the comparer/driver never read.
            deleteRecursively(fin)
            try Files.move(tmp, fin, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
              Files.move(tmp, fin) }
            val secs = (System.nanoTime() - t0) / 1e9
            timings.add(name -> secs)
            System.err.println(f"[verify] $name%s ok $secs%.2fs")
          } catch { case e: Throwable =>
            failed.incrementAndGet()
            deleteRecursively(tmp)
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      }
    pool.shutdown()
    pool.awaitTermination(6, java.util.concurrent.TimeUnit.HOURS)
    // Additive artifact (the driver reads only <name>/ dirs and
    // oracle_sql.json): per-query dump seconds, slowest first.
    import scala.jdk.CollectionConverters._
    val tj = timings.asScala.toSeq.sortBy(-_._2)
      .map { case (k, v) => s"${q(k)}: ${math.rint(v * 100) / 100}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/timings.json"), tj)
    val total = timings.asScala.map(_._2).sum
    System.err.println(
      f"[verify] done: ${timings.size} ok, ${failed.get} failed, " +
        f"query-seconds sum $total%.1f (wall is lower under par=$par)")
    // Loud absentee report: any registered query without a landed dir
    // (failed dump, or — under an external kill — never started).
    val unlanded = selected.map(_._1)
      .filterNot(n => Files.exists(Paths.get(s"$outDir/$n/_SUCCESS")))
    if (unlanded.nonEmpty)
      System.err.println(
        s"[verify] MISSING ${unlanded.size} dumps (will read as per-query " +
          s"FAIL/absent): ${unlanded.mkString(", ")}")
    // rc stays 0 even with per-query failures: a missing <name>/ dir is
    // already a per-query FAIL in the compare, while a nonzero rc could
    // let one transient failure zero an otherwise-284-green round in a
    // wrapper that aborts on rc. The loud stderr counter is the alarm.
    // Exception (r16, advice): if NOTHING landed (e.g. wrong sfDir), a
    // dump-only wrapper must not read the sweep as success — drop a
    // marker file and let main exit 3.
    if (timings.isEmpty && selected.nonEmpty) {
      Files.writeString(Paths.get(s"$outDir/DUMP_ALLFAILED"),
        s"${failed.get} of ${selected.size} dumps failed, 0 landed\n")
      allFailed = true
    }
  }

  /** Set by run() when zero dumps landed; main exits 3 in that case. */
  @volatile private var allFailed = false

  /** Committed per-query dump-seconds snapshot (tools/gate_timings.json,
    * written by run_gate.sh from a green gate's outDir/timings.json).
    * Missing/unparseable file → empty map (Map-order fallback is what
    * r15 shipped; this is strictly better whenever the file exists).
    * The format is our own flat {"name": secs, ...}, parsed with a
    * regex to avoid dragging a JSON library into the dump path. */
  private def recordedCosts(): Map[String, Double] = {
    val p = Paths.get("tools/gate_timings.json")
    if (!Files.exists(p)) return Map.empty
    try {
      val txt = Files.readString(p)
      val re = """"([^"]+)"\s*:\s*([0-9]+(?:\.[0-9]+)?)""".r
      re.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case _: Throwable => Map.empty }
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = Session("spark.scheduler.mode" -> "FAIR")
    // PAR = 2× cores (r16): most of a small-SF dump's cost is
    // single-threaded DRIVER work (analysis/optimize/codegen), which
    // oversubscribes well past the core count — measured warm at
    // CPUS=4 on sf0.01: PAR=4 247 s, PAR=8 103 s, PAR=12 121 s
    // (contention inflects past 2×).
    run(spark, sfDir, outDir, only, Session.cores * 2)
    spark.stop()
    if (allFailed) sys.exit(3)
  }
}
