package graft

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and prints
  * one JSON line {"metric":"total","value":N,"unit":"sec","queries":{...}}.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    // args override the headline set for ad-hoc timing of specific
    // queries (e.g. `runMain graft.Bench q117_shared_spans`); the
    // driver's no-arg invocation keeps the stable cross-round set.
    val names =
      if (args.nonEmpty) args.toSeq
      else if (SparkEntry.benchNames.nonEmpty) SparkEntry.benchNames
      else SparkEntry.queries.keys.toSeq.sorted
    // Untimed warmup: JVM/codegen/file-listing costs land here, not on the
    // first timed query.
    try {
      Tables.lineitem(spark, sfDir).count()
      // flagship now reads the prepared table, so warm the raw documents
      // scan separately — q30 is otherwise the first touch of that file.
      Tables.documents(spark, sfDir).count()
      operators.Relational.flagship(spark, sfDir).count()
    } catch { case _: Throwable => () }
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      // noop sink forces full evaluation of every output column — count()
      // would let Catalyst prune aggregate expressions and eliminate sorts,
      // under-measuring the real work.
      // GC telemetry per run (r11, the q143 investigation): cumulative
      // collector time across all GarbageCollectorMXBeans, deltaed
      // around the query and emitted in SECONDS (same unit as the
      // durations) — so a blown-up reading can be attributed to (or
      // cleared of) GC pressure from the bench-order JVM state without
      // re-running anything. Additive "gc" JSON field; the driver's
      // parser reads "value"/"queries" and ignores it.
      def gcMs(): Long = {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
          .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
      }
      // Allocation telemetry per run (r14, the q137 GC-storm question):
      // total allocated bytes across all live threads, deltaed around
      // the query and emitted in GiB — answers "is the GC-stormed query
      // also the set's dominant ALLOCATOR, or is the collector stalling
      // on something else (heap walk under hypervisor reclaim)?" without
      // re-running anything. Additive "alloc" JSON field like "gc".
      // Caveat (documented, acceptable for local[32]): per-thread
      // counters vanish with their thread, so work on threads that die
      // between snapshots undercounts — Spark's local-mode executor pool
      // is stable across queries, and the driver-side delta dwarfs any
      // short-lived helper thread.
      // Non-HotSpot JVMs lack com.sun.management.ThreadMXBean — degrade to
      // alloc=0 rather than failing the whole bench on the cast.
      def allocBytes(): Long =
        java.lang.management.ManagementFactory.getThreadMXBean match {
          case mx: com.sun.management.ThreadMXBean if mx.isThreadAllocatedMemorySupported =>
            if (!mx.isThreadAllocatedMemoryEnabled) mx.setThreadAllocatedMemoryEnabled(true)
            mx.getThreadAllocatedBytes(mx.getAllThreadIds).filter(_ > 0L).sum
          case _ => 0L
        }
      def once(): (Double, Double, Double, Option[String]) = {
        val a0 = allocBytes()
        val g0 = gcMs()
        val t0 = System.nanoTime()
        val err =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
          catch { case e: Throwable => Some(e.getClass.getSimpleName) }
        // Clamp at 0: per-thread counters vanish with their thread, so a
        // thread dying between snapshots can drive the raw delta negative.
        ((System.nanoTime() - t0) / 1e9, (gcMs() - g0) / 1e3,
          math.max(0L, allocBytes() - a0) / (1024d * 1024 * 1024), err)
      }
      // Best of two runs per query: this host's hypervisor reclaims page
      // cache between rounds, which lands multi-hundred-ms cold-read
      // penalties on arbitrary queries; min-of-2 reports the query's cost
      // with its inputs resident, which is the comparable number across
      // rounds. A first-run failure is reported without a retry; a
      // SECOND-run failure keeps the successful first duration (the
      // failed run's near-zero time must never become the reported min).
      val (d1, g1, a1, e1) = once()
      if (e1.isDefined) (name, d1, g1, a1, e1)
      else {
        val (d2, g2, a2, e2) = once()
        // report the duration, gc AND alloc of the min run (the
        // comparable triple)
        if (e2.isEmpty && d2 < d1) (name, d2, g2, a2, None)
        else (name, d1, g1, a1, None)
      }
    }
    // A failed query must be VISIBLE, not a near-zero time silently summed
    // into the headline: successes go to "queries"/"value", failures to
    // "errors" and are excluded from the total.
    val ok = results.filter(_._5.isEmpty)
    val qs = ok.map { case (k, v, _, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val gs = ok.map { case (k, _, g, _, _) => s"\"" + k + "\":" + g }
      .mkString("{", ",", "}")
    // alloc in GiB, 3dp — same additive-field discipline as "gc"
    // (Double.toString is locale-independent, unlike f"%.3f")
    val as = ok.map { case (k, _, _, a, _) =>
      s"\"" + k + "\":" + (math.rint(a * 1000) / 1000) }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, _, Some(e)) => s"\"$k\":\"$e\"" }
      .mkString("{", ",", "}")
    val total = if (ok.nonEmpty) ok.map(_._2).sum else 0.0
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"gc":$gs,"alloc_gib":$as,"errors":$errs,"sf":"$sfDir"}"""
    println(line)
    // The same line as a file, free of the "[success] ..." line sbt
    // appends after the run (build.sbt's `run / outputStrategy` already
    // keeps the "[info] " prefix off stdout). $SPARK_GRAFT_BENCH_OUT
    // names the file; default bench_out.json in the working directory.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"bench_out write failed ($outPath): $e") }
    spark.stop()
  }
}
