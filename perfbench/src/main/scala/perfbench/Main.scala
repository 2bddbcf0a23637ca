package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Settings of one benchmark run, from run.py's command line. */
final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
    check: Boolean, data: String, work: Path, out: Path, spans: Path, cores: Int)

/** One timed operation, a query or a flow, with the digest of its output
  * where it has one. */
final case class Op(name: String, pass: Int, s: Double, ok: Boolean, error: String,
    digest: String)

/** Everything a run measured. run.py checks outputs and turns this into
  * the printed metrics. */
final class Run {
  val setups = mutable.ArrayBuffer.empty[Double]
  val prepares = mutable.ArrayBuffer.empty[Double]
  val passes = mutable.ArrayBuffer.empty[Jvm.Usage]
  val ops = mutable.ArrayBuffer.empty[Op]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** (pass, flow, dataset, digest) of each landed flow output. */
  val digests = mutable.ArrayBuffer.empty[(Int, String, String, String)]
  /** Verify dumps to compare with the DuckDB oracle: (testdata dir, dump dir). */
  val dumps = mutable.ArrayBuffer.empty[(String, String)]
}

/** Entry point of the benchmark JVM:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <check 0|1>
  *  <testdata dir> <work dir> <result file> <span file> <cores>`. */
object Main {
  val SetUps = 3

  def main(argv: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, check, data, work, out, spans, cores) = argv
    val conf = Conf(workload, seed.toLong, seconds.toInt, trace == "1", check == "1", data,
      Paths.get(work), Paths.get(out), Paths.get(spans), cores.toInt)
    val w: Workload = workload match {
      case "headline" => new Headline(conf)
      case "flows" => new FlowsWorkload(conf)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val run = new Run
    val spark = setUp(conf, w, run)
    val probe = if (conf.trace) Some(new Probe(spark)) else None
    w.measure(spark, probe, run)
    val heapUsed = Jvm.heapUsedBytes
    probe.foreach { p =>
      writeSpans(conf.spans, p.allSpans)
      w.layers(spark, p, run)
      p.detach()
    }
    // After the passes, so that a checked run's passes start as cold as
    // an unchecked run's.
    w.check(spark, run)
    val result = Map(
      "workload" -> workload, "seed" -> conf.seed, "cores" -> conf.cores,
      "par" -> 1, "sf" -> w.sf, "heap_max_gib" -> Jvm.heapMaxBytes / math.pow(1024, 3),
      "spark_version" -> spark.version,
      "setups_s" -> run.setups, "prepares_s" -> run.prepares,
      "passes" -> run.passes, "ops" -> run.ops,
      "heap_after_gc_gib" -> Jvm.heapAfterGcBytes.map(_ / math.pow(1024, 3)),
      "heap_used_gib" -> heapUsed / math.pow(1024, 3),
      "layers" -> run.layers,
      "digests" -> run.digests.map { case (p, f, d, h) =>
        Map("pass" -> p, "flow" -> f, "dataset" -> d, "digest" -> h) },
      "dumps" -> run.dumps.map { case (sf, dir) => Map("sf" -> sf, "dir" -> dir) })
    Files.writeString(conf.out, Json(result))
    spark.stop()
  }

  /** Builds the workload's session and prepared tables `SetUps` times, each
    * time on an empty prepared-table cache, and keeps the last session. The
    * first set-up is timed from JVM launch. */
  private def setUp(conf: Conf, w: Workload, run: Run): SparkSession = {
    var spark: SparkSession = null
    for (i <- 0 until SetUps) {
      val t0 = System.nanoTime()
      val tmp = Files.createDirectories(conf.work.resolve(s"tmp-$i"))
      // Tables.preparedTable caches under java.io.tmpdir.
      System.setProperty("java.io.tmpdir", tmp.toString)
      spark = w.session(conf.work.resolve(s"spark-local-$i"))
      val p0 = System.nanoTime()
      w.prepare(spark)
      run.prepares += (System.nanoTime() - p0) / 1e9
      w.warm(spark)
      run.setups += (if (i == 0) Jvm.uptimeSeconds else (System.nanoTime() - t0) / 1e9)
      if (i < SetUps - 1) spark.stop()
    }
    spark
  }

  private def writeSpans(path: Path, spans: Seq[Span]): Unit = {
    val w = Files.newBufferedWriter(path)
    try spans.sortBy(_.start).foreach { s => w.write(Json(s)); w.newLine() }
    finally w.close()
  }
}
