package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main and the test suite build their
  * session here, so the gate, the bench and the tests run one optimizer.
  *
  * `local[cores]` with shuffle partitions = cores, UTC session time zone,
  * no UI, WARN logging, and the library's optimizer rules registered as
  * session extensions ([[plans.GraftExtensions]]). Cores come from
  * `$SPARK_GRAFT_CPUS`, else the host's processor count. Per-caller
  * settings (Verify's FAIR scheduler, the tests' temp warehouse) are
  * passed as `conf`.
  */
object Session {
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(conf: (String, String)*): SparkSession = {
    val n = cores.toString
    val builder = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new plans.GraftExtensions)
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
