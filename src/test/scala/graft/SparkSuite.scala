package graft

import org.apache.spark.sql.SparkSession

/** One shared SparkSession for the whole test JVM (Test / fork := true),
  * built by the same factory as the mains, so tests run the gate's
  * optimizer. */
object SparkSuite {
  lazy val session: SparkSession = Session(
    // keep bucketed-table test artifacts out of the repo tree
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
}

trait SparkSuite {
  lazy val spark: SparkSession = SparkSuite.session
  val sfDir = "/root/testdata/sf0.001"
}
