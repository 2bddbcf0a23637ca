package graft

/** Scratch main for local schema/behavior probes; not part of the library. */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Session()
    // Driver smoke path: entry() on sf0.001 must return rows > 0.
    val n = SparkEntry.entry(spark).count()
    println(s"PROBE entry rows=$n")
    println(s"PROBE queries=${SparkEntry.queries.size} oracles=${SparkEntry.oracleSql.size} bench=${SparkEntry.benchNames.size}")
    org.apache.spark.sql.GraftColumnBridge.registerGraftFunctions(spark)
    val d = spark.sql(
      "SELECT vec_dot(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)), array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) AS d")
      .collect().head.getDouble(0)
    println(s"PROBE vec_dot_sql=$d")
    // persistence drive: fresh store, idempotent re-run, stale-staging recovery
    val store = java.nio.file.Files.createTempDirectory("graft_probe_store").toString + "/articles"
    val batch = operators.Ingest.unionSources(spark, sources.Articles.allSources, Seq("t"))
    operators.Ingest.persistMerge(spark, store, batch)
    val n1 = spark.read.parquet(store).count()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(store + ".staging")) // simulate crashed run
    operators.Ingest.persistMerge(spark, store, batch)
    val n2 = spark.read.parquet(store).count()
    println(s"PROBE persist rows=$n1 idempotent=${n1 == n2} staleStagingRecovered=${!java.nio.file.Files.exists(java.nio.file.Paths.get(store + ".old"))}")
    spark.stop()
  }
}
