package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Storage-layout patterns that matter at 100 TB: partitioned writes with
  * partition pruning, and bucketed tables with shuffle-free co-located
  * joins. Verified against the actual plans Spark produces.
  */
class PartitioningSpec extends AnyFunSuite with SparkSuite {

  test("partitionBy write + filter prunes partitions at the scan") {
    val out = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables.documents(spark, sfDir)
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    val back = spark.read.parquet(out).filter(col("lang") === "en")
    val plan = back.queryExecution.executedPlan.toString
    // Partition filters appear on the scan; en-only directories are read.
    assert(plan.contains("PartitionFilters") && plan.contains("lang"))
    val expected = Tables.documents(spark, sfDir).filter(col("lang") === "en").count()
    assert(back.count() == expected)
  }

  test("bucketed tables join without a shuffle exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      Tables.orders(spark, sfDir)
        .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("orders_bkt")
      Tables.lineitem(spark, sfDir)
        .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("lineitem_bkt")
      val joined = spark.table("orders_bkt")
        .join(spark.table("lineitem_bkt"), col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      val expected = Tables.orders(spark, sfDir)
        .join(Tables.lineitem(spark, sfDir), col("o_orderkey") === col("l_orderkey"))
        .count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS lineitem_bkt")
    }
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    // Salting (q85) is the declarative skew fix; AQE skew-join is the
    // runtime one — prove this session can actually trigger it, so the
    // 100 TB claim "AQE re-plans skew" is tested, not asserted.
    val saved = Seq(
      "spark.sql.adaptive.enabled", "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // One pathological key carrying ~100k rows vs 1-row tails.
      val left = spark.range(0, 100000).select(lit(0L).as("k"), col("id").as("v"))
        .union(spark.range(1, 1000).select(col("id").as("k"), col("id").as("v")))
      val right = spark.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right, "k")
      // Execute THIS dataframe (count() builds a different QueryExecution,
      // whose AQE plan would never be finalized on `joined` itself).
      var n = 0L
      joined.toLocalIterator().forEachRemaining(_ => n += 1)
      assert(n == 100000 + 999)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan.take(300))
      assert(plan.contains("skew=true"), plan.take(1500))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("prepared-table fingerprint walks a nested partition directory") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    // A partitioned documents.parquet: its data files sit one level down,
    // so the table directory's own entries are partition directories,
    // whose size and mtime stay put when a data file is rewritten in place.
    val root = Files.createTempDirectory("graft_nested")
    val table = root.resolve("documents.parquet")
    val scratch = root.resolve("scratch")
    def write(n: Int, to: Path): Unit =
      Tables.documents(spark, sfDir).filter(col("doc_id") < n)
        .withColumn("part", lit(0)).coalesce(1)
        .write.partitionBy("part").parquet(to.toString)
    def files(p: Path): Seq[Path] = {
      val ls = Files.list(p.resolve("part=0"))
      try ls.iterator().asScala.toVector.sortBy(_.getFileName.toString.endsWith(".crc"))
      finally ls.close()
    }
    def rows: Long = spark.read.parquet(table.toString).count()
    write(10, table)
    val before = rows
    assert(Tables.preparedDocuments(spark, root.toString).count() == before)
    // Rewrite the nested data file (and its checksum) in place with 30
    // rows: no directory entry is added or removed anywhere.
    write(30, scratch)
    files(table).zip(files(scratch)).foreach { case (dst, src) =>
      Files.write(dst, Files.readAllBytes(src))
    }
    val after = rows
    assert(after > before)
    assert(Tables.preparedDocuments(spark, root.toString).count() == after,
      "a stale prepared table was served for a rewritten nested file")
  }
}
