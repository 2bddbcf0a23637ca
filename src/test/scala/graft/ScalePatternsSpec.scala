package graft

import graft.functions.TopKTerms
import graft.operators.{Folds, Salting}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ScalePatternsSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("salted join result is identical to the plain join") {
    val probe = Seq.tabulate(1000)(i => (if (i % 10 == 0) "cold" + i else "hot", i))
      .toDF("k", "v") // 90% of rows share one key
    val build = Seq(("hot", "H"), ("cold10", "C")).toDF("k", "label")
    val plain = probe.join(build, Seq("k")).select("k", "v", "label")
    val salted = Salting.saltedJoin(probe, build, "k", salts = 8).select("k", "v", "label")
    assert(plain.exceptAll(salted).count() == 0)
    assert(salted.exceptAll(plain).count() == 0)
  }

  test("TopKTerms Aggregator matches groupBy+orderBy+limit") {
    val counted = Tables.documents(spark, sfDir)
      .select(explode(expr("filter(split(lower(text), ' '), x -> x <> '')")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)]
    val topViaAgg = counted.groupByKey(_ => 0)
      .agg(new TopKTerms(10).toColumn).collect().head._2
    val topViaSql = counted.orderBy($"cnt".desc, $"term").limit(10).collect().toSeq
    assert(topViaAgg == topViaSql)
  }

  test("TopKScored k-heap equals the window ranking on random grouped data, any partitioning") {
    val rnd = new scala.util.Random(7)
    // deliberately collision-heavy scores so tie-breaks are exercised
    val rows = Seq.tabulate(4000)(i =>
      (rnd.nextInt(5).toLong, math.floor(rnd.nextDouble() * 50) / 50.0, i.toLong))
    for (parts <- Seq(1, 7)) {
      val df = rows.toDF("qid", "score", "id").repartition(parts)
      val top = udaf(new functions.TopKScored(10))
      val got = df.groupBy("qid").agg(top($"score", $"id").as("t"))
        .select($"qid", posexplode($"t"))
        .select($"qid", $"col.score".as("score"), $"col.id".as("id"),
          ($"pos" + 1).as("rn"))
        .as[(Long, Double, Long, Long)].collect().toSet
      val expected = rows.groupBy(_._1).flatMap { case (q, rs) =>
        rs.sortBy(r => (-r._2, r._3)).take(10).zipWithIndex
          .map { case ((_, s, id), i) => (q, s, id, i + 1L) }
      }.toSet
      assert(got == expected, s"parts=$parts")
    }
    // ascending variant (q134's distance ordering)
    val asc = udaf(new functions.TopKScored(5, asc = true))
    val gotAsc = rows.toDF("qid", "score", "id").groupBy("qid")
      .agg(asc($"score", $"id").as("t"))
      .select($"qid", explode($"t.id").as("id"))
      .as[(Long, Long)].collect().toSet
    val expAsc = rows.groupBy(_._1).toSeq.flatMap { case (q, rs) =>
      rs.sortBy(r => (r._2, r._3)).take(5).map(r => (q, r._3))
    }.toSet
    assert(gotAsc == expAsc)
  }

  test("orderedSum/orderedList fold in key order under any partitioning, bit for bit") {
    val rnd = new scala.util.Random(11)
    // per group: two cancelling pairs of large values among small ones,
    // so what survives depends on where the small values fall
    val small = Seq(1.0, 0.5, 3.0, -1.0)
    def vals = rnd.shuffle(Seq(1e16, -1e16, math.pow(2, 60), -math.pow(2, 60)) ++
      Seq.fill(20)(small(rnd.nextInt(small.size))))
    // 6 groups × 24 rows; (v, k2) is unique per group and the key is
    // deliberately named `v`, like the fold's own value field
    val rows = (0 until 6).flatMap { g =>
      vals.zipWithIndex.map { case (x, i) => (g, i / 3, i % 3, x) }
    }
    val byKey = rows.groupBy(_._1).map { case (g, rs) => g -> rs.sortBy(r => (r._2, r._3)).map(_._4) }
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    // the data must be order-sensitive for the check to mean anything
    assert(byKey.values.exists(xs => bits(xs.foldLeft(0.0)(_ + _)) != bits(xs.reverse.foldLeft(0.0)(_ + _))))
    val df = rnd.shuffle(rows).toDF("g", "v", "k2", "x")
    for (in <- Seq(df.repartition(7), df.coalesce(1))) {
      val got = in.groupBy("g").agg(
          Folds.orderedSum($"x", $"v", $"k2").as("s"), Folds.orderedList($"x", $"v", $"k2").as("l"))
        .as[(Int, Double, Seq[Double])].collect()
      assert(got.length == 6)
      got.foreach { case (g, sum, list) =>
        assert(bits(sum) == bits(byKey(g).foldLeft(0.0)(_ + _)), s"group $g sum")
        assert(list.map(bits) == byKey(g).map(bits), s"group $g list")
      }
    }
  }

  test("KMinHashes monoid equals sort-take on random hashes, any partitioning") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(3000)(_ =>
      (rnd.nextInt(4).toLong, rnd.nextLong().abs))
    for (parts <- Seq(1, 5)) {
      val kmin = udaf(new functions.KMinHashes(16))
      val got = rows.toDF("g", "h").repartition(parts)
        .groupBy("g").agg(kmin($"h").as("sk"))
        .as[(Long, Seq[Long])].collect().toMap
      val expected = rows.groupBy(_._1).view
        .mapValues(_.map(_._2).distinct.sorted.take(16)).toMap
      assert(got == expected, s"parts=$parts")
    }
  }

  test("bucketized range join equals naive range join") {
    // the q28 Spark form vs a direct theta-join on a small slice
    val e = Tables.events(spark, sfDir).limit(200)
      .select($"event_id", $"user_id", expr("unix_micros(ts)").as("us"))
    val naive = e.as("a").join(e.as("b"),
        $"a.user_id" === $"b.user_id" && $"b.us" > $"a.us" &&
          $"b.us" - $"a.us" <= 300000000L)
      .select($"a.event_id".as("x"), $"b.event_id".as("y"))
    val bucketized = {
      val eb = e.withColumn("bucket", expr("us div 300000000"))
      val probes = eb.select($"event_id".as("a_id"), $"user_id".as("a_user"),
        $"us".as("a_us"), explode(expr("array(bucket, bucket + 1)")).as("probe"))
      probes.join(eb,
          $"a_user" === $"user_id" && $"probe" === $"bucket" &&
            $"us" > $"a_us" && $"us" - $"a_us" <= 300000000L)
        .select($"a_id".as("x"), $"event_id".as("y"))
    }
    assert(naive.exceptAll(bucketized).count() == 0)
    assert(bucketized.exceptAll(naive).count() == 0)
  }
}
