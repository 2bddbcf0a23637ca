package graft

import graft.operators.Relational
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PlansSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("rule rewrites containsCI onto the persisted _lc twin and pushes to the scan") {
    // the caller writes the ORIGINAL-column containsCI form...
    val df = Tables.preparedDocuments(spark, sfDir)
      .filter(Relational.containsCI(col("text"), "Join"))
      .select("doc_id")
    val plan = df.queryExecution.executedPlan.toString
    // ...and the optimizer lands StringContains(text_lc) in PushedFilters
    assert(plan.contains("StringContains(text_lc,join)"), plan.take(800))
    assert(!plan.contains("lower(text"), plan.take(800))
    // results identical to the un-rewritten form on the raw table
    val raw = Tables.documents(spark, sfDir)
      .filter(Relational.containsCI(col("text"), "Join"))
      .select("doc_id")
    assert(df.exceptAll(raw).count() == 0 && raw.exceptAll(df).count() == 0)
  }

  test("rule never fires without a twin column, under NOT, or on attribute needles") {
    // no _lc twin → untouched
    val noTwin = Tables.documents(spark, sfDir)
      .filter(Relational.containsCI(col("text"), "join"))
    assert(noTwin.queryExecution.optimizedPlan.toString.contains("lower(text"))
    // under NOT the coalesce wrapper must SURVIVE (null → false matters):
    // a null text row is KEPT by NOT(containsCI) and must stay kept
    val prepared = Tables.preparedDocuments(spark, sfDir)
    val negated = prepared.filter(!Relational.containsCI(col("text"), "join"))
    val negatedRaw = Tables.documents(spark, sfDir)
      .filter(!Relational.containsCI(col("text"), "join"))
    assert(negated.select("doc_id").exceptAll(negatedRaw.select("doc_id")).count() == 0)
    // attribute (non-literal) needle → untouched
    val attr = prepared.filter(expr("contains(lower(text), source)"))
    assert(attr.queryExecution.optimizedPlan.toString.contains("lower(text"))
    // a coincidentally-NAMED text_lc without the graft.lc_of metadata
    // declaration must NOT trigger the rewrite (it may hold anything)
    val impostor = Tables.documents(spark, sfDir)
      .withColumn("text_lc", reverse(col("text")))
      .filter(Relational.containsCI(col("text"), "join"))
    assert(impostor.queryExecution.optimizedPlan.toString.contains("lower(text"))
  }

  test("null text: rewritten positive filter drops nulls exactly like containsCI") {
    val lcMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("graft.lc_of", "text").build()
    val docs = Seq((1L, Option("has join here"), "s"), (2L, None, "s"), (3L, Option("other"), "s"))
      .toDF("doc_id", "text", "source")
      .withColumn("text_lc", lower(col("text")).as("text_lc", lcMeta))
    val kept = docs.filter(Relational.containsCI(col("text"), "join"))
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(1L))
    val keptNeg = docs.filter(!Relational.containsCI(col("text"), "join"))
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(keptNeg == Seq(2L, 3L)) // null row kept: na=False semantics under NOT
  }

  test("rule under a self-join rewrites onto the filtered side's own twin") {
    val prep = Tables.preparedDocuments(spark, sfDir)
    val joined = prep.as("l")
      .join(prep.as("r"), col("l.doc_id") === col("r.doc_id") + 250)
      .filter(Relational.containsCI(col("r.text"), "join"))
      .select(col("l.doc_id").as("l_id"), col("r.doc_id").as("r_id"))
    val raw = Tables.documents(spark, sfDir).as("l")
      .join(Tables.documents(spark, sfDir).as("r"), col("l.doc_id") === col("r.doc_id") + 250)
      .filter(Relational.containsCI(col("r.text"), "join"))
      .select(col("l.doc_id").as("l_id"), col("r.doc_id").as("r_id"))
    assert(joined.exceptAll(raw).count() == 0 && raw.exceptAll(joined).count() == 0)
    assert(joined.count() > 0, "fixture filter must match something")
    // and the rewrite actually FIRED (row parity alone would also pass
    // if the rule silently no-opped)
    assert(!joined.queryExecution.optimizedPlan.toString.contains("lower(text"))
  }
}
