package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** M6: recursive keyword-tree expansion (reference: depth-limited DFS with
  * a visited set, scrappy.py:431-493), as level-synchronous frontier
  * expansion: control flow (the tiny frontier term list) lives on the
  * driver, every data operation is a distributed DataFrame op.
  *
  * Per level: docs containing a frontier term → token explode → co-occur
  * counts → top-`fanout` novel children per parent. Visited pruning is
  * global and level-synchronous (order-independent, unlike the reference's
  * traversal-order-dependent DFS — documented deviation for determinism).
  *
  * Scale: the frontier is ≤ fanout^depth strings (control plane); each
  * level is one broadcast join + one hash-agg + one window over the corpus.
  * Each level's collect() moves only its ≤ fanout·|frontier| edges (the
  * next frontier and that level's result rows), never corpus rows; the
  * returned edge table is a driver-local relation over them.
  */
object KeywordTree {

  private val toksExpr = TextAnalytics.toksExpr

  /** (parent, child, depth, cnt) — the nullability the distributed
    * per-level query derives: a child is an exploded non-null token. */
  private val EdgeSchema = StructType(Seq(
    StructField("parent", StringType), StructField("child", StringType, nullable = false),
    StructField("depth", LongType, nullable = false), StructField("cnt", LongType, nullable = false)))

  def expand(docs: DataFrame, seeds: Seq[String], depth: Int = 2,
      fanout: Int = 5, stop: Seq[String] = TextAnalytics.Stopwords): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    var visited = seeds.map(_.toLowerCase).toSet
    var frontier = seeds.map(_.toLowerCase).distinct.sorted
    val edges = Seq.newBuilder[(String, String, Long, Long)]
    for (d <- 1 to depth if frontier.nonEmpty) {
      val fr = frontier.toDF("parent")
      val blocked = (stop ++ visited).distinct
      val cand = docs.join(broadcast(fr), expr("contains(lower(text), parent)"))
        .select(col("parent"), explode(expr(toksExpr)).as("child"))
        .filter(!col("child").isInCollection(blocked) && col("child") =!= col("parent"))
        // C5 subset pruning (scrappy.py:483): a child whose words are all
        // contained in the parent's word set is not a new direction.
        .filter(expr("size(array_except(split(child, ' '), split(parent, ' '))) > 0"))
        .groupBy("parent", "child").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("parent").orderBy(col("cnt").desc, col("child"))
      // the level's ≤ fanout·|frontier| edges, collected ONCE: they are
      // both the next frontier and this level's rows of the result
      val top = cand.withColumn("rn", row_number().over(w)).filter(col("rn") <= fanout)
        .select(col("parent"), col("child"), lit(d.toLong).as("depth"), col("cnt"))
        .as[(String, String, Long, Long)].collect()
      edges ++= top
      val children = top.map(_._2).distinct.sorted.toSeq
      frontier = children.filterNot(visited)
      visited ++= children
    }
    // empty seeds or depth < 1: an empty result, not a crash
    spark.createDataFrame(
        java.util.Arrays.asList(edges.result().map(Row.fromTuple): _*), EdgeSchema)
      .orderBy(col("depth"), col("parent"), col("cnt").desc, col("child"))
  }

  /** The user-visible artifact of the reference's --build-tree: the edge
    * table reassembled into the recursively nested dict shape of
    * topic_tree.json (scrappy.py:535-540 — `tree[base] = recursive(...)`,
    * leaves are `{}`), rendered exactly like json.dump(indent=2).
    * Driver-side recursive assembly over the COLLECTED edge list — the
    * same control-plane data expand() already moves; the artifact is
    * bounded by fanout^depth terms, never by corpus size. Children print
    * in (cnt desc, child) order — the ranking order the edges carry; a
    * child reached from two parents at the same level nests its subtree
    * under both (the level-synchronous analog of the reference's
    * traversal-order-dependent single attachment, documented deviation
    * as in expand()). */
  def toNestedJson(edges: DataFrame, seeds: Seq[String]): String = {
    val rows = edges.select("parent", "child", "depth", "cnt").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val kidsOf: Map[(String, Long), Seq[String]] =
      rows.groupBy(r => (r._1, r._3)).view
        .mapValues(g => g.sortBy(e => (-e._4, e._2)).map(_._2).toSeq).toMap
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    def render(term: String, depth: Long, indent: Int): String = {
      val kids = kidsOf.getOrElse((term, depth + 1), Seq.empty)
      if (kids.isEmpty) "{}"
      else kids.map(k => "  " * (indent + 1) + s""""${esc(k)}": ${render(k, depth + 1, indent + 1)}""")
        .mkString("{\n", ",\n", "\n" + "  " * indent + "}")
    }
    // roots keep the caller's term order, like the reference's main loop
    val roots = seeds.map(_.toLowerCase).distinct
    if (roots.isEmpty) "{}"
    else roots.map(s => s"""  "${esc(s)}": ${render(s, 0L, 1)}""").mkString("{\n", ",\n", "\n}")
  }

  private val stopSqlList = TextAnalytics.stopSqlList

  def defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q73_keyword_tree",
      (s, dir) => expand(Tables.documents(s, dir), Seq("join", "scan"), depth = 2, fanout = 5),
      // Depth-2 unrolling of the same expansion in SQL.
      Some(s"""WITH d0 AS (SELECT lower(text) AS lt,
              |${TextAnalytics.toksDuck} AS w FROM documents),
              |seeds(parent) AS (VALUES ('join'), ('scan')),
              |l1c AS (SELECT parent, child, count(*) AS cnt FROM
              |(SELECT s.parent, unnest(d.w) AS child FROM d0 d JOIN seeds s ON contains(d.lt, s.parent)) x
              |WHERE child NOT IN ($stopSqlList) AND child <> parent
              |AND len(list_filter(string_split(child, ' '), t -> NOT list_contains(string_split(parent, ' '), t))) > 0
              |AND child NOT IN (SELECT parent FROM seeds) GROUP BY 1, 2),
              |l1 AS (SELECT parent, child, cnt FROM
              |(SELECT *, row_number() OVER (PARTITION BY parent ORDER BY cnt DESC, child) AS rn FROM l1c) y
              |WHERE rn <= 5),
              |f2(parent) AS (SELECT DISTINCT child FROM l1),
              |l2c AS (SELECT parent, child, count(*) AS cnt FROM
              |(SELECT f.parent, unnest(d.w) AS child FROM d0 d JOIN f2 f ON contains(d.lt, f.parent)) x
              |WHERE child NOT IN ($stopSqlList) AND child <> parent
              |AND len(list_filter(string_split(child, ' '), t -> NOT list_contains(string_split(parent, ' '), t))) > 0
              |AND child NOT IN (SELECT parent FROM seeds)
              |AND child NOT IN (SELECT child FROM l1) GROUP BY 1, 2),
              |l2 AS (SELECT parent, child, cnt FROM
              |(SELECT *, row_number() OVER (PARTITION BY parent ORDER BY cnt DESC, child) AS rn FROM l2c) y
              |WHERE rn <= 5)
              |SELECT parent, child, CAST(1 AS BIGINT) AS depth, cnt FROM l1
              |UNION ALL
              |SELECT parent, child, CAST(2 AS BIGINT) AS depth, cnt FROM l2
              |ORDER BY depth, parent, cnt DESC, child""".stripMargin.replace("\n", " ")))
  )
}
