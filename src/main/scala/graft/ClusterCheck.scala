package graft

/** Scale evidence for the clustering queries whose DuckDB oracles are
  * gate-scale only (q55/q65 — the recursive-CTE closure is O(E·cluster),
  * intractable at sf0.1; see COVERAGE.md): verifies the Spark results'
  * defining invariants directly at ANY scale factor —
  *   1. pair consistency: both endpoints of every q41-verified pair share
  *      a component;
  *   2. rootedness: every component id is the minimum member id and a
  *      member itself;
  *   3. q65 coherence: exactly one survivor per component, and it is a
  *      member of that component.
  * These three properties plus the sf0.01 oracle hash-match are the full
  * correctness story for the clustering family.
  *
  * Usage: runMain graft.ClusterCheck [sfDir]
  */
object ClusterCheck {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session()
    import spark.implicits._

    val pairs = operators.Dedup.lshVerifiedPairs(spark, dir)
      .select("da", "db").as[(Long, Long)].collect()
    val compRows = SparkEntry.queries("q55_dedup_clusters")(spark, dir)
      .select("doc_id", "comp").as[(Long, Long)].collect()
    // One row per doc is itself an invariant — a duplicated doc_id with
    // conflicting comps must FAIL here, not vanish into a .toMap.
    val dupDocs = compRows.length - compRows.map(_._1).distinct.length
    val comp = compRows.toMap
    // Missing endpoints count as bad pairs instead of crashing the check.
    val badPairs = pairs.count { case (a, b) =>
      (comp.get(a), comp.get(b)) match {
        case (Some(ca), Some(cb)) => ca != cb
        case _ => true
      }
    }
    val badRoots = comp.groupBy(_._2).count { case (c, ms) => ms.keys.min != c }
    val surv = SparkEntry.queries("q65_dedup_best_survivor")(spark, dir)
      .select("comp", "survivor").as[(Long, Long)].collect()
    val badSurv = surv.count { case (c, s) => comp.get(s) != Some(c) } +
      (surv.map(_._1).distinct.length - surv.length).abs +
      (comp.values.toSet -- surv.map(_._1).toSet).size
    // q129 (split repair) shares q55's recursion-based oracle limit, so
    // its defining invariants are checked directly at scale too:
    //   4. zero residual leakage — no q127 fused pair straddles final
    //      splits after repair;
    //   5. split constancy — final_split is constant per component and
    //      equals the component root's own q95 assignment.
    val repair = SparkEntry.queries("q129_split_repair")(spark, dir)
      .select("doc_id", "comp", "own_split", "final_split")
      .as[(Long, Long, String, String)].collect()
    val byDoc = repair.map(r => r._1 -> r).toMap
    val fusedPairs = SparkEntry.queries("q127_signal_fusion")(spark, dir)
      .select("da", "db").as[(Long, Long)].collect()
    val leaks = fusedPairs.count { case (a, b) =>
      (byDoc.get(a), byDoc.get(b)) match {
        case (Some(ra), Some(rb)) => ra._4 != rb._4
        case _ => true
      }
    }
    val badSplits = repair.count { case (_, c, _, fin) =>
      byDoc.get(c).forall(root => root._3 != fin)
    }
    println(s"CLUSTERCHECK dir=$dir pairs=${pairs.length} docs=${comp.size} " +
      s"components=${comp.values.toSet.size} dupDocs=$dupDocs " +
      s"badPairs=$badPairs badRoots=$badRoots badSurvivors=$badSurv " +
      s"fusedPairs=${fusedPairs.length} residualLeaks=$leaks badSplits=$badSplits")
    assert(dupDocs == 0 && badPairs == 0 && badRoots == 0 && badSurv == 0,
      "cluster invariants violated")
    assert(leaks == 0 && badSplits == 0, "split-repair invariants violated")
    println("CLUSTERCHECK ok=true")
    spark.stop()
  }
}
