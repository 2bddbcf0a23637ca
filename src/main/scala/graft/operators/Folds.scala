package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Order-pinned folds: the one place that decides how an oracle-exact
  * floating-point sum or ordered list is built inside an aggregate.
  *
  * Invariant: the group's rows are folded in ascending `by` order (the
  * keys compare left to right, then the value breaks full-key ties), so
  * the result depends only on the group's rows — never on how the input
  * was partitioned or in which order partial aggregates were merged.
  * A plain `sum` adds in partition-arrival order, so the last bits of a
  * double sum can change with the partitioning. The DuckDB twins are
  * `list_sum(list(x ORDER BY k))` / `sum(x ORDER BY k)` for
  * [[orderedSum]] and `list(x ORDER BY k)` for [[orderedList]]; both
  * engines then add the same doubles left to right from 0.0.
  *
  * The keys should be unique within a group: on a full-key tie the
  * value itself orders the tied rows, which is still deterministic but
  * is not what the DuckDB twin promises.
  */
object Folds {

  /** The group's (by…, v) structs in ascending key order. The keys are
    * renamed so a key column that is itself named `v` cannot shadow the
    * value field. */
  private def sorted(value: Column, by: Seq[Column]): Column = {
    val keys = by.zipWithIndex.map { case (k, i) => k.as(s"k$i") }
    array_sort(collect_list(struct(keys :+ value.as("v"): _*)))
  }

  /** Σ value over the group, added left to right from 0.0 in `by` order. */
  def orderedSum(value: Column, by: Column*): Column =
    aggregate(sorted(value, by), lit(0.0), (a, x) => a + x("v"))

  /** The group's values as an array in `by` order. */
  def orderedList(value: Column, by: Column*): Column =
    transform(sorted(value, by), x => x("v"))
}
