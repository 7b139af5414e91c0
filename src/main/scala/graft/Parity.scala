package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Multiset parity of two row sets — the one comparison every parity
  * harness runs. Each side is counted to a per-key-tuple multiplicity and the
  * two are full-outer joined on `keys`, so duplicated rows are counted,
  * never assumed away: uniqueness of a side is often the very property a
  * harness checks.
  *
  * Output: one row per key tuple present on either side, with `n_a` / `n_b`
  * = how many times it appears on each side (0 when absent). The non-key
  * columns of `a` ride along as payload and must be a function of the key
  * tuple (a score computed from the pair, say). Over that output `onlyA` /
  * `onlyB` sum to the two `exceptAll(...).count()` numbers and `both` to
  * `intersectAll(...).count()`. To run several comparisons in one job, tag
  * the sides with a key column (one tag per comparison).
  *
  * Each side is hash-partitioned on `keys` once, by its grouping (not at all
  * when it already is), and the join reuses that partitioning. Key columns
  * must be non-null: SQL equality never matches a null key. */
object Parity {
  val nA: Column = col("n_a")
  val nB: Column = col("n_b")
  val onlyA: Column = greatest(nA - nB, lit(0L))
  val onlyB: Column = greatest(nB - nA, lit(0L))
  val both: Column = least(nA, nB)
  val symDiff: Column = abs(nA - nB)

  /** Σ x over the diff rows, 0 on empty input (a non-null long). */
  def total(x: Column): Column = coalesce(sum(x), lit(0L))

  def diff(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame = {
    val ks = keys.map(col)
    val payload = a.columns.toSeq.filterNot(keys.contains).map(c => any_value(col(c)).as(c))
    a.groupBy(ks: _*).agg(count(lit(1)).as("n_a"), payload: _*)
      .join(b.groupBy(ks: _*).agg(count(lit(1)).as("n_b")), keys, "full_outer")
      .na.fill(0L, Seq("n_a", "n_b"))
  }

  /** One-row aggregate `aggs` over `diff(a, b, keys)` — one job. Its plan
    * is captured as `name` when `SPARK_GRAFT_EXPLAIN_DIR` is set. */
  def stats(name: String, a: DataFrame, b: DataFrame, keys: Seq[String])(
      aggs: Column*): DataFrame = {
    val df = diff(a, b, keys).agg(aggs.head, aggs.tail: _*)
    PlanCapture.dump(name, df)
    df
  }
}
