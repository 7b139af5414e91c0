package graft

import graft.Parity.{both, nA, nB, onlyA, onlyB, total}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

class ParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val keys = Seq("id_a", "id_b")

  /** (Σ onlyA, Σ onlyB, Σ both, Σ n_a, Σ n_b) — one job. */
  private def counts(a: DataFrame, b: DataFrame): Seq[Long] = {
    val r = Parity.stats("parity_spec", a, b, keys)(
      total(onlyA), total(onlyB), total(both), total(nA), total(nB)).head()
    (0 until 5).map(r.getLong)
  }

  /** The same five numbers from Spark's multiset set operators. */
  private def reference(a: DataFrame, b: DataFrame): Seq[Long] = {
    val (ka, kb) = (a.select(keys.map(col): _*), b.select(keys.map(col): _*))
    Seq(ka.exceptAll(kb).count(), kb.exceptAll(ka).count(),
      ka.intersectAll(kb).count(), ka.count(), kb.count())
  }

  test("a row duplicated on one side counts as an extra, as exceptAll does") {
    val a = Seq((1L, 2L), (1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val b = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    assert(counts(a, b) == Seq(1L, 1L, 2L, 3L, 3L))
    assert(counts(a, b) == reference(a, b))
    // a plain row-level full-outer join sees every a-row matched and so
    // misses the duplicate: the count the helper replaces
    val rowJoin = a.withColumn("e", lit(1)).join(b.withColumn("f", lit(1)), keys, "full_outer")
    assert(rowJoin.where(col("f").isNull).count() == 0L)
  }

  test("payload columns of a ride along; b-only keys get n_a = 0 and null payload") {
    val a = Seq((1L, 2L, 0.5), (1L, 2L, 0.5)).toDF("id_a", "id_b", "jac")
    val b = Seq((5L, 6L)).toDF("id_a", "id_b")
    val rows = Parity.diff(a, b, keys).select("id_a", "n_a", "n_b", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), Option(r.get(3)))).toSet
    assert(rows == Set((1L, 2L, 0L, Some(0.5)), (5L, 0L, 1L, None)))
  }

  test("empty sides give zero counts, never null") {
    val e = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val one = Seq((1L, 2L)).toDF("id_a", "id_b")
    assert(counts(e, e) == Seq(0L, 0L, 0L, 0L, 0L))
    assert(counts(one, e) == Seq(1L, 0L, 0L, 1L, 0L))
  }

  test("one exchange per side, none for a side already partitioned on the keys") {
    def exchanges(df: DataFrame) = "(?m)^\\(\\d+\\) Exchange\\b".r.findAllIn(
      df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)).size
    val a = spark.range(100).select(($"id" % 7).as("id_a"), ($"id" % 5).as("id_b"),
      ($"id" % 7 * 0.5).as("jac"))
    val b = spark.range(50).select(($"id" % 3).as("id_a"), ($"id" % 5).as("id_b"))
    // one hash exchange per side (the payload does not re-partition a) plus
    // the single-partition final aggregate
    assert(exchanges(Parity.stats("parity_spec", a, b, keys)(total(nA))) == 3)
    val grouped = a.groupBy("id_a", "id_b").agg(count(lit(1)).as("n")).select("id_a", "id_b")
    assert(exchanges(grouped) == 1)
    assert(exchanges(Parity.stats("parity_spec", grouped, b, keys)(total(nA))) == 3)
  }

  test("property: helper counts == exceptAll / intersectAll counts on random multisets") {
    // small key domain so that duplicates and overlaps are the common case;
    // a's payload is a function of its key, as the helper requires
    val side = Gen.choose(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 2L))))
    val prop = Prop.forAll(side, side) { (as, bs) =>
      val a = as.toDF("id_a", "id_b").withColumn("jac", col("id_a") * 0.25 + col("id_b"))
      val b = bs.toDF("id_a", "id_b")
      counts(a, b) == reference(a, b)
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(20).withInitialSeed(Seed(20261018L)), prop)
    assert(result.passed, result.status.toString)
  }
}
