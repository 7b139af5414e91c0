package graft

import graft.operators.{DocPipeline, KnnJoin, SpatialJoin}
import graft.sources.DocStore
import graft.synth.DataGen
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docsPath = DocStore.ensure(spark, 0.0005)
  private lazy val docs = DocStore.readDf(spark, docsPath)
  private lazy val regionPolys = DataGen.regionPolys(spark).toDF()

  test("pip join: every doc anchor lands in exactly its own region polygon") {
    val joined = SpatialJoin.pipJoin(
      DocPipeline.docAnchors(docs).select($"doc_id", $"region", $"lat", $"lon"),
      regionPolys.drop("region"))
    // anchor geocodes inside its region polygon, polygons don't overlap =>
    // assignment == generating region, once per doc
    val rows = joined.select($"doc_id", $"region", $"poly_id").collect()
    val nDocs = docs.count()
    assert(rows.length == nDocs)
    assert(rows.forall(r => r.getString(1) == r.getString(2)))
  }

  test("pip join counts equal per-region doc counts (flagship query)") {
    val viaJoin = DocPipeline.regionDocCounts(docs, regionPolys)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = docs.groupBy("region").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaJoin == direct)
  }

  test("pip semi join keeps each in-polygon point once") {
    val anchors = DocPipeline.docAnchors(docs).select($"doc_id", $"lat", $"lon")
    val semi = SpatialJoin.pipSemiJoin(anchors, regionPolys)
    assert(semi.count() == anchors.count())
    assert(semi.select("doc_id").distinct().count() == anchors.count())
    // a far-away point is dropped
    val outside = Seq(("X", -50.0, -120.0)).toDF("doc_id", "lat", "lon")
    assert(SpatialJoin.pipSemiJoin(outside, regionPolys).count() == 0)
  }

  test("certified knn join equals brute force exactly (incl. hot-region skew)") {
    val anchors = DocPipeline.docAnchors(docs)
      .select($"doc_id".as("qid"), $"lat", $"lon")
    val addrs = DataGen.addrPoints(spark, 0.0005).toDF()
      .select($"addr_id".as("tid"), $"lat", $"lon")
    val fast = KnnJoin.knnJoin(anchors, addrs, k = 3)
      .select("qid", "tid", "rn").collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val brute = KnnJoin.knnBrute(anchors, addrs, k = 3)
      .select("qid", "tid", "rn").collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(fast == brute)
    assert(fast.nonEmpty)
  }

  test("knn join with k larger than candidate pool still exact") {
    val q = Seq(("q1", 55.0, 37.0)).toDF("qid", "lat", "lon")
    val t3 = Seq(("t1", 55.1, 37.1), ("t2", 10.0, 10.0), ("t3", -60.0, 100.0))
      .toDF("tid", "lat", "lon")
    val got = KnnJoin.knnJoin(q, t3, k = 5)
      .orderBy("rn").collect().map(_.getString(1)).toSeq
    assert(got == Seq("t1", "t2", "t3"))
  }

  /** The explode + window formulation of `DocPipeline.docAnchors`: the
    * reference the shuffle-free version is checked against (its
    * shuffle-by-doc_id of every span row is ~100x slower). */
  private def docAnchorsViaWindow(docs: org.apache.spark.sql.DataFrame) = {
    val w = Window.partitionBy("doc_id").orderBy("offset")
    DocPipeline.geocodedSpans(docs)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("rn")
  }

  test("shuffle-free anchors equal the window formulation") {
    val fast = DocPipeline.docAnchors(docs)
      .select($"doc_id", $"text", $"offset", $"lat", $"lon").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3), r.getDouble(4))).toSet
    val slow = docAnchorsViaWindow(docs)
      .select($"doc_id", $"text", $"offset", $"lat", $"lon").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3), r.getDouble(4))).toSet
    assert(fast == slow && fast.nonEmpty)
  }

  test("media tile consistency holds for every media span") {
    val mc = DocPipeline.mediaConsistency(docs)
    val counts = mc.groupBy("consistent").count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(counts.getOrElse(false, 0L) == 0L)
    assert(counts.getOrElse(true, 0L) > 0L)
  }

  test("span-sequence round trip: explode -> reassemble is identity") {
    val rebuilt = DocPipeline.reassemble(DocPipeline.explodeSpans(docs))
    val mismatches = docs.select($"doc_id", $"spans".as("orig"))
      .join(rebuilt.select($"doc_id", $"spans".as("round")), "doc_id")
      .where(not($"orig" === $"round"))
      .count()
    assert(mismatches == 0)
    assert(rebuilt.count() == docs.count())
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
