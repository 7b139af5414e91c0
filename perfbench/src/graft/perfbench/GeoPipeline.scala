package graft.perfbench

import graft.expr.gf
import graft.geo.{GridCell, Pip, S2Cell, Tile}
import graft.model.{Doc, PolyRow}
import graft.operators.{DocPipeline, SpatialJoin}
import graft.sources.DocStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import scala.collection.parallel.CollectionConverters._

/**
 * geo_pipeline: the full headline pipeline over a seeded document store —
 * pruned scan, anchor extraction and geocode, region and municipality PIP
 * joins, the res 8-11 grid + S2 level 11 encode and the media tile
 * histogram, as one action whose rows reach the driver. The polygons are
 * the program's own with every ring densified to about 10^4 vertices, the
 * size of real boundaries, so the ray-casts cost what they would on real
 * data. Nothing is written.
 */
final class GeoPipeline(spark: SparkSession, seed: Long, dir: String) extends Workload {
  import spark.implicits._

  val Docs = 8000L
  val Vertices = 10000
  /** One anchor in this many is in the brute-force sample. */
  val SampleEvery = 300

  private val layout = Inputs.docLayout(seed, Docs)
  private val store = s"$dir/documents"
  private val (denseR, denseM) = Inputs.polygons(seed, Vertices)
  private val (sparseR, sparseM) = Inputs.polygons(seed, 0)
  private def table(rows: Seq[PolyRow]): DataFrame =
    spark.createDataset(rows).toDF().select("poly_id", "rings", "cell_cover")
  private lazy val dense = (table(denseR), table(denseM))
  private lazy val sparse = (table(sparseR), table(sparseM))
  private var expected: Seq[(String, String, Long)] = Nil

  def inputSizes: Seq[(String, Long)] = Seq(
    "documents" -> Docs,
    "region_polygons" -> denseR.size.toLong,
    "municipality_polygons" -> denseM.size.toLong,
    "dense_vertices_total" -> (denseR ++ denseM).map(_.rings.map(_.size / 2).sum.toLong).sum,
    "sparse_vertices_total" -> (sparseR ++ sparseM).map(_.rings.map(_.size / 2).sum.toLong).sum)

  private def docs: Dataset[Doc] = Inputs.documents(spark, layout)

  /** The program's doc-store layout (DocStore.ensure): region partitions,
    * each region salted over up to 8 writer tasks, plus the manifest. */
  private def writeStore(): Unit = {
    docs.repartition(col("region"), pmod(hash(col("doc_id")), lit(8)))
      .write.mode(SaveMode.Overwrite)
      .option("parquet.block.size", (8 * 1024 * 1024).toString)
      .partitionBy("region").parquet(store)
    DocStore.writeManifest(spark, store)
  }

  def prepare(): Unit = writeStore()

  private def docsForAnchors = DocStore.readDfPruned(spark, store, Seq("kind", "text", "offset"))
  private def docsForTiles = DocStore.readDfPruned(spark, store, Seq("kind", "media_ref", "offset"))
  private def anchorSrc = DocPipeline.docAnchors(docsForAnchors)
  private def anchors = anchorSrc.select(col("doc_id"), col("lat"), col("lon"))

  private def pip(polys: DataFrame, kind: String): DataFrame =
    SpatialJoin.pipJoin(anchors, polys)
      .groupBy(col("poly_id")).agg(count(lit(1)).as("n"))
      .select(lit(kind).as("kind"), col("poly_id").as("key"), col("n"))

  /** Order-independent checksum of every encoded cell id: without a
    * consumer, column pruning would drop the encode from the plan. */
  private def encode: DataFrame =
    anchorSrc.select(
        gf.grid_cell(col("lat"), col("lon"), 8).as("c8"),
        gf.grid_cell(col("lat"), col("lon"), 9).as("c9"),
        gf.grid_cell(col("lat"), col("lon"), 10).as("c10"),
        gf.grid_cell(col("lat"), col("lon"), 11).as("c11"),
        gf.s2_cell(col("lat"), col("lon"), 11).as("s2"))
      .agg(coalesce(expr("bit_xor(xxhash64(c8, c9, c10, c11, s2))"), lit(0L)).as("n"))
      .select(lit("cells").as("kind"), lit("").as("key"), col("n"))

  private def tiles: DataFrame =
    DocPipeline.mediaSpans(docsForTiles).groupBy("tile").count()
      .select(lit("tile").as("kind"), col("tile").cast("string").as("key"), col("count").as("n"))

  private def pipeline(polys: (DataFrame, DataFrame)): DataFrame =
    pip(polys._1, "region").unionByName(pip(polys._2, "muni"))
      .unionByName(tiles).unionByName(encode)

  private def run(polys: (DataFrame, DataFrame)): Seq[(String, String, Long)] =
    pipeline(polys).as[(String, String, Long)].collect().toSeq.sorted

  /** Expected rows come from the sparse polygons (same shapes, 12-31
    * vertices). On a fixed anchor sample, a brute-force PIP over every
    * polygon must give the same (point, polygon) pairs at both vertex
    * counts and match the cell-filtered join; each pass then ties the dense
    * counts to the sparse ones. */
  def expect(): Boolean = {
    expected = run(sparse)
    val sample = anchors.where(pmod(xxhash64(col("doc_id")), lit(SampleEvery.toLong)) === 0)
      .as[(String, Double, Double)].collect()
    def brute(rows: Seq[PolyRow]): Set[(String, String)] = {
      val polys = rows.map(p => p.poly_id -> p.rings.map(_.toArray).toArray)
      sample.par.flatMap { case (id, lat, lon) =>
        polys.collect { case (pid, rings) if Pip.contains(rings, lon, lat) => (id, pid) }
      }.seq.toSet
    }
    def joined(polys: (DataFrame, DataFrame)): Set[(String, String)] = {
      val pts = sample.toSeq.toDF("doc_id", "lat", "lon")
      Seq(polys._1, polys._2).flatMap(p =>
        SpatialJoin.pipJoin(pts, p).select("doc_id", "poly_id").as[(String, String)].collect()).toSet
    }
    val b = brute(denseR ++ denseM)
    val ok = sample.nonEmpty && b.nonEmpty && b == brute(sparseR ++ sparseM) &&
      b == joined(sparse) && expected.exists(_._1 == "region")
    if (!ok) System.err.println(s"geo_pipeline: brute-force sample check failed (${sample.length} points)")
    ok
  }

  def pass(i: Int): PassOut = {
    val rows = run(dense)
    PassOut(Docs, () => rows == expected)
  }

  def layers(t: Tracer, budgetS: Double): Map[String, Double] = {
    import Probe.Step
    val r = Probe.rounds(t, budgetS)(
      Step("sources.docstore_scan.anchors", "", () => Probe.noop(docsForAnchors)),
      Step("sources.docstore_scan.tiles", "", () => Probe.noop(docsForTiles)),
      Step("operators.docpipeline.anchors", "sources.docstore_scan.anchors", () => Probe.noop(anchorSrc)),
      Step("expr.cell_encode", "operators.docpipeline.anchors", () => Probe.noop(encode)),
      Step("operators.spatialjoin.pip_region", "operators.docpipeline.anchors", () => Probe.noop(pip(dense._1, "region"))),
      Step("operators.spatialjoin.pip_muni", "operators.docpipeline.anchors", () => Probe.noop(pip(dense._2, "muni"))),
      Step("operators.docpipeline.tiles", "sources.docstore_scan.tiles", () => Probe.noop(tiles)),
      Step("synth.generate", "", () => Probe.noop(docs.toDF())),
      Step("sources.docstore_build", "synth.generate", () => writeStore()))

    // ray-casts: candidate (point, polygon) rows out of the cell join
    val nPoints = anchors.count().toDouble
    def candidates(polys: DataFrame): Long =
      anchors.withColumn("cell", gf.grid_cell(col("lat"), col("lon"), 7))
        .join(polys.select(explode(col("cell_cover")).as("cell")), "cell").count()
    val candDense = candidates(dense._1) + candidates(dense._2)
    val candSparse = candidates(sparse._1) + candidates(sparse._2)
    val matches = expected.filter(e => e._1 == "region" || e._1 == "muni").map(_._3).sum

    // per-call kernels on seeded points inside each region's bounding box
    val n = 30000
    val lat = Array.tabulate(n)(k => 40.0 + 30.0 * Inputs.uniform(seed, 51, k))
    val lon = Array.tabulate(n)(k => 30.0 + 50.0 * Inputs.uniform(seed, 52, k))
    def ringsOf(rows: Seq[PolyRow]) = rows.map(_.rings.map(_.toArray).toArray).toArray
    val (sparseRings, denseRings) = (ringsOf(sparseR), ringsOf(denseR))
    val inBox = Array.tabulate(n) { k =>
      val (la0, lo0, la1, lo1) = Pip.bbox(sparseRings(k % sparseRings.length))
      (la0 + (la1 - la0) * Inputs.uniform(seed, 53, k), lo0 + (lo1 - lo0) * Inputs.uniform(seed, 54, k))
    }
    def pipNs(rings: Array[Array[Array[Double]]], calls: Int) =
      Probe.nsPerCall(5, calls) { k =>
        val (la, lo) = inBox(k)
        if (Pip.contains(rings(k % rings.length), lo, la)) 1L else 0L
      }

    val s = Probe.self(r, _: String, _: String)
    Map(
      "sources.docstore_scan_s" -> (r("sources.docstore_scan.anchors")._1 + r("sources.docstore_scan.tiles")._1),
      "sources.scan_bytes" -> (r("sources.docstore_scan.anchors")._2.inputBytes + r("sources.docstore_scan.tiles")._2.inputBytes).toDouble,
      "operators.docpipeline.anchors_s" -> s("operators.docpipeline.anchors", "sources.docstore_scan.anchors"),
      "expr.cell_encode_s" -> s("expr.cell_encode", "operators.docpipeline.anchors"),
      "operators.spatialjoin.pip_region_s" -> s("operators.spatialjoin.pip_region", "operators.docpipeline.anchors"),
      "operators.spatialjoin.pip_muni_s" -> s("operators.spatialjoin.pip_muni", "operators.docpipeline.anchors"),
      "operators.docpipeline.tiles_s" -> s("operators.docpipeline.tiles", "sources.docstore_scan.tiles"),
      "synth.generate_s" -> r("synth.generate")._1,
      "sources.docstore_build_s" -> s("sources.docstore_build", "synth.generate"),
      "operators.spatialjoin.candidates_per_point" -> candDense / nPoints,
      "operators.spatialjoin.candidates_per_point_sparse" -> candSparse / nPoints,
      "operators.spatialjoin.match_ratio" -> matches.toDouble / candDense,
      "geo.grid_encode_ns" -> Probe.nsPerCall(5, n)(k => GridCell.encode(lat(k), lon(k), 8 + k % 4)),
      "geo.s2_encode_ns" -> Probe.nsPerCall(5, n)(k => S2Cell.encode(lat(k), lon(k), 11)),
      "geo.tile_encode_ns" -> Probe.nsPerCall(5, n)(k => Tile.encode(lat(k), lon(k), 7 + k % 5)),
      "geo.pip_contains_sparse_ns" -> pipNs(sparseRings, n),
      "geo.pip_contains_dense_ns" -> pipNs(denseRings, 1500)) ++
      Seq("expr.cell_encode", "operators.spatialjoin.pip_region", "operators.spatialjoin.pip_muni",
        "operators.docpipeline.tiles", "sources.docstore_build")
        .flatMap(k => Probe.counters(t, k, r(k)))
  }
}
