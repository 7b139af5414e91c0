package graft.operators

import graft.expr.gf
import graft.geo.GridCell
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Two-phase point-in-polygon spatial join (SURVEY.md §2.2 Joins).
 *
 * Phase 1 — cell equi-join pre-filter: polygons are exploded over their
 * precomputed grid-cell cover (`cell_cover`, res 7) and the points' cell id is
 * equi-joined against it. This turns an O(points x polys) theta-join into a
 * plain hash join Catalyst plans natively (broadcast when the polygon side is
 * small — regions/municipalities always are — shuffled-hash/sort-merge
 * otherwise; AQE decides).
 *
 * Phase 2 — exact ray-cast PIP as a residual filter on the joined rows.
 *
 * At 100 TB the win: points never shuffle for the broadcast variant (polygon
 * cover ships to every executor), and the residual PIP runs only on
 * bbox-cover candidates (a few polys per cell), not the full polygon set.
 */
object SpatialJoin {

  /**
   * @param points  any plan with `lat`, `lon` columns
   * @param polys   polygon table: (poly_id, rings, cell_cover, ...)
   * @param res     cover resolution (must match how cell_cover was computed)
   * @param broadcastPolys broadcast the exploded cover side (true for
   *                region/municipality-sized polygon sets)
   */
  def pipJoin(points: DataFrame, polys: DataFrame, res: Int = 7,
      broadcastPolys: Boolean = true): DataFrame = {
    val cover = polys.withColumn("cell", explode(col("cell_cover"))).drop("cell_cover")
    val coverSide = if (broadcastPolys) broadcast(cover) else cover
    points
      .withColumn("cell", gf.grid_cell(col("lat"), col("lon"), res))
      .join(coverSide, "cell")
      .where(gf.st_contains(col("rings"), col("lat"), col("lon")))
      .drop("cell", "rings")
  }

  /** Semi-join variant: points that fall in >= 1 polygon, each point once. */
  def pipSemiJoin(points: DataFrame, polys: DataFrame, res: Int = 7): DataFrame = {
    val cover = broadcast(polys.select(col("rings"), explode(col("cell_cover")).as("cell")))
    val withCell = points.withColumn("cell", gf.grid_cell(col("lat"), col("lon"), res))
    withCell.join(cover,
        withCell("cell") === cover("cell") &&
          gf.st_contains(cover("rings"), withCell("lat"), withCell("lon")),
        "left_semi")
      .drop("cell")
  }

  def minCellDimDeg(res: Int): Double = math.min(GridCell.cellW(res), GridCell.cellH(res))
}
