package graft.perfbench

import graft.geo.{Pip, Rng}
import graft.model.{Doc, PolyRow, SchemaRegistry, XsdSchema}
import graft.sources.GarXml
import graft.synth.{DataGen, GarGen, SynthGeo}
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/**
 * Seeded input generators. Every input is a pure function of the
 * benchmark seed and fixed sizes, so one seed always gives the same inputs,
 * and the amount of work does not depend on the seed.
 */
object Inputs {

  /** The seed's own stream: value number `i` of stream `salt`. */
  def mix(seed: Long, salt: Long, i: Long = 0L): Long =
    Rng.splitmix64(Rng.splitmix64(seed * 0x9E3779B97F4A7C15L + salt) + i)

  def uniform(seed: Long, salt: Long, i: Long = 0L): Double =
    (mix(seed, salt, i) >>> 11).toDouble / (1L << 53).toDouble

  // ------------------------------------------------------------ documents

  /** (region, first global index, count, first sequence number). The hot
    * regions keep the program's skew ("77" 20x, "78" 8x); the seed sets
    * every other region's weight (0.75x to 1.25x) and where in its sequence
    * space each region's range starts. */
  def docLayout(seed: Long, total: Long): IndexedSeq[(String, Long, Long, Long)] = {
    val weight = SynthGeo.Regions.map { r =>
      r -> SynthGeo.HotWeights.get(r).map(_.toDouble)
        .getOrElse(0.75 + 0.5 * uniform(seed, 11, SynthGeo.regionIndex(r)))
    }.toMap
    val units = weight.values.sum
    var cursor = 0L
    SynthGeo.Regions.map { r =>
      val n = math.max(1L, (total * weight(r) / units).toLong)
      val seq0 = (mix(seed, 12, SynthGeo.regionIndex(r)) >>> 1) % 50000000L
      val row = (r, cursor, n, seq0)
      cursor += n
      row
    }
  }

  def documents(spark: SparkSession, layout: IndexedSeq[(String, Long, Long, Long)]): Dataset[Doc] = {
    import spark.implicits._
    val total = layout.map(_._3).sum
    val starts = layout.map(_._2).toArray
    spark.range(0, total, 1, math.max(spark.sparkContext.defaultParallelism, 4))
      .mapPartitions { it =>
        it.map { id =>
          var k = java.util.Arrays.binarySearch(starts, id)
          if (k < 0) k = -k - 2
          val (r, start, _, seq0) = layout(k)
          DataGen.makeDoc(r, seq0 + (id - start))
        }
      }
  }

  // ------------------------------------------------------------- polygons

  /** The ring with every edge subdivided so the ring has about `target`
    * vertices. New vertices lie on the original edges, at seed-jittered
    * spacing, so the polygon covers exactly the same points. */
  def densify(ring: Array[Double], target: Int, seed: Long, salt: Long): Array[Double] = {
    val n = ring.length / 2
    val per = math.max(1, target / n)
    val out = new Array[Double](2 * n * per)
    var o = 0
    for (i <- 0 until n) {
      val j = (i + 1) % n
      val (xi, yi, xj, yj) = (ring(2 * i), ring(2 * i + 1), ring(2 * j), ring(2 * j + 1))
      for (k <- 0 until per) {
        val t = if (k == 0) 0.0 else (k + 0.8 * uniform(seed, salt, i.toLong * per + k) - 0.4) / per
        out(o) = xi + t * (xj - xi); out(o + 1) = yi + t * (yj - yi)
        o += 2
      }
    }
    out
  }

  private def polyRow(id: String, region: String, name: String, rings: Array[Array[Double]]) =
    PolyRow(id, region, name, rings.map(_.toSeq).toSeq, Pip.cellCover(rings, 7).toSeq)

  /** Region and municipality polygons of the program's synthetic world;
    * with `vertices > 0` every ring is densified to about that many
    * vertices and its cell cover recomputed. */
  def polygons(seed: Long, vertices: Int): (Seq[PolyRow], Seq[PolyRow]) = {
    def shape(rings: Array[Array[Double]], salt: Long) =
      if (vertices <= 0) rings
      else rings.zipWithIndex.map { case (r, k) => densify(r, vertices, seed, salt * 8 + k) }
    val regions = SynthGeo.Regions.map { r =>
      polyRow(r, r, s"Region $r", shape(SynthGeo.regionPolygon(r), SynthGeo.regionIndex(r)))
    }
    val munis = SynthGeo.Regions.flatMap { r =>
      SynthGeo.municipalities(r).zipWithIndex.map { case ((id, rings), m) =>
        polyRow(id, r, s"Municipality $id", shape(rings, 1000 + SynthGeo.regionIndex(r) * 16 + m))
      }
    }
    (regions, munis)
  }

  // ---------------------------------------------------------- text corpora

  private val Words = 40

  /** Word list of the seed: 4096 hex words. */
  def vocab(seed: Long): Array[String] =
    Array.tabulate(4096)(i => f"w${mix(seed, 21, i) & 0xFFFFFFL}%x")

  /** A 40-word text whose words are drawn by stream `base`. */
  def words(vocab: Array[String], seed: Long, base: Long): Array[String] =
    Array.tabulate(Words)(j => vocab(((mix(seed, base, j) >>> 1) % vocab.length).toInt))

  /** The same text with word `at` replaced: a near duplicate (character
    * 3-gram Jaccard about 0.9). */
  def edit(text: Array[String], at: Int, word: String): Array[String] = {
    val t = text.clone(); t(at) = word; t
  }
}

/**
 * The near-duplicate corpus. Ids 0 until `plain` (a multiple of 100) follow
 * a period-100 plan; the last `hot` ids share one boilerplate template with
 * one varying word, a clique that makes one hot LSH band.
 *
 *   - id % 100 == 10: exact copy of id - 1 (removed by exact dedup);
 *   - id % 100 == 21: one-word edit of id - 1 (removed as a near duplicate);
 *   - id % 100 == 40: its text is in the benchmark set (removed by
 *     decontamination);
 *   - the hot cluster collapses to its smallest id.
 *
 * So the surviving corpus has exactly plain - 3 * plain / 100 + 1 documents.
 */
final class NearDupCorpus(seed: Long, val plain: Int, val hot: Int) extends Serializable {
  require(plain % 100 == 0)
  private val vocab = Inputs.vocab(seed)
  private def plainText(i: Long) = Inputs.words(vocab, seed, 1000L + i)

  def words(i: Long): Array[String] =
    if (i >= plain) {
      val template = Inputs.words(vocab, seed, 7)
      Inputs.edit(template, 20, vocab(((Inputs.mix(seed, 8, i) >>> 1) % vocab.length).toInt))
    } else (i % 100) match {
      case 10 => plainText(i - 1)
      case 21 => Inputs.edit(plainText(i - 1), 7, "changed")
      case _ => plainText(i)
    }

  def text(i: Long): String = words(i).mkString(" ")
  def size: Long = plain.toLong + hot
  def benchmarkIds: Seq[Long] = (0L until plain).filter(_ % 100 == 40)
  def expectedSurvivors: Long = plain - 3L * plain / 100 + 1
}

/**
 * The ingest corpus: a base of `base` documents and a stream of batches of
 * `batch` documents. Base id % 100 == 21 is a one-word edit of id - 1.
 * In batch k (ids base + k * batch + j):
 *   - j % 10 == 0 edits a base document (a new x stored pair);
 *   - j % 10 == 1 edits document j - 1 of the same batch (new x new);
 *   - j % 10 == 2 edits document j - 2 of batch k - 1 (new x earlier
 *     batch);
 *   - the rest are fresh.
 * Base ids with id % 100 == 77 have no near duplicate anywhere; those are
 * the ones retired, so retiring them changes no pair.
 */
final class IngestCorpus(seed: Long, val base: Int, val batch: Int) extends Serializable {
  private val vocab = Inputs.vocab(seed)
  private def fresh(i: Long) = Inputs.words(vocab, seed, 5000L + i)

  /** A base id that is never retired, chosen by stream value `v`. */
  private def target(v: Long): Long = {
    val id = (Inputs.mix(seed, 31, v) >>> 1) % base
    if (id % 100 == 77 || id % 100 == 21) id - 1 else id
  }

  def words(id: Long): Array[String] =
    if (id < base) {
      if (id % 100 == 21) Inputs.edit(fresh(id - 1), 7, "changed") else fresh(id)
    } else {
      val k = (id - base) / batch
      val j = (id - base) % batch
      (j % 10) match {
        case 0 => Inputs.edit(words(target(id)), 3, "edited")
        case 1 => Inputs.edit(words(id - 1), 30, "again")
        case 2 if k > 0 => Inputs.edit(words(id - batch - 2), 12, "later")
        case _ => fresh(id)
      }
    }

  def text(id: Long): String = words(id).mkString(" ")
  def batchIds(k: Int): Seq[Long] = (0 until batch).map(j => base.toLong + k.toLong * batch + j)
  /** Base ids retired at the k-th retirement. */
  def retired(k: Int): Seq[Long] =
    (0 until 5).map(m => ((k * 5 + m) % (base / 100)) * 100L + 77).filter(_ < base)
}

/** The GAR-shaped source tree: one XSD per entity, and per region one
  * ADDR_OBJ file plus one *_PARAMS file (the seed picks the regions and
  * which PARAMS table). */
final class GarTree(seed: Long, val nRegions: Int, val addrRows: Int, val paramRows: Int) {
  private val ParamTables = Seq("ADDR_OBJ_PARAMS", "HOUSES_PARAMS", "STEADS_PARAMS",
    "APARTMENTS_PARAMS", "ROOMS_PARAMS", "CARPLACES_PARAMS")
  val paramTable: String = ParamTables(((Inputs.mix(seed, 41) >>> 1) % ParamTables.size).toInt)
  val regions: Seq[String] =
    SynthGeo.Regions.sortBy(r => Inputs.mix(seed, 42, SynthGeo.regionIndex(r))).take(nRegions).sorted
  val tables: Seq[String] = Seq("ADDR_OBJ", paramTable)
  def rows: Long = nRegions.toLong * (addrRows + paramRows)

  /** Writes the tree under `root`; returns the bytes written. */
  def write(root: String): Long = {
    var bytes = 0L
    Files.createDirectories(Paths.get(root))
    for (e <- tables.map(SchemaRegistry.entityOf).distinct) {
      val b = XsdSchema.render(e).getBytes(StandardCharsets.UTF_8)
      Files.write(Paths.get(root, s"AS_${e}_2_bench.xsd"), b)
      bytes += b.length
    }
    for (region <- regions; (table, n) <- Seq("ADDR_OBJ" -> addrRows, paramTable -> paramRows)) {
      val entity = SchemaRegistry.entityOf(table)
      val schema = SchemaRegistry.schemaOf(table)
      val p = Paths.get(root, region, s"AS_${table}_2_bench.xml")
      Files.createDirectories(p.getParent)
      val w = Files.newBufferedWriter(p, StandardCharsets.UTF_8)
      try {
        val collection = XsdSchema.collectionTagOf(entity)
        val tag = XsdSchema.entityTagOf(entity)
        w.write(s"""<?xml version="1.0" encoding="utf-8"?>\n<$collection>\n""")
        // rows are GarGen's, drawn from a seed-shifted row range
        val row0 = (Inputs.mix(seed, 43, SynthGeo.regionIndex(region)) >>> 1) % 1000000L
        for (chunk <- (0 until n).grouped(5000)) {
          val rows = chunk.map { i =>
            Row.fromSeq(schema.fields.zipWithIndex.map { case (f, fi) =>
              GarGen.value(f, table, region, row0 + i, fi)
            }.toSeq)
          }
          GarXml.toXml(rows, schema, collection, tag).linesWithSeparators
            .filter(_.startsWith("  <")).foreach(w.write)
        }
        w.write(s"</$collection>\n")
      } finally w.close()
      bytes += Files.size(p)
    }
    bytes
  }
}
