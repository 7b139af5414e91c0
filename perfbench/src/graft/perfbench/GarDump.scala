package graft.perfbench

import graft.Gar
import graft.sinks.Dump
import graft.sources.GarXml
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/**
 * gar_dump: the reference's own job — `Gar.dump(parallel = true)`, psql
 * target, region_tree mode, over a seeded GAR-shaped XSD + XML tree. The
 * work is XML parse, row formatting and file writes; no geo, no dedup.
 * Every pass's output must hash (fnv64) to the output of the
 * driver-streamed `Gar.dump(parallel = false)` run made at set-up.
 */
final class GarDump(spark: SparkSession, seed: Long, dir: String) extends Workload {

  val Regions = 4
  val AddrRows = 5000
  val ParamRows = 3000
  private val tree = new GarTree(seed, Regions, AddrRows, ParamRows)
  private val src = s"$dir/gar"
  private var treeBytes = 0L
  private var expectedHash = 0L

  def inputSizes: Seq[(String, Long)] = Seq(
    "regions" -> Regions.toLong, "addr_obj_rows_per_region" -> AddrRows.toLong,
    "params_rows_per_region" -> ParamRows.toLong, "rows" -> tree.rows,
    "xml_bytes" -> treeBytes)

  private def fresh(p: String): String = {
    deleteTree(Paths.get(p))
    Files.createDirectories(Paths.get(p))
    p
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** The dump's files, without the local filesystem's hidden `.crc`
    * checksum sidecars. */
  private def files(root: String): Seq[Path] = {
    val r = Paths.get(root)
    Files.walk(r).iterator().asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
      .toSeq.sortBy(r.relativize(_).toString)
  }

  /** fnv64 over every output file (relative path, then bytes), with the
    * banner's `generated at` timestamp line blanked — the one line that
    * differs from run to run. */
  private def digest(root: String): Long = {
    var h = 0xcbf29ce484222325L
    def feed(b: Array[Byte]): Unit = b.foreach { x => h = (h ^ (x & 0xff)) * 0x100000001b3L }
    for (f <- files(root)) {
      feed(Paths.get(root).relativize(f).toString.getBytes(StandardCharsets.UTF_8))
      val text = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
        .replaceAll("(?m)^-- generated at [^\n]*--$", "-- generated at --")
      feed(text.getBytes(StandardCharsets.UTF_8))
    }
    h
  }

  private def dump(out: String, parallel: Boolean): Seq[String] =
    Gar.dump(spark, src, fresh(out), target = "psql", mode = "region_tree",
      tables = tree.tables, parallel = parallel)

  def prepare(): Unit = {
    deleteTree(Paths.get(src))
    treeBytes = tree.write(src)
  }

  def expect(): Boolean = {
    val written = dump(s"$dir/ref", parallel = false)
    expectedHash = digest(s"$dir/ref")
    written.size == Regions * tree.tables.size
  }

  /** Passes take about 1.3 s and kept speeding up over the first four. */
  override def warmups: Int = 4

  def pass(i: Int): PassOut = {
    val out = s"$dir/out"
    dump(out, parallel = true)
    PassOut(tree.rows, () => digest(out) == expectedHash,
      () => files(out).map(Files.size).sum)
  }

  def layers(t: Tracer, budgetS: Double): Map[String, Double] = {
    import Probe.Step
    var written = 0
    val r = Probe.rounds(t, budgetS)(
      Step("synth.generate", "", () => prepare()),
      Step("sources.garxml_parse", "", () => tree.tables.foreach(tb =>
        Probe.noop(GarXml.read(spark, src, tb, tree.regions, lexicalBooleans = true)))),
      Step("sinks.dump", "", () => written = dump(s"$dir/out", parallel = true).size))

    // the formatter alone, on in-memory rows of one region's ADDR_OBJ
    val df = GarXml.read(spark, src, "ADDR_OBJ", tree.regions.take(1), lexicalBooleans = true)
    val fields = df.schema.fieldNames.filterNot(n => n == "region" || n == "ord").toSeq
    val rows: Array[Row] = df.orderBy("ord").select(fields.map(col): _*).collect()
    val formatNs = Probe.nsPerCall(5, 1) { _ =>
      Dump.formatRows(rows.iterator, fields, "ADDR_OBJ", Dump.dialects("psql")).map(_.length.toLong).sum
    } / rows.length

    Map(
      "synth.generate_s" -> r("synth.generate")._1,
      "sources.garxml_parse_s" -> r("sources.garxml_parse")._1,
      "sinks.dump_s" -> r("sinks.dump")._1,
      "sinks.format_ns_per_row" -> formatNs,
      "sinks.files_written" -> written.toDouble) ++
      Probe.counters(t, "sinks.dump", r("sinks.dump"))
  }
}
