package graft.synth

import graft.model.{SchemaRegistry, XsdSchema}
import graft.sources.GarXml
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/**
 * Deterministic GAR-shaped fixture *source tree* — XSD + XML files laid out
 * exactly like a real GAR delivery (/root/reference/ru_address/common.py:47-60,
 * dump.py:12-14): entity XSDs at the root (`AS_{ENTITY}_2_fixture.xsd`),
 * common-table XMLs at the root, region-table XMLs under 2-digit region dirs.
 *
 * The same tree is consumed by BOTH the engine (GarXml + XsdSchema) and the
 * runnable reference CLI (`python -m ru_address.command dump`), which is how
 * the byte-parity goldens in src/test/resources/ref_goldens are produced
 * (see tools/gen_ref_goldens.sh).
 */
object GarFixture {

  /** (logical table, region or "" for common, row count). Covers: shared
    * entities (ADDHOUSE_TYPES->HOUSE_TYPES, HOUSES_PARAMS->PARAM), dictionary
    * and changeable row shapes, an empty file (CHANGE_HISTORY in 77), nulls,
    * escapes, and literal "true"/"false" strings (xml.py:29-32 bool encode). */
  val plan: Seq[(String, String, Int)] = Seq(
    ("ADDHOUSE_TYPES", "", 2),
    ("HOUSE_TYPES", "", 3),
    ("OBJECT_LEVELS", "", 3),
    ("PARAM_TYPES", "", 3),
    ("ADDR_OBJ", "01", 5),
    ("HOUSES_PARAMS", "01", 4),
    ("CHANGE_HISTORY", "01", 3),
    ("ADDR_OBJ", "77", 6),
    ("HOUSES_PARAMS", "77", 4),
    ("CHANGE_HISTORY", "77", 0))

  def tables: Seq[String] = plan.map(_._1).distinct
  def commonTables: Seq[String] = plan.filter(_._2.isEmpty).map(_._1).distinct
  def regions: Seq[String] = plan.map(_._2).filter(_.nonEmpty).distinct.sorted

  /** Render an XSD for EVERY known entity into `root` — the reference
    * `schema` subcommand parses all of them up front (schema.py:64-70). */
  def writeAllXsds(root: String): String = {
    for (e <- SchemaRegistry.entities.keys) {
      val p = Paths.get(root, s"AS_${e}_2_fixture.xsd")
      Files.createDirectories(p.getParent)
      Files.write(p, XsdSchema.render(e).getBytes(StandardCharsets.UTF_8))
    }
    root
  }

  /** Write the fixture tree; returns the root. Idempotent and deterministic:
    * identical bytes on every call (GarGen is seeded, no wall clock). */
  def write(root: String): String = {
    val entities = tables.map(SchemaRegistry.entityOf).distinct
    for (e <- entities) {
      val p = Paths.get(root, s"AS_${e}_2_fixture.xsd")
      Files.createDirectories(p.getParent)
      Files.write(p, XsdSchema.render(e).getBytes(StandardCharsets.UTF_8))
    }
    for ((table, region, n) <- plan) {
      val entity = SchemaRegistry.entityOf(table)
      val schema = SchemaRegistry.schemaOf(table)
      val rows = GarGen.rows(table, if (region.isEmpty) "00" else region, n)
      val xml = GarXml.toXml(rows, schema,
        XsdSchema.collectionTagOf(entity), XsdSchema.entityTagOf(entity))
      val dir = if (region.isEmpty) Paths.get(root) else Paths.get(root, region)
      Files.createDirectories(dir)
      Files.write(dir.resolve(s"AS_${table}_2_fixture.xml"),
        xml.getBytes(StandardCharsets.UTF_8))
    }
    root
  }
}

/** CLI entry for tools/gen_ref_goldens.sh: write the fixture tree to args(0).
  * With "all-xsds" as args(1), also render an XSD for EVERY known entity —
  * the reference `schema` subcommand parses all of them (schema.py:64-70). */
object GarFixtureMain {
  def main(args: Array[String]): Unit = {
    val out = GarFixture.write(args(0))
    if (args.length > 1 && args(1) == "all-xsds") GarFixture.writeAllXsds(out)
    println(s"fixture tree written to $out")
  }
}
