package graft.sinks

import graft.model.SchemaRegistry
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets

/**
 * Output-mode router (SURVEY.md OUT-1..4; /root/reference/ru_address/
 * output.py:9-189): `direct` (one file), `per_region`, `per_table`,
 * `region_tree` (source-mirroring, the default). The meta skeleton —
 * copyright, dialect header/footer, "\n"-prefixed table separators, which
 * modes emit separators for common tables — mirrors output.py line for line;
 * byte-parity against the runnable reference CLI is pinned by RefParitySpec
 * on goldens produced by `ru_address dump` itself (tools/gen_ref_goldens.sh).
 *
 * Two execution paths, both writing through the Hadoop FileSystem API (local
 * FS, HDFS and S3 all work — no executor-side java.io.File assumptions):
 *
 *  - driver-streamed (`write`): slices stream through toLocalIterator in
 *    output order — matches the reference's sequential semantics exactly;
 *    constant memory (a partition at a time). Conformance path.
 *  - executor-parallel (`writeParallel`): every (table, region) slice is
 *    formatted by executors into a section file (one task per region, rows
 *    grouped by the region column *within* each partition so hash-sharing
 *    regions can never bleed into each other's files); final files are then
 *    assembled per mode by streaming byte concatenation (metadata-bound, no
 *    row touches the driver). This is the 100 TB path: the CPU-heavy
 *    formatting scales with executors; only direct/per_table/per_region's
 *    inherent single-file assembly is serial per output file.
 */
object DumpJob {

  sealed trait Mode
  case object Direct extends Mode
  case object PerRegion extends Mode
  case object PerTable extends Mode
  case object RegionTree extends Mode

  /** Provider: (table, Some(region) | None for common) -> ordered slice. */
  type SliceProvider = (String, Option[String]) => DataFrame

  case class Config(
      tables: Seq[String],
      regions: Seq[String],
      dialect: Dump.Dialect,
      mode: Mode = RegionTree,
      includeMeta: Boolean = true,
      batchSize: Int = 500)

  object Config {
    /** ENV-driven knobs, mirroring the reference (CFG-1, command.py:25-29):
      * RA_BATCH_SIZE (dump.py:54), RA_SQL_ENCODING (dump.py:97). */
    def fromEnv(tables: Seq[String], regions: Seq[String], target: String,
        mode: Mode = RegionTree): Config = {
      val batch = sys.env.getOrElse("RA_BATCH_SIZE", "500").toInt
      val dialect = target match {
        case "mysql" => Dump.mysqlWith(sys.env.getOrElse("RA_SQL_ENCODING", "utf8mb4"))
        case other => Dump.dialects(other)
      }
      Config(tables, regions, dialect, mode,
        includeMeta = target != "csv" && target != "tsv", batchSize = batch)
    }
  }

  private def commonTables(cfg: Config): Seq[String] =
    SchemaRegistry.commonTables.map(_._1).filter(cfg.tables.contains)

  private def regionTables(cfg: Config): Seq[String] =
    SchemaRegistry.regionTables.map(_._1).filter(cfg.tables.contains)

  private def newWriter(path: String, conf: Configuration): BufferedWriter = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    new BufferedWriter(new OutputStreamWriter(fs.create(p, true), StandardCharsets.UTF_8))
  }

  private def streamSlice(w: BufferedWriter, df: DataFrame, table: String, cfg: Config): Unit = {
    val fields = df.schema.fieldNames.toSeq
    val it = df.toLocalIterator()
    val rows = new Iterator[Row] {
      def hasNext: Boolean = it.hasNext
      def next(): Row = it.next()
    }
    Dump.formatRows(rows, fields, table, cfg.dialect, cfg.batchSize).foreach(w.write)
  }

  /**
   * Driver-streamed dump in any mode; the meta skeleton replicates
   * output.py's four writers byte for byte:
   *  - Direct (output.py:47-74): one header; "\n" + separator before every
   *    table; "\n" + footer at the end.
   *  - PerRegion (output.py:77-113): one file per COMMON table (with
   *    separator) and one per region (separator per table).
   *  - PerTable (output.py:116-151): common files have NO separator; region
   *    tables get one file with a separator per region.
   *  - RegionTree (output.py:154-189): common files no separator; one file
   *    per (region, table) with separator.
   * Returns the list of files written.
   */
  def write(provider: SliceProvider, outPath: String, cfg: Config,
      conf: Configuration = new Configuration()): Seq[String] = {
    val ext = cfg.dialect.extension
    val regions = cfg.regions.sorted
    val files = scala.collection.mutable.ArrayBuffer.empty[String]

    def withFile(path: String)(body: BufferedWriter => Unit): Unit = {
      val w = newWriter(path, conf)
      try body(w) finally w.close()
      files += path
    }
    def meta(w: BufferedWriter, s: => String): Unit = if (cfg.includeMeta) w.write(s)
    def head(w: BufferedWriter): Unit = meta(w, Dump.composeCopyright() + cfg.dialect.header)
    def foot(w: BufferedWriter): Unit = meta(w, "\n" + cfg.dialect.footer)
    def sep(w: BufferedWriter, t: String, r: Option[String]): Unit =
      meta(w, "\n" + Dump.composeTableSeparator(t, r))

    cfg.mode match {
      case Direct =>
        withFile(outPath) { w =>
          head(w)
          for (t <- commonTables(cfg)) {
            sep(w, t, None)
            streamSlice(w, provider(t, None), t, cfg)
          }
          for (r <- regions; t <- regionTables(cfg)) {
            sep(w, t, Some(r))
            streamSlice(w, provider(t, Some(r)), t, cfg)
          }
          foot(w)
        }
      case PerTable =>
        for (t <- commonTables(cfg))
          withFile(s"$outPath/$t.$ext") { w =>
            head(w); meta(w, "\n")
            streamSlice(w, provider(t, None), t, cfg)
            foot(w)
          }
        for (t <- regionTables(cfg))
          withFile(s"$outPath/$t.$ext") { w =>
            head(w)
            for (r <- regions) {
              sep(w, t, Some(r))
              streamSlice(w, provider(t, Some(r)), t, cfg)
            }
            foot(w)
          }
      case PerRegion =>
        for (t <- commonTables(cfg))
          withFile(s"$outPath/$t.$ext") { w =>
            head(w); sep(w, t, None)
            streamSlice(w, provider(t, None), t, cfg)
            foot(w)
          }
        for (r <- regions)
          withFile(s"$outPath/$r.$ext") { w =>
            head(w)
            for (t <- regionTables(cfg)) {
              sep(w, t, Some(r))
              streamSlice(w, provider(t, Some(r)), t, cfg)
            }
            foot(w)
          }
      case RegionTree =>
        for (t <- commonTables(cfg))
          withFile(s"$outPath/$t.$ext") { w =>
            head(w); meta(w, "\n")
            streamSlice(w, provider(t, None), t, cfg)
            foot(w)
          }
        for (r <- regions; t <- regionTables(cfg))
          withFile(s"$outPath/$r/$t.$ext") { w =>
            head(w); sep(w, t, Some(r))
            streamSlice(w, provider(t, Some(r)), t, cfg)
            foot(w)
          }
    }
    files.toSeq
  }

  // ---------------------------------------------------- executor-parallel

  /** Per-region section inventory: ordered part paths + total row count. */
  private type Sections = Map[String, (Seq[String], Long)]

  /**
   * Format one region-partitioned table into per-region section PART files,
   * in parallel across AND within regions. `df` must carry `region` and
   * `ord` columns plus the data columns in schema order.
   *
   * Two passes over one range-partitioned arrangement (the shuffle is
   * computed once and reused across both jobs):
   *  1. count the contiguous (partition, region) runs;
   *  2. format each run with its GLOBAL start row index — the reference's
   *     per-row emission depends only on that index (Dump.formatRowAt), so a
   *     1M-row region is formatted by many tasks whose parts concatenate to
   *     the exact sequential bytes. (Previously one task per region: a hot
   *     region serialised the whole dump.)
   * Table wrappers and the final line ending are added at assembly time.
   */
  private def writeSections(spark: SparkSession, df: DataFrame, table: String,
      sectionDir: String, cfg: Config): Sections = {
    val dialect = cfg.dialect
    val batch = cfg.batchSize
    val ext = dialect.extension
    val dataFields = df.schema.fieldNames.filterNot(n => n == "region" || n == "ord").toSeq
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val parts = math.max(1, spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    // Two persists, both load-bearing:
    //  - src: range-boundary sampling is an extra pass over the child — on an
    //    XML ingest that would re-parse every file; cache the parsed rows so
    //    parsing happens exactly once.
    //  - arranged: BOTH passes must see the exact same partition boundaries;
    //    RangePartitioner samples per physical planning and the two actions
    //    plan separately — without the pin a boundary row could shift between
    //    the count pass and the format pass and corrupt the offsets.
    val src = df.select((col("region") +: col("ord") +: dataFields.map(col)): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val arranged = src
      .repartitionByRange(parts, col("region"), col("ord"))
      .sortWithinPartitions(col("region"), col("ord"))
      .select((col("region") +: dataFields.map(col)): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // pass 1: (partitionId, regionKey, rows) per contiguous region run
    import org.apache.spark.sql.Encoders
    val runs: Array[(Int, String, Long)] = arranged.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      it.foreach { r =>
        val key = Option(r.getString(0)).getOrElse("_common")
        counts(key) = counts.getOrElse(key, 0L) + 1L
      }
      counts.iterator.map { case (k, n) => (pid, k, n) }
    }(Encoders.tuple(Encoders.scalaInt, Encoders.STRING, Encoders.scalaLong))
      .collect()

    // global start offset of each (partition, region) run + per-region totals
    val byRegion = runs.groupBy(_._2)
    val startOf: Map[(Int, String), Long] = byRegion.flatMap { case (region, rs) =>
      var acc = 0L
      rs.sortBy(_._1).map { case (pid, _, n) =>
        val s = ((pid, region), acc); acc += n; s
      }
    }
    val totals: Map[String, Long] = byRegion.map { case (r, rs) => r -> rs.map(_._3).sum }

    // pass 2: format each run at its offset into {table}/{region}/p{pid}.{ext}
    arranged.foreachPartition { (it: Iterator[Row]) =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      // NB: not named "buffered" — inside `new Iterator`, that name would
      // resolve to the inherited Iterator.buffered METHOD on `this`,
      // re-buffering the anon itself into infinite mutual recursion
      val lookahead = it.buffered
      while (lookahead.hasNext) {
        val region = Option(lookahead.head.getString(0)).getOrElse("_common")
        val sectionRows = new Iterator[Row] {
          def hasNext: Boolean = lookahead.hasNext &&
            Option(lookahead.head.getString(0)).getOrElse("_common") == region
          def next(): Row = Row.fromSeq(lookahead.next().toSeq.drop(1))
        }
        val p = new Path(f"$sectionDir/$table/$region/p$pid%05d.$ext")
        val fs = p.getFileSystem(serConf.value)
        val w = new BufferedWriter(new OutputStreamWriter(fs.create(p, true), StandardCharsets.UTF_8))
        try Dump.formatRowsAt(sectionRows, dataFields, table, dialect, batch,
          startOf((pid, region))).foreach(w.write)
        finally w.close()
      }
    }

    arranged.unpersist(false)
    src.unpersist(false)
    byRegion.map { case (region, rs) =>
      region -> (rs.map(_._1).sorted.map(pid => f"$sectionDir/$table/$region/p$pid%05d.$ext"),
        totals(region))
    }
  }

  /** Stream-copy a section file into an open writer (byte-bound, no rows). */
  private def copySection(w: java.io.OutputStream, path: String, conf: Configuration): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try org.apache.hadoop.io.IOUtils.copyBytes(in, w, 1 << 16, false)
    finally in.close()
  }

  /**
   * Executor-parallel dump for all four modes: formatting fans out one task
   * per region per table; final files are assembled by streaming
   * concatenation of the section files (no row ever crosses the driver).
   * `tableDfs` supplies each table's region-partitioned DataFrame with
   * (region, ord) columns; common tables pass region = null rows.
   */
  def writeParallel(spark: SparkSession, tableDfs: Seq[(String, DataFrame)],
      outPath: String, cfg: Config, stagingDir: String = null): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    // staging must be a SIBLING of outPath, not nested under it: in Direct
    // mode outPath is the output FILE, and writing sections under it first
    // would turn it into a directory the final assembly can't overwrite.
    // A caller-supplied stagingDir gets a GENERATED subdirectory: the
    // cleanup below deletes `staging` recursively, and wiping a shared
    // scratch dir the caller owns (with whatever else lives in it) is not
    // this writer's call to make.
    val staging = Option(stagingDir)
      .map(d => s"$d/__sections_${java.util.UUID.randomUUID().toString.take(8)}")
      .getOrElse(s"$outPath.__sections")
    val byTable = tableDfs.toMap
    val ext = cfg.dialect.extension
    val regions = cfg.regions.sorted

    // 1. distributed formatting into section parts
    val sections: Map[String, Sections] = tableDfs.map { case (t, df) =>
      t -> writeSections(spark, df, t, staging, cfg)
    }.toMap

    def sectionOf(t: String, r: Option[String]): Option[(Seq[String], Long)] =
      sections.getOrElse(t, Map.empty).get(r.getOrElse("_common"))

    // 2. assemble output files per mode (byte concat through Hadoop FS).
    // Files are independent, so assembly runs on a driver thread pool —
    // with many regions the serial concat would otherwise dominate.
    val files = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val assemblies = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    def assemble(path: String)(parts: java.io.OutputStream => Unit): Unit =
      assemblies += { () =>
        val p = new Path(path)
        val fs = p.getFileSystem(conf)
        val out = fs.create(p, true)
        try parts(out) finally out.close()
        files.add(path)
      }
    def metaBytes(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)
    def emit(out: java.io.OutputStream, s: String): Unit =
      if (cfg.includeMeta) out.write(metaBytes(s))
    def emitTable(out: java.io.OutputStream, t: String, r: Option[String],
        withSep: Boolean): Unit = {
      if (withSep) emit(out, "\n" + Dump.composeTableSeparator(t, r))
      sectionOf(t, r) match {
        case Some((parts, total)) =>
          // wrappers + final line ending here; parts hold row bodies only
          out.write(metaBytes(cfg.dialect.tableStart(t)))
          parts.foreach(p => copySection(out, p, conf))
          out.write(metaBytes(
            (if (total > 0) cfg.dialect.lineEndingLast else "") + cfg.dialect.tableEnd(t)))
        case None => // empty slice: wrappers only (reference emits them too)
          out.write(metaBytes(Dump.formatRows(Iterator.empty,
            Nil, t, cfg.dialect, cfg.batchSize).mkString))
      }
    }
    val commons = commonTables(cfg).filter(byTable.contains)
    val regionTs = regionTables(cfg).filter(byTable.contains)

    cfg.mode match {
      case Direct =>
        assemble(outPath) { out =>
          emit(out, Dump.composeCopyright() + cfg.dialect.header)
          for (t <- commons) emitTable(out, t, None, withSep = true)
          for (r <- regions; t <- regionTs) emitTable(out, t, Some(r), withSep = true)
          emit(out, "\n" + cfg.dialect.footer)
        }
      case PerTable =>
        for (t <- commons) assemble(s"$outPath/$t.$ext") { out =>
          emit(out, Dump.composeCopyright() + cfg.dialect.header + "\n")
          emitTable(out, t, None, withSep = false)
          emit(out, "\n" + cfg.dialect.footer)
        }
        for (t <- regionTs) assemble(s"$outPath/$t.$ext") { out =>
          emit(out, Dump.composeCopyright() + cfg.dialect.header)
          for (r <- regions) emitTable(out, t, Some(r), withSep = true)
          emit(out, "\n" + cfg.dialect.footer)
        }
      case PerRegion =>
        for (t <- commons) assemble(s"$outPath/$t.$ext") { out =>
          emit(out, Dump.composeCopyright() + cfg.dialect.header)
          emitTable(out, t, None, withSep = true)
          emit(out, "\n" + cfg.dialect.footer)
        }
        for (r <- regions) assemble(s"$outPath/$r.$ext") { out =>
          emit(out, Dump.composeCopyright() + cfg.dialect.header)
          for (t <- regionTs) emitTable(out, t, Some(r), withSep = true)
          emit(out, "\n" + cfg.dialect.footer)
        }
      case RegionTree =>
        for (t <- commons) assemble(s"$outPath/$t.$ext") { out =>
          emit(out, Dump.composeCopyright() + cfg.dialect.header + "\n")
          emitTable(out, t, None, withSep = false)
          emit(out, "\n" + cfg.dialect.footer)
        }
        for (r <- regions; t <- regionTs) assemble(s"$outPath/$r/$t.$ext") { out =>
          emit(out, Dump.composeCopyright() + cfg.dialect.header)
          emitTable(out, t, Some(r), withSep = true)
          emit(out, "\n" + cfg.dialect.footer)
        }
    }
    // run the assemblies (pool sized for IO concurrency, not CPU count);
    // staging is cleaned in a finally — a failed assembly must not leave
    // section files for a 100 TB dump stranded on the store
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(8, assemblies.size)))
    try {
      try {
        val futures = assemblies.map(a => pool.submit(new Runnable { def run(): Unit = a() }))
        futures.foreach(_.get())
      } finally pool.shutdown()
    } finally {
      val sfs = new Path(staging).getFileSystem(conf)
      sfs.delete(new Path(staging), true)
    }
    import scala.jdk.CollectionConverters._
    files.asScala.toSeq.sorted
  }
}
