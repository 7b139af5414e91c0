package graft.perfbench

import org.apache.spark.sql.SparkSession
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.util.{Failure, Success, Try}

/** What one pass hands back: its item count, its output check and the bytes
  * it wrote outside Spark's writers (both run after the pass's clock stops). */
final case class PassOut(items: Long, check: () => Boolean, extraBytes: () => Long = () => 0L)

/** One seeded workload. `prepare` generates the inputs and builds the stores
  * (repeated during set-up), `expect` computes what the checks compare
  * against, `pass(i)` runs pass i (the first ones are untimed warm-ups), `finish`
  * checks what can only be checked after the last pass. */
trait Workload {
  def prepare(): Unit
  def expect(): Boolean
  def pass(i: Int): PassOut
  def finish(): Boolean = true
  def inputSizes: Seq[(String, Long)]
  /** Passes whose counters repeat as a unit: jobs and bytes are averaged
    * over the first cycle of timed passes. */
  def cycle: Int = 1
  /** The least number of timed passes a run makes. */
  def minPasses: Int = math.max(2, cycle)
  /** Untimed passes at the end of set-up: the first compiles the query
    * code, the next ones let the JIT settle. */
  def warmups: Int = 2
  /** Per-layer metrics of the traced run, measured within `budgetS`. */
  def layers(t: Tracer, budgetS: Double): Map[String, Double]
}

object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, cores: Int, heap: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m("cores").toInt, m("heap"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def loadavg(): String =
    Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8).trim)
      .getOrElse("")

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "0" else d.toString
    case b: Boolean => b.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case other => other.toString
  }

  final case class PassRec(i: Int, secs: Double, items: Long, ok: Boolean,
      stats: Stats, extraBytes: Long) {
    def rate: Double = items / secs
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv)
    val loadBefore = loadavg()
    val t0 = System.nanoTime()
    val master = s"local[${a.cores}]"
    val spark = SparkSession.builder()
      .master(master)
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.expr.gf.registerAll(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val rec = new Recorder(spark.sparkContext)
    val dir = s"${a.work}/data"
    val wl: Workload = a.workload match {
      case "geo_pipeline" => new GeoPipeline(spark, a.seed, dir)
      case "near_dup" => new NearDup(spark, a.seed, dir)
      case "gar_dump" => new GarDump(spark, a.seed, dir)
      case "index_ingest" => new IndexIngest(spark, a.seed, dir)
    }
    var code = 0
    try {
      // ---- set-up: session, inputs and stores (median of 3), expected
      // outputs, warm-up passes
      val prepS = (1 to 3).map(_ => timed(wl.prepare()))
      var correct = true
      val expectS = timed { correct = wl.expect() }
      if (!correct) System.err.println("perfbench: set-up check failed")

      def runPass(i: Int, t: Option[Tracer]): PassRec = {
        val (out, secs, st) = t match {
          case None => rec.run("pass")(Try(wl.pass(i)))
          case Some(tr) => tr.span("pass", i)(Try(wl.pass(i)))
        }
        val ok = out match {
          case Success(p) => Try(p.check()).recover { case e =>
            System.err.println(s"perfbench: pass $i check threw: $e"); false }.get
          case Failure(e) =>
            System.err.println(s"perfbench: pass $i failed: $e")
            e.printStackTrace()
            false
        }
        if (!ok) System.err.println(s"perfbench: pass $i output check failed")
        val extra = out.toOption.map(p => Try(p.extraBytes()).getOrElse(0L)).getOrElse(0L)
        PassRec(i, secs, out.map(_.items).getOrElse(0L), ok, st, extra)
      }

      var next = 0
      val warm = (1 to wl.warmups).map { _ => val p = runPass(next, None); next += 1; p }
      val warmS = warm.map(_.secs).sum
      println(f"set-up done: session $sessionS%.2f s, prepare ${prepS.mkString(" ")}, expect $expectS%.2f s, warm-up ${warm.map(_.secs).mkString(" ")}")
      val setupS = sessionS + median(prepS) + expectS + warmS
      correct &&= warm.forall(_.ok)

      // ---- closed loop: one pass starts when the previous one ends
      // after `minPasses`, a pass starts only if a pass of the median length
      // so far would end within the budget
      def loop(budgetS: Double, minPasses: Int)(one: Int => PassRec): Seq[PassRec] = {
        val start = System.nanoTime()
        val out = scala.collection.mutable.ArrayBuffer.empty[PassRec]
        def elapsed = (System.nanoTime() - start) / 1e9
        while (out.size < minPasses || elapsed + median(out.map(_.secs).toSeq) <= budgetS) {
          out += one(next); next += 1
        }
        out.toSeq
      }

      val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val passes: Seq[PassRec] =
        if (!a.trace) {
          val ps = loop(a.seconds, wl.minPasses)(i => runPass(i, None))
          val okP = ps.filter(_.ok)
          val first = ps.take(wl.cycle)
          metrics("setup_s") = setupS
          metrics("items_per_s") = median(okP.map(_.rate))
          metrics("ok_frac") = okP.size.toDouble / ps.size
          metrics("peak_rss_mb") = peakRssMb()
          metrics("write_bytes_per_item") =
            first.map(p => p.stats.writeBytes + p.extraBytes).sum.toDouble / first.map(_.items).sum
          metrics("jobs_per_pass") = first.map(_.stats.jobs).sum.toDouble / first.size
          ps
        } else {
          val tr = new Tracer(rec, a.cores)
          // untraced and traced passes alternate, so both see the same state
          var flip = false
          val ps = loop(a.seconds / 2.0, 2) { i =>
            flip = !flip
            runPass(i, if (flip) None else Some(tr))
          }
          val (plain, traced) = ps.partition(p => tr.spans.forall(s => s.pass != p.i))
          val untracedRate = median(plain.filter(_.ok).map(_.rate))
          val tracedRate = median(traced.filter(_.ok).map(_.rate))
          metrics ++= wl.layers(tr, a.seconds / 2.0)
          metrics("spark.session_s") = sessionS
          metrics("trace.items_per_s_untraced") = untracedRate
          metrics("trace.items_per_s_traced") = tracedRate
          metrics("trace.overhead_frac") = 1.0 - tracedRate / untracedRate
          tr.write(s"${a.work}/spans.jsonl")
          ps
        }
      val finalOk = Try(wl.finish()).recover { case e =>
        System.err.println(s"perfbench: final check threw: $e"); e.printStackTrace(); false }.get
      if (!finalOk) System.err.println("perfbench: final check failed")
      correct = correct && finalOk && passes.forall(_.ok)

      val record = Map[String, Any](
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
        "trace" -> a.trace, "master" -> master, "nproc" -> a.cores,
        "xmx" -> a.heap, "loadavg_before" -> loadBefore, "loadavg_after" -> loadavg(),
        "input_sizes" -> wl.inputSizes.toMap, "session_s" -> sessionS,
        "setup_prepare_s" -> prepS, "setup_expect_s" -> expectS, "setup_warmup_s" -> warm.map(_.secs),
        "pass_s" -> passes.map(_.secs), "pass_ok" -> passes.map(_.ok),
        "pass_jobs" -> passes.map(_.stats.jobs), "metrics" -> metrics.toMap,
        "jvm_uptime_s" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0)
      Files.writeString(Paths.get(s"${a.work}/run_record.json"), json(record) + "\n")
      println(s"run record: ${json(record)}")
      val failed = passes.count(!_.ok)
      println("PERFBENCH_RESULT " + json(Map[String, Any](
        "correct" -> correct, "attempted" -> passes.size, "failed" -> failed,
        "metrics" -> metrics.toMap)))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        code = 1
    } finally {
      val t1 = System.nanoTime()
      spark.stop()
      System.err.println(f"perfbench: session stopped in ${(System.nanoTime() - t1) / 1e9}%.2f s")
    }
    System.out.flush()
    sys.exit(code)
  }
}
