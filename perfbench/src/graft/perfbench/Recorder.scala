package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** Scheduler counters of one job group, summed over its finished tasks. */
final case class Stats(jobs: Long, tasks: Long, shuffleBytes: Long,
    spillBytes: Long, runTimeMs: Long, inputBytes: Long, outputBytes: Long) {
  /** Bytes the group's tasks wrote to storage: committed output, shuffle
    * files and spills. */
  def writeBytes: Long = outputBytes + shuffleBytes + spillBytes
}

/**
 * Runs each block of work under its own Spark job group and sums the
 * scheduler counters of that group's jobs and tasks: jobs started, tasks
 * finished, shuffle write, spill, task run time, input and output bytes.
 */
final class Recorder(sc: SparkContext) extends SparkListener {

  private final class Counters {
    val jobs, tasks, shuffle, spill, runTime, input, output = new AtomicLong
    def stats = Stats(jobs.get, tasks.get, shuffle.get, spill.get, runTime.get,
      input.get, output.get)
  }

  private val groups = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, Counters]()
  private val seq = new AtomicLong

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      val c = groups.computeIfAbsent(g, _ => new Counters)
      c.jobs.incrementAndGet()
      e.stageIds.foreach(id => stageGroup.put(id, c))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (c != null && m != null) {
      c.tasks.incrementAndGet()
      c.shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spill.addAndGet(m.diskBytesSpilled)
      c.runTime.addAndGet(m.executorRunTime)
      c.input.addAndGet(m.inputMetrics.bytesRead)
      c.output.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  /** Runs `body` under a fresh job group; returns its result, wall seconds
    * and the group's counters (the listener bus is drained first, so every
    * finished task is counted). */
  def run[T](label: String)(body: => T): (T, Double, Stats) = {
    val group = s"$label#${seq.incrementAndGet()}"
    sc.setJobGroup(group, label, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val out = body
      val secs = (System.nanoTime() - t0) / 1e9
      ListenerBridge.waitUntilListenerBusEmpty(sc)
      (out, secs, Option(groups.get(group)).map(_.stats).getOrElse(Stats(0, 0, 0, 0, 0, 0, 0)))
    } finally sc.clearJobGroup()
  }
}

/** One recorded span: a layer's block of work inside one pass. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: String,
    pass: Int, stats: Stats)

/**
 * Span recorder of the traced run. Spans stay in memory and are written as
 * JSON lines when the run ends. Each span runs under its own job group, so
 * its scheduler counters are its own.
 */
final class Tracer(rec: Recorder, val cores: Int) {
  val spans = ArrayBuffer.empty[Span]

  def span[T](name: String, pass: Int, parent: String = "")(body: => T): (T, Double, Stats) = {
    val t0 = System.nanoTime()
    val (out, secs, st) = rec.run(name)(body)
    spans += Span(name, t0, t0 + (secs * 1e9).toLong, parent, pass, st)
    (out, secs, st)
  }

  def write(path: String): Unit = {
    val lines = spans.map { s =>
      s"""{"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""parent":"${s.parent}","pass":${s.pass},"jobs":${s.stats.jobs},""" +
        s""""tasks":${s.stats.tasks},"shuffle_bytes":${s.stats.shuffleBytes},""" +
        s""""spill_bytes":${s.stats.spillBytes},"task_ms":${s.stats.runTimeMs}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
