package graft.perfbench

import org.apache.spark.sql.DataFrame

/** Shared measuring helpers of the traced run. */
object Probe {

  /** Executes a plan in full with no output cost (every row, every column). */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** A span to time: its name, its parent span ("" for none) and its work. */
  final case class Step(name: String, parent: String, run: () => Unit)

  /** Runs the steps round-robin, each under its own span, until `budgetS`
    * is spent and at least one round is done; round k is recorded as pass
    * 1000 + k. Returns, per step, the median seconds and the counters of
    * its last run. */
  def rounds(t: Tracer, budgetS: Double)(steps: Step*)
      : Map[String, (Double, Stats)] = {
    val start = System.nanoTime()
    val secs = steps.map(s => s.name -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val last = scala.collection.mutable.Map.empty[String, Stats]
    var rep = 0
    while (rep == 0 || (System.nanoTime() - start) / 1e9 < budgetS) {
      for (s <- steps) {
        val (_, sec, st) = t.span(s.name, 1000 + rep, s.parent)(s.run())
        secs(s.name) += sec
        last(s.name) = st
      }
      rep += 1
    }
    steps.map(s => s.name -> (Main.median(secs(s.name).toSeq), last(s.name))).toMap
  }

  /** Self time of a span: its median minus its parent's. */
  def self(r: Map[String, (Double, Stats)], name: String, parent: String): Double =
    r(name)._1 - r(parent)._1

  /** The scheduler counters of a span, named `<span>.<counter>`. */
  def counters(t: Tracer, name: String, r: (Double, Stats)): Map[String, Double] = {
    val (secs, st) = r
    Map(
      s"$name.jobs" -> st.jobs.toDouble,
      s"$name.tasks" -> st.tasks.toDouble,
      s"$name.shuffle_bytes" -> st.shuffleBytes.toDouble,
      s"$name.spill_bytes" -> st.spillBytes.toDouble,
      s"$name.busy_frac" -> st.runTimeMs / 1000.0 / (secs * t.cores))
  }

  /** Median nanoseconds per call of `f` over `reps` loops of `calls` calls;
    * the results are folded into a sink so the JIT cannot drop the calls. */
  def nsPerCall(reps: Int, calls: Int)(f: Int => Long): Double = {
    var sink = 0L
    val per = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < calls) { sink ^= f(i); i += 1 }
      (System.nanoTime() - t0).toDouble / calls
    }
    if (sink == 42L) System.err.print("")
    Main.median(per)
  }
}
