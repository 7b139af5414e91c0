package graft.perfbench

import graft.expr.gf
import graft.operators.{BatchCommit, Dedup, MinhashIndex, Tombstones}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/**
 * index_ingest: write beside read on the persisted stores. Each pass
 * ingests one micro-batch: `MinhashIndex.queryNew` against the index, the
 * batch's pairs committed through `BatchCommit.commit`, then
 * `MinhashIndex.append`; every third pass also retires five base documents
 * and compacts. Every run starts from the same base index, built at set-up.
 * After the last pass, the union of the committed pairs must equal the
 * full-batch `Dedup.minhashLshPairs` pairs that involve a new document.
 */
final class IndexIngest(spark: SparkSession, seed: Long, dir: String) extends Workload {
  import spark.implicits._

  val Base = 3000
  val Batch = 200
  val RetireEvery = 3
  private val corpus = new IngestCorpus(seed, Base, Batch)
  private val basePath = s"$dir/base"
  private val idx = s"$dir/index"
  private val pairsOut = s"$dir/pairs"
  private var ingested = 0
  private var indexSize = (0L, 0L)
  private var candidatesPerDoc = 0.0
  private var expectOk = true

  override def cycle: Int = RetireEvery

  def inputSizes: Seq[(String, Long)] = Seq(
    "base_documents" -> Base.toLong, "batch_documents" -> Batch.toLong,
    "retire_every" -> RetireEvery.toLong, "retired_per_retire" -> corpus.retired(0).size.toLong)

  private def generated: DataFrame = {
    val c = corpus
    spark.range(0, c.base.toLong, 1, math.max(spark.sparkContext.defaultParallelism, 4))
      .map(i => (i.longValue, c.text(i))).toDF("id", "text")
  }

  private def batch(k: Int): DataFrame =
    corpus.batchIds(k).map(id => (id, corpus.text(id))).toDF("id", "text")

  private def deleteTree(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path)) Files.walk(path).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  private def writeBase(): Unit = generated.write.mode("overwrite").parquet(basePath)
  private def buildIndex(): Unit = {
    MinhashIndex.build(spark.read.parquet(basePath), "id", "text", idx)
    deleteTree(pairsOut)
    ingested = 0
  }

  def prepare(): Unit = { writeBase(); buildIndex() }

  /** Candidate pairs of the first batch against the base index: new x
    * stored band matches plus new x new, as queryNew forms them. */
  def expect(): Boolean = {
    val plan = MinhashIndex.readPlan(spark, s"$idx/plan.txt")
    val newBands = batch(0).select(col("id"), explode(gf.lsh_bands(
      gf.minhash_sig(col("text"), plan.shingleN, plan.numHashes), plan.bands)).as("band"))
    val stored = Tombstones.minus(spark, idx, spark.read.parquet(s"$idx/bands"), "id")
    val cross = newBands.join(stored.withColumnRenamed("id", "old_id"), "band")
      .where(col("id") =!= col("old_id"))
      .select(least(col("id"), col("old_id")).as("id_a"), greatest(col("id"), col("old_id")).as("id_b"))
    val self = newBands.select(col("id").as("id_a"), col("band"))
      .join(newBands.select(col("id").as("id_b"), col("band")), "band")
      .where(col("id_a") < col("id_b")).select("id_a", "id_b")
    candidatesPerDoc = cross.unionByName(self).distinct().count().toDouble / Batch
    candidatesPerDoc > 0
  }

  private def queryNew(b: DataFrame) = MinhashIndex.queryNew(spark, idx, b, "id", "text")
  private def commit(i: Int, b: DataFrame): Boolean =
    BatchCommit.commit(spark, pairsOut, i) { staging =>
      queryNew(b).write.mode("overwrite").parquet(staging.toString)
    }
  private def retires(i: Int) = i % RetireEvery == RetireEvery - 1
  private def retire(i: Int): Unit =
    MinhashIndex.retire(spark, idx, corpus.retired(i / RetireEvery).toDF("id"), "id")

  private def dirSize(p: String): (Long, Long) = {
    val fs = Files.walk(Paths.get(p)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    (fs.map(Files.size).sum, fs.size.toLong)
  }

  /** Pairs the batch must at least produce: one per edit of a base
    * document and one per edit inside the batch. */
  private def plantedPairs = 2L * (Batch / 10)

  def pass(i: Int): PassOut = {
    val b = batch(i)
    val fresh = commit(i, b)
    MinhashIndex.append(spark, idx, b, "id", "text")
    if (retires(i)) { retire(i); MinhashIndex.compact(spark, idx) }
    ingested = i + 1
    PassOut(Batch, () => {
      if (i == RetireEvery - 1) indexSize = dirSize(idx)
      fresh && spark.read.parquet(BatchCommit.committedPath(pairsOut, i).toString).count() >= plantedPairs
    })
  }

  override def finish(): Boolean = expectOk && {
    val all = generated.unionByName((0 until ingested).map(batch).reduce(_ unionByName _))
    val plan = MinhashIndex.readPlan(spark, s"$idx/plan.txt")
    val full = Dedup.minhashLshPairs(all, "id", "text", plan.shingleN, plan.numHashes, plan.bands)
      .where(col("id_a") >= Base || col("id_b") >= Base).select("id_a", "id_b").cache()
    val got = MinhashIndex.readPairs(spark, pairsOut).select("id_a", "id_b").cache()
    val n = got.count()
    val ok = n > 0 && n == got.distinct().count() &&
      got.exceptAll(full).isEmpty && full.exceptAll(got).isEmpty
    if (!ok) System.err.println(s"index_ingest: $n committed pairs differ from the full-batch pairs")
    ok
  }

  /** Starts over: generates and indexes the base (each under a span),
    * ingests one untimed batch, then one retire cycle with every call under
    * its own span. */
  def layers(t: Tracer, budgetS: Double): Map[String, Double] = {
    val (_, genS, _) = t.span("synth.generate", 0)(Probe.noop(generated))
    writeBase()
    val (_, buildS, _) = t.span("operators.minhashindex.build", 0)(buildIndex())
    expectOk = expect()
    val secs = scala.collection.mutable.Map.empty[String, Seq[(Double, Stats)]].withDefaultValue(Nil)
    def step[T](name: String, i: Int)(body: => T): T = {
      val (out, s, st) = t.span(name, i, "pass")(body)
      secs(name) :+= ((s, st))
      out
    }
    expectOk &&= pass(0).check()  // untimed warm-up of the ingest code
    for (i <- 1 to RetireEvery) {
      val b = batch(i)
      step("operators.minhashindex.query_new", i)(Probe.noop(queryNew(b)))
      step("operators.batchcommit.commit", i)(commit(i, b))
      step("operators.minhashindex.append", i)(MinhashIndex.append(spark, idx, b, "id", "text"))
      if (retires(i)) {
        step("operators.minhashindex.retire", i)(retire(i))
        step("operators.minhashindex.compact", i)(MinhashIndex.compact(spark, idx))
      }
      ingested = i + 1
      if (i == RetireEvery - 1) indexSize = dirSize(idx)
    }
    def med(name: String) = Main.median(secs(name).map(_._1))
    def last(name: String) = (med(name), secs(name).last._2)
    Map(
      "synth.generate_s" -> genS,
      "operators.minhashindex.build_s" -> buildS,
      "operators.minhashindex.query_new_s" -> med("operators.minhashindex.query_new"),
      "operators.batchcommit.commit_s" ->
        (med("operators.batchcommit.commit") - med("operators.minhashindex.query_new")),
      "operators.minhashindex.append_s" -> med("operators.minhashindex.append"),
      "operators.minhashindex.retire_s" -> med("operators.minhashindex.retire"),
      "operators.minhashindex.compact_s" -> med("operators.minhashindex.compact"),
      "operators.minhashindex.candidates_per_new_doc" -> candidatesPerDoc,
      "operators.minhashindex.index_bytes" -> indexSize._1.toDouble,
      "operators.minhashindex.index_files" -> indexSize._2.toDouble) ++
      Seq("operators.minhashindex.query_new", "operators.batchcommit.commit",
        "operators.minhashindex.retire", "operators.minhashindex.compact")
        .flatMap(k => Probe.counters(t, k, last(k)))
  }
}
