package graft.perfbench

import graft.expr.gf
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * near_dup: `Dedup.cleanCorpus` with its default minhash-LSH pair source
 * over a seeded corpus with planted exact copies, near-duplicate pairs,
 * benchmark-contaminated documents and one hot boilerplate cluster. Each
 * pass runs exact dedup, LSH pairs, components and survivors, and
 * decontamination; the survivor count has a closed form.
 */
final class NearDup(spark: SparkSession, seed: Long, dir: String) extends Workload {
  import spark.implicits._

  val Plain = 1000
  val Hot = 30
  private val corpus = new NearDupCorpus(seed, Plain, Hot)
  private val docsPath = s"$dir/corpus"
  private val benchPath = s"$dir/benchmark"

  def inputSizes: Seq[(String, Long)] = Seq(
    "documents" -> corpus.size, "hot_cluster" -> Hot.toLong,
    "benchmark_documents" -> corpus.benchmarkIds.size.toLong,
    "expected_survivors" -> corpus.expectedSurvivors)

  private def generated: DataFrame = {
    val c = corpus
    spark.range(0, c.size, 1, math.max(spark.sparkContext.defaultParallelism, 4))
      .map(i => (i.longValue, c.text(i)))
      .toDF("doc_id", "text")
  }

  def prepare(): Unit = {
    generated.write.mode("overwrite").parquet(docsPath)
    corpus.benchmarkIds.map(i => (i, corpus.text(i))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(benchPath)
  }

  private def docs = spark.read.parquet(docsPath)
  private def bench = spark.read.parquet(benchPath)
  private def clean = Dedup.cleanCorpus(docs, "doc_id", "text", bench)

  def expect(): Boolean = docs.count() == corpus.size

  /** The persisted-index layers, measured in this workload's traced run
    * on a seeded ingest stream (`IndexIngest`); the same minhash kernel
    * feeds both. */
  private lazy val ingest = new IndexIngest(spark, seed, s"$dir/ingest")
  private var ingestTraced = false

  /** Passes take about 5 s; the median needs three of them. */
  override def minPasses: Int = 3

  override def finish(): Boolean = !ingestTraced || ingest.finish()

  def pass(i: Int): PassOut = {
    val n = clean.count()
    PassOut(corpus.size, () => n == corpus.expectedSurvivors)
  }

  def layers(t: Tracer, budgetS: Double): Map[String, Double] = {
    import Probe.Step
    def deduped = Dedup.exactRows(docs, "doc_id", "text")
    def pairs = Dedup.minhashLshPairs(deduped, "doc_id", "text")
    val r = Probe.rounds(t, budgetS)(
      Step("synth.generate", "", () => Probe.noop(generated)),
      Step("operators.dedup.exact_rows", "", () => Probe.noop(deduped)),
      Step("operators.dedup.lsh_pairs", "operators.dedup.exact_rows", () => Probe.noop(pairs)),
      Step("operators.dedup.survivors", "operators.dedup.lsh_pairs", () =>
        Probe.noop(Dedup.survivors(deduped, "doc_id", pairs.select("id_a", "id_b")))),
      Step("operators.dedup.contaminated", "operators.dedup.survivors", () => Probe.noop(clean)))

    // candidate pairs of the band join, under the plan the operator derives
    val d = deduped.select(col("doc_id").as("id"), col("text")).cache()
    val plan = Dedup.minhashPlan(d.count())
    val bands = d.select(col("id"), explode(gf.lsh_bands(
      gf.minhash_sig(col("text"), plan.shingleN, plan.numHashes), plan.bands)).as("band"))
    val candidates = bands.select(col("id").as("id_a"), col("band"))
      .join(bands.select(col("id").as("id_b"), col("band")), "band")
      .where(col("id_a") < col("id_b")).select("id_a", "id_b").distinct().count()
    val verified = pairs.count()
    d.unpersist()

    ingestTraced = true
    val index = ingest.layers(t, budgetS).filter { case (k, _) =>
      k.startsWith("operators.minhashindex.") || k.startsWith("operators.batchcommit.") }

    val s = Probe.self(r, _: String, _: String)
    index ++ Map(
      "synth.generate_s" -> r("synth.generate")._1,
      "operators.dedup.exact_rows_s" -> r("operators.dedup.exact_rows")._1,
      "operators.dedup.lsh_pairs_s" -> s("operators.dedup.lsh_pairs", "operators.dedup.exact_rows"),
      "operators.dedup.survivors_s" -> s("operators.dedup.survivors", "operators.dedup.lsh_pairs"),
      "operators.dedup.contaminated_s" -> s("operators.dedup.contaminated", "operators.dedup.survivors"),
      "operators.dedup.candidate_pairs" -> candidates.toDouble,
      "operators.dedup.verify_yield" -> verified.toDouble / candidates) ++
      Seq("operators.dedup.exact_rows", "operators.dedup.lsh_pairs",
        "operators.dedup.survivors", "operators.dedup.contaminated")
        .flatMap(k => Probe.counters(t, k, r(k)))
  }
}
