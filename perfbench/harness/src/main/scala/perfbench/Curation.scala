package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{PipelineQueries, TextQueries}
import graft.expr.MinHashSig
import graft.operators.{Dedup, PrefixSum}
import graft.sources.Sinks
import graft.text.{Normalize, TextAnalysis}

/** LLM-data curation: one client in a closed loop, each job a fresh
  * document shard through normalize → quality filter → exact dedup →
  * MinHash-LSH near-dup clusters → token-budget packing → sharded JSONL
  * (the catalog's training-prep chain behind a normalization pass). */
final class Curation(inputs: String, work: String) extends Workload {
  import TextQueries.{MinJaccard, MinQuality, ShingleN}

  /** Shards by pool (warm, untraced, traced), each used by one job. */
  private val shards = mutable.Map[String, List[String]]() ++
    new java.io.File(s"$inputs/shards").listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted.toList
      .groupBy(p => new java.io.File(p).getName.takeWhile(_ != '-'))
  private var lastShard: String = _

  private def takeShard(pool: String): Option[String] =
    shards.getOrElse(pool, Nil) match {
      case s :: rest => shards(pool) = rest; lastShard = s; Some(s)
      case Nil => None
    }

  private def normalized(df: DataFrame): DataFrame =
    df.select(col("doc_id"), Normalize.cleaned(col("text")).as("text"))

  /** Warm-up: one untimed job per shard of the warm pool (run.py makes
    * three; after fewer, the first timed jobs are still measurably
    * slower). */
  def setup(spark: SparkSession): Map[String, Double] = {
    val t0 = System.nanoTime()
    Iterator.continually(takeShard("warm")).takeWhile(_.isDefined).flatten
      .zipWithIndex.foreach { case (shard, i) =>
        run(spark, new Tracer(spark.sparkContext, false), shard,
          s"$work/out/warmup-$i")
      }
    Map("warmup_s" -> (System.nanoTime() - t0) / 1e9)
  }

  override def checkInfo: Map[String, Any] = Map(
    "normalize_sql" -> Normalize.cleanedSql("{t}"),
    "prep_sql" -> TextQueries.qTrainingPrep.oracle.get)

  /** One shard end to end; returns the boundary frames the traced phase
    * counts (persisted there, so counting them is cheap). */
  private def run(spark: SparkSession, t: Tracer, shard: String,
      out: String): Map[String, DataFrame] = {
    val raw = t.span("sources.scan")(t.out(spark.read.parquet(shard)))
    val norm = t.span("text.normalize")(t.out(normalized(raw)))
    val good = t.span("text.quality")(t.out(norm.filter(
      TextAnalysis.qualityScore(col("text")) >= MinQuality)))
    // read three times downstream (signatures, verification, the
    // survivor anti-join): materialized once, as the catalog's
    // training-prep query does
    val exact = t.span("operators.exact_dedup")(t.out(
      Dedup.exactDedup(good, "doc_id", "text").select("doc_id", "text")
        .localCheckpoint(eager = false)))
    val pairs = t.span("operators.lsh_pairs")(t.out(Dedup.minhashLshPairs(
      exact, "doc_id", "text", ShingleN, MinJaccard, failOnOverflow = true)))
    val drops = t.span("operators.clusters")(t.out(
      Dedup.duplicateClusters(pairs).filter(col("id") =!= col("cluster"))
        .select(col("id").as("doc_id"))))
    val survivors = exact.join(drops, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    val packed = t.span("operators.pack")(t.out(
      PrefixSum.runningTotal(survivors, "doc_id", "n_tokens", "cum",
        boundsFrom = Some(raw.select("doc_id")))
        .select(col("doc_id"),
          floor((col("cum") - col("n_tokens")) / PipelineQueries.PackBudget)
            .as("seq_id"),
          col("n_tokens"), col("text"))))
    t.span("sources.sink")(Sinks.jsonlSharded(packed, out, 4, col("doc_id")))
    Map("raw" -> raw, "exact" -> exact, "pairs" -> pairs, "packed" -> packed)
  }

  def measure(spark: SparkSession, t: Tracer, seconds: Double,
      phase: String): Phase =
    // at least three jobs, so the median is a middle job whether the
    // loop's seconds fit two jobs or three
    Main.closedLoop(seconds, minOps = 3) { i => takeShard(phase).map { shard =>
      val out = s"$work/out/$phase-$i"
      var frames = Map.empty[String, DataFrame]
      val op = Main.timed("curate", out) {
        frames = t.span("job.curate")(run(spark, t, shard, out))
        Map("shard" -> shard)
      }
      val counts =
        if (!t.enabled) Map.empty
        else {
          // LSH candidate pairs, for the banding precision
          val cands = Dedup.minhashCandidates(frames("exact"), "doc_id",
            "text", ShingleN, 128, 32, 42L).count()
          Map("docs" -> frames("raw").count(), "kept" -> frames("packed").count(),
            "pairs" -> frames("pairs").count(), "candidates" -> cands)
        }
      t.release()
      op.copy(extra = op.extra ++ counts)
    }}

  def layerMetrics(spark: SparkSession, t: Tracer, c: Counters,
      p: Phase): Map[String, Double] = {
    def total(k: String) = p.ops.map(_.extra(k).asInstanceOf[Long]).sum.toDouble
    // MinHash kernel: signatures over the shingle arrays minus the
    // shingle arrays alone, per document, on the last shard
    val docs = normalized(spark.read.parquet(lastShard))
      .select(TextAnalysis.shingles(col("text"), ShingleN).as("sh")).cache()
    val n = docs.count()
    def time(df: DataFrame): Double = {
      val t0 = System.nanoTime(); df.collect(); (System.nanoTime() - t0).toDouble
    }
    val diffs = (1 to 3).map { _ =>
      time(docs.agg(sum(size(MinHashSig(col("sh"), 128, 42L))))) -
        time(docs.agg(sum(size(col("sh")))))
    }
    docs.unpersist()
    val sinkGroups = Stats.groupsOf(t, "sources.sink")
    val jobs = p.ops.size.max(1).toDouble
    Map(
      "expr.minhash_ns_per_doc" -> Stats.median(diffs) / n,
      "operators.lsh_candidates" -> total("candidates") / jobs,
      "operators.lsh_precision" -> total("pairs") / total("candidates").max(1.0),
      "text.docs_kept_frac" -> total("kept") / total("docs").max(1.0),
      "sources.sink_bytes" -> c.runtime.sum(sinkGroups)(_.outBytes) / jobs)
  }
}
