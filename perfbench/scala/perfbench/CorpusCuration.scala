package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.io.Layout
import graft.operators.{Dedup, Filtering, Packing, Sampling}

/** The LLM curation ladder: language / quality / length scoring and
  * outlier filter → boilerplate chunk dedup → exact dedup → MinHash-LSH
  * near-dup pairs → connected components (one survivor per cluster) →
  * eval-contamination drop → hash split → sequence packing → sorted
  * parquet layout. */
object CorpusCuration extends Workload {
  val Capacity = 512 // the generator's PACK_CAPACITY, which the check reads
  // 64 permutations in 16 bands of 4: a planted pair at Jaccard 0.8
  // becomes a candidate with probability 1 - (1 - 0.8^4)^16 > 0.9999
  private val Perms = 64
  private val Bands = 16

  def run(spark: SparkSession, t: Tracer, a: Args): RunResult = {
    val t0 = System.nanoTime()
    val docs = t.boundary("sources")(spark.read.schema("doc_id LONG, text STRING")
      .json(s"${a.input}/docs.jsonl"))
    val evals = spark.read.schema("eval_id LONG, text STRING").json(s"${a.input}/eval.jsonl")
      .select(col("eval_id").as("doc_id"), col("text").as("clean_text"))
    val (lang, _) = Text.langId(col("text"))
    val kept = t.boundary("functions") {
      val scored = docs.select(col("doc_id"), col("text"), lang.as("lang"),
        Text.qualityScore(col("text")).as("quality"), Text.tokenCount(col("text")).as("n_tok"))
      Filtering.quantileOutliers(scored, "n_tok", 0.02, 1.0)
        .filter(!col("is_outlier") && col("quality") >= 0.1)
        .select("doc_id", "text", "lang")
    }
    val unique = t.boundary("operators.dedup") {
      val cleaned = Dedup.chunkDedup(kept, "doc_id", "text", maxDocs = 10)
      cleaned.join(Dedup.exactByHash(cleaned, "doc_id", "clean_text")
        .select(col("keep_id").as("doc_id")), "doc_id")
        .select("doc_id", "clean_text")
    }
    val pairs = t.boundary("operators.near_dup")(
      Dedup.minhashLsh(unique, "doc_id", "clean_text", k = Perms, bands = Bands))
    val survivors = t.boundary("operators.components") {
      val cc = Dedup.connectedComponents(unique.select("doc_id"), pairs, "doc_id")
      unique.join(cc.filter(col("cluster") === col("doc_id")).select("doc_id"), "doc_id")
    }
    val clean = t.boundary("operators.dedup") {
      val flagged = Dedup.contaminationCheck(survivors, evals, "doc_id", "clean_text")
        .filter(col("flagged")).select("doc_id")
      survivors.join(flagged, Seq("doc_id"), "left_anti")
    }
    val packed = t.boundary("operators.split_pack") {
      val split = Sampling.hashSplit(clean, "doc_id", Seq("train" -> 90, "val" -> 5, "test" -> 5))
        .withColumn("n_tokens", Text.tokenCount(col("clean_text")))
      Packing.sequencePack(split, "split", "doc_id", "n_tokens", Capacity)
    }
    t.span("io.publish") {
      Layout.writeSorted(packed, Seq("split", "doc_id"), 4, s"${a.out}/packed")
    }
    val runS = (System.nanoTime() - t0) / 1e9
    t.put("operators.near_dup.candidate_pairs", t.rowsOut("operators.near_dup"))
    if (t.detailed) {
      t.put("sources.files", 2)
      t.put("operators.dedup.dup_ratio", 1.0 - unique.count().toDouble / kept.count())
      pairs.select("id_a", "id_b").write.mode("overwrite").json(s"${a.work}/pairs")
      val files = Main.dataFiles(s"${a.out}/packed")
      t.put("io.publish.files", files.size)
      t.put("io.publish.bytes_written", files.map(java.nio.file.Files.size).sum.toDouble)
    }
    RunResult(runS)
  }

  override def dump(spark: SparkSession, a: Args): Unit =
    spark.read.parquet(s"${a.out}/packed").write.mode("overwrite").json(s"${a.out}/check")
}
