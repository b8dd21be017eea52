package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stage-split wall-time attribution for the two bench rows the r11
  * verdict flagged as weak-unattributed: `winnow_fingerprint` and
  * `cdc_chunk_dedup`. Each row's plan is re-run as a ladder of
  * cumulative prefixes (map-only half, + the one shuffle/window, +
  * distinct / dedup join), every prefix forced through an aggregate
  * that keeps its value columns alive (a bare count() would let the
  * optimizer prune the very expressions being measured). Median of
  * SPARK_GRAFT_PASSES (default 5) per prefix after one warmup, same
  * discipline as [[graft.Bench]]. The deltas between consecutive
  * prefixes are the committed attribution (SURVEY §2 C42/C49).
  *
  * Run: `sbt "runMain graft.tools.StageSplit [sfDir]"` — one JSON line.
  */
object StageSplit {
  private def median(xs: Seq[Double]): Double = graft.Bench.median(xs)

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "5").toInt.max(1)
    val spark = graft.GraftSession.forMain("graft-stage-split", "32")
    val docs = graft.sources.Tables.documents(spark, sfDir)

    def time(mk: () => Unit): Double = {
      val t0 = System.nanoTime()
      mk()
      val sec = (System.nanoTime() - t0) / 1e9
      graft.util.CacheRegistry.releaseAll()
      sec
    }
    // force: aggregate over the measured columns so pruning can't drop them
    def force(df: DataFrame, cols: Column*): Unit =
      df.agg(count(lit(1)), cols.map(max): _*).collect()

    // ---- winnow_fingerprint prefixes (Curation.winnowFingerprints
    // k=4 w=5 over documents, the C42 demo) ----
    def winToks = docs
      .select(col("doc_id"), graft.functions.Text.wsTokens(col("text")).as("_toks"))
      .filter(size(col("_toks")) >= 4)
      .select(col("doc_id"), posexplode(col("_toks")).as(Seq("_pos", "_tok")))
    // the r11 map-side formulation, kept as the comparison arm: per-gram
    // slice+concat_ws+md5 inside an interpreted transform lambda
    def winGramsLambda = docs
      .select(col("doc_id"), graft.functions.Text.wsTokens(col("text")).as("_toks"))
      .filter(size(col("_toks")) >= 4)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), size(col("_toks")) - 4),
          i => conv(substring(md5(concat_ws(" ",
            slice(col("_toks"), i + 1, lit(4)))), 1, 10), 16, 10).cast("long"))
      ).as(Seq("_pos", "_h40")))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("_pos"))
    def winGramsLead = winToks
      .withColumn("_gram", concat_ws(" ", col("_tok"),
        lead(col("_tok"), 1).over(byDoc), lead(col("_tok"), 2).over(byDoc),
        lead(col("_tok"), 3).over(byDoc)))
      .withColumn("_last", lead(col("_tok"), 3).over(byDoc))
      .filter(col("_last").isNotNull)
      .withColumn("_h40",
        conv(substring(md5(col("_gram")), 1, 10), 16, 10).cast("long"))
    def winFull = graft.operators.Curation.winnowFingerprints(
      docs, "doc_id", "text", k = 4, w = 5)

    // ---- cdc_chunk_dedup prefixes (Dedup.cdcChunks divisor=8 md5-60
    // + the df-join dedup, the C49 demo) ----
    def cdcToks = docs.select(col("doc_id"),
        posexplode(graft.functions.Text.wsTokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("_bflag",
        when(pmod(graft.functions.Vec.md5Hash60(col("tok")), lit(8L)) === 0, 1L)
          .otherwise(0L))
    val cdcWin = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    def cdcCum = cdcToks
      .withColumn("chunk_idx", sum(col("_bflag")).over(cdcWin) - col("_bflag"))
    def cdcChunks = graft.operators.Dedup.cdcChunks(
      docs, "doc_id", "text", divisor = 8,
      tokenHash = graft.functions.Vec.md5Hash60)
    def cdcFull = graft.operators.TextDemos.cdcChunkDedup(spark, sfDir)

    // ---- ivf_recall_curve prefixes (the C97 demo, r13 fused form:
    // brute truth + full centroid ranking + two conditional aggregates) ----
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    def curveQueries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def curveCorpus = emb.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("cand_id"), col("embedding").as("cv"), col("label"))
    def curveTruth = graft.operators.Similarity.bruteTopK(curveQueries, curveCorpus, k = 5)
    def curveCents = graft.operators.Similarity.ivfCentroids(emb, "embedding", "label")
    def curveRanked = graft.operators.Similarity.ivfAssignN(
      curveQueries, curveCents, nprobe = Int.MaxValue)
    def curveFull = graft.operators.TextDemos.ivfRecallCurve(spark, sfDir)

    val probes: Seq[(String, () => Unit)] = Seq(
      "curve.1_brute_truth" -> (() => force(curveTruth, col("cand_id"))),
      "curve.2_centroid_fit" -> (() => force(curveCents, col("centroid"))),
      "curve.3_fit_plus_rank" -> (() => force(curveRanked, col("probe_rank"))),
      "curve.4_full" -> (() => force(curveFull, col("recall"))),
      "winnow.0_tokenize_explode" -> (() => force(winToks, col("_tok"))),
      "winnow.1a_gram_hash_lambda" -> (() => force(winGramsLambda, col("_h40"))),
      "winnow.1b_gram_hash_lead" -> (() => force(winGramsLead, col("_h40"))),
      "winnow.3_full" -> (() => force(winFull, col("hash"))),
      "cdc.1_tokenize_flag_map" -> (() => force(cdcToks, col("_bflag"))),
      "cdc.2_plus_cumsum_window" -> (() => force(cdcCum, col("chunk_idx"))),
      "cdc.3_plus_chunk_reagg" -> (() => force(cdcChunks, col("chunk_hash"))),
      "cdc.4_full_plus_df_join" -> (() => force(cdcFull, col("chunk_hash"))))

    probes.foreach { case (_, fn) => fn() } // warmup: JIT + codegen
    graft.util.CacheRegistry.releaseAll()
    val meds = probes.map { case (name, fn) =>
      name -> median(Seq.fill(passes)(time(fn)))
    }
    val body = meds.map { case (n, t) => s""""$n":${f"$t%.3f"}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"stage_split","sf":"$sfDir","passes":$passes,"medians":$body}""")
    spark.stop()
  }
}
