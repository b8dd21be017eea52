package graft.tools

import org.apache.spark.sql.functions._

/** Round-loop floor measurement for the DISTRIBUTED GD path: wall
  * time as a function of round count, fit `t = fixed + rounds ×
  * perRound`. Measured at sf0.1 this produced fixed = 2.57 s,
  * perRound = 0.174 s — which showed the r9 "the rounds are the
  * cost" attribution was HALF the story (prep + support + scoring
  * dominated) and motivated the r10 redesign: map-only packing (the
  * corpus-scale exchange removed), support folded into round-1
  * gradient keys, and a driver-local GD loop below
  * `Classifier.LocalTrainThresholdKey` (the BPE two-tier shape) that
  * removes the per-round barriers entirely. This main pins the
  * distributed path (threshold 0) so the floor it measures stays
  * reproducible as the code evolves.
  *
  * Run: `sbt "runMain graft.tools.RoundFloor [sfDir]"` — prints one
  * JSON line with per-round-count medians and the least-squares fit. */
object RoundFloor {
  private def median(xs: Seq[Double]): Double = graft.Bench.median(xs)

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt.max(1)
    val spark = graft.GraftSession.forMain("graft-round-floor", "32")
    spark.conf.set(graft.operators.Classifier.LocalTrainThresholdKey, "0")
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val label = array_contains(graft.functions.Text.wsTokens(col("text")), "key")

    def run(rounds: Int): Double = {
      val t0 = System.nanoTime()
      graft.operators.Classifier
        .logregScore(docs, "doc_id", "text", label, rounds = rounds)
        .count()
      val sec = (System.nanoTime() - t0) / 1e9
      graft.util.CacheRegistry.releaseAll()
      sec
    }
    val roundCounts = Seq(1, 4, 8, 12)
    run(12) // warmup: JIT + codegen, the bench discipline
    graft.util.CacheRegistry.releaseAll()
    val meds = roundCounts.map(r => r -> median(Seq.fill(passes)(run(r))))
    // least squares t = fixed + r*perRound over the medians
    val n = meds.size.toDouble
    val sx = meds.map(_._1.toDouble).sum
    val sy = meds.map(_._2).sum
    val sxx = meds.map(m => m._1.toDouble * m._1).sum
    val sxy = meds.map(m => m._1 * m._2).sum
    val perRound = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val fixed = (sy - perRound * sx) / n
    val points = meds.map { case (r, t) => s""""$r":${f"$t%.3f"}""" }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"round_floor","query":"quality_classifier","sf":"$sfDir","passes":$passes,""" +
      s""""medians":$points,"fit":{"fixed_sec":${f"$fixed%.3f"},"per_round_sec":${f"$perRound%.3f"}}}""")
    spark.stop()
  }
}
