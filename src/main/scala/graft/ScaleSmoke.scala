package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 scale smoke (VERDICT r9 item 6): run the most expensive
  * operators at 10× the bench scale and record how their wall time
  * scales. The 100×-design claims in the operator docs are plan-level
  * arguments; this is the load test that would catch a driver
  * bottleneck, a skew cliff, or an accidental quadratic term at 10×
  * long before a cluster sees it at 100×.
  *
  * The driver only generates testdata up to sf0.1, so sf1 is
  * SYNTHESIZED from sf0.1 under `target/` (never touching
  * /root/testdata): each smoke table unions `factor` replicas with
  * keys remapped into disjoint ranges (+k·10⁹). Content is perturbed
  * per replica so the workload SHAPE matches a real 10× corpus
  * instead of degenerating:
  *
  *  - documents: replica k>0 appends a ` repl<k>` suffix (n_chars
  *    adjusted), so duplicate structure WITHIN a replica is exactly
  *    sf0.1's and replicas don't collapse into 10-way exact-dup
  *    clusters (10 identical copies of every doc would quadratically
  *    inflate pair counts in every dedup operator — a shape no real
  *    sf1 corpus has);
  *  - embeddings: replica k jitters every component by +k·10⁻³, so
  *    ANN / near-dup distance structure is preserved without making
  *    every vector 10-way degenerate;
  *  - events: event_id AND user_id remap per replica — 10× users at
  *    sf0.1's per-user event counts, the realistic growth axis for
  *    sessionization and stateful-stream state size;
  *  - customer: key remap only (geocode candidates are per-row).
  *
  * The smoke set is the catalog's `Smoke` rows, in catalog order.
  * Remaining tables pass through unreplicated (the smoke set never
  * times them). Timings: per query, one untimed warmup then the
  * median of SPARK_GRAFT_SF1_PASSES (default 2) passes, at BOTH
  * sf0.1 and synthesized sf1; `ratio` is sf1/sf0.1. A ratio at or
  * under ~`factor` is linear-or-better; anything materially above
  * needs a named cause. One JSON line lands in BENCH_SF1.json at the
  * repo root. */
object ScaleSmoke {

  /** disjoint key range per replica — far above any sf0.1 key. */
  private val KeySpan = 1000000000L

  private def replicate(factor: Int)(one: Int => DataFrame): DataFrame =
    (0 until factor).map(one).reduce(_ unionByName _)

  /** synthesize the smoke tables at `factor`× into outDir; idempotent
    * via an _SYNTH_OK marker. */
  def synthesize(spark: SparkSession, srcDir: String, outDir: String,
                 factor: Int): Unit = {
    val marker = java.nio.file.Paths.get(outDir, "_SYNTH_OK")
    if (java.nio.file.Files.exists(marker)) return
    import graft.sources.Tables

    val docs = Tables.documents(spark, srcDir)
    replicate(factor) { k =>
      val suffix = s" repl$k"
      if (k == 0) docs
      else docs.select(
        (col("doc_id") + lit(k * KeySpan)).as("doc_id"),
        concat(col("text"), lit(suffix)).as("text"),
        col("lang"), col("source"),
        (col("n_chars") + lit(suffix.length.toLong)).as("n_chars"))
    }.write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = Tables.embeddings(spark, srcDir)
    replicate(factor) { k =>
      if (k == 0) emb
      else emb.select(
        (col("vec_id") + lit(k * KeySpan)).as("vec_id"),
        transform(col("embedding"),
          x => (x + lit((k * 1e-3).toFloat)).cast("float")).as("embedding"),
        col("label"))
    }.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    val events = Tables.events(spark, srcDir)
    replicate(factor) { k =>
      if (k == 0) events
      else events.select(
        (col("event_id") + lit(k * KeySpan)).as("event_id"), col("ts"),
        (col("user_id") + lit(k * KeySpan)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.write.mode("overwrite").parquet(s"$outDir/events.parquet")

    val cust = Tables.customer(spark, srcDir)
    replicate(factor) { k =>
      if (k == 0) cust
      else cust.withColumn("c_custkey", col("c_custkey") + lit(k * KeySpan))
    }.write.mode("overwrite").parquet(s"$outDir/customer.parquet")

    // untimed by the smoke set: pass through so incidental reads work
    Seq("region", "nation", "supplier", "part", "orders", "lineitem")
      .foreach(t => Tables.read(spark, srcDir, t)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet"))
    java.nio.file.Files.createFile(marker)
  }

  private def timeQuery(spark: SparkSession, dir: String,
                        fn: (SparkSession, String) => DataFrame,
                        passes: Int): Either[String, Double] =
    try {
      def sample(): Double = {
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        graft.util.CacheRegistry.releaseAll()
        sec
      }
      sample() // warmup
      Right(Bench.median(Seq.fill(passes)(sample())))
    } catch {
      case e: Throwable =>
        graft.util.CacheRegistry.releaseAll()
        Left(e.getClass.getSimpleName)
    }

  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse(s"${Bench.repoRoot}/target/scale-sf1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SF1_FACTOR", "10").toInt
    val passes = sys.env.getOrElse("SPARK_GRAFT_SF1_PASSES", "2").toInt.max(1)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val spark = GraftSession.forMain("graft-scale-smoke", "32")

    synthesize(spark, srcDir, outDir, factor)

    val smoke = Catalog.tagged(Catalog.Tag.Smoke).filter(r => only.forall(_.contains(r.name)))
    val rows = smoke.map { row =>
      val (name, fn) = (row.name, row.scaleBuild)
      Console.err.println(s"[scale-smoke] $name @ sf0.1 ...")
      val base = timeQuery(spark, srcDir, fn, passes)
      Console.err.println(s"[scale-smoke] $name @ sf1 ...")
      val big = timeQuery(spark, outDir, fn, passes)
      graft.util.Fixtures.sweep(spark)
      name -> ((base, big))
    }
    val qjson = rows.map {
      case (n, (Right(a), Right(b))) =>
        f""""$n":{"sf0_1":$a%.3f,"sf1":$b%.3f,"ratio":${b / a}%.2f}"""
      case (n, (a, b)) =>
        val f = (e: Either[String, Double]) =>
          e.fold(err => "\"error:" + err + "\"", v => f"$v%.3f")
        s""""$n":{"sf0_1":${f(a)},"sf1":${f(b)},"ratio":null}"""
    }.mkString("{", ",", "}")
    val superlinear = rows.collect {
      case (n, (Right(a), Right(b))) if b / a > factor * 1.3 => "\"" + n + "\""
    }.mkString("[", ",", "]")
    val json =
      s"""{"metric":"scale_smoke","unit":"sec","factor":$factor,"passes":$passes,""" +
      s""""base":"$srcDir","synth":"$outDir","method":"${factor}x replication of sf0.1: keys +k*1e9; docs text +' repl<k>'; embeddings +k*1e-3 jitter; events 10x users","queries":$qjson,"superlinear":$superlinear}"""
    println(json)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SF1_OUT",
      s"${Bench.repoRoot}/BENCH_SF1.json")
    // a SPARK_GRAFT_ONLY iteration must never CLOBBER the committed
    // full-set artifact (it did once): refuse to overwrite a file with
    // more queries than this restricted run measured
    val restrictedClobber = only.isDefined && {
      try {
        val prior = java.nio.file.Files.readString(java.nio.file.Paths.get(outPath))
        "\"sf0_1\"".r.findAllIn(prior).size > rows.size
      } catch { case _: Exception => false }
    }
    if (restrictedClobber)
      Console.err.println(s"[scale-smoke] SPARK_GRAFT_ONLY run measured fewer " +
        s"queries than $outPath holds - NOT overwriting (stdout has the JSON)")
    else
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
      catch { case e: Exception =>
        Console.err.println(s"[scale-smoke] could not write $outPath: ${e.getMessage}") }
    spark.stop()
  }
}
