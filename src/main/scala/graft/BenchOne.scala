package graft

/** Bench/inspect a single query: `runMain graft.BenchOne <name> [explain]`.
  * Uses SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like Bench. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.forMain("graft-bench-one", "32")
    val fn = Catalog(name).build
    if (args.contains("explain")) fn(spark, sfDir).explain("formatted")
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      graft.util.CacheRegistry.releaseAll()
      println(f"[bench-one] $name pass $i: ${(System.nanoTime() - t0) / 1e9}%.2fs ($n rows)")
    }
    graft.util.Fixtures.sweep(spark)
    spark.stop()
  }
}
