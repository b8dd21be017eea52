package graft

import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** One-off diagnosis harness for the stream_window_parity bench
  * instability (VERDICT r6 item 1): mimics the full Bench context
  * (warm up every streaming parity query, then time repeated passes of
  * stream_window_parity) while logging per-micro-batch durations and
  * JVM GC deltas, so a slow pass names its slow stage.
  */
object ReproStreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "8").toInt
    val spark = GraftSession.forMain("graft-repro-stream-bench", "32")

    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => s"$k=$v" }.mkString(" ")
        println(s"[batch] q=${p.name} id=${p.batchId} rows=${p.numInputRows} $d")
      }
    })

    def gcMillis: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

    val target = args.headOption.getOrElse("stream_window_parity")
    val all = Catalog.builds(Catalog.Tag.Bench)
    val warm = if (args.length > 1 && args(1) == "full") all.keys.toSeq else Seq(target)
    warm.foreach { n =>
      val t0 = System.nanoTime()
      try all(n)(spark, sfDir).count() catch { case _: Throwable => () }
      graft.util.CacheRegistry.releaseAll()
      println(f"[warmup] $n: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.sharedState.cacheManager.clearCache()

    (1 to passes).foreach { i =>
      val g0 = gcMillis
      val t0 = System.nanoTime()
      val n = all(target)(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      graft.util.CacheRegistry.releaseAll()
      println(f"[pass $i] ${sec}%.2fs ($n rows, gc +${gcMillis - g0}ms)")
    }
    graft.util.Fixtures.sweep(spark)
    spark.stop()
  }
}
