package graft.tools

/** Prints the physical-plan shape counts (shuffle exchanges, broadcast
  * exchanges, joins) for the catalog's `PlanPinned` rows, as measured from
  * each demo's pre-execution executedPlan at a given sf dir. Feeds the
  * PlanShapeSpec regression gate: run this after an intentional plan
  * change, read the new counts, update the pinned map — a count that
  * moved WITHOUT an intentional change is a plan regression that
  * should fail `sbt test` instead of surfacing as an unexplained bench
  * delta.
  *
  * Run: `sbt "runMain graft.tools.PlanCounts [sfDir]"`. */
object PlanCounts {
  // ReusedExchange nodes are excluded from BOTH counts: reuse of an
  // existing exchange changes no shuffle/broadcast work, and counting
  // it would fail the gate on an optimizer reuse decision while
  // blaming shuffle shape
  def shuffles(plan: String): Int =
    "(?<!Broadcast)(?<!Reused)Exchange".r.findAllIn(plan).length
  def broadcasts(plan: String): Int =
    "BroadcastExchange".r.findAllIn(plan).length
  def joins(plan: String): Int =
    ("SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|" +
      "BroadcastNestedLoopJoin|CartesianProduct").r.findAllIn(plan).length

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    // session confs MUST match the PlanShapeSpec gate's session
    // (GraftSession.local): a threshold mismatch would make this tool
    // print counts the gate then rejects — notably the 64MB
    // autoBroadcastJoinThreshold, which flips joins between broadcast
    // and sort-merge for sides estimated between 10MB and 64MB
    val spark = graft.GraftSession.local("plan-counts",
      cores = "4", shufflePartitions = 4)
    spark.sparkContext.setLogLevel("WARN")
    graft.Catalog.tagged(graft.Catalog.Tag.PlanPinned).foreach { row =>
      val (name, df) = (row.name, row.scaleBuild(spark, sfDir))
      val p = df.queryExecution.executedPlan.toString
      println(s"""PLANCOUNT {"query":"$name","shuffles":${shuffles(p)},""" +
        s""""broadcasts":${broadcasts(p)},"joins":${joins(p)}}""")
      graft.util.CacheRegistry.releaseAll()
    }
    spark.stop()
  }
}
