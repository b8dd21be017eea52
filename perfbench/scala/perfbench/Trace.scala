package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed call into one graft module, from the benchmark's
  * own code. Times are epoch milliseconds (for attributing planning
  * events) plus nanoTime durations. */
final case class Span(name: String, parent: String, startMs: Long, endMs: Long,
                      durNs: Long, thread: String)

/** Task metrics summed per job group. */
final class GroupAgg {
  var jobs, tasks, cpuNs, runMs, gcMs, shuffleWrite, spill, bytesRead = 0L
}

/** Aggregates task metrics by the `spark.jobGroup.id` each job was
  * submitted under. Events arrive on the listener-bus thread. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  val groups = mutable.HashMap.empty[String, GroupAgg]

  private def agg(g: String) = groups.getOrElseUpdate(g, new GroupAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    agg(g).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(stageGroup.getOrElse(e.stageId, ""))
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.bytesRead += m.inputMetrics.bytesRead
    }
  }
}

/** Planning time (analysis + optimization + planning) of every query,
  * keyed by when its planning started, plus the observed-metric names
  * the queries carried (connected components names one per round). */
final class PlanListener extends QueryExecutionListener {
  val plans = mutable.ArrayBuffer.empty[(Long, Long)] // (startMs, planMs)
  val observed = mutable.HashSet.empty[String]

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) plans += ((ph.values.map(_.startTimeMs).min, ph.values.map(_.durationMs).sum))
    observed ++= qe.observedMetrics.keys
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Micro-batch progress totals from the streaming query listener. */
final class ProgressListener extends StreamingQueryListener {
  var batches = 0L
  var addBatchMs, walCommitMs, planningMs = 0L
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (p.numInputRows > 0) {
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      batches += 1
      addBatchMs += d("addBatch")
      walCommitMs += d("walCommit") + d("commitOffsets")
      planningMs += d("queryPlanning")
    }
  }
}

/** Span recorder for the traced run. Untraced, every method is a
  * pass-through, so the timed path runs the pipeline as a user would.
  *
  * Traced, `span` runs its body under a job group named after the span
  * (restoring the caller's group after), and `boundary` additionally
  * persists and counts the layer's output, so the layer's jobs run
  * inside its own span instead of inside whichever later action first
  * needs them. */
final class Tracer(spark: SparkSession, val enabled: Boolean, detail: Boolean = true) {
  /** traced, and computing the workload-specific values, which cost
    * extra Spark actions after the run */
  val detailed: Boolean = enabled && detail
  private val sc = spark.sparkContext
  private val mainThread = Thread.currentThread().getName
  val spans = mutable.ArrayBuffer.empty[Span]
  val rowsOut = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  val values = mutable.LinkedHashMap.empty[String, Double]
  private val persisted = mutable.ArrayBuffer.empty[DataFrame]
  private val stack = new ThreadLocal[List[String]] { override def initialValue() = Nil }
  /** job groups (e.g. a streaming query's own) attributed to a span */
  val aliases = mutable.HashMap.empty[String, String]

  val groups = new GroupListener
  val plans = new PlanListener
  val progress = new ProgressListener
  if (enabled) {
    sc.addSparkListener(groups)
    spark.listenerManager.register(plans)
    spark.streams.addListener(progress)
  }

  private val groupKeys = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parents = stack.get
      val saved = groupKeys.map(k => k -> sc.getLocalProperty(k))
      stack.set(name :: parents)
      sc.setLocalProperty("spark.jobGroup.id", name)
      sc.setLocalProperty("spark.job.description", name)
      val t0 = System.nanoTime(); val w0 = System.currentTimeMillis()
      try body
      finally {
        val dur = System.nanoTime() - t0
        synchronized {
          spans += Span(name, parents.headOption.getOrElse(""), w0,
            System.currentTimeMillis(), dur, Thread.currentThread().getName)
        }
        saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        stack.set(parents)
      }
    }

  /** the layer's output, materialized at its boundary when traced */
  def boundary(name: String)(df: => DataFrame): DataFrame =
    if (!enabled) df
    else span(name) {
      val p = df.persist()
      val n = p.count()
      synchronized { rowsOut(name) += n; persisted += p }
      p
    }

  def put(name: String, v: Double): Unit = if (enabled) synchronized { values(name) = v }

  def release(): Unit = persisted.foreach(_.unpersist())

  /** The per-layer metric set: the generic counters of every span in
    * `Tracer.Spans` (0 for a span this workload does not run), the
    * run-level Spark counters, and the workload's specific values. */
  def report(runS: Double, cores: Int): Map[String, Double] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val out = mutable.LinkedHashMap.empty[String, Double]
    val recorded = synchronized(spans.toList)
    // a span on another thread (a streaming batch) with no parent of its
    // own is a child of the innermost main-thread span open when it began
    val all = recorded.map { s =>
      if (s.parent.nonEmpty || s.thread == mainThread) s
      else recorded.filter(m => m.thread == mainThread && m.startMs <= s.startMs &&
          s.startMs <= m.endMs).sortBy(_.startMs).lastOption
        .fold(s)(m => s.copy(parent = m.name))
    }
    // self time: duration minus the time covered by child spans
    val childNs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    val byName = all.groupBy(_.name)
    val gs = groups.synchronized(groups.groups.toMap)
    def agg(span: String): Seq[GroupAgg] =
      gs.collect { case (g, a) if aliases.getOrElse(g, g) == span => a }.toSeq
    // planning events attributed to the innermost span open when
    // planning started
    val planBySpan = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    plans.synchronized(plans.plans.toList).foreach { case (t, ms) =>
      val open = all.filter(s => s.startMs <= t && t <= s.endMs)
      if (open.nonEmpty) planBySpan(open.maxBy(_.startMs).name) += ms / 1000.0
    }
    for (s <- Tracer.Spans) {
      val ss = byName.getOrElse(s, Nil)
      val self = ss.map(_.durNs).sum - (if (ss.isEmpty) 0L else childNs.getOrElse(s, 0L))
      val a = agg(s)
      out(s"$s.self_s") = self / 1e9
      out(s"$s.jobs") = a.map(_.jobs).sum.toDouble
      out(s"$s.tasks") = a.map(_.tasks).sum.toDouble
      out(s"$s.task_cpu_s") = a.map(_.cpuNs).sum / 1e9
      out(s"$s.plan_s") = planBySpan(s)
      if (!Tracer.MapOnly(s)) out(s"$s.shuffle_write_bytes") = a.map(_.shuffleWrite).sum.toDouble
      out(s"$s.rows_out") = rowsOut(s).toDouble
    }
    val every = gs.values.toSeq
    out("sources.bytes_read") = agg("sources").map(_.bytesRead).sum.toDouble
    out("spark.gc_s") = every.map(_.gcMs).sum / 1000.0
    out("spark.spill_bytes") = every.map(_.spill).sum.toDouble
    out("spark.idle_frac") = 1.0 - every.map(_.runMs).sum / 1000.0 / (runS * cores)
    val topNs = all.filter(s => s.parent == "" && s.thread == mainThread).map(_.durNs).sum
    out("trace.uncovered_s") = runS - topNs / 1e9
    out("util.iterative.rounds") =
      plans.synchronized(plans.observed.count(_.startsWith("cc_round_"))).toDouble
    out("resolver_calls") = Resolver.lookups.get().toDouble
    out("util.ratelimited.retries") = Resolver.retries.get().toDouble
    out("streaming.microbatch.batches") = progress.batches.toDouble
    out("streaming.microbatch.add_batch_s") = progress.addBatchMs / 1000.0
    out("streaming.microbatch.wal_commit_s") = progress.walCommitMs / 1000.0
    out("streaming.microbatch.planning_s") = progress.planningMs / 1000.0
    out ++= values
    out.toMap
  }
}

object Tracer {
  /** the layers, named after graft's modules */
  val Spans: Seq[String] = Seq("sources", "functions", "operators.dedup", "operators.merge",
    "operators.diff_merge", "operators.geocode", "streaming.snapshot", "operators.validate",
    "operators.near_dup", "operators.components", "operators.split_pack", "io.publish",
    "streaming.microbatch")
  /** spans whose calls never shuffle: their shuffle counter is left out */
  val MapOnly: Set[String] = Set("sources", "functions")
}
