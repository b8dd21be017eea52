package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.EventStream

/** Streaming upserts: an open-loop generator drops one change file per
  * `IntervalMs` into a directory that a file stream reads; every
  * micro-batch folds its changes to last-write-wins per key and merges
  * them into the keyed snapshot target with `EventStream.upsertBatch`.
  *
  * The first `WarmFiles` files are the warm-up: dropped at once and
  * processed before the schedule starts, so the cold first batches are
  * not sampled. An event's latency runs from when its file was due (its
  * stamp) to the commit of the micro-batch that held it, so a stall
  * also delays the files queued behind it. */
object ChangeFeed extends Workload {
  // a trigger every 2 s, about twice a warm batch's duration here: the
  // stream runs at about half its capacity, so a stall shows as latency
  val TriggerMs = 2000L
  val IntervalMs = 100L
  val WarmFiles = 10
  private val Retain = 3

  def run(spark: SparkSession, t: Tracer, a: Args): RunResult = {
    // untimed: the pre-seeded target, snapshot 0
    val target = s"${a.work}/target"
    val seed = spark.read.schema("key LONG, value LONG, seq LONG").json(s"${a.input}/seed.jsonl")
    EventStream.upsertBatch(target, Seq("key"), Retain)(seed, 0L)
    val inbox = Paths.get(a.work, "inbox")
    val staging = Paths.get(a.work, "staging")
    Files.createDirectories(inbox); Files.createDirectories(staging)
    val files = Files.list(Paths.get(a.input, "changes")).iterator().asScala.toSeq.sortBy(_.toString)
    val commits = new ConcurrentHashMap[Long, Long]()
    var written = 0L
    val upsert: (DataFrame, Long) => Unit = (df, id) => {
      t.span("streaming.snapshot") {
        val latest = df.groupBy("key").agg(max(struct(col("seq"), col("value"))).as("m"))
          .select(col("key"), col("m.value").as("value"), col("m.seq").as("seq"))
        EventStream.upsertBatch(target, Seq("key"), Retain)(latest, id + 1)
        // file sizes only: no Spark job may run here for the measurement
        if (t.detailed)
          written += Main.dirBytes(s"$target/snapshots/${id + 1}") + Main.dirBytes(s"$target/current")
      }
      commits.put(id, System.currentTimeMillis())
    }
    val q = spark.readStream.schema("key LONG, value LONG, seq LONG, created_ms LONG")
      .json(inbox.toString)
      .writeStream.trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", s"${a.work}/checkpoint")
      .foreachBatch(upsert)
      .start()
    t.aliases(q.runId.toString) = "streaming.microbatch"
    // a file lands atomically, its rows stamped with their due time
    def drop(f: java.nio.file.Path, at: Long): Unit = {
      val body = Files.readAllLines(f, UTF_8).asScala
        .map(l => l.stripSuffix("}") + s""","created_ms":$at}""").mkString("\n")
      val tmp = staging.resolve(f.getFileName)
      Files.write(tmp, body.getBytes(UTF_8))
      Files.move(tmp, inbox.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
    }
    val (warm, timed) = files.splitAt(WarmFiles)
    warm.foreach(drop(_, System.currentTimeMillis()))
    q.processAllAvailable()
    // the open-loop generator: timed file i is due at t0 + i * IntervalMs
    // whatever the stream is doing
    val t0 = System.currentTimeMillis() + 200L
    var lagMs = 0L
    val due = t.span("streaming.microbatch") {
      val due = timed.zipWithIndex.map { case (f, i) =>
        val at = t0 + i * IntervalMs
        val wait = at - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        lagMs = lagMs.max(System.currentTimeMillis() - at)
        drop(f, at)
        f.getFileName.toString -> at
      }
      q.processAllAvailable()
      due
    }
    q.stop()
    val batchOf = sourceLog(s"${a.work}/checkpoint/sources/0")
    val commitOf = due.map { case (name, at) => (at, commits.get(batchOf(name))) }
    val perFile = Files.readAllLines(files.head).size
    val latencies = commitOf.flatMap { case (at, c) => Seq.fill(perFile)((c - at) / 1000.0) }
    val runS = (commitOf.map(_._2).max - t0) / 1000.0
    if (t.detailed) {
      t.put("generator.lag_s", lagMs / 1000.0)
      t.put("generator.backlog_files", due.map { case (_, at) =>
        commitOf.count { case (d, c) => d <= at && c > at }
      }.max)
      // bytes of the changes: every event's share of a snapshot row
      val stateRows = EventStream.readLatestState(spark, target).count()
      val rowBytes = Main.dirBytes(s"$target/current").toDouble / stateRows
      t.put("streaming.snapshot.bytes_written", written)
      t.put("streaming.snapshot.write_amplification",
        written / (rowBytes * files.size * perFile))
      t.put("streaming.state_rows", stateRows)
      t.put("sources.files", files.size)
    }
    RunResult(runS, latencies)
  }

  /** file name → micro-batch id, from the file source's metadata log */
  private def sourceLog(dir: String): Map[String, Long] = {
    val entry = """"path":"[^"]*/([^"/]+)".*"batchId":(\d+)""".r
    Files.list(Paths.get(dir)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.matches("\\d+(\\.compact)?"))
      .flatMap(p => Files.readAllLines(p, UTF_8).asScala)
      .flatMap(l => entry.findFirstMatchIn(l).map(m => m.group(1) -> m.group(2).toLong))
      .toMap
  }

  override def reset(a: Args): Unit =
    Seq("out", "target", "inbox", "staging", "checkpoint")
      .foreach(d => Main.delete(s"${a.work}/$d"))

  override def dump(spark: SparkSession, a: Args): Unit =
    EventStream.readLatestState(spark, s"${a.work}/target")
      .write.mode("overwrite").json(s"${a.out}/check")
}
