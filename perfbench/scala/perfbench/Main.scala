package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What one workload run reports back to the harness. `latencies`
  * are per-event seconds (change_feed only). */
final case class RunResult(runS: Double, latencies: Seq[Double] = Nil)

trait Workload {
  /** untimed: build the state a timed run starts from (written once
    * per seed and restored byte-for-byte before each run) */
  def prepare(spark: SparkSession, a: Args): Unit = ()
  /** the timed pipeline; per-layer values go to `t` */
  def run(spark: SparkSession, t: Tracer, a: Args): RunResult
  /** untimed: write what the output checks read */
  def dump(spark: SparkSession, a: Args): Unit = ()
  /** back to the start state, for a second pass in the same JVM */
  def reset(a: Args): Unit = Main.delete(a.out)
}

final case class Args(mode: String, workload: String, input: String, work: String,
                      seed: Long, launchMs: Long, trace: Boolean, cores: Int) {
  def state: String = s"$input/state"
  def out: String = s"$work/out"
}

/** One fresh JVM per run: build the graft session, run one workload
  * (`--mode run`), its untimed preparation (`prepare`) or nothing
  * (`setup`), and write `<work>/result.json`.
  *
  * `setup_s` runs from the harness's launch stamp to the session
  * answering a trivial action, so JVM start-up and class loading count,
  * as they do for a daily job. */
object Main {
  val workloads: Map[String, Workload] = Map(
    "daily_refresh" -> DailyRefresh,
    "geocode_backfill" -> GeocodeBackfill,
    "corpus_curation" -> CorpusCuration,
    "change_feed" -> ChangeFeed)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val a = Args(kv("mode"), kv("workload"), kv("input"), kv("work"), kv("seed").toLong,
      kv("launch-ms").toLong, kv("trace") == "1", kv("cores").toInt)
    val w = workloads(a.workload)
    val spark = GraftSession.local("perfbench", a.cores.toString, a.cores)
    val code = try {
      spark.range(1).count()
      val setupS = (System.currentTimeMillis() - a.launchMs) / 1000.0
      if (a.mode != "run") {            // "setup" measures set-up alone
        if (a.mode == "prepare") w.prepare(spark, a)
        writeJson(Paths.get(a.work, "result.json"), Map("setup_s" -> setupS))
      } else {
        if (a.trace) copy(s"${a.work}/state", s"${a.work}/state_start")
        val t = new Tracer(spark, a.trace)
        val r = w.run(spark, t, a)
        val rss = peakRssMb()
        val layers = if (a.trace) t.report(r.runS, a.cores) else Map.empty[String, Double]
        t.release()
        // traced: a second pass from the restored start state; its
        // deterministic counts must equal the first pass's
        val again = if (!a.trace) Map.empty[String, Double] else {
          w.reset(a)
          Resolver.reset()
          spark.catalog.clearCache() // else pass 2 reads pass 1's cached plans
          val t2 = new Tracer(spark, true, detail = false)
          val r2 = w.run(spark, t2, a)
          try t2.report(r2.runS, a.cores) finally t2.release()
        }
        w.dump(spark, a)
        writeJson(Paths.get(a.work, "result.json"), Map(
          "setup_s" -> setupS, "run_s" -> r.runS,
          "peak_rss_mb" -> rss, "latencies_s" -> r.latencies, "layers" -> layers,
          "layers_again" -> again,
          "spans" -> t.spans.toSeq.map(s => Map("name" -> s.name, "parent" -> s.parent,
            "start_ms" -> s.startMs, "end_ms" -> s.endMs, "thread" -> s.thread,
            "run_id" -> a.work))))
      }
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        writeJson(Paths.get(a.work, "result.json"), Map("error" -> e.toString))
        3
    }
    spark.stop()
    sys.exit(code)
  }

  /** VmHWM: the process's peak resident set, in MB */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  def dataFiles(p: String): Seq[Path] = {
    val root = Paths.get(p)
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
    }.toSeq
  }

  def delete(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  def copy(from: String, to: String): Unit = {
    val src = Paths.get(from)
    if (Files.exists(src)) Files.walk(src).iterator().asScala.foreach { f =>
      Files.copy(f, Paths.get(to).resolve(src.relativize(f).toString))
    }
  }

  def readText(p: String): String = new String(Files.readAllBytes(Paths.get(p)), UTF_8)

  def writeJson(p: Path, v: Any): Unit = Files.write(p, json(v).getBytes(UTF_8))

  def json(v: Any): String = v match {
    case null | None => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case o => json(o.toString)
  }
}
