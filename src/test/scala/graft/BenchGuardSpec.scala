package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's two noise guards, unit-tested pure: the contention-
  * robust median (in-run spread) and the cross-window contamination
  * guard (r10 verdict: a window where ALL samples are slow together
  * passes the spread check — cdc_chunk_dedup committed 6.07 s with
  * min 4.14 against 1.26 s on identical code hours earlier; only the
  * trailing history can tell that apart). */
class BenchGuardSpec extends AnyFunSuite {

  test("robustMedian keeps the lowest samples (additive-noise model)") {
    assert(Bench.robustMedian(Seq(1.0, 1.1, 1.2, 9.0, 8.0, 7.0), 3) == 1.1)
    assert(Bench.robustMedian(Seq(2.0), 3) == 2.0) // fewer samples than keep
  }

  private def histLine(sf: String, qs: (String, Any)*): String = {
    val body = qs.map {
      case (k, v: Double) => "\"" + k + "\":" + v
      case (k, v) => "\"" + k + "\":\"" + v + "\""
    }.mkString(",")
    s"""{"metric":"total","value":1.0,"unit":"sec","queries":{$body},"spread":{"a":{"median":99.0,"min":0.1,"max":99.9,"samples":3}},"passes":3,"errors":[],"sf":"$sf"}"""
  }

  test("trailingMedians: newest-window median per query, same-sf lines only") {
    val lines = Seq(
      histLine("/sf", "a" -> 10.0, "b" -> 1.0), // oldest — outside a's window
      histLine("/other", "a" -> 500.0),         // different sf dir: ignored
      histLine("/sf", "a" -> 1.0),
      histLine("/sf", "a" -> 2.0, "b" -> 3.0),
      histLine("/sf", "a" -> 3.0),
      histLine("/sf", "a" -> 4.0),
      histLine("/sf", "a" -> 5.0))              // newest
    val t = Bench.trailingMedians(lines, "/sf", window = 5)
    assert(t("a") == 3.0, t) // median of newest five: 1..5
    assert(t("b") == 2.0, t) // only two entries: mean of 1 and 3
    assert(Bench.trailingMedians(lines, "/nowhere").isEmpty)
  }

  test("trailingMedians: error entries and malformed lines skip; spread medians never leak in") {
    val lines = Seq(
      "not json at all",
      """{"queries":{"a":1.0}""", // no sf tag: ignored
      histLine("/sf", "a" -> 2.0, "bad" -> "error:SparkException"),
      histLine("/sf", "a" -> 4.0))
    val t = Bench.trailingMedians(lines, "/sf")
    assert(t == Map("a" -> 3.0), t) // the error row contributes nothing
    // the spread object in histLine carries "median":99.0 under query
    // key "a" context — it must NOT be parsed as a query sample
    assert(!t.values.exists(_ == 99.0))
  }

  test("crossWindowSuspect: >2.5x trailing AND multi-second") {
    assert(Bench.crossWindowSuspect(6.07, 1.26))   // the r10 cdc artifact
    assert(!Bench.crossWindowSuspect(2.70, 1.20))  // 2.25x: inside tolerance
    assert(Bench.crossWindowSuspect(2.70, 0.56))   // the r10 ivf artifact
    assert(!Bench.crossWindowSuspect(0.9, 0.1))    // sub-second job floor: never
    assert(!Bench.crossWindowSuspect(1.0, 0.5))    // 2x: fine
  }

  private def suspectLine(sf: String, qVal: Double, suspects: String*): String = {
    val s = suspects.map(k => "\"" + k + "\":{\"median\":9.0,\"trailing\":1.0}")
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":1.0,"unit":"sec","queries":{"a":$qVal,"b":1.0},"spread":{},"passes":3,"errors":[],"suspect":$s,"sf":"$sf"}"""
  }

  test("suspectKeys: nested suspect entries parse; absent/empty objects are empty") {
    assert(Bench.suspectKeys(suspectLine("/sf", 1.0, "a", "cdc_x")) == Set("a", "cdc_x"))
    assert(Bench.suspectKeys(suspectLine("/sf", 1.0)).isEmpty)
    assert(Bench.suspectKeys(histLine("/sf", "a" -> 1.0)).isEmpty) // pre-r11 line
    assert(Bench.suspectKeys("garbage").isEmpty)
  }

  test("trailingMedians excludes suspect-flagged values (no self-poisoning baseline)") {
    // three contaminated runs flag 'a' at 9.0; the clean runs say 1.0 —
    // the trailing median must stay at the clean value
    val lines = Seq(
      suspectLine("/sf", 1.0),
      suspectLine("/sf", 9.0, "a"),
      suspectLine("/sf", 9.0, "a"),
      suspectLine("/sf", 9.0, "a"),
      suspectLine("/sf", 1.2))
    val t = Bench.trailingMedians(lines, "/sf")
    assert(t("a") == 1.1, t)  // median of the two clean samples only
    assert(t("b") == 1.0, t)  // unflagged query keeps every line
  }

  test("trailingMedians accepts a persistent stable slowdown as the new baseline") {
    // a REAL committed >=2.5x change: every new run flags suspect at a
    // tight mutual spread — after 3 consecutive such runs the values
    // are accepted, so the baseline re-converges instead of latching
    // the row as 'contaminated' forever
    val lines = Seq(
      suspectLine("/sf", 1.0),
      suspectLine("/sf", 9.0, "a"),
      suspectLine("/sf", 9.2, "a"),
      suspectLine("/sf", 8.8, "a")) // newest three: all suspect, spread 9.2/8.8
    val t = Bench.trailingMedians(lines, "/sf")
    assert(t("a") == (8.8 + 9.0) / 2, t) // median of 1.0, 9.0, 9.2, 8.8
    // WIDE spread across the suspect runs = still contamination: excluded
    val noisy = Seq(
      suspectLine("/sf", 1.0),
      suspectLine("/sf", 4.0, "a"),
      suspectLine("/sf", 9.0, "a"),
      suspectLine("/sf", 13.0, "a"))
    assert(Bench.trailingMedians(noisy, "/sf")("a") == 1.0)
    // all-suspect history with no stable tail: the query drops out
    // entirely rather than reporting a poisoned median
    val allSus = Seq(suspectLine("/sf", 9.0, "a"), suspectLine("/sf", 2.0, "a"))
    assert(!Bench.trailingMedians(allSus, "/sf").contains("a"))
    assert(Bench.trailingMedians(allSus, "/sf")("b") == 1.0)
  }

  test("refuseOverwrite: drifted window never replaces a clean BENCH_FULL") {
    val okArtifact = Some("""{"metric":"total","drift":{"ratio":1.02,"verdict":"ok"}}""")
    val driftedArtifact = Some("""{"metric":"total","drift":{"ratio":1.17,"verdict":"drifted"}}""")
    val preVerdictArtifact = Some("""{"metric":"total","queries":{"a":1.0}}""")
    // the refusal path: fresh drifted vs committed clean
    assert(Bench.refuseOverwrite(okArtifact, "drifted"))
    // a clean fresh window always lands, whatever is on disk
    assert(!Bench.refuseOverwrite(okArtifact, "ok"))
    assert(!Bench.refuseOverwrite(driftedArtifact, "ok"))
    // drifted-over-drifted / drifted-over-legacy / first run: replace —
    // refusing would pin a bad or missing record forever
    assert(!Bench.refuseOverwrite(driftedArtifact, "drifted"))
    assert(!Bench.refuseOverwrite(preVerdictArtifact, "drifted"))
    assert(!Bench.refuseOverwrite(None, "drifted"))
    // insufficient-history verdicts are not drifted: never refuse
    assert(!Bench.refuseOverwrite(okArtifact, "insufficient-history"))
  }

  test("the Streaming tag splits the parity rows from the batch suite") {
    val streaming = Catalog.tagged(Catalog.Tag.Streaming).map(_.name).toSet
    assert(streaming == Set(
      "stream_window_parity", "stream_upsert_parity", "stream_dedup_parity",
      "stream_dedup_state_parity", "stream_interval_join_parity",
      "stream_session_parity", "stream_topk_ngrams_parity",
      "stream_contamination_parity", "stream_quality_gate_parity",
      "stream_sft_gate_parity", "stream_mojibake_parity",
      "stream_takedown_parity", "stream_drift_parity",
      "stream_calibration_parity", "stream_kmv_sketch_parity",
      "stream_novelty_admit_parity"))
    assert(!streaming("q1_pricing_summary"))
    assert(!streaming("sessionize")) // batch sessionize, not a replay
  }

  private def stderrOf[A](body: => A): (Either[Throwable, A], String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val r = Console.withErr(buf)(try Right(body) catch { case t: Throwable => Left(t) })
    (r, buf.toString("UTF-8"))
  }

  test("suspectRetry samples while the row stays suspect, up to its cap") {
    val (r, log) = stderrOf(Bench.suspectRetry("row_a", max = 3)(_.size < 2)(() => 1.5))
    assert(r == Right(Seq(1.5, 1.5)) && log.isEmpty)
    val (capped, _) = stderrOf(Bench.suspectRetry("row_a", max = 3)(_ => true)(() => 1.5))
    assert(capped == Right(Seq(1.5, 1.5, 1.5)))
  }

  test("suspectRetry: a non-fatal sample failure keeps earlier samples and logs row + class") {
    var n = 0
    val (r, log) = stderrOf(Bench.suspectRetry("row_b", max = 3)(_ => true) { () =>
      n += 1
      if (n == 2) throw new IllegalStateException("boom") else 2.0
    })
    assert(r == Right(Seq(2.0)))
    assert(log.contains("row_b") && log.contains("IllegalStateException"), log)
  }

  test("suspectRetry: fatal errors and interrupts propagate") {
    val (oom, _) = stderrOf(Bench.suspectRetry("row_c", max = 3)(_ => true)(
      () => throw new OutOfMemoryError("test")))
    assert(oom.left.exists(_.isInstanceOf[OutOfMemoryError]))
    val (intr, log) = stderrOf(Bench.suspectRetry("row_c", max = 3)(_ => true)(
      () => throw new InterruptedException("test")))
    assert(intr.left.exists(_.isInstanceOf[InterruptedException]))
    assert(log.isEmpty, log)
  }

  test("driftVerdict: uniform slow window flags; quiet window passes; probes abstain") {
    val trailing = (1 to 12).map(i => s"q$i" -> 1.0).toMap
    // uniformly 1.3x slow — no row trips the 2.5x suspect guard, but the
    // suite total is 30% over: exactly the r11 blind spot
    val slow = trailing.map { case (k, v) => k -> v * 1.3 }
    val Some((f, t, ratio, over)) = Bench.driftVerdict(slow, trailing)
    assert(math.abs(ratio - 1.3) < 1e-9 && ratio > 1.15, (f, t, ratio))
    assert(over == 12, "every >=0.3s row is individually over 1.25x")
    // same-speed window: ratio ~1, not drifted
    val Some((_, _, r2, o2)) = Bench.driftVerdict(trailing, trailing)
    assert(r2 == 1.0 && o2 == 0)
    // a 5-row SPARK_GRAFT_ONLY probe can't judge the suite
    assert(Bench.driftVerdict(slow.take(5), trailing).isEmpty)
    // sub-0.3s rows never count toward the breadth count (absolute jitter)
    val tiny = (1 to 12).map(i => s"q$i" -> 0.1).toMap
    val Some((_, _, r3, o3)) = Bench.driftVerdict(
      tiny.map { case (k, v) => k -> v * 2.0 }, tiny)
    assert(r3 == 2.0 && o3 == 0, (r3, o3))
  }
}
