package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.operators.Geocode

/** The benchmark's in-process geocoder: deterministic answers, no
  * sleep, no network. Every lookup, hit and transient failure is
  * counted (local mode: executors share this JVM).
  *
  * Coverage model, per provider:
  *  - a house provider answers only house-level queries (`<n>號`). It
  *    never knows a building whose number ends in 7 (about 10% of the
  *    roster — these fall through to the street ladder), and otherwise
  *    answers `keepPct` percent of queries by a salted hash;
  *  - the street provider answers only road-level queries (no house
  *    number), `keepPct` percent of them.
  * A salted `failPct` percent of queries throws on its first attempt,
  * so `RateLimited.withRetry` retries it (zero delay). */
object Resolver {
  val lookups = new AtomicLong
  val hits = new AtomicLong
  val retries = new AtomicLong
  private val failedOnce = ConcurrentHashMap.newKeySet[String]()

  private val HouseNo = "(\\d+)號".r

  def reset(): Unit = {
    Seq(lookups, hits, retries).foreach(_.set(0L))
    failedOnce.clear()
  }

  private def pct(s: String): Int =
    (java.lang.Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(s), 1000)) / 10

  final case class SimProvider(name: String, salt: String, keepPct: Int,
                               street: Boolean, failPct: Int = 2)
      extends Geocode.GeoProvider {
    def minIntervalMs: Long = 0L
    override def baseDelayMs: Long = 0L

    def lookup(q: String): Option[(Double, Double)] = {
      lookups.incrementAndGet()
      if (pct(s"fail:$salt:$q") < failPct && failedOnce.add(s"$name:$q")) {
        retries.incrementAndGet()
        throw new RuntimeException(s"$name: transient failure")
      }
      val house = HouseNo.findAllMatchIn(q).map(_.group(1)).toSeq.lastOption
      val known = if (street) house.isEmpty
                  else house.exists(n => !n.endsWith("7"))
      if (known && pct(s"$salt:$q") < keepPct) {
        hits.incrementAndGet()
        val h = java.lang.Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(salt + q),
          1000000)
        Some((22.0 + (h % 3000) / 1000.0, 120.0 + (h / 3000 % 2000) / 1000.0))
      } else None
    }
  }

  /** primary misses 30% of the candidates it covers; the backup answers
    * half of those */
  def houseChain(seed: Long): Seq[Geocode.GeoProvider] = Seq(
    SimProvider("opencage-sim", s"p$seed", 70, street = false),
    SimProvider("nominatim-sim", s"b$seed", 50, street = false))

  def streetChain(seed: Long): Seq[Geocode.GeoProvider] = Seq(
    SimProvider("street-sim", s"s$seed", 70, street = true))
}
