package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Norm
import graft.operators.Geocode

/** Cold geocode backfill: every address expands and reaches the
  * resolver, every hit is written to an empty cache. The ladder:
  * house-level candidates through a two-provider chain
  * (`dailyGeocode`), street-centroid candidates for what that misses,
  * the county centroid for the rest; `validateAndRank` picks one hit
  * per row and the result lands as parquet. */
object GeocodeBackfill extends Workload {
  private val levels = Seq("address", "street", "county")

  def run(spark: SparkSession, t: Tracer, a: Args): RunResult = {
    val t0 = System.nanoTime()
    val rows = t.boundary("sources")(spark.read.schema("id LONG, address STRING, county STRING")
      .json(s"${a.input}/addresses.jsonl").select("id", "address"))
    val ranked = t.span("operators.geocode") {
      val house = Geocode.dailyGeocode(rows, "id", "address", s"${a.work}/cache", 0L)(
          Geocode.providerChain(Resolver.houseChain(a.seed)))
        .filter(col("source").isNotNull)
        .select(col("id").as("hit_id"), lit(0).as("seq"), col("matched_query").as("formatted"),
          col("lat"), col("lng"))
        .localCheckpoint(true)
      val missed = rows.join(house, col("id") === col("hit_id"), "left_anti")
      val cands = Geocode.streetCentroidCandidates(missed, "id", "address")
      val answers = Geocode.providerChain(Resolver.streetChain(a.seed))(
        cands.select("candidate"))
      val street = cands.join(answers, "candidate")
        .groupBy(col("id"))
        .agg(min(struct(col("try_order"), col("candidate"), col("lat"), col("lng"))).as("b"))
        .select(col("id").as("hit_id"), lit(1).as("seq"), col("b.candidate").as("formatted"),
          col("b.lat"), col("b.lng"))
        .localCheckpoint(true)
      val county = missed.join(street, col("id") === col("hit_id"), "left_anti")
        .select(col("id").as("hit_id"), lit(2).as("seq"),
          Norm.parseCounty(Norm.foldTai(Norm.stripSpaces(Norm.stripPostal(
            Norm.stripParens(col("address")))))).as("_cty"))
        .join(broadcast(Geocode.centroidTable(spark)), col("_cty") === col("cc_county"))
        .select(col("hit_id"), col("seq"), col("cc_county").as("formatted"),
          col("cc_lat").as("lat"), col("cc_lng").as("lng"))
      // checkpointed: every level derives from `rows`, which
      // validateAndRank joins again
      val hits = house.unionByName(street).unionByName(county).localCheckpoint(true)
      t.boundary("operators.geocode")(Geocode.validateAndRank(rows, "id", "address", None,
          hits.withColumn("comp", lit("")), "hit_id", "seq", Seq("comp"), "formatted",
          "lat", "lng")
        .select(col("id"), element_at(typedLit(levels), col("best_seq") + 1).as("resolution"),
          col("expected_county"), col("county_ok"), col("lat"), col("lng")))
    }
    t.span("io.publish") {
      ranked.write.mode("overwrite").parquet(s"${a.out}/geocoded")
    }
    val runS = (System.nanoTime() - t0) / 1e9
    if (t.detailed) {
      val res = spark.read.parquet(s"${a.out}/geocoded")
      val by = res.groupBy("resolution").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val n = rows.count()
      geocodeLayers(spark, t, rows, 0L, n - by.values.sum, by.getOrElse("street", 0L),
        by.getOrElse("county", 0L))
      val cache = s"${a.work}/cache"
      val written = Main.dirBytes(cache)
      t.put("streaming.snapshot.bytes_written", written)
      // a cold cache's every byte is a new hit: amplification is the
      // current-pointer copy over the snapshot itself
      t.put("streaming.snapshot.write_amplification",
        written.toDouble / Main.dirBytes(s"$cache/snapshots/0"))
      val files = Main.dataFiles(s"${a.out}/geocoded")
      t.put("io.publish.files", files.size)
      t.put("io.publish.bytes_written", files.map(java.nio.file.Files.size).sum.toDouble)
      t.put("sources.files", 1)
    }
    RunResult(runS)
  }

  /** the operators.geocode specifics shared with daily_refresh */
  def geocodeLayers(spark: SparkSession, t: Tracer, rows: DataFrame, cacheHits: Long,
                    unresolved: Long, street: Long, county: Long): Unit = {
    val n = rows.count().toDouble
    t.put("operators.geocode.candidates_per_row",
      Geocode.expand(rows, "id", "address").count() / n)
    t.put("operators.geocode.cache_hit_ratio", cacheHits / n)
    val calls = Resolver.lookups.get()
    t.put("operators.geocode.resolver_hit_ratio",
      if (calls == 0) 0.0 else Resolver.hits.get().toDouble / calls)
    t.put("operators.geocode.fallback_street", street)
    t.put("operators.geocode.fallback_county", county)
    t.put("operators.geocode.unresolved", unresolved)
  }

  override def reset(a: Args): Unit = Seq(a.out, s"${a.work}/cache").foreach(Main.delete)

  override def dump(spark: SparkSession, a: Args): Unit =
    spark.read.parquet(s"${a.out}/geocoded").write.mode("overwrite").json(s"${a.out}/check")
}
