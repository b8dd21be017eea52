package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Html, Norm}
import graft.io.WrappedExport
import graft.operators.{Dedup, Geocode, MergeOps, SchemaRules, Validate}
import graft.sources.PagedIngest

/** The reference's day N: paged yes/no quota dumps → parse and clean →
  * first-wins dedup → yes/no merge → carry coordinates from yesterday's
  * snapshot (phone, then URL domain) → geocode against the warm cache →
  * validate → publish per county, national, CSV and the dated snapshot.
  *
  * `prepare` runs the same day on yesterday's dumps with an empty cache
  * and no previous snapshot (the program's own day-1 path). */
object DailyRefresh extends Workload {
  private val pageSchema = StructType(Seq(
    StructField("id", StringType), StructField("county", StringType),
    StructField("html", StringType), StructField("address", StringType),
    StructField("phone", StringType), StructField("this_week", StringType),
    StructField("in_4_weeks", StringType), StructField("county_total", LongType)))
  private val keys = Seq("id", "county", "county_total", "org_name", "url", "domain",
    "address", "phone")
  private val prevSchema = StructType(Seq(StructField("phone", StringType),
    StructField("domain", StringType), StructField("lat", DoubleType),
    StructField("lng", DoubleType)))

  private def quotaSet(spark: SparkSession, t: Tracer, dir: String, quota: Boolean) = {
    val raw = t.boundary("sources")(PagedIngest.readPages(spark, dir, pageSchema))
    val html = Html.unescapeEntities(col("html"))
    val parsed = t.boundary("functions")(raw.select(col("id"), col("county"),
      col("county_total"),
      Html.anchorText(html).as("org_name"),
      Html.anchorHref(html).as("url"),
      Norm.urlDomain(Html.anchorHref(html)).as("domain"),
      col("address"),
      Norm.phoneDigits(Html.sentinelToNull(col("phone"), "無")).as("phone"),
      Norm.safeLong(col("this_week")).as("this_week"),
      Norm.safeLong(col("in_4_weeks")).as("in_4_weeks"),
      lit(quota).as("has_quota"), col("_page")))
    t.boundary("operators.dedup")(
      Dedup.firstPerKey(parsed, Seq("id"), Seq(col("_page"))).drop("_page"))
  }

  /** one day end to end; returns the published roster */
  def day(spark: SparkSession, t: Tracer, a: Args, dayDir: String, prevSnap: String,
          cacheDir: String, batchId: Long, outDir: String): DataFrame = {
    val yes = quotaSet(spark, t, s"$dayDir/yes", quota = true)
    val no = quotaSet(spark, t, s"$dayDir/no", quota = false)
    val merged = t.boundary("operators.merge")(
      MergeOps.mergeMax(yes, no, keys, Seq("this_week", "in_4_weeks"), Seq("has_quota"))
        .select(keys.map(col) ++ Seq(col("max_this_week").as("this_week"),
          col("max_in_4_weeks").as("in_4_weeks"), col("any_has_quota").as("has_quota")): _*))
    val prev = WrappedExport.readSnapshotOrEmpty(spark, prevSnap, prevSchema)
      .select(col("phone").as("p_phone"), col("domain").as("p_domain"), col("lat"), col("lng"))
    val carried = t.boundary("operators.diff_merge")(MergeOps.diffMergeCarry(merged, prev,
      Seq("phone" -> "p_phone", "domain" -> "p_domain"), Seq("lat", "lng")))
    val published = t.span("operators.geocode") {
      val geo = Geocode.dailyGeocode(carried.select(col("id"), col("address")), "id",
        "address", cacheDir, batchId)(Geocode.providerChain(Resolver.houseChain(a.seed)))
      val p = carried.join(geo.select(col("id"), col("lat").as("g_lat"),
          col("lng").as("g_lng"), col("source")), "id")
        .select(col("id"), col("county"), col("county_total"), col("org_name"),
          col("domain"), col("address"), col("phone"), col("this_week"),
          col("in_4_weeks"), col("has_quota"),
          coalesce(col("lat"), col("g_lat")).as("lat"),
          coalesce(col("lng"), col("g_lng")).as("lng"),
          col("source"), col("matched_by"))
        .persist() // read by validation and four publishes
      graft.util.CacheRegistry.register(p)
      p.count()
      p
    }
    t.span("operators.validate") {
      val schemaJson = Main.readText(s"${a.input}/schema.json")
      val bad = SchemaRules.validateTypes(schemaJson, published.schema)
      require(bad.isEmpty, s"schema/type mismatches: ${bad.mkString("; ")}")
      Validate.constraintReport(published, SchemaRules.compile(schemaJson))
        .write.mode("overwrite").json(s"$outDir/violations")
      Validate.checkTotals(published, "county", "county_total")
        .write.mode("overwrite").json(s"$outDir/totals_mismatch")
    }
    t.span("io.publish") {
      val rows = published.drop("county_total")
      WrappedExport.wrappedJson(rows, "county", s"$outDir/by_county")
      WrappedExport.wrappedJson(rows.withColumn("scope", lit("national")), "scope",
        s"$outDir/national")
      WrappedExport.partitionedCsv(rows, "county", s"$outDir/csv")
      WrappedExport.snapshot(rows, s"$outDir/snap", s"day$batchId")
    }
    published
  }

  override def prepare(spark: SparkSession, a: Args): Unit = {
    day(spark, new Tracer(spark, false), a, s"${a.input}/day1", s"${a.state}/snap/current",
      s"${a.state}/cache", 0L, a.state)
    graft.util.CacheRegistry.releaseAll()
  }

  override def reset(a: Args): Unit = {
    Seq(a.out, s"${a.work}/state").foreach(Main.delete)
    Main.copy(s"${a.work}/state_start", s"${a.work}/state")
  }

  def run(spark: SparkSession, t: Tracer, a: Args): RunResult = {
    val cache = s"${a.work}/state/cache"
    val t0 = System.nanoTime()
    val published = day(spark, t, a, s"${a.input}/day2", s"${a.work}/state/snap/current",
      cache, 1L, a.out)
    val runS = (System.nanoTime() - t0) / 1e9
    if (t.detailed) layers(spark, t, a, published, cache)
    graft.util.CacheRegistry.releaseAll()
    RunResult(runS)
  }

  private def layers(spark: SparkSession, t: Tracer, a: Args, published: DataFrame,
                     cache: String): Unit = {
    val n = published.count().toDouble
    val files = Main.dataFiles(s"${a.input}/day2")
    t.put("sources.files", files.size)
    val parsed = t.rowsOut("functions").toDouble
    t.put("operators.dedup.dup_ratio", 1.0 - t.rowsOut("operators.dedup") / parsed)
    val by = published.groupBy("matched_by").count().collect()
      .map(r => Option(r.getString(0)).getOrElse("") -> r.getLong(1)).toMap
    t.put("operators.diff_merge.carried_ratio", (n - by.getOrElse("", 0L)) / n)
    t.put("operators.diff_merge.by_domain", by.getOrElse("domain", 0L).toDouble)
    GeocodeBackfill.geocodeLayers(spark, t, published.select("id", "address"),
      published.filter(col("source") === "cache").count(),
      published.filter(col("source").isNull).count(), 0L, 0L)
    // today's cache write-back: snapshot 1 (yesterday's rows plus the
    // new hits) and the copy of it at `current`
    val rows = Seq(0, 1).map(i => spark.read.parquet(s"$cache/snapshots/$i").count())
    val snapBytes = Main.dirBytes(s"$cache/snapshots/1")
    val written = snapBytes + Main.dirBytes(s"$cache/current")
    t.put("streaming.snapshot.bytes_written", written)
    t.put("streaming.snapshot.write_amplification",
      written / (snapBytes * (rows(1) - rows(0)).max(1L).toDouble / rows(1)))
    val v = spark.read.json(s"${a.out}/violations").agg(sum("violations")).first()
    t.put("operators.validate.violations", if (v.isNullAt(0)) 0.0 else v.getLong(0).toDouble)
    val pub = Main.dataFiles(a.out).filterNot(_.toString.contains("/violations/"))
      .filterNot(_.toString.contains("/totals_mismatch/"))
    t.put("io.publish.files", pub.size)
    t.put("io.publish.bytes_written", pub.map(java.nio.file.Files.size).sum.toDouble)
  }
}
