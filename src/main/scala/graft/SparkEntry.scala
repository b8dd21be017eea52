package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Analytics

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** Every oracle-gated row. This map, `benchExtras` and `oracleSql`
    * are derived from [[Catalog]] and keep the names, types and
    * contents Verify and Bench read. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.rows.collect { case r if r.oracle.isDefined => r.name -> r.build }.toMap

  /** Bench-only paths: production configurations whose hash functions
    * have no DuckDB counterpart (so no oracle row), benchmarked
    * alongside their oracle-portable twins. */
  def benchExtras: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.tagged(Catalog.Tag.Bench).collect {
      case r if r.oracle.isEmpty => r.name -> r.build
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    Catalog.rows.flatMap(r => r.oracle.map(r.name -> _)).toMap
}
