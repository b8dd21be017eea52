package graft

import org.scalatest.funsuite.AnyFunSuite

import Catalog.Tag._

/** The row catalog's metadata, checked without running any row: names
  * are unique, and the tag sets and the maps SparkEntry derives from the
  * catalog match the snapshot taken from the registries it replaced
  * (`catalog_snapshot.txt`): the same names, the same smoke order, and
  * the same SHA-256 for every oracle SQL string. */
class CatalogSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private lazy val snapshot: Seq[Array[String]] = {
    val src = scala.io.Source.fromResource("catalog_snapshot.txt", getClass.getClassLoader)
    try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#")).map(_.split(' ')).toList
    finally src.close()
  }
  private def names(kind: String): Seq[String] = snapshot.filter(_(0) == kind).map(_(1))

  /** names given to more than one row: a derived Map keeps only one of
    * them, so the other row would silently vanish from Verify and Bench */
  private def duplicates(rows: Seq[Catalog.Row]): Set[String] =
    rows.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }.toSet

  test("row names are unique") {
    val rows = Catalog.rows
    assert(duplicates(rows).isEmpty)
    assert(duplicates(rows :+ rows.last) == Set(rows.last.name)) // the check sees one
  }

  test("derived maps and tag sets keep the snapshot's names; smoke keeps its run order") {
    assert(SparkEntry.queries.keySet == names("queries").toSet)
    assert(SparkEntry.benchExtras.keySet == names("bench_extras").toSet)
    assert(Catalog.tagged(Bench).map(_.name).toSet ==
      (names("queries") ++ names("bench_extras")).toSet)
    assert(Catalog.tagged(Smoke).map(_.name) == names("smoke"))
    assert(Catalog.tagged(PlanPinned).map(_.name).toSet == names("plan_pinned").toSet)
    assert(Catalog.tagged(Streaming).map(_.name).toSet == names("streaming").toSet)
  }

  test("every oracle SQL string is byte-identical to the snapshot") {
    val want = snapshot.filter(_(0) == "oracle").map(a => a(1) -> a(2)).toMap
    val got = SparkEntry.oracleSql
    assert(got.keySet == want.keySet)
    // pca_project's oracle interpolates the basis its demo fitted in
    // this JVM, and the snapshot was taken before any fit; once another
    // suite has run that demo, the row must still answer the generator
    // verbatim
    val pcaSql = graft.oracle.OracleGen.pcaProjectSql()
    val pcaFitted = sha256(pcaSql) != want("pca_project")
    def same(k: String, sql: String): Boolean =
      if (k == "pca_project" && pcaFitted) sql == pcaSql else sha256(sql) == want(k)
    val moved = got.collect { case (k, sql) if !same(k, sql) => k }
    assert(moved.isEmpty, s"oracle SQL changed for: ${moved.toSeq.sorted.mkString(", ")}")
  }
}
