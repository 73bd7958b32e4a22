package graft

import org.scalatest.funsuite.AnyFunSuite

/** The persisted PQ/IVF index stores are written PARTITIONED (multiple
  * part files, vec_id-hash distributed) — the 100 TB fact-table layout
  * VERDICT r15 #5 asked for — while serving stays a map-side scan over
  * the multi-file store (exchange budgets pinned by PlanAuditSpec).
  */
class PqStoreLayoutSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  /** Per-store part-file counts (one store dir exists per SF dir key —
    * count within each, never across).
    */
  private def partsPerStore(prefix: String): Seq[Int] = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    tmp.listFiles().filter(_.getName.startsWith(prefix)).toSeq
      .map(_.listFiles().count(_.getName.startsWith("part-")))
  }

  test("pq codes store is multi-file; the codebook stays single-file") {
    val served = SparkEntry.queries("l26b_ann_pq_served")(spark, sf)
    assert(served.count() > 0)
    val codes = partsPerStore("graft-pq-codes-")
    assert(codes.nonEmpty && codes.forall(_ > 1),
      s"codes stores must be partitioned fact-table writes, got $codes")
    val codebook = partsPerStore("graft-pq-codebook-")
    assert(codebook.nonEmpty && codebook.forall(_ === 1),
      s"the 16-row codebook is a dimension, got $codebook")
  }

  test("ivfpq composite store is multi-file and l34 still serves from it") {
    val served = SparkEntry.queries("l34_ann_ivfpq_served")(spark, sf)
    assert(served.count() > 0)
    val perStore = partsPerStore("graft-pq-ivfpq-")
    assert(perStore.nonEmpty && perStore.forall(_ > 1), s"got $perStore")
  }

  test("a store written by a different SQL text at the same corpus path " +
    "is not reused") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-corpus")
    def ids(sql: String): Seq[Long] =
      queries.LlmQueries.pqIndexStore(spark, dir.toString, "keyspec", sql,
        singleFile = true).collect().map(_.getLong(0)).toSeq
    try {
      assert(ids("SELECT CAST(1 AS BIGINT) AS vec_id") === Seq(1L))
      assert(ids("SELECT CAST(2 AS BIGINT) AS vec_id") === Seq(2L))
    } finally {
      val tmp = new java.io.File(sys.props("java.io.tmpdir"))
      (tmp.listFiles().filter(_.getName.startsWith("graft-pq-keyspec-")) :+
        dir.toFile).foreach { d =>
        Option(d.listFiles).getOrElse(Array.empty).foreach(_.delete())
        d.delete()
      }
    }
  }
}
