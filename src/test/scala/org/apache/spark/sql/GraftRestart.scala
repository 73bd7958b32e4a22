package org.apache.spark.sql

/** Restarts for specs: a SparkSession with its own `SharedState` — an
  * empty in-memory catalog and so a new engine state — over a warehouse,
  * which is what a fresh JVM boots into. The SparkContext is shared; the
  * default and active sessions are left alone, so suites running beside a
  * restart keep their own catalog.
  */
object GraftRestart {
  private val WarehouseKey = "spark.sql.warehouse.dir"

  /** A fresh catalog over `spark`'s warehouse: the next `GraftSession` on
    * it replays the warehouse's `_graft_meta`. */
  def restart(spark: SparkSession): SparkSession =
    withOwnCatalog(spark, spark.conf.get(WarehouseKey))

  /** A fresh catalog over a new, empty warehouse: a spec that boots here
    * and then [[restart]]s replays only its own objects, never another
    * suite's. */
  def isolated(spark: SparkSession): SparkSession = {
    val dir = java.nio.file.Files.createTempDirectory("graft-restart-wh")
    sys.addShutdownHook(rmTree(dir.toFile))
    withOwnCatalog(spark, dir.toUri.toString)
  }

  private def withOwnCatalog(spark: SparkSession, warehouse: String): SparkSession = {
    val sc = spark.sparkContext
    val before = sc.conf.getOption(WarehouseKey)
    val opts = new java.util.HashMap[String, String]()
    opts.put(WarehouseKey, warehouse)
    val s = new classic.SparkSession(sc, opts)
    // building a SharedState writes its warehouse back into the context's
    // conf; restore it so sessions built later resolve theirs as before
    try require(!(s.sharedState eq spark.sharedState),
      "a restarted session must own its SharedState")
    finally before.fold(sc.conf.remove(WarehouseKey))(sc.conf.set(WarehouseKey, _))
    s
  }

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(rmTree)
    f.delete(): Unit
  }
}
