package graft.functions

import org.apache.spark.sql.SparkSession

/** One-call registration of every graft function pack.
  *
  * The reference registers its whole function surface at server boot
  * (crates/runtime/src/mgmt.rs boot path) — a persisted object whose
  * definition references a function never races its registration. Graft
  * must match that contract: [[graft.exec.GraftSession]] replays persisted
  * CREATE scripts at construction (`restoreCatalog`), and a materialized
  * view whose SELECT uses `vec_dot` / `ngram_*` / `bloom_*` must resolve
  * at replay time, not only after the first query entry that happens to
  * register the pack ad hoc. Every pack's `register` is idempotent
  * (createOrReplaceTempFunction / udf.register overwrite); [[registerAll]]
  * runs them once per SparkSession: a second handle on a session leaves
  * the registry untouched, while each `newSession()`, whose registry
  * starts from the built-ins, gets its own registration.
  */
object GraftFunctions {
  /** Sessions whose registry holds every pack, held weakly. */
  private val registered = new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()

  def registerAll(spark: SparkSession): Unit = registered.synchronized {
    if (!registered.containsKey(spark)) {
      ClickHouseFunctions.register(spark)
      ChAggregates.register(spark)
      GraftUdafs.register(spark)
      BehaviorFunctions.register(spark)
      VectorFunctions.register(spark)
      NGramFunctions.register(spark)
      BloomFunctions.register(spark)
      SimhashFunctions.register(spark)
      WinnowFunctions.register(spark)
      registered.put(spark, true)
    }
  }

  /** Lowercased names of every function the CH packs register — the
    * `is_ch_pack` flag in system.functions.
    */
  lazy val registeredNames: Set[String] =
    (ClickHouseFunctions.functions.map(_._1) ++
      ChAggregates.functions.map(_._1))
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
}
