package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's scale-oriented defaults.
  *
  * Local runs use `local[n]`; on a real cluster the same confs apply —
  * AQE handles runtime partition coalescing and skew-join splitting so
  * the static `shuffle.partitions` value is only an upper bound for the
  * small-SF test runs (the driver mandates 32, not the 200 default).
  */
object Sessions {

  /** Confs applied to any session the engine builds. Safe on a cluster:
    * AQE re-plans at runtime, so these are floors/ceilings, not guesses.
    */
  val engineConfs: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // Lenient casts (pandas errors='coerce' parity — SURVEY §2.8 F2/F3);
    // the engine still prefers explicit try_* functions everywhere.
    "spark.sql.ansi.enabled" -> "false",
    // events.parquet carries TIMESTAMP(NANOS) which Spark has no native
    // type for; read as nanos-long and let Tables.events normalize.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Parquet vectorized reads + pushdown are defaults, pinned for clarity.
    "spark.sql.parquet.filterPushdown" -> "true",
    "spark.sql.parquet.aggregatePushdown" -> "true",
    // RocksDB state store for stateful streaming (bundled in Spark 4):
    // the default HDFSBackedStateStoreProvider keeps EVERY key's state
    // on the executor heap — at production keyspaces (per-user funnel/
    // retention state over 100 TB of events) heap state is the first
    // thing to die. RocksDB spills to local disk with bounded memory,
    // and changelog checkpointing uploads per-batch deltas instead of
    // full snapshots. Stream==batch equality on this provider is
    // pinned by RocksDbStateSpec.
    //
    // MIGRATION NOTE — pre-existing checkpoints: the provider class is
    // baked into a streaming checkpoint's state format; a checkpoint
    // written by HDFSBackedStateStoreProvider will NOT restore under
    // RocksDB (Spark fails the query with a state-format mismatch
    // rather than corrupting state). To adopt these defaults for a
    // stream with an existing heap-provider checkpoint, either
    //   (a) keep that stream on its original provider by overriding
    //       spark.sql.streaming.stateStore.providerClass back to
    //       org.apache.spark.sql.execution.streaming.state
    //       .HDFSBackedStateStoreProvider for that session, or
    //   (b) re-bootstrap: point the query at a NEW checkpointLocation
    //       and replay the source from a position that rebuilds state
    //       (the txlog/file sources here retain full history, so a
    //       fresh start reproduces identical state downstream).
    // New checkpoints created under these defaults are RocksDB-format
    // and symmetrically will not restore under the heap provider.
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true",
    // Persistent NAME catalog for txlog tables (names as a directory
    // tree — survives the session/JVM; see graft.sources.TxLogCatalog).
    // `graft.db.t` resolves in any session carrying these two confs;
    // override spark.sql.catalog.graft.root to relocate the warehouse.
    "spark.sql.catalog.graft" -> "graft.sources.TxLogCatalog",
    "spark.sql.catalog.graft.root" ->
      sys.env.getOrElse("GRAFT_CATALOG_ROOT",
        s"${sys.props.getOrElse("user.dir", ".")}/spark-warehouse/graft"),
    // Generated-class cache (static conf; default 100). A driver cycling
    // through >100 distinct codegen'd plans — this engine's own 91-query
    // registry, or any long-lived production session — silently evicts
    // and repays full Janino compilation per re-execution; the
    // big-value-literal kernels (CentroidAssign) cost seconds per
    // recompile. A few MB of class metadata buys 100× headroom.
    "spark.sql.codegen.cache.maxEntries" -> "10000"
  )

  /** A `local[cores]` session. A JVM has one SparkContext: when a
    * session is already live, `getOrCreate` returns it with its master
    * unchanged, so the shuffle partitions follow that context's
    * parallelism rather than `cores`.
    */
  def local(cores: Int = Runtime.getRuntime.availableProcessors.min(32)): SparkSession = {
    val partitions = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
      .fold(cores)(_.sparkContext.defaultParallelism)
    val b = SparkSession
      .builder()
      .appName("graft")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      // the engine's full session surface: SQL functions, the txlog
      // DML/time-travel/maintenance statements, dynamic file pruning,
      // and CBO statistics — one seam, on by default (getOrCreate
      // applies extensions only when it actually creates the session)
      .withExtensions(new graft.plans.GraftExtensions)
    engineConfs.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
}
