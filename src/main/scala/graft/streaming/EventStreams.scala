package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Clean
import graft.sources.ParquetTable

/** Streaming semantics (SURVEY §2.9): the reference's chunked-HTTP
  * micro-batch ingest (T1), idempotent incremental replay (T2), and the
  * event-time windowed aggregations the engine adds over the `events`
  * stream — watermarks bound all state (SURVEY §7 hard-part #5).
  *
  * Batch/stream parity by construction: every transformation here is a
  * `DataFrame => DataFrame` that works on both batch and streaming
  * frames — the batch twin of [[windowedAgg]] backs oracle query
  * q16_event_window, so streaming correctness is anchored to the same
  * DuckDB-checked plan.
  */
object EventStreams {

  /** Tumbling event-time aggregation, shared batch/stream. */
  def windowedAgg(events: DataFrame, windowLen: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Watermarked streaming variant: state for windows older than the
    * watermark is evicted — bounded memory at any volume.
    */
  def windowedAggStream(events: DataFrame, windowLen: String,
      watermark: String): DataFrame =
    windowedAgg(events.withWatermark("ts", watermark), windowLen)

  /** Hopping (sliding) event-time aggregation, shared batch/stream:
    * overlapping windows of `windowLen` starting every `slide` — each
    * event lands in windowLen/slide windows (the q73 batch twin). Same
    * bounded-state story as tumbling: watermark eviction per window,
    * state volume ×(windowLen/slide).
    */
  def hoppingAgg(events: DataFrame, windowLen: String,
      slide: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Watermarked streaming hopping windows. */
  def hoppingAggStream(events: DataFrame, windowLen: String, slide: String,
      watermark: String): DataFrame =
    hoppingAgg(events.withWatermark("ts", watermark), windowLen, slide)

  /** Streaming dedup with bounded state: duplicates arriving within the
    * watermark horizon are dropped; state beyond it is evicted (the
    * streaming analogue of the insert-ignore key check — at 100 TB/day
    * an unbounded `dropDuplicates` state would OOM, this cannot).
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Stream-static enrichment: join a stream against a (slowly-changing)
    * dimension frame. Spark re-plans the static side per micro-batch, so
    * dimension updates between batches are picked up automatically; with
    * a broadcastable dimension each micro-batch pays zero shuffle.
    */
  def enrichStream(stream: DataFrame, dim: DataFrame,
      key: Seq[String]): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), key, "left")

  /** Time-bounded join body, shared batch/stream (SURVEY §2.9): left
    * rows matched to right rows satisfying `joinKey` with right's event
    * time in [left's, left's + within]. A plain DataFrame transformation
    * — the batch twin is oracle-checked as q43_interval_join; the
    * streaming variant is [[joinStreams]]. The equi part of `joinKey`
    * keeps the batch plan a shuffle hash/sort-merge join (never a
    * nested-loop product).
    */
  def intervalJoin(left: DataFrame, leftTs: String,
      right: DataFrame, rightTs: String,
      joinKey: org.apache.spark.sql.Column, within: String,
      joinType: String = "inner"): DataFrame =
    left.join(right, joinKey &&
      col(rightTs) >= col(leftTs) &&
      col(rightTs) <= col(leftTs) + expr(s"INTERVAL $within"), joinType)

  /** Stream-stream interval join: watermarks on BOTH sides plus the
    * two-sided time condition let Structured Streaming evict join state
    * older than watermark + interval — bounded state at any volume
    * (without them an inner stream-stream join buffers both streams
    * forever). `joinType` "left_outer" emits unmatched left rows
    * null-padded once the watermark passes their match horizon (the
    * same eviction bound makes the outer result decidable).
    */
  def joinStreams(left: DataFrame, right: DataFrame,
      joinKey: org.apache.spark.sql.Column,
      leftTs: String, rightTs: String, within: String,
      leftWatermark: String, rightWatermark: String,
      joinType: String = "inner"): DataFrame =
    intervalJoin(
      left.withWatermark(leftTs, leftWatermark), leftTs,
      right.withWatermark(rightTs, rightWatermark), rightTs,
      joinKey, within, joinType)

  /** Input/state/output records for stateful sessionization. */
  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(startUs: Long, lastUs: Long, n: Long, sum: Double)
  final case class SessionOut(user_id: Long, session_start_us: Long,
      n_events: Long, session_value: Double)

  /** Custom stateful sessionization via flatMapGroupsWithState (the
    * KeyValueGroupedDataset state API the brief calls for): per-user
    * sessions split on `gapMinutes` inactivity; a session is emitted
    * when a newer event closes it or when the event-time watermark
    * passes its horizon (timeout). State is one open session per user —
    * O(users) bounded, evicted by watermark timeouts.
    *
    * The batch twin of this logic is oracle-checked as q32_sessionize.
    */
  def sessionStream(events: org.apache.spark.sql.Dataset[SessionEvent],
      watermark: String, gapMinutes: Int): org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = gapMinutes.toLong * 60 * 1000000L
    implicit val stateEnc = org.apache.spark.sql.Encoders.product[SessionState]
    implicit val outEnc = org.apache.spark.sql.Encoders.product[SessionOut]
    implicit val longEnc = org.apache.spark.sql.Encoders.scalaLong

    def update(userId: Long, rows: Iterator[SessionEvent],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        return Iterator(SessionOut(userId, s.startUs, s.n, s.sum))
      }
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.value))
      var open = state.getOption
      val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
      sorted.foreach { e =>
        val tsUs = e.ts.getTime * 1000L
        open match {
          case Some(s) if tsUs - s.lastUs <= gapUs =>
            open = Some(s.copy(lastUs = math.max(s.lastUs, tsUs),
              n = s.n + 1, sum = s.sum + e.value))
          case Some(s) =>
            closed += SessionOut(userId, s.startUs, s.n, s.sum)
            open = Some(SessionState(tsUs, tsUs, 1, e.value))
          case None =>
            open = Some(SessionState(tsUs, tsUs, 1, e.value))
        }
      }
      open.foreach { s =>
        state.update(s)
        // close the session once the watermark passes its gap horizon
        state.setTimeoutTimestamp(s.lastUs / 1000L + gapMinutes.toLong * 60 * 1000L)
      }
      closed.iterator
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(update)
  }

  /** T1: the bulk-CSV micro-batch ingest as a real stream — file source
    * over a staged download dir, `Trigger.AvailableNow` (process all
    * pending files, then stop: exactly the reference's
    * "stream-until-EOF" loop), per-batch clean + insert-ignore upsert
    * via foreachBatch. The reference's duplicated tail-flush logic
    * (`initial_price_paid_data.py:149-174`) does not exist here — the
    * final partial batch is just another micro-batch.
    */
  /** @param maxFilesPerBatch bound each micro-batch to N source files —
    *   the backfill dial that keeps a terabyte-scale staged download
    *   from landing as one giant batch (commit granularity = retry
    *   granularity after a crash)
    * @param beforeCommit called with (batch, batchId) before the upsert
    *   — the fault-injection / metrics seam; a throw here aborts the
    *   micro-batch BEFORE any table write, which is exactly the crash
    *   window checkpoint recovery must handle (see EventStreamsSpec's
    *   kill-and-resume test)
    */
  def ingestPricePaidStream(
      spark: SparkSession,
      csvDir: String,
      schema: StructType,
      table: ParquetTable,
      checkpointDir: String,
      oxOnly: Boolean = true,
      maxFilesPerBatch: Option[Int] = None,
      beforeCommit: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery = {
    val raw0 = spark.readStream
      .schema(schema)
      .option("header", "false")
    val raw = maxFilesPerBatch
      .fold(raw0)(n => raw0.option("maxFilesPerTrigger", n))
      .csv(csvDir)
    raw.writeStream
      .queryName("price_paid_ingest")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        beforeCommit(batch, batchId)
        val cleaned0 = Clean.pricePaid(batch)
        val cleaned = if (oxOnly) Clean.oxfordOnly(cleaned0) else cleaned0
        table.insertIgnore(cleaned, Seq("transaction_unique_identifier"),
          sortCols = Seq("postcode"))
        ()
      }
      .start()
  }

  /** Streaming CDC → SCD Type 2 dimension history: each micro-batch of
    * change events folds into the persistent interval table via
    * [[graft.operators.ChangeCapture.scd2Merge]] (O(batch) work, full
    * history untouched past an anti-join) behind the atomic swap.
    *
    * Exactly-once across crash/replay: the foreachBatch batch id rides
    * in a marker file INSIDE the swapped table directory
    * ([[ParquetTable.overwriteAtomic]]'s `markers`), so the "did this
    * batch commit?" check and the data it committed are one atomic
    * rename — a re-delivered batch after a crash sees its own id
    * already recorded and no-ops. (Spark ignores underscore-prefixed
    * files in parquet dirs, so the marker is invisible to readers.)
    *
    * Batch ids are only monotone WITHIN one checkpoint lineage, so the
    * marker also records the streaming query id (stable across restarts
    * from the same checkpoint, fresh on a new one). The skip check
    * applies only when the lineage matches; a marker from a DIFFERENT
    * lineage means the checkpoint was reset or relocated while the
    * table was retained — silently trusting the old batch id there
    * would drop genuinely new data (new query restarts at batchId 0 ≤
    * applied), so the stream FAILS FAST instead and demands an explicit
    * rebuild. Operational rule: the table and its checkpoint are one
    * unit — delete both together, never just the checkpoint.
    *
    * Batches must respect scd2Merge's append-only discipline: per key,
    * event order must be monotone across batches (file-arrival sources
    * with event-time-ordered drops, or a watermarked upstream).
    *
    * @param srcDir arrival dir of parquet files with
    *   (keyCol, orderCols..., attrCol)
    */
  def scd2IngestStream(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      table: ParquetTable,
      checkpointDir: String,
      keyCol: String,
      orderCols: Seq[String],
      attrCol: String,
      maxFilesPerBatch: Option[Int] = None): StreamingQuery = {
    val raw0 = spark.readStream.schema(schema)
    val raw = maxFilesPerBatch
      .fold(raw0)(nf => raw0.option("maxFilesPerTrigger", nf))
      .parquet(srcDir)
    // The closure needs the query's stable id (checkpoint identity) but
    // the handle only exists once start() returns; batches run on the
    // stream thread, so a future completed right after start() hands it
    // over without racing batch 0.
    val queryId = new java.util.concurrent.CompletableFuture[String]()
    val query = raw.writeStream
      .queryName("scd2_ingest")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val qid = queryId.get(30, java.util.concurrent.TimeUnit.SECONDS)
        val lineage = table.marker("_graft_query_id").map(_.trim)
        val applied = table.marker("_graft_batch_id")
          .map(_.trim.toLong).getOrElse(-1L)
        // a batch-id marker with no lineage marker (table written before
        // lineage tracking, or a partially copied table) is just as
        // uncomparable as a mismatched lineage — skipping on it would
        // reintroduce the silent drop this guard exists for
        if (applied >= 0 && !lineage.contains(qid))
          throw new IllegalStateException(
            s"table has applied batch id $applied under lineage " +
            s"${lineage.getOrElse("<none recorded>")} but checkpoint " +
            s"$checkpointDir belongs to query $qid: the checkpoint was " +
            "reset/relocated (or the table predates lineage tracking) " +
            "while the table was retained. Batch ids are not comparable " +
            "across checkpoints — refusing to guess. Rebuild explicitly: " +
            "delete the table AND checkpoint together.")
        if (batchId > applied && !batch.isEmpty) {
          val merged =
            if (table.exists)
              graft.operators.ChangeCapture.scd2Merge(
                table.read(), batch, keyCol, orderCols, attrCol)
            else
              graft.operators.ChangeCapture.scd2(
                batch, keyCol, orderCols, attrCol)
          table.overwriteAtomic(merged,
            markers = Map(
              "_graft_batch_id" -> batchId.toString,
              "_graft_query_id" -> qid))
        }
        ()
      }
      .start()
    queryId.complete(query.id.toString)
    query
  }

  /** Quality-filtered streaming ingest: score each micro-batch with a
    * PRE-TRAINED fasttext-style model ([[graft.ext.HashedClassifier]])
    * and insert-ignore the passes into the corpus. The model rides
    * into the stream as a typed-literal value, scoring is a stateless
    * scan-stage projection, and the write is insert-ignore — so
    * checkpoint replay is idempotent exactly like
    * [[ingestPricePaidStream]]. Training happens offline on a labeled
    * sample (the [[graft.jobs.CorpusJobs]] learned_filter contract);
    * the stream only applies the model, which is why there is no
    * state store and no watermark here.
    */
  def qualityFilteredIngest(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      corpus: ParquetTable,
      checkpointDir: String,
      model: graft.ext.HashedClassifier.TextModel,
      keepProb: Double = 0.5,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxFilesPerBatch: Option[Int] = None): StreamingQuery = {
    val raw0 = spark.readStream.schema(schema)
    val raw = maxFilesPerBatch
      .fold(raw0)(nf => raw0.option("maxFilesPerTrigger", nf))
      .parquet(srcDir)
    raw.writeStream
      .queryName("quality_filtered_ingest")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val kept = graft.ext.HashedClassifier.predict(batch, textCol, model)
          .filter(col("prob") >= keepProb).drop("prob", "pred")
        corpus.insertIgnore(kept, Seq(idCol))
        ()
      }
      .start()
  }

  /** Micro-batch ingest onto the TRANSACTIONAL commit-log table
    * ([[graft.sources.TxLogTable]]) — the multi-writer upgrade of
    * [[ingestPricePaidStream]]'s rename-swap sink: each micro-batch
    * lands as one insert-ignore commit whose manifest carries the
    * (query id, batch id) marker ATOMICALLY with the data, so replay
    * after a crash re-lands the same rows as no-ops (insert-ignore)
    * AND the lineage is readable from the log itself. Because commits
    * are optimistic, a concurrent batch writer (compaction, another
    * ingest, a corpus merge) can interleave with the stream without a
    * swap window or lost update — the concurrent-corpus-build story
    * the single-writer table could not offer.
    */
  def txInsertIgnoreIngest(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      table: graft.sources.TxLogTable,
      checkpointDir: String,
      key: Seq[String],
      maxFilesPerBatch: Option[Int] = None): StreamingQuery = {
    table.ensureExists(schema)
    val raw0 = spark.readStream.schema(schema)
    val raw = maxFilesPerBatch
      .fold(raw0)(nf => raw0.option("maxFilesPerTrigger", nf))
      .parquet(srcDir)
    val queryId = scala.concurrent.Promise[String]()
    val query = raw.writeStream
      .queryName("tx_insert_ignore_ingest")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val qid = scala.concurrent.Await.result(
          queryId.future, scala.concurrent.duration.Duration.Inf)
        table.insertIgnore(batch, key, markers = Map(
          "_graft_batch_id" -> batchId.toString,
          "_graft_query_id" -> qid))
        ()
      }
      .start()
    queryId.complete(scala.util.Success(query.id.toString))
    query
  }

  /** Streaming near-duplicate-filtered document ingest — the
    * training-data production loop: documents arrive as files; each
    * micro-batch is deduplicated against the PERSISTENT MinHash index
    * (batch×corpus and batch×batch, via
    * [[graft.ext.MinHashDedup.incrementalNearDuplicates]]) and only
    * novel documents land in the corpus table, with their signatures
    * appended to the index. Old×old pairs are never re-examined, so
    * per-batch cost stays O(batch + collisions) no matter how large the
    * corpus grows.
    *
    * Idempotent replay (T2): both corpus and index writes are
    * [[ParquetTable.insertIgnore]] commits on the doc id, so a micro-batch
    * re-delivered after a crash re-lands the same rows as no-ops —
    * checkpoint + idempotent sink = exactly-once corpus state.
    *
    * Dedup rule: a batch doc near-dupping an already-landed corpus doc
    * ALWAYS loses, regardless of id order (the corpus is never
    * retro-edited; ids are user-assigned and need not be monotonic);
    * within a batch, the smallest id of a near-dup pair survives.
    *
    * @param srcDir   arrival dir of parquet files with (idCol, textCol)
    * @param corpus   table of surviving documents (full input schema)
    * @param index    MinHash index table: (id, hashes, sig)
    */
  def nearDupFilteredIngest(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      corpus: ParquetTable,
      index: ParquetTable,
      checkpointDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      threshold: Double = 0.5,
      n: Int = 3,
      maxFilesPerBatch: Option[Int] = None): StreamingQuery = {
    val raw0 = spark.readStream.schema(schema)
    val raw = maxFilesPerBatch
      .fold(raw0)(nf => raw0.option("maxFilesPerTrigger", nf))
      .parquet(srcDir)
    raw.writeStream
      .queryName("neardup_filtered_ingest")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        // A source batch can carry duplicate ids with differing text
        // (re-landed files, upstream retries). Pick ONE row per id
        // deterministically — min by the remaining columns — BEFORE the
        // pair computation and the corpus/index writes: otherwise the
        // corpus row (chosen by insert-ignore's dropDuplicates) and the
        // index signature (chosen by an independent dropDuplicates
        // inside the dedup) are two arbitrary picks that can disagree,
        // and the persisted signature would not describe the text that
        // actually landed.
        // nulls LAST: Spark's default asc ordering is nulls-first, which
        // would let a corrupt null-text retry deterministically beat the
        // real row for the same id
        val others = batch0.columns.filterNot(_ == idCol)
          .map(c => col(c).asc_nulls_last)
        val batch = batch0
          .withColumn("__rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col(idCol)).orderBy(others.toIndexedSeq: _*)))
          .filter(col("__rn") === 1).drop("__rn")
        val idx = index.read()
        val (pairs0, release) =
          graft.ext.MinHashDedup.incrementalNearDuplicatesManaged(
            batch, idx, idCol, textCol, threshold, n)
        // cached: the pair frame feeds three loser branches and the kept
        // frame feeds two table writes — uncached, the LSH band join +
        // verification would re-run up to ~6× per micro-batch
        val pairs = pairs0.cache()
        // corpus-partner pairs: the batch-side doc loses on EITHER side
        // of the (doc_a < doc_b) orientation; batch-internal pairs:
        // doc_b (the larger id) loses
        val corpusIds = idx.select(col("id"))
        val loseToCorpusA = pairs.join(
            corpusIds.withColumnRenamed("id", "doc_a"), Seq("doc_a"), "left_semi")
          .select(col("doc_b").as(idCol))
        val loseToCorpusB = pairs.join(
            corpusIds.withColumnRenamed("id", "doc_b"), Seq("doc_b"), "left_semi")
          .select(col("doc_a").as(idCol))
        val loseInBatch = pairs
          .join(corpusIds.withColumnRenamed("id", "doc_a"), Seq("doc_a"), "left_anti")
          .join(corpusIds.withColumnRenamed("id", "doc_b"), Seq("doc_b"), "left_anti")
          .select(col("doc_b").as(idCol))
        val losers = loseToCorpusA.unionByName(loseToCorpusB)
          .unionByName(loseInBatch).distinct()
        val kept = batch.join(losers, Seq(idCol), "left_anti").cache()
          // batch docs already in the corpus (exact re-delivery) are
          // dropped by insert-ignore below; near-dups by the pair join
        corpus.insertIgnore(kept, Seq(idCol))
        index.insertIgnore(
          graft.ext.MinHashDedup.indexFrame(kept, idCol, textCol, n), Seq("id"))
        // unpersist ALL per-batch caches or a long-running ingest
        // accumulates dead cached frames in storage memory
        kept.unpersist()
        pairs.unpersist()
        release()
        ()
      }
      .start()
  }
}
