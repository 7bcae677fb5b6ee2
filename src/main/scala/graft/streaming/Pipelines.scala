package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import graft.ops.Articles

/** End-to-end streaming execution of the reference pipeline — the part of
  * `/root/reference/app/process_articles.py` the operator library alone
  * doesn't cover: `writeStream` in append mode to a parquet sink with a
  * checkpoint (`process_articles.py:85-91`), driven by a trigger.
  *
  * Semantics delivered by the engine (and asserted in StreamingSpec):
  *  - W1  watermark: 10 s on `publish_date` (inside `Articles.pipeline`);
  *  - W3  append mode: a (window × author) row is emitted exactly once, only
  *        after the watermark passes the window end;
  *  - W4  late data: rows whose every window is already finalized are dropped;
  *  - W5  state: the windowed sum/count state lives in the checkpoint's state
  *        store and survives query restarts;
  *  - W6  trigger: `Trigger.AvailableNow` drains the backlog then stops (the
  *        deterministic stand-in for the reference's default microbatch loop);
  *  - S2/S4 parquet sink + checkpoint: exactly-once file output via the sink's
  *        commit log — restarting on the same checkpoint re-emits nothing.
  *
  * Every query here starts through [[start]], so consecutive queries of one
  * session share one executor class loader and one codegen cache.
  */
object Pipelines {

  private val startLock = new Object

  /** Start `ds`'s stream, configured by `writer`, on the caller's session.
    *
    * `start()` clones the caller's session for the stream. With artifact
    * isolation on (Spark's default), the clone gets its own artifact UUID,
    * executors build a new class loader for it, and the codegen cache —
    * keyed by (class loader, code) — recompiles every generated class of a
    * plan it has already compiled for the previous query. So while the
    * caller's session holds no session-scoped artifacts, isolation is
    * switched off on the caller's session around the synchronous `start()`
    * only: the clone copies `false`, and its jobs run on the shared
    * default loader. The lock covers save/set/start/restore, so concurrent
    * starts cannot interleave and leave `false` behind; the previous value
    * is restored, or unset, afterwards. A session holding artifacts keeps
    * the isolated path, so a stream never loses a class its caller added.
    * The query stays on the caller's `spark.streams`.
    */
  private def start[T](ds: Dataset[T])(
      writer: DataStreamWriter[T] => DataStreamWriter[T]): StreamingQuery = {
    val w = writer(ds.writeStream)
    val spark = ds.sparkSession
    if (SessionBridge.holdsSessionArtifacts(spark)) w.start()
    else startLock.synchronized {
      val key = SessionBridge.IsolationKey
      val prev = spark.conf.getAll.get(key)
      spark.conf.set(key, "false")
      try w.start()
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  /** Run `Articles.pipeline` (parse → enrich → windowed avg per author) from
    * `source` to a parquet directory. Returns the started query; callers own
    * `awaitTermination`/`stop`.
    */
  def articlesToParquet(
      spark: SparkSession,
      source: StreamSource,
      outPath: String,
      checkpointPath: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    toParquet(Articles.pipeline(source.load(spark)), outPath, checkpointPath, trigger)

  /** Generic append-mode parquet writer for any finalized streaming frame. */
  def toParquet(
      df: DataFrame,
      outPath: String,
      checkpointPath: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    start(df)(_
      .outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger))

  /** Parse with a dead-letter side channel: parsed article rows stream to
    * `goodPath`, rows whose payload failed to parse (null `article_id` after
    * PERMISSIVE from_json — the reference's silent failure mode) stream to
    * `badPath` with their raw payload, for replay after a parser fix.
    *
    * One source, two sinks = `foreachBatch`: each micro-batch writes BOTH
    * outputs into `batch_id=<id>` partition directories with dynamic
    * partition overwrite, so a replayed batch (restart after a crash between
    * the two writes) overwrites its own partition instead of duplicating —
    * idempotence comes from the (checkpoint batch id × overwrite) pair, the
    * standard exactly-once recipe for multi-sink foreachBatch.
    */
  def articlesWithDeadLetter(
      spark: SparkSession,
      source: StreamSource,
      goodPath: String,
      badPath: String,
      checkpointPath: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import org.apache.spark.sql.functions.{col, from_json, lit, try_to_timestamp}
    // Articles.parse drops the envelope payload; the dead-letter channel
    // must keep it, so the parse steps run here with raw_data carried along.
    val withRaw = source.load(spark)
      .select(col("data").cast("string").as("raw_data"))
      .select(col("raw_data"), from_json(col("raw_data"), Articles.payloadSchema).as("article"))
      .select(col("raw_data"), col("article.*"))
      .withColumn("publish_date", try_to_timestamp(col("publish_date")))
    start(withRaw)(_
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // Per-write option, NOT a session-conf toggle: a concurrent query on
        // the same session must never observe a temporarily-dynamic mode.
        val stamped = batch.withColumn("batch_id", lit(batchId))
        stamped.where(col("article_id").isNotNull)
          .drop("raw_data")
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(goodPath)
        stamped.where(col("article_id").isNull)
          .select(col("raw_data"), col("batch_id"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(badPath)
        ()
      })
  }

  /** Streaming ANN-index maintenance — the daily-ingest encode+append path
    * ([[graft.ops.AnnIndex.encode]]/[[graft.ops.AnnIndex.append]], q394) as
    * an actual stream: each micro-batch of vectors encodes against the
    * FROZEN stored model (per-row deterministic, zero training) and lands
    * as posting-list rows in a codes-delta table partitioned by `batch_id`
    * with dynamic partition overwrite — the [[articlesWithDeadLetter]]
    * idempotence recipe, so a replayed batch overwrites itself instead of
    * duplicating. The serving index is `stored codes ∪ delta codes`; since
    * encode is per-row deterministic, that union equals a from-scratch
    * re-encode (q394's hash proof; StreamOpsSpec pins the streaming
    * transport == the batch twin row for row). The model frames ride frozen
    * in the closure — a mid-stream retrain is structurally impossible,
    * which is the point: retrain = new [[graft.ops.AnnIndex.build]] and a
    * new query.
    *
    * Operational contract: `deltaPath` and `checkpointPath` are created and
    * cleared TOGETHER (a fresh checkpoint over a deltaPath holding other
    * batches' partitions fails fast at batch 0 — see the in-batch guard);
    * and the delta accretes one batch_id partition per micro-batch, so fold
    * it into the cluster layout periodically with
    * [[graft.ops.AnnIndex.compact]] (between stream runs) to keep the
    * serve path's partition pruning (q399/q400).
    */
  def annIndexMaintenance(
      vectors: DataFrame,
      id: org.apache.spark.sql.Column,
      vec: org.apache.spark.sql.Column,
      idx: graft.ops.IvfPqIndex,
      deltaPath: String,
      checkpointPath: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import org.apache.spark.sql.functions.lit
    start(vectors)(_
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // The ownership marker is maintained on EVERY batch, not only batch
        // 0: compact consumes the delta directory WITH its marker, so when
        // the stream resumes after a compaction (batchId > 0) the rebuilt
        // delta would otherwise carry no ownership and compact's commit-log
        // verification — the guard against folding a mid-batch death's
        // partial partition — would silently never apply again after the
        // first compact cycle. Any batch that finds the marker absent (or
        // empty: crash between create and close under the old non-atomic
        // write) re-stamps it.
        //
        // deltaPath and checkpointPath must still be created/cleared
        // TOGETHER: a fresh checkpoint (first batch ever) over a deltaPath
        // that already holds a previous stream's partitions would silently
        // union — or dynamically overwrite — that stream's un-compacted
        // rows. A replay of THIS stream's batch 0 (crash before the commit)
        // must still pass, and batchId alone cannot tell the two apart, so
        // the marker (`_`-prefixed: invisible to parquet readers) records
        // the checkpoint path. Marker from a different checkpoint ⇒ foreign
        // delta, fail (any batch). No marker but batch_id residue at batch
        // 0 ⇒ unowned leftovers (including a lone batch_id=0 from a
        // one-batch stream), fail; at batch > 0 residue is THIS stream's
        // own accretion (or a post-compact rebuild), so only the re-stamp
        // applies.
        {
          val dp = new org.apache.hadoop.fs.Path(deltaPath)
          val fs = dp.getFileSystem(batch.sparkSession.sessionState.newHadoopConf())
          val marker = new org.apache.hadoop.fs.Path(dp, "_graft_delta_owner")
          val existingOwner =
            if (fs.exists(marker)) {
              val in = fs.open(marker)
              try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
            } else ""
          if (existingOwner.nonEmpty) {
            require(existingOwner == checkpointPath,
              s"annIndexMaintenance: deltaPath $deltaPath is owned by checkpoint " +
                s"'$existingOwner' but this stream runs on '$checkpointPath' — " +
                "create/clear deltaPath and checkpointPath together")
          } else {
            if (batchId == 0L) {
              val stale =
                if (fs.exists(dp)) fs.listStatus(dp).map(_.getPath.getName)
                  .filter(_.startsWith("batch_id="))
                else Array.empty[String]
              require(stale.isEmpty,
                s"annIndexMaintenance: fresh checkpoint (batch 0) but deltaPath $deltaPath " +
                  s"already holds unowned ${stale.sorted.mkString(", ")} from a previous " +
                  "stream — create/clear deltaPath and checkpointPath together")
            }
            if (!fs.exists(dp)) fs.mkdirs(dp)
            // write-then-RENAME (atomic on HDFS/local): a crash mid-write
            // leaves only a tmp file, never a truncated marker, so the
            // legitimate batch-0 replay re-stamps cleanly
            val tmp = new org.apache.hadoop.fs.Path(dp, "._graft_delta_owner.tmp")
            val out = fs.create(tmp, true)
            try out.write(checkpointPath.getBytes("UTF-8")) finally out.close()
            if (fs.exists(marker)) fs.delete(marker, false) // empty residue
            require(fs.rename(tmp, marker),
              s"annIndexMaintenance: could not move ownership marker into place at $marker")
          }
        }
        graft.ops.AnnIndex.encode(batch, id, vec, idx)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(deltaPath)
        ()
      })
  }

  /** Streaming ingest INTO a [[graft.ops.SnapTables]] snapshot table — each
    * micro-batch publishes as one atomic generation flip
    * ([[graft.ops.SnapTables.appendBatch]]), so downstream readers never see
    * a half-written batch: they serve generation N until N+1's pointer
    * rename lands, and a reader mid-plan keeps its own generation (the
    * serve-during-ingest guarantee [[annIndexMaintenance]]'s batch_id-delta
    * layout only gets after a compact). Exactly-once comes from the
    * manifest's `#batch` high-water mark: the one crash window the
    * checkpoint alone cannot close (publication flipped, checkpoint commit
    * log not yet written) replays into a recognized no-op.
    *
    * `xform` runs INSIDE `foreachBatch` on the materialized batch — full
    * batch API (windows, aggregations, joins), for per-batch derivations a
    * streaming frame cannot express (e.g. winnow fingerprinting, which
    * windows over each document's own k-grams). Exactly-once holds for any
    * deterministic per-batch `xform`; it must emit `partCol`. The table must
    * already be published ([[graft.ops.SnapTables.publishInitial]] — an
    * empty base frame bootstraps a from-stream table); single writer per
    * table, as everywhere in the layer.
    */
  def snapshotIngest(
      rows: DataFrame,
      path: String,
      partCol: String,
      checkpointPath: String,
      xform: DataFrame => DataFrame = identity,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    start(rows)(_
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // checkpointPath doubles as the stream identity: the manifest
        // records it, so a swapped/reset checkpoint is refused instead of
        // its batch ids being misread against another stream's high-water
        // mark (the ownership-marker stance, in-manifest)
        graft.ops.SnapTables.appendBatch(batch.sparkSession, path, partCol,
          xform(batch.toDF()), batchId, streamId = Some(checkpointPath))
        ()
      })
}
