package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

import graft.ops.{Articles, DataGen}
import graft.streaming.{KinesisEnvelope, Pipelines, StreamSource}

/** The engine's streaming execution path, end to end — the semantics the
  * reference exercises in production (`/root/reference/app/process_articles.py:53-91`)
  * run here as real StreamingQueries: watermark (W1), append-mode finalization
  * (W3), late-data drop (W4), state-store recovery across restarts (W5),
  * Trigger.AvailableNow lifecycle (W6), parquet sink + checkpoint exactly-once
  * (S2/S4), and the MemoryStream / file-dir / rate StreamSource impls (S1).
  */
class StreamingSpec extends AnyFunSuite with SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Producer-shaped article JSON (`populate_stream.py:73-80`). */
  private def artJson(author: String, publishDate: String, words: Int): String = {
    val content = (1 to words).map(i => s"w$i").mkString(" ")
    s"""{"article_id":"a-$author-$publishDate","title":"t one two","author":"$author","publish_date":"$publishDate","content":"$content"}"""
  }

  private var seq = 0L
  private def env(author: String, publishDate: String, words: Int): KinesisEnvelope = {
    seq += 1
    KinesisEnvelope.ofJson(artJson(author, publishDate, words), seq, ts("2024-01-01 00:00:00"))
  }

  /** The reference pipeline's batch twin on the same envelope rows — what the
    * streaming run must reproduce exactly (same watermark model: finalized =
    * window_end <= max(event time) - 10s).
    */
  private def batchTwin(rows: Seq[KinesisEnvelope]): Set[(Timestamp, Timestamp, String, Double)] = {
    import spark.implicits._
    val df = spark.createDataset(rows).toDF()
    collectWindows(Articles.pipeline(df))
  }

  private def collectWindows(df: DataFrame): Set[(Timestamp, Timestamp, String, Double)] =
    df.select("start", "end", "author", "average_word_count")
      .collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getString(2), r.getDouble(3)))
      .toSet

  private def readOut(path: String): Set[(Timestamp, Timestamp, String, Double)] =
    collectWindows(spark.read.schema(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("start", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("end", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("author", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("average_word_count", org.apache.spark.sql.types.DoubleType)
      ))).parquet(path))

  /** A seeded article backlog as parquet envelopes, and its batch twin. */
  private def backlog(n: Long): (String, Set[(Timestamp, Timestamp, String, Double)]) = {
    val dir = tmpDir("stream-backlog")
    DataGen.articles(spark, n).write.mode("overwrite").parquet(dir)
    (dir, collectWindows(Articles.pipeline(spark.read.parquet(dir))))
  }

  /** One AvailableNow drain of `envDir` into a fresh sink; (run id, sink). */
  private def drain(session: SparkSession, envDir: String): (java.util.UUID, String) = {
    val out = tmpDir("stream-drain-out")
    val q = Pipelines.articlesToParquet(session, StreamSource.FileEnvelopeSource(envDir),
      out, tmpDir("stream-drain-ckpt"))
    q.awaitTermination()
    (q.runId, out)
  }

  private val isolationKey = SessionBridge.IsolationKey

  // -------------------------------------------------------------------------

  test("W1/W3/W4: watermark drops fully-late rows; append emits finalized windows once (MemoryStream)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val ms = MemoryStream[KinesisEnvelope]
    val out = tmpDir("stream-out")
    val ckpt = tmpDir("stream-ckpt")
    val q = Pipelines.toParquet(Articles.pipeline(ms.toDF()), out, ckpt,
      Trigger.ProcessingTime(0))

    // batch 1: three alice articles inside 10:00-10:02.
    val b1 = Seq(
      env("alice", "2024-01-01T10:00:00", 3),
      env("alice", "2024-01-01T10:00:30", 5),
      env("alice", "2024-01-01T10:02:00", 7))
    ms.addData(b1)
    q.processAllAvailable()

    // batch 2: a fully-late bob row (all its windows end 09:51-09:55, far
    // behind the watermark 10:01:50) that MUST be dropped, plus a flush row.
    val late = env("bob", "2024-01-01T09:50:00", 100)
    val flush1 = env("carol", "2024-01-01T10:30:00", 1)
    ms.addData(Seq(late, flush1))
    q.processAllAvailable()

    // batch 3: advance the watermark past every alice window end.
    val flush2 = env("carol", "2024-01-01T10:30:05", 1)
    ms.addData(Seq(flush2))
    q.processAllAvailable()
    q.stop()

    val got = readOut(out)
    val expected = batchTwin(b1 ++ Seq(flush1, flush2)) // late row excluded
    assert(got == expected)
    assert(!got.exists(_._3 == "bob"), "fully-late row must be dropped (W4)")
    assert(got.exists(_._3 == "alice"), "finalized alice windows must be emitted")
    assert(!got.exists(_._3 == "carol"), "open carol windows must NOT be emitted yet (W3)")
  }

  test("W6/S2/S4: Trigger.AvailableNow file source == batch twin; restart on same checkpoint re-emits nothing") {
    import spark.implicits._
    val envDir = tmpDir("stream-env")
    val out = tmpDir("stream-out2")
    val ckpt = tmpDir("stream-ckpt2")

    val b1 = Seq(
      env("alice", "2024-01-01T10:00:00", 3),
      env("alice", "2024-01-01T10:00:30", 5),
      env("dave", "2024-01-01T10:02:00", 7),
      env("carol", "2024-01-01T10:30:00", 2)) // flush: finalizes the 10:0x windows
    spark.createDataset(b1).toDF().coalesce(1).write.mode("append").parquet(envDir)

    def runOnce(): Unit = {
      val q = Pipelines.articlesToParquet(spark,
        StreamSource.FileEnvelopeSource(envDir), out, ckpt, Trigger.AvailableNow())
      q.awaitTermination()
    }

    runOnce()
    val afterRun1 = readOut(out)
    assert(afterRun1 == batchTwin(b1),
      "AvailableNow drain must equal the batch twin (watermark = max - 10s)")
    assert(afterRun1.nonEmpty)

    // Restart on the same checkpoint with no new data: exactly-once means the
    // sink's commit log prevents any re-emission.
    runOnce()
    assert(readOut(out) == afterRun1, "restart with no new data must append nothing (S4)")

    // New file arrives; restart recovers windowed state from the checkpoint
    // (W5) and finalizes carol's 10:30 windows exactly once.
    val b2 = Seq(env("erin", "2024-01-01T10:40:30", 4))
    spark.createDataset(b2).toDF().coalesce(1).write.mode("append").parquet(envDir)
    runOnce()
    assert(readOut(out) == batchTwin(b1 ++ b2),
      "state recovered across restart; newly-finalized windows appended once")
  }

  test("W7: starting-position semantics — fresh checkpoint replays the full retained backlog (TRIM_HORIZON twin), resumed checkpoint only the new data") {
    import spark.implicits._
    val envDir = tmpDir("w7-env")
    val ckpt1 = tmpDir("w7-ckpt1")

    // "retained stream history": two article batches already in the store
    // before any consumer exists
    val history = Seq(
      env("alice", "2024-01-01T10:00:00", 3),
      env("dave", "2024-01-01T10:02:00", 7),
      env("carol", "2024-01-01T10:30:00", 2))
    spark.createDataset(history).toDF().coalesce(1).write.mode("append").parquet(envDir)

    // the parquet sink's metadata log binds a checkpoint to ONE output dir,
    // so a resume must reuse both
    def drain(out: String, ckpt: String): Set[(Timestamp, Timestamp, String, Double)] = {
      val q = Pipelines.articlesToParquet(spark,
        StreamSource.FileEnvelopeSource(envDir), out, ckpt, Trigger.AvailableNow())
      q.awaitTermination()
      readOut(out)
    }

    // TRIM_HORIZON: a consumer with NO prior checkpoint starts from the
    // earliest retained record — the pre-existing backlog fully contributes
    val out1 = tmpDir("w7-out1")
    val fresh = drain(out1, ckpt1)
    assert(fresh == batchTwin(history) && fresh.nonEmpty,
      "fresh checkpoint must consume the entire retained backlog")

    // resume-from-position: the same checkpoint skips everything already
    // consumed — only windows finalized by newly-arrived records are added
    val more = Seq(env("erin", "2024-01-01T10:40:30", 4))
    spark.createDataset(more).toDF().coalesce(1).write.mode("append").parquet(envDir)
    assert(drain(out1, ckpt1) == batchTwin(history ++ more),
      "resumed checkpoint appends only the newly-finalized windows")

    // a SECOND fresh consumer created after the new data still replays the
    // whole retained stream from the horizon
    assert(drain(tmpDir("w7-out2"), tmpDir("w7-ckpt2")) == batchTwin(history ++ more),
      "a later fresh consumer replays the full retained history")
  }

  test("dead-letter channel: malformed payloads quarantined with raw data; idempotent restart") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val envDir = tmpDir("dl-env")
    val good = tmpDir("dl-good")
    val bad = tmpDir("dl-bad")
    val ckpt = tmpDir("dl-ckpt")
    seq += 1
    val badEnv = KinesisEnvelope.ofJson("{definitely not json", seq, ts("2024-01-01 00:00:00"))
    val rows = Seq(
      env("alice", "2024-01-01T10:00:00", 3),
      badEnv,
      env("dave", "2024-01-01T10:02:00", 7))
    spark.createDataset(rows).toDF().coalesce(1).write.mode("append").parquet(envDir)

    def run(): Unit = {
      val q = Pipelines.articlesWithDeadLetter(spark,
        StreamSource.FileEnvelopeSource(envDir), good, bad, ckpt)
      q.awaitTermination()
    }

    run()
    val g = spark.read.parquet(good)
    assert(g.count() == 2 && g.where(col("article_id").isNull).count() == 0,
      "good sink holds exactly the parseable articles")
    val b = spark.read.parquet(bad).collect()
    assert(b.length == 1 && b.head.getAs[String]("raw_data").startsWith("{definitely"),
      "quarantined row carries the raw payload for replay")

    // restart with no new data: batch replay overwrites its own partition,
    // nothing duplicates
    run()
    assert(spark.read.parquet(good).count() == 2 && spark.read.parquet(bad).count() == 1)

    // new data lands under a new batch_id without touching old partitions
    spark.createDataset(Seq(env("erin", "2024-01-01T10:40:00", 4))).toDF()
      .coalesce(1).write.mode("append").parquet(envDir)
    run()
    assert(spark.read.parquet(good).count() == 3)
    assert(spark.read.parquet(bad).count() == 1)
  }

  test("S1: rate source synthesizes parseable producer-shaped articles") {
    val src = StreamSource.RateEnvelopeSource(rowsPerSecond = 500)
    val parsed = Articles.enrich(Articles.parse(src.load(spark)))
    assert(parsed.isStreaming)
    val q = parsed.writeStream.format("memory").queryName("rate_smoke")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      Thread.sleep(1500)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("rate_smoke")
    assert(rows.count() >= 1)
    val r = rows.selectExpr("min(word_count)", "count(distinct author)").head()
    assert(r.getInt(0) >= 1, "content tokenized to >=1 words")
    assert(r.getLong(1) >= 1L)
  }

  test("soak: continuous processing-time trigger — >=3 real micro-batches, cross-batch late data, per-batch observe metrics") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._

    // The reference runs the pipeline on the DEFAULT processing-time trigger
    // under `spark.streams.awaitAnyTermination()` (`process_articles.py:85-93`)
    // — here the trigger fires on its own clock (100 ms), data arrives
    // asynchronously across batch boundaries, and each micro-batch's observe
    // metrics are read from the listener like a production monitor would.
    val ms = MemoryStream[KinesisEnvelope]
    val out = tmpDir("soak-out")
    val ckpt = tmpDir("soak-ckpt")
    val observed = Articles.avgWordCountByAuthor(
      Articles.enrich(graft.streaming.StreamOps.withParseMetrics(
        Articles.parse(ms.toDF()))))

    final case class BatchObs(batchId: Long, inputRows: Long,
        nRows: Long, nNullTime: Long, nUnparsed: Long)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchObs]()
    @volatile var qid: java.util.UUID = null
    val listener = new StreamingQueryListener {
      override def onQueryStarted(event: QueryStartedEvent): Unit = ()
      override def onQueryProgress(event: QueryProgressEvent): Unit = {
        val p = event.progress
        if (p.id == qid) {
          val om = p.observedMetrics.get("parse_metrics")
          batches.add(BatchObs(p.batchId, p.numInputRows,
            if (om != null) om.getLong(0) else 0L,
            if (om != null) om.getLong(1) else 0L,
            if (om != null) om.getLong(2) else 0L))
        }
      }
      override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.resetTerminated()
    spark.streams.addListener(listener)
    val q = Pipelines.toParquet(observed, out, ckpt,
      Trigger.ProcessingTime("100 milliseconds"))
    qid = q.id
    try {
      def totalInput: Long = batches.asScala.map(_.inputRows).sum
      def waitUntil(cond: => Boolean, what: String, timeoutMs: Long = 60000): Unit = {
        val t0 = System.currentTimeMillis()
        while (!cond) {
          assert(q.exception.isEmpty, s"query failed: ${q.exception}")
          assert(System.currentTimeMillis() - t0 < timeoutMs, s"timed out waiting for $what")
          // the reference's blocking-loop shape: awaitAnyTermination with a
          // bounded wait instead of a bare sleep
          spark.streams.awaitAnyTermination(100)
        }
      }

      // batch 1: alice activity inside 10:00-10:02
      val b1 = Seq(
        env("alice", "2024-01-01T10:00:00", 3),
        env("alice", "2024-01-01T10:00:30", 5),
        env("alice", "2024-01-01T10:02:00", 7))
      ms.addData(b1)
      waitUntil(totalInput >= 3, "micro-batch 1 consumed")

      // batch 2: watermark-advancing flush + a malformed payload (visible
      // only in the parse metrics, never in the sink)
      seq += 1
      val malformed = KinesisEnvelope.ofJson("{not json", seq, ts("2024-01-01 00:00:00"))
      val flush1 = env("carol", "2024-01-01T10:30:00", 1)
      ms.addData(Seq(flush1, malformed))
      waitUntil(totalInput >= 5, "micro-batch 2 consumed")

      // batch 3: bob arrives AFTER the watermark left him behind (every bob
      // window ends by 10:10 << 10:29:50) — the cross-batch late-data drop —
      // plus a second flush that finalizes carol's 10:30 windows.
      val lateBob = env("bob", "2024-01-01T10:05:00", 50)
      val flush2 = env("carol", "2024-01-01T10:40:30", 1)
      ms.addData(Seq(lateBob, flush2))
      waitUntil(totalInput >= 7, "micro-batch 3 consumed")

      // the no-data batch after the last watermark advance finalizes carol's
      // 10:30 windows — wait for the sink to converge to the batch twin
      val expected = batchTwin(b1 ++ Seq(flush1, flush2)) // late + malformed excluded
      waitUntil(readOut(out) == expected, "finalized windows match the batch twin")

      val obs = batches.asScala.toVector
      assert(obs.count(_.inputRows > 0) >= 3, s"expected >=3 real micro-batches, got $obs")
      assert(obs.map(_.nRows).sum == 7, "observe metrics count every parsed input row")
      assert(obs.map(_.nUnparsed).sum == 1, "malformed payload visible in per-batch metrics")
      assert(obs.map(_.nNullTime).sum == 1, "null event time visible in per-batch metrics")
      assert(!readOut(out).exists(_._3 == "bob"), "cross-batch late row dropped (W4)")
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("streaming session windows: gap-merged sessions finalize via watermark (append)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[KinesisEnvelope]
    val out = tmpDir("sess-out")
    val ckpt = tmpDir("sess-ckpt")
    val sessions = graft.ops.Windowing.sessionAgg(
      Articles.enrich(Articles.parse(ms.toDF())),
      "publish_date", gap = "1 minute", watermarkDelay = Some("10 seconds"),
      keys = Seq(org.apache.spark.sql.functions.col("author")),
      aggs = Seq(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("word_count")).cast("long").as("w")))
      .select("window_start", "window_end", "author", "n", "w")
    val q = Pipelines.toParquet(sessions, out, ckpt, Trigger.ProcessingTime(0))

    // alice: two events 30s apart (one merged session), then one 4.5 min
    // later (gap > 1 min -> a second session)
    ms.addData(Seq(
      env("alice", "2024-01-01T10:00:00", 3),
      env("alice", "2024-01-01T10:00:30", 5),
      env("alice", "2024-01-01T10:05:00", 7)))
    q.processAllAvailable()
    // watermark flush: zed far in the future finalizes both alice sessions;
    // zed's own session stays open and must NOT be emitted
    ms.addData(Seq(env("zed", "2024-01-01T11:00:00", 1)))
    q.processAllAvailable()
    ms.addData(Seq(env("zed", "2024-01-01T11:00:05", 1)))
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(out)
      .collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSet
    val expected = Set(
      // merged session: start = first event, end = last event + gap
      (ts("2024-01-01 10:00:00"), ts("2024-01-01 10:01:30"), "alice", 2L, 8L),
      (ts("2024-01-01 10:05:00"), ts("2024-01-01 10:06:00"), "alice", 1L, 7L))
    assert(got == expected,
      s"finalized gap-merged sessions only (open zed session withheld): $got")
  }

  test("consecutive drains on one session share the codegen cache: the second compiles nothing") {
    val (envDir, twin) = backlog(2000)
    val progressed = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progressed.add(e.progress.runId)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val (run1, out1) = drain(spark, envDir)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (run2, out2) = drain(spark, envDir)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      assert(compiled == 0L,
        s"the second drain of the same plan compiled $compiled classes: its executor class loader is not the first's")
      assert(readOut(out1) == twin && twin.nonEmpty)
      assert(readOut(out2) == twin)
      // the queries stay on the caller's StreamingQueryManager
      val deadline = System.currentTimeMillis() + 10000
      while (!(progressed.contains(run1) && progressed.contains(run2)) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(progressed.contains(run1) && progressed.contains(run2),
        "a listener on the caller's spark.streams must see progress of both queries")
    } finally spark.streams.removeListener(listener)
  }

  test("concurrent starts on one session leave the caller's isolation setting as it was") {
    val (envDir, twin) = backlog(1000)
    val original = spark.conf.getAll.get(isolationKey)
    try {
      Seq(Some("true"), None).foreach { preset =>
        preset.fold(spark.conf.unset(isolationKey))(spark.conf.set(isolationKey, _))
        val before = spark.conf.getAll.get(isolationKey)
        assert(before == preset)
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        val sinks = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val threads = (1 to 2).map { _ =>
          new Thread(() => {
            try { barrier.await(); sinks.add(drain(spark, envDir)._2) }
            catch { case t: Throwable => errors.add(t) }
          })
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
        assert(errors.isEmpty, s"preset $preset: ${errors.toArray.mkString("; ")}")
        assert(sinks.size == 2)
        sinks.forEach(out => assert(readOut(out) == twin, s"preset $preset: sink $out"))
        assert(spark.conf.getAll.get(isolationKey) == before,
          s"preset $preset: the caller's $isolationKey changed")
      }
    } finally original.fold(spark.conf.unset(isolationKey))(spark.conf.set(isolationKey, _))
  }

  test("a session holding artifacts keeps the isolated stream path; the caller's conf never changes") {
    val (envDir, twin) = backlog(500)
    /** Drain on `session`; the isolation setting of the stream's own session. */
    def streamIsolation(session: SparkSession): String = {
      val before = session.conf.getAll.get(isolationKey)
      val out = tmpDir("stream-guard-out")
      val q = Pipelines.articlesToParquet(session, StreamSource.FileEnvelopeSource(envDir),
        out, tmpDir("stream-guard-ckpt"))
      q.awaitTermination()
      assert(session.conf.getAll.get(isolationKey) == before, "the caller's conf changed")
      assert(readOut(out) == twin)
      SessionBridge.streamSession(q).conf.get(isolationKey)
    }

    val plain = spark.newSession()
    assert(!SessionBridge.holdsSessionArtifacts(plain))
    assert(streamIsolation(plain) == "false")

    val jar = java.nio.file.Paths.get(tmpDir("stream-guard-jar"), "graft-probe.jar")
    val jos = new java.util.jar.JarOutputStream(java.nio.file.Files.newOutputStream(jar))
    try {
      jos.putNextEntry(new java.util.jar.JarEntry("graft-probe.txt"))
      jos.write("probe".getBytes("UTF-8"))
      jos.closeEntry()
    } finally jos.close()
    val withJar = spark.newSession()
    withJar.addArtifact(jar.toString)
    assert(SessionBridge.holdsSessionArtifacts(withJar))
    assert(streamIsolation(withJar) == "true")
  }

  test("streaming plan carries EventTimeWatermark + stateful aggregation (W1/W5)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[KinesisEnvelope]
    val df = Articles.pipeline(ms.toDF())
    assert(df.isStreaming)
    val analyzed = df.queryExecution.analyzed.toString()
    assert(analyzed.contains("EventTimeWatermark"), "watermark must be declared on the streaming path")
    assert(analyzed.contains("Aggregate"), "windowed aggregation present")
  }
}
