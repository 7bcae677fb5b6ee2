package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one timed interval at a layer boundary. Spans of one op share
  * `op`; `parent` is resolved by interval containment when the trace ends,
  * because listener callbacks arrive on Spark's event bus after the fact.
  */
final case class Span(id: Long, var parent: Long, name: String,
  startMs: Double, endMs: Double, var op: Long)

/** The traced pass: Spark's public listener APIs plus the codegen compile
  * histogram, read from outside the engine. Ops are wrapped with [[op]];
  * every listener event becomes a span or a counter.
  */
final class Tracer(spark: SparkSession, spansPath: String) {
  private val ids = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private val batches = mutable.ArrayBuffer[Map[String, Double]]()
  private val blockSamples = mutable.ArrayBuffer[(Double, Double)]()
  @volatile private var phase = "warm"
  private val root = Span(0, -1, "workload", System.currentTimeMillis().toDouble, 0, 0)
  private val gc0 = gcMs()

  private def add(s: Span): Unit = spans.synchronized { spans += s }
  private def bump(k: String, v: Double): Unit = counters.synchronized { counters(k) += v }
  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  /** Cold ops are the first run of their code in this JVM. */
  def setPhase(p: String): Unit = phase = p

  /** Compile count and summed compile time. The histogram's reservoir holds
    * 1028 samples, so the difference of two sums is exact while the JVM has
    * compiled fewer classes than that.
    */
  private def codegen(): (Double, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount.toDouble, h.getSnapshot.getValues.map(_.toDouble).sum)
  }

  private val jobStarts = mutable.Map[Int, Long]()
  private val flushSeen = new java.util.concurrent.CountDownLatch(1)
  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.synchronized {
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == Tracer.FlushGroup))
        flushJob = Some(e.jobId)
      jobStarts(e.jobId) = e.time
      bump("scheduler.jobs", 1)
      bump("scheduler.stages", e.stageInfos.size)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0 = jobStarts.synchronized(jobStarts.remove(e.jobId))
      t0.foreach(t =>
        add(Span(ids.getAndIncrement(), -1, "spark.job", t.toDouble, e.time.toDouble, 0)))
      if (flushJob.contains(e.jobId)) flushSeen.countDown()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      bump("scheduler.tasks", 1)
      bump("executor.cpu_s", m.executorCpuTime / 1e9)
      bump("executor.run_s", m.executorRunTime / 1e3)
      bump("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      bump("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      bump("spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      bump("io.input_bytes", m.inputMetrics.bytesRead.toDouble)
      bump("io.output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }
  @volatile private var flushJob: Option[Int] = None

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val end = System.currentTimeMillis().toDouble
      val p = phase
      qe.tracker.phases.foreach { case (name, s) =>
        add(Span(ids.getAndIncrement(), -1, s"catalyst.$name", s.startTimeMs.toDouble,
          s.endTimeMs.toDouble, 0))
        bump(s"catalyst.${name}_ms.$p", s.durationMs.toDouble)
      }
      add(Span(ids.getAndIncrement(), -1, "sql.execution", end - durationNs / 1e6, end, 0))
      bump("io.files_written", Tracer.nodes(qe.executedPlan)
        .flatMap(_.metrics.get("numFiles")).map(_.value.toDouble).sum)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val total = d.getOrElse("triggerExecution", 0.0)
      val batchId = ids.getAndIncrement()
      add(Span(batchId, -1, "streaming.batch", start, start + total, 0))
      // the parts run in this order inside one trigger; their offsets
      // within it are not reported, so they are laid end to end
      var t = start
      for (k <- Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets") if d.contains(k)) {
        add(Span(ids.getAndIncrement(), batchId, s"streaming.$k", t, t + d(k), 0))
        t += d(k)
      }
      val st = p.stateOperators.toSeq
      batches.synchronized {
        batches += (d ++ Map(
          "rows" -> p.numInputRows.toDouble,
          "state.commit_ms" -> st.map(_.commitTimeMs.toDouble).sum,
          "state.rows" -> st.map(_.numRowsTotal.toDouble).sum,
          "state.bytes" -> st.map(_.memoryUsedBytes.toDouble).sum,
          "state.dropped" -> st.map(_.numRowsDroppedByWatermark.toDouble).sum))
      }
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Time one op; the layer spans that fall inside it become its children. */
  def op[T](name: String, f: => T): T = {
    val (c0, ms0) = codegen()
    val start = System.currentTimeMillis().toDouble
    val r = f
    val end = System.currentTimeMillis().toDouble
    val (c1, ms1) = codegen()
    bump(s"codegen.compiles.$phase", c1 - c0)
    bump(s"codegen.compile_ms.$phase", ms1 - ms0)
    val id = ids.getAndIncrement()
    add(Span(id, 0, name, start, end, id))
    val sc = spark.sparkContext
    blockSamples.synchronized {
      blockSamples += ((sc.getRDDStorageInfo.map(i => (i.memSize + i.diskSize).toDouble).sum,
        sc.getPersistentRDDs.size.toDouble))
    }
    r
  }

  /** Waits for the event bus, detaches the listeners, writes the spans and
    * returns the per-layer metrics of the traced pass.
    */
  def finish(): Map[String, Any] = {
    val sc = spark.sparkContext
    // a marker job: once its end reaches the listener, so has every earlier event
    sc.setJobGroup(Tracer.FlushGroup, "listener-bus flush")
    sc.parallelize(1 to 1, 1).count()
    sc.clearJobGroup()
    flushSeen.await(10, java.util.concurrent.TimeUnit.SECONDS)
    Thread.sleep(300)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val gc = gcMs() - gc0

    val all = spans.synchronized(spans.toVector)
    val rootEnd = (all.map(_.endMs) :+ root.startMs).max
    // parent = the innermost op, micro-batch or micro-batch part whose
    // interval holds the span's start; a micro-batch outside every op is
    // itself an op
    val holders = all.filter(s => s.parent == 0 || s.name.startsWith("streaming."))
    all.filter(_.parent == -1).foreach { s =>
      val hs = holders.filter(h => h.id != s.id && h.parent != s.id &&
        h.startMs <= s.startMs && s.startMs <= h.endMs)
      s.parent = if (hs.isEmpty) 0L else hs.minBy(h => h.endMs - h.startMs).id
    }
    val byId = all.map(s => s.id -> s).toMap
    def opOf(s: Span): Long =
      if (s.parent == 0) s.id else byId.get(s.parent).map(opOf).getOrElse(0L)
    all.foreach(s => s.op = opOf(s))
    val ops = all.filter(s => s.parent == 0 && s.name != "spark.job" &&
      !s.name.startsWith("catalyst.") && s.name != "sql.execution").sortBy(_.startMs)

    val out = Files.newBufferedWriter(Paths.get(spansPath))
    try {
      out.write(Json.of(Map("id" -> 0, "parent" -> null, "name" -> "workload", "op" -> 0,
        "start_ms" -> root.startMs, "end_ms" -> rootEnd)) + "\n")
      all.sortBy(_.startMs).foreach { s =>
        out.write(Json.of(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs)) + "\n")
      }
    } finally out.close()

    // driver gap: op wall minus the union of the Spark job intervals in it
    val jobs = all.filter(_.name == "spark.job")
    val gap = ops.map { o =>
      val inside = jobs.filter(j => j.endMs > o.startMs && j.startMs < o.endMs)
        .map(j => (j.startMs max o.startMs, j.endMs min o.endMs))
      o.endMs - o.startMs - Tracer.union(inside)
    }.sum / 1000.0

    val bs = batches.synchronized(batches.toVector)
    val data = bs.filter(_("rows") > 0)
    val noData = bs.filter(_("rows") == 0)
    def p50(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)
    val c = counters.synchronized(counters.toMap.withDefaultValue(0.0))
    val streaming = Map(
      "streaming.batches" -> bs.size.toDouble,
      "streaming.nodata_share" -> (if (bs.isEmpty) 0.0 else noData.size.toDouble / bs.size),
      "streaming.trigger_ms_p50" -> p50(data.map(_.getOrElse("triggerExecution", 0.0))),
      "streaming.nodata_trigger_ms_p50" -> p50(noData.map(_.getOrElse("triggerExecution", 0.0))),
      "streaming.add_batch_ms_p50" -> p50(bs.map(_.getOrElse("addBatch", 0.0))),
      "streaming.query_planning_ms_p50" -> p50(bs.map(_.getOrElse("queryPlanning", 0.0))),
      "streaming.latest_offset_ms_p50" -> p50(bs.map(_.getOrElse("latestOffset", 0.0))),
      "streaming.wal_commit_ms_p50" -> p50(bs.map(_.getOrElse("walCommit", 0.0))),
      "streaming.commit_offsets_ms_p50" -> p50(bs.map(_.getOrElse("commitOffsets", 0.0))),
      "state.commit_ms_p50" -> p50(bs.map(_("state.commit_ms"))),
      "state.rows_max" -> (bs.map(_("state.rows")) :+ 0.0).max,
      "state.bytes_max" -> (bs.map(_("state.bytes")) :+ 0.0).max,
      "state.rows_dropped" -> bs.map(_("state.dropped")).sum)
    val named = Seq("scheduler.jobs", "scheduler.stages", "scheduler.tasks", "executor.cpu_s",
      "executor.run_s", "shuffle.write_bytes", "shuffle.read_bytes", "spill.bytes",
      "io.input_bytes", "io.output_bytes", "io.files_written") ++
      (for (m <- Seq("catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
        "codegen.compiles", "codegen.compile_ms"); p <- Seq("cold", "warm")) yield s"$m.$p")
    val blocks = blockSamples.synchronized(blockSamples.toVector)
    named.map(k => k -> c(k)).toMap ++ streaming ++ Map(
      "scheduler.driver_gap_s" -> gap,
      "jvm.gc_ms" -> gc,
      "blocks.held_bytes_after" -> (blocks.map(_._1) :+ 0.0).max,
      "blocks.persisted_rdds_after" -> (blocks.map(_._2) :+ 0.0).max,
      "selftimes_s" -> Tracer.selfTimes(all :+ root.copy(endMs = rootEnd)))
  }
}

object Tracer {
  val FlushGroup = "perfbench-flush"

  /** Every node of an executed plan, inside adaptive plans and stages too. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Length of the union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var end = Double.NegativeInfinity
    for ((s, e) <- iv.sortBy(_._1)) {
      val from = s max end
      if (e > from) total += e - from
      end = end max e
    }
    total
  }

  /** Self time per span name: a span's duration minus the part of it that
    * its children cover.
    */
  def selfTimes(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil).filter(_.id != s.id)
          .map(c => (c.startMs max s.startMs, c.endMs min s.endMs))
        (s.endMs - s.startMs) - union(cs)
      }.sum / 1000.0
    }
  }
}

object Stats {
  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Json {
  def of(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => of(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => of(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => of(k.toString) + ":" + of(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(of).mkString("[", ",", "]")
    case other => of(other.toString)
  }
}
