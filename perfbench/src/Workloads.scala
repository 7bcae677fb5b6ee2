package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.{ExpandExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.ops.{Articles, DataGen}
import graft.streaming.{Pipelines, StreamSource}
import Harness.{now, timed}

/** One workload: set-up outside the timed window, a timed pass (untraced,
  * or under a [[Tracer]]), and the outputs `run.py` checks.
  */
trait Workload {
  def setup(spark: SparkSession): Map[String, Any]
  def measure(spark: SparkSession, tracer: Option[Tracer]): Map[String, Any]
  def checks(spark: SparkSession): Map[String, Any]
  /** Traced runs only, after the untraced pass: layer numbers that need
    * extra work of their own.
    */
  def extraLayers(spark: SparkSession): Map[String, Any] = Map.empty
}

object Workload {
  /** Seeded articles over ids `[from, until)`, appended to `dir` as parquet:
    * the producer's records as they sit in the source. Staging runs as
    * three equal shards, so one run times the same set-up step three times.
    * `byMinute` writes one file per event-minute, under `minute=<epoch min>`.
    */
  def stageShard(spark: SparkSession, dir: String, from: Long, until: Long, seed: Long,
      start: Long, spread: Long, byMinute: Boolean = false): Double = timed {
    val env = DataGen.envelopeFor(spark.range(from, until).toDF("id"), seed,
      startEpochSeconds = start, spreadSeconds = spread)
    if (!byMinute) env.write.mode("append").parquet(dir)
    else env.withColumn("minute",
        (unix_seconds(col("approximateArrivalTimestamp")) / 60).cast("long"))
      .repartition(col("minute"))
      .write.mode("append").partitionBy("minute").parquet(dir)
  }._2
}

/** The Articles layer as batch twins over one envelope, each cumulative
  * stage run to the noop sink: scan, + parse, + tokenize, + window. Self
  * times are the differences. The executed plan of the full twin gives the
  * Expand and partial-aggregate row counts.
  */
object Twins {
  def run(spark: SparkSession, envDir: String): Map[String, Any] = {
    @volatile var lastPlan: Option[SparkPlan] = None
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        lastPlan = Some(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val src = spark.read.parquet(envDir)
    def noop(df: DataFrame): Double = timed(df.write.format("noop").mode("overwrite").save())._2
    val scan = noop(src.select(col("data")))
    val parse = noop(Articles.parse(src))
    val tokenize = noop(Articles.enrich(Articles.parse(src)))
    val full = noop(Articles.pipeline(src))
    Thread.sleep(300) // the listener bus delivers the last plan asynchronously
    spark.listenerManager.unregister(l)
    val events = src.count().toDouble
    val nodes = lastPlan.toSeq.flatMap(Tracer.nodes)
    def rows(p: SparkPlan): Double =
      p.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0)
    val expand = nodes.collect { case e: ExpandExec => rows(e) }.sum
    val partial = nodes.collect {
      case a: HashAggregateExec if a.aggregateExpressions.exists(_.mode == Partial) => rows(a)
    }.sum
    Map("articles.scan_s" -> scan, "articles.parse_s" -> (parse - scan),
      "articles.tokenize_s" -> (tokenize - parse), "articles.window_s" -> (full - tokenize),
      "articles.full_s" -> full,
      "articles.expand_rows_per_event" -> (if (events > 0) expand / events else 0.0),
      "articles.partial_agg_rows" -> partial)
  }
}

/** Closed loop: the whole backlog is there at start; each op drains it with
  * `Trigger.AvailableNow` into a fresh sink and checkpoint.
  */
final class Drain(o: Harness.Opts) extends Workload {
  private val shard = if (o.tiny) 1500L else 40000L
  private val env = s"${o.work}/drain-env"
  private var mb = 0.0
  private var runs = 0
  private var untracedMedianS = 0.0

  private def drain(spark: SparkSession, tag: String): (String, Double) = {
    runs += 1
    val sink = s"${o.work}/drain-out/$tag-$runs"
    val (_, s) = timed(Pipelines.articlesToParquet(spark,
      StreamSource.FileEnvelopeSource(env), sink, s"${o.work}/drain-ckpt/$tag-$runs")
      .awaitTermination())
    (sink, s)
  }

  def setup(spark: SparkSession): Map[String, Any] = {
    val stages = (0 until 3).map(k => Workload.stageShard(spark, env, k * shard,
      (k + 1) * shard, o.seed, start = 1704067200L, spread = 3600L))
    mb = Harness.inputMb(spark, env)
    // warm-up: two unmeasured drains of the backlog pay class loading,
    // codegen and JIT, which every later drain of a long-lived session skips
    val warm = drain(spark, "warm-up")._2 + drain(spark, "warm-up")._2
    Map("warmup_s" -> warm, "stage_s" -> stages, "input_mb" -> mb, "rows" -> 3 * shard)
  }

  def measure(spark: SparkSession, tracer: Option[Tracer]): Map[String, Any] = {
    val tag = if (tracer.isDefined) "traced" else "untraced"
    val cpu0 = Harness.processCpuS()
    val t0 = now()
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    while (ops.size < 3 || now() - t0 < o.seconds) {
      val (sink, s) = tracer.fold(drain(spark, tag))(t => t.op("drain", drain(spark, tag)))
      ops += Map("kind" -> "drain", "ms" -> s * 1000, "out" -> sink)
    }
    if (tracer.isEmpty)
      untracedMedianS = Stats.quantile(ops.map(_("ms").asInstanceOf[Double] / 1000).toSeq, 0.5)
    Map("ops" -> ops.toSeq, "cpu_s" -> (Harness.processCpuS() - cpu0),
      "wall_s" -> (now() - t0), "input_mb" -> mb)
  }

  def checks(spark: SparkSession): Map[String, Any] = {
    val twin = s"${o.work}/drain-twin"
    Articles.pipeline(spark.read.parquet(env)).write.mode("overwrite").parquet(twin)
    Map("twin" -> twin, "expected_windows" -> 1180)
  }

  /** Batch twins, streaming overhead (median drain minus the full twin) and
    * the single-threaded baseline, which stops the session: run last.
    */
  override def extraLayers(spark: SparkSession): Map[String, Any] = {
    val twins = Twins.run(spark, env)
    spark.stop()
    val (_, s1) = drain(Harness.session(o, 1), "local1")
    Map("streaming.overhead_s" -> (untracedMedianS - twins("articles.full_s").asInstanceOf[Double]),
      "drain.mb_per_s_local1" -> mb / s1,
      "drain.scaling_eff" -> (s1 / untracedMedianS) / Harness.Cores) ++ twins
  }
}

/** Open loop: one generator thread copies one pre-staged envelope file into
  * the source directory every `period` seconds, whether or not the query
  * keeps up. Each file carries one event-minute of articles, so file i
  * carries the watermark past window end `base + 60 i` and no event is late.
  * One query runs for the whole workload, as a production stream would: a
  * closed-loop warm-up (each file fed once the previous one has landed),
  * then one open-loop stretch of files per pass.
  */
final class Trickle(o: Harness.Opts) extends Workload {
  private val base = 1704067200L
  private val perFile = if (o.tiny) 200L else 1000L
  private val period = if (o.tiny) 1.0 else 1.25
  private val warmFiles = if (o.tiny) 2 else 8
  private val files = if (o.tiny) 3 else math.max(3, (o.seconds / period).toInt + 1)
  private val total = warmFiles + files * (if (o.trace) 2 else 1)
  private val dir = s"${o.work}/trickle"
  private val src = Paths.get(s"$dir/src")
  private var staged: Seq[Path] = Nil
  private var query: StreamingQuery = _
  private var next = 0

  private def landed(end: Long): Boolean = query.recentProgress.exists(p =>
    Option(p.eventTime.get("watermark")).exists(w =>
      java.time.Instant.parse(w).toEpochMilli >= end * 1000))

  /** Copy file i in under a hidden name, then rename it: the source never
    * lists a half-written file.
    */
  private def feed(i: Int): Long = {
    val tmp = src.resolve(f".f$i%05d.parquet")
    Files.copy(staged(i), tmp)
    Files.move(tmp, src.resolve(f"f$i%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
    System.currentTimeMillis()
  }

  def setup(spark: SparkSession): Map[String, Any] = {
    val stageDir = s"${o.work}/trickle-stage"
    val groups = (0 until total).grouped((total + 2) / 3).toSeq
    val stages = groups.map(g => Workload.stageShard(spark, stageDir, g.head * perFile,
      (g.last + 1) * perFile, o.seed, start = base + 60L * g.head, spread = 60L * g.size,
      byMinute = true))
    staged = (0 until total).map { i =>
      Files.list(Paths.get(s"$stageDir/minute=${base / 60 + i}")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq match {
        case Seq(p) => p
        case ps => throw new IllegalStateException(s"minute $i staged as ${ps.size} files")
      }
    }
    Files.createDirectories(src)
    // warm-up: class loading, codegen and JIT of the per-batch path, and the
    // query's own start-up (state-store providers, first listings)
    val warm = timed {
      query = Pipelines.articlesToParquet(spark, StreamSource.FileEnvelopeSource(src.toString),
        s"$dir/sink", s"$dir/ckpt", Trigger.ProcessingTime(0L))
      for (i <- 0 until warmFiles) {
        feed(i)
        val deadline = System.currentTimeMillis() + 30000
        while (!landed(base + 60L * i) && System.currentTimeMillis() < deadline) Thread.sleep(10)
      }
      next = warmFiles
    }._2
    Map("warmup_s" -> warm, "stage_s" -> stages, "files" -> files,
      "articles_per_file" -> perFile, "period_s" -> period, "base_s" -> base,
      "input_mb" -> Harness.inputMb(spark, stageDir))
  }

  def measure(spark: SparkSession, tracer: Option[Tracer]): Map[String, Any] = {
    val first = next
    next += files
    val due = new Array[Long](files)
    val moved = new Array[Long](files)
    val cpu0 = Harness.processCpuS()
    val t0 = System.currentTimeMillis() + 500
    val gen = new Thread(() => {
      for (k <- 0 until files) {
        due(k) = t0 + (k * period * 1000).toLong
        val wait = due(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        moved(k) = feed(first + k)
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    // the last window end lands with the batch after the last data batch
    val lastEnd = base + 60L * (next - 1)
    val deadline = System.currentTimeMillis() + 60000
    while (!landed(lastEnd) && System.currentTimeMillis() < deadline) Thread.sleep(10)
    Map("first" -> first, "due_ms" -> due.toSeq, "moved_ms" -> moved.toSeq,
      "sink" -> s"$dir/sink", "base_s" -> base, "completed" -> landed(lastEnd),
      "cpu_s" -> (Harness.processCpuS() - cpu0),
      "wall_s" -> (System.currentTimeMillis() - t0) / 1000.0)
  }

  def checks(spark: SparkSession): Map[String, Any] = {
    query.processAllAvailable()
    query.stop()
    val progress = query.recentProgress.toSeq
    val watermark = progress.flatMap(p => Option(p.eventTime.get("watermark")))
      .map(w => java.time.Instant.parse(w).toEpochMilli).foldLeft(0L)(_ max _)
    val twin = s"${o.work}/trickle-twin"
    Articles.pipeline(spark.read.parquet(staged.take(next).map(_.toString): _*))
      .write.mode("overwrite").parquet(twin)
    Map("twin" -> twin, "watermark_ms" -> watermark,
      "rows_dropped" -> progress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum)
  }

  override def extraLayers(spark: SparkSession): Map[String, Any] =
    Twins.run(spark, s"${o.work}/trickle-stage")
}

/** Closed loop, one client: catalog queries one after another in a fixed
  * order over the fixed tables, each written to parquet. The read set runs
  * cold, then warm; the write set (snapshot publication) runs cold.
  */
final class Catalog(o: Harness.Opts) extends Workload {
  private val readSet =
    if (o.tiny) Seq("q00_flagship_pipeline", "q12_join_revenue_by_nation")
    else Seq("q00_flagship_pipeline", "q12_join_revenue_by_nation", "q106_repetition_profile",
      "q83_neardup_clusters")
  private val writeSet =
    if (o.tiny) Seq("q436_snapshot_rollback")
    else Seq("q436_snapshot_rollback", "q437_snapshot_incremental_read")
  private val tables = s"${o.work}/tables"
  private val family: Map[String, String] = graft.SparkEntry.catalogGroups
    .flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap
  private var passes = 0

  def setup(spark: SparkSession): Map[String, Any] = {
    // staging copies the fixed tables into the work dir, in three shards
    Files.createDirectories(Paths.get(tables))
    val files = Files.list(Paths.get(o.data)).iterator().asScala.toSeq.sortBy(_.toString)
    val stages = (0 until 3).map(k => timed(files.zipWithIndex.filter(_._2 % 3 == k)
      .foreach { case (p, _) => Files.copy(p, Paths.get(tables).resolve(p.getFileName)) })._2)
    // Bench's warm-up: JIT, codegen framework and parquet reader start-up
    val warm = timed(graft.Tables.load(spark, tables, "nation").groupBy("n_regionkey").count()
      .write.format("noop").mode("overwrite").save())._2
    Map("warmup_s" -> warm, "stage_s" -> stages)
  }

  private def run(spark: SparkSession, tracer: Option[Tracer], name: String,
      kind: String, dir: String): Map[String, Any] = {
    // between queries, outside the timed window, as graft.Bench does
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    val fn = graft.SparkEntry.queries(name)
    val out = s"$dir/$name-$kind"
    tracer.foreach(_.setPhase(if (kind == "warm") "warm" else "cold"))
    val (_, s) = timed(tracer.fold(fn(spark, tables).write.mode("overwrite").parquet(out))(
      t => t.op(s"query.$name", fn(spark, tables).write.mode("overwrite").parquet(out))))
    Map("kind" -> kind, "name" -> name, "family" -> family.getOrElse(name, "?"),
      "ms" -> s * 1000, "out" -> out)
  }

  def measure(spark: SparkSession, tracer: Option[Tracer]): Map[String, Any] = {
    passes += 1
    val dir = s"${o.work}/catalog-$passes"
    // in traced runs the untraced pass comes second: its first runs are not
    // cold and the write set has already published, so only warm reads rerun
    val first = passes == 1
    val cpu0 = Harness.processCpuS()
    val t0 = now()
    val cold = if (first) readSet.map(run(spark, tracer, _, "read_cold", dir)) else Nil
    val warm = readSet.map(run(spark, tracer, _, "warm", dir))
    val write = if (first) writeSet.map(run(spark, tracer, _, "write_cold", dir)) else Nil
    Map("ops" -> (cold ++ warm ++ write), "cpu_s" -> (Harness.processCpuS() - cpu0),
      "wall_s" -> (now() - t0))
  }

  def checks(spark: SparkSession): Map[String, Any] =
    Map("oracle" -> (readSet ++ writeSet).map(n => n -> graft.SparkEntry.oracleSql.get(n)).toMap,
      "tables" -> tables)
}
