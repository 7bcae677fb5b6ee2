package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** JVM side of the benchmark: runs one workload (`drain`, `trickle` or
  * `catalog`) against the engine's public functions and writes everything
  * it measured to `<work>/result.json`. `run.py` builds this, starts it,
  * checks the outputs it leaves behind and prints the metrics.
  *
  * The untraced pass registers nothing on the session, so its timings are
  * the end-to-end numbers. With `--trace 1` a pass runs under the listeners
  * of [[Tracer]] first, and the untraced pass after it gives the tracing
  * overhead.
  */
object Harness {

  final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, data: String, tiny: Boolean)

  /** Every workload runs on `local[4]` with one shuffle partition per core. */
  val Cores = 4

  /** The session conf `graft.Bench` uses; the scratch locations are the
    * only additions, so that nothing is written outside the work dir.
    */
  def session(o: Opts, cores: Int = Cores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def now(): Double = System.nanoTime() / 1e9

  def timed[T](f: => T): (T, Double) = {
    val t0 = now()
    val r = f
    (r, now() - t0)
  }

  /** Fixed pure-JVM work, run at the start and end of every run, so that a
    * change of machine speed shows in the artifact instead of reading as a
    * regression. Not a gated metric.
    */
  def calibrate(): Double = {
    val (h, s) = timed {
      var h = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 150000000) { h = (h ^ i) * 0xBF58476D1CE4E5B9L; h ^= h >>> 31; i += 1 }
      h
    }
    if (h == 42L) println("calibration collision")
    s
  }

  def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  def inputMb(spark: SparkSession, dir: String): Double =
    spark.read.parquet(dir).agg(sum(length(col("data")))).head().getLong(0) / 1e6

  def parseArgs(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m.getOrElse("data", ""), m.get("size").contains("tiny"))
  }

  def main(args: Array[String]): Unit = {
    val o = parseArgs(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1000.0
    Files.createDirectories(Paths.get(o.work))
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "seconds" -> o.seconds, "tiny" -> o.tiny, "cores" -> Cores)
    val calibStart = calibrate()
    val t0 = System.currentTimeMillis() / 1000.0
    val spark = session(o)
    val sessionS = System.currentTimeMillis() / 1000.0 - t0
    val w: Workload = o.workload match {
      case "drain" => new Drain(o)
      case "trickle" => new Trickle(o)
      case "catalog" => new Catalog(o)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    out("setup") = Map("session_s" -> sessionS, "jvm_s" -> (t0 - jvmStart - calibStart)) ++
      w.setup(spark)
    if (o.trace) {
      val tracer = new Tracer(spark, s"${o.work}/spans.jsonl")
      out("traced") = w.measure(spark, Some(tracer))
      out("layers") = tracer.finish()
    }
    out("untraced") = w.measure(spark, None)
    out("checks") = w.checks(spark)
    out("heap_after_gc_mb") = heapAfterGcMb()
    if (o.trace) out("layers_extra") = w.extraLayers(spark)
    out("calib") = Map("start_s" -> calibStart, "end_s" -> calibrate())
    Files.writeString(Paths.get(s"${o.work}/result.json"), Json.of(out) + "\n")
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
