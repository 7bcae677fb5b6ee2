package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, WinnowIndex}

/** The durable winnow-fingerprint-table lifecycle: build == write+read,
  * append == rebuild (per-doc locality makes it exact), and the serve path
  * over the stored table reproduces the in-query pair generator on the
  * probe × corpus slice while keeping the table side scan-only.
  */
class WinnowIndexSpec extends AnyFunSuite with SparkSpec {

  private val sf = TestSpark.sf0001

  private def docs = Tables.load(spark, sf, "documents")

  private def fpRows(fp: DataFrame): Set[(Long, Long, Long)] =
    fp.select(col("doc_id").cast("long"), col("pos").cast("long"), col("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def probesOf(df: DataFrame): DataFrame =
    df.where(pmod(col("doc_id"), lit(25)) === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        concat_ws(" ", slice(graft.ops.Text.tokens(col("text")), 1, 30)).as("text"))

  private def matchRows(fp: DataFrame): Set[(Long, Long, Long)] =
    WinnowIndex.matches(fp, probesOf(docs), col("doc_id"), col("text"),
        k = 3, w = 4, threshold = 0.4, maxFpDf = Some(100))
      .select(col("probe_id").cast("long"), col("doc_id").cast("long"), col("inter"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("write + read roundtrip: stored rows and serve results match the built table") {
    val fp = WinnowIndex.build(docs, col("doc_id"), col("text"), k = 3, w = 4)
    val dir = tmpDir("winnow-idx")
    WinnowIndex.write(fp, dir)
    val stored = WinnowIndex.read(spark, dir)
    assert(stored.columns.contains("hb"), "stored table carries its partition column")
    assert(fpRows(stored) == fpRows(fp), "stored fingerprints must match the built table")
    assert(matchRows(stored) == matchRows(fp),
      "serving from the read-back table must equal serving from the built frame")
  }

  test("append == full rebuild (winnowing is per-document)") {
    val base = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
    val delta = docs.where(pmod(col("doc_id"), lit(7)) === 0)
    val appended = WinnowIndex.append(
      WinnowIndex.build(base, col("doc_id"), col("text"), k = 3, w = 4),
      delta, col("doc_id"), col("text"), k = 3, w = 4)
    val rebuilt = Dedup.winnowFingerprints(docs, col("doc_id"), col("text"), k = 3, w = 4)
    assert(fpRows(appended) == fpRows(rebuilt),
      "winnowing the delta and appending must equal a from-scratch rebuild")
  }

  test("every truncation probe finds its source document at high containment") {
    val fp = WinnowIndex.build(docs, col("doc_id"), col("text"), k = 3, w = 4)
    val found = WinnowIndex.matches(fp, probesOf(docs), col("doc_id"), col("text"),
        k = 3, w = 4, threshold = 0.4, maxFpDf = Some(100))
      .select(col("probe_id").cast("long"), col("doc_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = probesOf(docs).select(col("doc_id").cast("long"))
      .collect().map(_.getLong(0)).toSet
    val hits = expected.filter(p => found.contains((p, p - 10000000L)))
    assert(hits == expected,
      s"probes missing their source: ${(expected -- hits).take(5)}")
  }

  test("serve plan over the stored table carries no tokenization or hashing") {
    val fp = WinnowIndex.build(docs, col("doc_id"), col("text"), k = 3, w = 4)
    // prefix must not collide with the forbidden plan tokens below
    val dir = tmpDir("fp-table-plan")
    WinnowIndex.write(fp, dir)
    val stored = WinnowIndex.read(spark, dir)
    val served = WinnowIndex.matches(stored, probesOf(docs), col("doc_id"), col("text"),
      k = 3, w = 4, threshold = 0.4, maxFpDf = Some(100))
    val plan = served.queryExecution.executedPlan.toString()
    // probe fingerprints are materialized when matches() is called; the
    // table side is a stored scan — so the SERVE plan must contain zero
    // tokenize/md5 work: corpus text was touched at build time only
    Seq("split(", "md5", "hash60", "Winnow").foreach(tok =>
      assert(!plan.toLowerCase.contains(tok.toLowerCase),
        s"serve plan must not contain '$tok':\n$plan"))
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans >= 2, s"table-side consumers must read stored parquet, got $scans scans:\n$plan")
  }

  test("rebuildDfTable: the crash-recovery verb recomputes the df bytes from the stored fingerprints") {
    val fp = WinnowIndex.build(docs, col("doc_id"), col("text"), k = 3, w = 4)
    val fpSurv = Dedup.winnowFingerprints(
      docs.where(pmod(col("doc_id"), lit(11)) =!= 0),
      col("doc_id"), col("text"), k = 3, w = 4)
    val fpDir = tmpDir("winnow-rec-fp")
    val dfDir = tmpDir("winnow-rec-df")
    // the crash shape the verb repairs: the fingerprint table already lost
    // the %11 docs, the df side table still counts them (full corpus)
    WinnowIndex.write(fpSurv, fpDir)
    WinnowIndex.writeDfTable(WinnowIndex.dfTable(fp), dfDir)
    // rebuild the side table from the surviving stored fingerprints
    WinnowIndex.rebuildDfTable(spark, fpDir, dfDir)
    def dfRows(t: DataFrame): Set[(Long, Long)] =
      t.select(col("h"), col("df").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dfRows(WinnowIndex.readDfTable(spark, dfDir))
        == dfRows(WinnowIndex.dfTable(fpSurv)),
      "rebuilt df table must equal the survivors-only recompute")
    // and the verb is idempotent — a doubted repair can simply run again
    WinnowIndex.rebuildDfTable(spark, fpDir, dfDir)
    assert(dfRows(WinnowIndex.readDfTable(spark, dfDir))
        == dfRows(WinnowIndex.dfTable(fpSurv)))
  }
}
