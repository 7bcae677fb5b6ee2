package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, SimHashIndex}

/** The durable simhash-table lifecycle: build == write+read, append ==
  * rebuild (per-doc majority vote), the serve path over the stored key
  * table reproduces the quadratic Hamming join on the probe × corpus slice
  * (pigeonhole recall is exact), and that serve plan keeps the table side
  * scan-only.
  */
class SimHashIndexSpec extends AnyFunSuite with SparkSpec {

  private val sf = TestSpark.sf0001

  private def docs = Tables.load(spark, sf, "documents")

  private def hashRows(h: DataFrame): Set[(Long, Long)] =
    h.select(col("doc_id").cast("long"), col("simhash"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def probesOf(df: DataFrame): DataFrame =
    df.where(pmod(col("doc_id"), lit(25)) === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        concat(col("text"), lit(" zq1 zq2")).as("text"))

  private def serveRows(keys: DataFrame): Set[(Long, Long, Int)] =
    SimHashIndex.matches(keys, probesOf(docs), col("doc_id"), col("text"),
        maxHamming = 3, numBlocks = 6)
      .select(col("probe_id").cast("long"), col("doc_id").cast("long"),
        col("hamming").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("write + read roundtrip: stored keys and serve results match the built table") {
    val hashes = SimHashIndex.build(docs, col("doc_id"), col("text"))
    val keys = SimHashIndex.keyTable(hashes, maxHamming = 3, numBlocks = 6)
    val dir = tmpDir("simhash-idx")
    SimHashIndex.write(hashes, dir, maxHamming = 3, numBlocks = 6)
    val stored = SimHashIndex.readKeys(spark, dir)
    assert(stored.columns.contains("kb"), "stored table carries its partition column")
    assert(stored.count() == keys.count())
    assert(serveRows(stored) == serveRows(keys),
      "serving from the read-back table must equal serving from the built frame")
  }

  test("append == full rebuild (simhash is per-document)") {
    val base = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
    val delta = docs.where(pmod(col("doc_id"), lit(7)) === 0)
    val appended = SimHashIndex.append(
      SimHashIndex.build(base, col("doc_id"), col("text")),
      delta, col("doc_id"), col("text"))
    val rebuilt = Dedup.simhash(docs, col("doc_id"), col("text"))
    assert(hashRows(appended) == hashRows(rebuilt))
  }

  test("blocked serve == quadratic Hamming join (pigeonhole recall is exact)") {
    val hashes = SimHashIndex.build(docs, col("doc_id"), col("text"))
    val keys = SimHashIndex.keyTable(hashes, maxHamming = 3, numBlocks = 6)
    val probeHashes = probesOf(docs)
      .select(col("doc_id").as("probe_id"), Dedup.simhash60(col("text")).as("psh"))
    val quadratic = probeHashes.crossJoin(hashes)
      .withColumn("hamming", expr("bit_count(psh ^ simhash)"))
      .where(col("hamming") <= 3)
      .select(col("probe_id").cast("long"), col("doc_id").cast("long"),
        col("hamming").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(serveRows(keys) == quadratic,
      "the blocked path must lose nothing against the all-pairs join")
    assert(quadratic.nonEmpty, "the planted near-copies must surface matches")
  }

  test("serve plan over the stored table carries no tokenization of the corpus") {
    val hashes = SimHashIndex.build(docs, col("doc_id"), col("text"))
    val dir = tmpDir("sh-table-plan")
    SimHashIndex.write(hashes, dir, maxHamming = 3, numBlocks = 6)
    val served = SimHashIndex.matches(SimHashIndex.readKeys(spark, dir),
      probesOf(docs), col("doc_id"), col("text"), maxHamming = 3, numBlocks = 6)
    val plan = served.queryExecution.executedPlan.toString()
    // the probe side fingerprints per-row (simhash60 IS in the plan); the
    // corpus side must be a stored scan only — no explode of corpus tokens,
    // no grouped vote aggregation
    assert(!plan.toLowerCase.contains("generate explode(split"),
      s"corpus tokenization leaked into the serve plan:\n$plan")
    val aggs = "(?i)hashaggregate".r.findAllIn(plan).size
    // distinct on the match output is the only aggregate allowed (partial +
    // final); the optional bucket-df guard is off in this plan
    assert(aggs <= 2, s"no corpus-side aggregation may appear, got $aggs:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans >= 2, s"stored keys + probe docs must both scan parquet, got $scans:\n$plan")
  }
}
