package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, MinHashIndex}

/** The durable minhash-table lifecycle: build == write+read, append ==
  * rebuild (per-doc locality makes it exact), the serve path over the
  * stored tables reproduces the in-memory ingest gate, and that serve plan
  * keeps the table side scan-only (no re-tokenization, no re-hashing).
  */
class MinHashIndexSpec extends AnyFunSuite with SparkSpec {

  private val sf = TestSpark.sf0001

  private def docs = Tables.load(spark, sf, "documents")

  private def sigRows(sigs: DataFrame): Set[(Long, Int, Long)] =
    sigs.select(col("doc_id").cast("long"), col("seed").cast("int"), col("mh"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  private def probesOf(df: DataFrame): DataFrame =
    df.where(pmod(col("doc_id"), lit(25)) === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        concat(col("text"), lit(" zq1 zq2")).as("text"))

  private def serveRows(bands: DataFrame, sigs: DataFrame): Set[(Long, Long, Long)] =
    MinHashIndex.matches(bands, sigs, probesOf(docs), col("doc_id"), col("text"),
        n = 3, numHashes = 16, rowsPerBand = 4, minEstimate = 0.75,
        maxBucket = Some(100))
      .select(col("probe_id").cast("long"), col("doc_id").cast("long"),
        col("n_agree"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("write + read roundtrip: stored sigs/bands and serve results match the built frames") {
    val sigs = MinHashIndex.build(docs, col("doc_id"), col("text"), 3, 16)
    val bands = MinHashIndex.bandTable(sigs, 4)
    val dir = tmpDir("minhash-idx")
    MinHashIndex.write(sigs, dir, rowsPerBand = 4)
    val storedSigs = MinHashIndex.readSigs(spark, dir)
    val storedBands = MinHashIndex.readBands(spark, dir)
    assert(storedSigs.columns.contains("db") && storedBands.columns.contains("sb"),
      "stored tables carry their partition columns")
    assert(sigRows(storedSigs) == sigRows(sigs))
    assert(storedBands.count() == bands.count())
    assert(serveRows(storedBands, storedSigs) == serveRows(bands, sigs),
      "serving from the read-back tables must equal serving from the built frames")
  }

  test("write with prebuiltBands == write deriving bands itself (shared-build seam)") {
    val sigs = MinHashIndex.build(docs, col("doc_id"), col("text"), 3, 16)
    val bands = MinHashIndex.bandTable(sigs, 4).localCheckpoint()
    val dirA = tmpDir("minhash-idx-derived")
    val dirB = tmpDir("minhash-idx-prebuilt")
    MinHashIndex.write(sigs, dirA, rowsPerBand = 4)
    MinHashIndex.write(sigs, dirB, rowsPerBand = 4, prebuiltBands = Some(bands))
    def bandRows(d: DataFrame): Set[(Long, Long, Long)] =
      d.select(col("doc_id").cast("long"), col("band").cast("long"),
        col("band_sig")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sigRows(MinHashIndex.readSigs(spark, dirB)) ==
      sigRows(MinHashIndex.readSigs(spark, dirA)))
    assert(bandRows(MinHashIndex.readBands(spark, dirB)) ==
      bandRows(MinHashIndex.readBands(spark, dirA)),
      "a prebuilt band frame must land byte-for-row identical to the in-write derivation")
  }

  test("append == full rebuild (signatures are per-document)") {
    val base = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
    val delta = docs.where(pmod(col("doc_id"), lit(7)) === 0)
    val appended = MinHashIndex.append(
      MinHashIndex.build(base, col("doc_id"), col("text"), 3, 16),
      delta, col("doc_id"), col("text"), 3, 16)
    val rebuilt = Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 3, 16)
    assert(sigRows(appended) == sigRows(rebuilt),
      "signing the delta and appending must equal a from-scratch rebuild")
  }

  test("every near-identical probe finds its source document at high estimate") {
    val sigs = MinHashIndex.build(docs, col("doc_id"), col("text"), 3, 16)
    val bands = MinHashIndex.bandTable(sigs, 4)
    val found = serveRows(bands, sigs).map { case (p, d, _) => (p, d) }
    // probes of long documents keep most of their 16 minima; require the
    // bulk of them to surface their source (short docs may legitimately
    // fall under the estimate threshold after the 2-token edit)
    val expected = probesOf(docs).select(col("doc_id").cast("long"))
      .collect().map(_.getLong(0)).toSet
    val hits = expected.filter(p => found.contains((p, p - 10000000L)))
    assert(hits.size * 10 >= expected.size * 8,
      s"only ${hits.size}/${expected.size} probes matched their source")
  }

  test("stored bucket-df stats: additive merge == full recompute, and the swap is invisible") {
    val base = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
    val delta = docs.where(pmod(col("doc_id"), lit(7)) === 0)
    val baseSigs = MinHashIndex.build(base, col("doc_id"), col("text"), 3, 16)
    val deltaSigs = Dedup.minhashSignatures(delta, col("doc_id"), col("text"), 3, 16)
    val sigs = MinHashIndex.append(baseSigs, delta, col("doc_id"), col("text"), 3, 16)
    val bands = MinHashIndex.bandTable(sigs, 4)
    val merged = MinHashIndex.mergeBucketDf(
      MinHashIndex.bucketDfTable(MinHashIndex.bandTable(baseSigs, 4)),
      MinHashIndex.bucketDfTable(MinHashIndex.bandTable(deltaSigs, 4)))
    val full = MinHashIndex.bucketDfTable(bands)
    def rows(df: DataFrame): Set[(Long, Long, Long)] =
      df.select(col("band").cast("long"), col("band_sig"), col("df"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(merged) == rows(full), "bucket sizes must merge additively")
    // the repair verb: a stale stored side table (the base's alone, as after
    // a crash between the band and df writes) rebuilds from the stored bands
    // to the full recompute
    val dir = tmpDir("minhash-rebuild-df")
    MinHashIndex.write(sigs, dir, rowsPerBand = 4)
    MinHashIndex.writeBucketDf(MinHashIndex.bandTable(baseSigs, 4), dir)
    MinHashIndex.rebuildBucketDf(spark, dir)
    assert(rows(MinHashIndex.readBucketDf(spark, dir)) == rows(full),
      "rebuilt bucket-df must equal the full recompute")
    val statsServe = MinHashIndex.matches(bands, sigs, probesOf(docs),
        col("doc_id"), col("text"), n = 3, numHashes = 16, rowsPerBand = 4,
        minEstimate = 0.75, maxBucket = Some(100), storedBucketDf = Some(merged))
      .select(col("probe_id").cast("long"), col("doc_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(statsServe == serveRows(bands, sigs).map { case (p, d, _) => (p, d) })
  }

  test("per-row band signatures == grouped lshBands over the real corpus") {
    val grouped = MinHashIndex.bandTable(
        Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 3, 16), 4)
      .select(col("doc_id").cast("long"), col("band").cast("long"), col("band_sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rowwise = docs.select(col("doc_id"),
        posexplode(MinHashIndex.rowBandSigs(col("text"), 3, 16, 4))
          .as(Seq("band", "band_sig")))
      .where(col("band_sig").isNotNull)
      .select(col("doc_id").cast("long"), col("band").cast("long"), col("band_sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rowwise == grouped,
      "the shuffle-free per-row path must reproduce the grouped chain exactly")
  }

  test("serve plan over the stored tables carries no tokenization or hashing") {
    val sigs = MinHashIndex.build(docs, col("doc_id"), col("text"), 3, 16)
    val dir = tmpDir("mh-table-plan")
    MinHashIndex.write(sigs, dir, rowsPerBand = 4)
    val served = MinHashIndex.matches(
      MinHashIndex.readBands(spark, dir), MinHashIndex.readSigs(spark, dir),
      probesOf(docs), col("doc_id"), col("text"),
      n = 3, numHashes = 16, rowsPerBand = 4, minEstimate = 0.75,
      maxBucket = Some(100))
    val plan = served.queryExecution.executedPlan.toString()
    // probe signatures are materialized when matches() is called; the table
    // side is stored scans — the serve plan must contain zero shingle/md5
    // work: corpus text was touched at build time only
    Seq("split(", "md5", "hash60").foreach(tok =>
      assert(!plan.toLowerCase.contains(tok.toLowerCase),
        s"serve plan must not contain '$tok':\n$plan"))
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans >= 2, s"both stored tables must be read as parquet, got $scans scans:\n$plan")
  }
}
