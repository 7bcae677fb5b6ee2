package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{AnnIndex, IvfPqIndex, Similarity}

/** The persisted-index lifecycle: build == write+read, append == rebuild
  * encode, and the stored-table serve path returns exactly what the
  * in-query trainer (q95/q99's `ivfPqTopK`) returns.
  */
class AnnIndexSpec extends AnyFunSuite with SparkSpec {

  private val sf = TestSpark.sf0001

  private def emb = Tables.load(spark, sf, "embeddings")

  private def coarseOf(df: DataFrame) =
    Similarity.materializeCentroids(Similarity.centroidArrays(
      Similarity.labelCentroidsFlat(df, col("embedding"), col("label"))))

  private def buildOn(df: DataFrame): IvfPqIndex =
    AnnIndex.build(df, col("vec_id"), col("embedding"), coarseOf(df),
      dims = 64, m = 8, k = 16, iters = 1)

  private def searchRows(idx: IvfPqIndex, queries: DataFrame): Set[(Long, Long, Int)] =
    AnnIndex.search(queries, col("vec_id"), col("embedding"), 3, idx, nprobe = 2)
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  private def codeRows(codes: DataFrame): Set[(Long, String)] =
    codes.select(col("vid").cast("long"),
        concat_ws(",", col("cluster"), concat_ws("-", col("codes"))).as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("write + read roundtrip: params survive and the read-back index serves identical results") {
    val idx = buildOn(emb)
    val dir = tmpDir("ann-idx")
    AnnIndex.write(idx, dir)
    val stored = AnnIndex.read(spark, dir)
    assert((stored.dims, stored.m, stored.codewords) == (idx.dims, idx.m, idx.codewords))
    assert(codeRows(stored.codes) == codeRows(idx.codes),
      "stored posting lists must match the built index exactly")
    val queries = emb.where(pmod(col("vec_id"), lit(10)) === 0)
    assert(searchRows(stored, queries) == searchRows(idx, queries),
      "search from the read-back index must equal search from the built index")
  }

  test("incremental append == full rebuild encode under the frozen model") {
    val base = emb.where(pmod(col("vec_id"), lit(7)) =!= 0)
    val delta = emb.where(pmod(col("vec_id"), lit(7)) === 0)
    val idx = buildOn(base)
    val appended = AnnIndex.append(idx,
      AnnIndex.encode(delta, col("vec_id"), col("embedding"), idx))
    val rebuilt = AnnIndex.encode(emb, col("vec_id"), col("embedding"), idx)
    assert(codeRows(appended.codes) == codeRows(rebuilt),
      "appending the frozen-model delta must equal re-encoding the union")
    assert(appended.codes.count() == emb.count(), "one posting row per vector")
  }

  test("stored-table serve path == in-query ivfPqTopK (same ADC, same ranks)") {
    val idx = buildOn(emb)
    val inQuery = Similarity.ivfPqTopK(emb, col("vec_id"), col("embedding"), 3,
        idx.centroids, idx.codebooks, dims = 64, m = 8, nprobe = 2)
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(searchRows(idx, emb) == inQuery,
      "the serve path must reproduce the in-query trainer's results exactly")
  }

  test("delete: exact key filter on the posting lists; removed vectors never serve") {
    val idx = buildOn(emb)
    val removed = emb.where(pmod(col("vec_id"), lit(11)) === 0)
      .select(col("vec_id").as("vid"))
    val removedIds = removed.collect().map(_.getLong(0)).toSet
    assert(removedIds.nonEmpty, "test needs a nonempty delete set")
    val kept = AnnIndex.delete(idx, removed)
    // codes: exactly the removed vids gone, survivors byte-identical
    assert(codeRows(kept.codes) ==
      codeRows(idx.codes).filterNot { case (vid, _) => removedIds.contains(vid) },
      "delete must be an exact key filter on the posting lists")
    // model tables untouched (frozen by design — retrain = new build)
    assert(kept.centroids eq idx.centroids)
    assert(kept.codebooks eq idx.codebooks)
    // a removed vector can still QUERY, but never serves as a neighbor
    val queries = emb.where(pmod(col("vec_id"), lit(10)) === 0)
    val rows = searchRows(kept, queries)
    assert(rows.nonEmpty)
    assert(!rows.exists { case (_, nb, _) => removedIds.contains(nb) },
      "post-delete serve must never return a removed vector")
  }

  /** Per-cluster partition directories and their (non-marker) file names
    * under a stored codes table — the storage-truth witness the
    * compact specs assert against.
    */
  private def clusterFiles(codesDir: String): Map[String, Set[String]] = {
    import scala.jdk.CollectionConverters._
    def listNames(p: java.nio.file.Path): Seq[String] = {
      val s = java.nio.file.Files.list(p) // close explicitly — Files.list leaks an fd otherwise
      try s.iterator().asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    }
    val root = java.nio.file.Paths.get(codesDir)
    listNames(root)
      .filter(n => n.startsWith("cluster=") &&
        java.nio.file.Files.isDirectory(root.resolve(n)))
      .map(n => n -> listNames(root.resolve(n)).filterNot(_.startsWith("_")).toSet)
      .toMap
  }

  test("compact: batch_id delta folds into the cluster layout — no residue, delta consumed, serve unchanged") {
    val base = emb.where(pmod(col("vec_id"), lit(7)) =!= 0)
    val idx = buildOn(base)
    val dir = tmpDir("ann-compact")
    AnnIndex.write(idx, dir)
    val stored = AnnIndex.read(spark, dir)
    val deltaDir = tmpDir("ann-compact-delta") + "/delta"
    val deltaCodes = AnnIndex.encode(emb.where(pmod(col("vec_id"), lit(7)) === 0),
      col("vec_id"), col("embedding"), stored).localCheckpoint()
    deltaCodes.withColumn("batch_id", pmod(col("vid"), lit(2)).cast("long"))
      .write.mode("overwrite").partitionBy("batch_id").parquet(deltaDir)
    val queries = emb.where(pmod(col("vec_id"), lit(10)) === 0)
    val unionServe = searchRows(
      AnnIndex.append(stored, deltaCodes), queries)
    AnnIndex.compact(spark, dir, deltaDir)
    // the delta directory is consumed; the codes table is one directory per
    // cluster with zero batch_id residue — the layout the serve path's
    // partition pruning rests on
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(deltaDir)),
      "compact must consume the delta directory")
    assert(clusterFiles(s"$dir/codes").nonEmpty)
    import scala.jdk.CollectionConverters._
    val residue = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/codes"))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("batch_id=")).toSeq
    assert(residue.isEmpty, s"no batch_id residue under codes/: $residue")
    // content: base ∪ delta exactly once; serve identical to stored ∪ delta
    val compacted = AnnIndex.read(spark, dir)
    assert(codeRows(compacted.codes) ==
      codeRows(idx.codes) ++ codeRows(deltaCodes))
    assert(compacted.codes.count() == idx.codes.count() + deltaCodes.count())
    assert(searchRows(compacted, queries) == unionServe,
      "compacted storage and stored ∪ delta must serve the same answers")
  }

  test("compact: cross-cell upsert — a re-encoded vid's stale old-cell row is rewritten away") {
    import spark.implicits._
    val idx = buildOn(emb)
    val dir = tmpDir("ann-compact-xcell")
    AnnIndex.write(idx, dir)
    // craft a delta that MOVES one vid to a different cell (the re-ingest
    // shape: an updated embedding assigns elsewhere under the same model)
    val row = AnnIndex.read(spark, dir).codes.orderBy(col("vid")).head()
    val vid = row.getLong(0)
    val oldCluster = row.getInt(1)
    val clusters = idx.codes.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).toSet
    val newCluster = (clusters - oldCluster).min
    val deltaDir = tmpDir("ann-xcell-delta") + "/delta"
    Seq((vid, newCluster, row.getSeq[Int](2)))
      .toDF("vid", "cluster", "codes")
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(0L))
      .write.mode("overwrite").partitionBy("batch_id").parquet(deltaDir)
    AnnIndex.compact(spark, dir, deltaDir)
    val re = spark.read.parquet(s"$dir/codes")
    val mine = re.where(col("vid") === vid).collect()
    assert(mine.length == 1,
      s"the re-encoded vid must appear exactly once, got ${mine.length} rows")
    assert(mine.head.getAs[Int]("cluster") == newCluster,
      "the surviving row must be the delta's (new cell), not the stale one")
    assert(re.count() == idx.codes.count(), "total rows unchanged by a move")
  }

  test("compact: upsert — a replayed delta cannot duplicate posting rows") {
    val base = emb.where(pmod(col("vec_id"), lit(7)) =!= 0)
    val idx = buildOn(base)
    val dir = tmpDir("ann-compact-replay")
    AnnIndex.write(idx, dir)
    val stored = AnnIndex.read(spark, dir)
    val deltaCodes = AnnIndex.encode(emb.where(pmod(col("vec_id"), lit(7)) === 0),
      col("vec_id"), col("embedding"), stored).localCheckpoint()
    def writeDelta(p: String): Unit = deltaCodes
      .withColumn("batch_id", lit(0L))
      .write.mode("overwrite").partitionBy("batch_id").parquet(p)
    val d1 = tmpDir("ann-replay-d1") + "/delta"
    writeDelta(d1)
    AnnIndex.compact(spark, dir, d1)
    val once = codeRows(AnnIndex.read(spark, dir).codes)
    // the same delta arrives again (a replayed stream / double compaction)
    val d2 = tmpDir("ann-replay-d2") + "/delta"
    writeDelta(d2)
    AnnIndex.compact(spark, dir, d2)
    val twice = AnnIndex.read(spark, dir)
    assert(codeRows(twice.codes) == once,
      "re-compacting a replayed delta must be a no-op on content")
    assert(twice.codes.count() == once.size.toLong, "no duplicate posting rows")
  }

  test("append: a re-encoded vid present in stored AND delta serves once, from the delta row") {
    import spark.implicits._
    val idx = buildOn(emb)
    val row = idx.codes.orderBy(col("vid")).head()
    val vid = row.getLong(0)
    val oldCluster = row.getInt(1)
    val newCluster = (idx.codes.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).toSet - oldCluster).min
    val delta = Seq((vid, newCluster, row.getSeq[Int](2)))
      .toDF("vid", "cluster", "codes")
    val served = AnnIndex.append(idx, delta)
    val mine = served.codes.where(col("vid") === vid).collect()
    assert(mine.length == 1,
      s"a re-ingested vid must occupy exactly one union-serve row, got ${mine.length}")
    assert(mine.head.getAs[Int]("cluster") == newCluster,
      "the serving row must be the delta's (new cell), not the stale stored one")
    assert(served.codes.count() == idx.codes.count(),
      "total serve rows unchanged by a re-encode")
  }

  test("compact: a vid re-ingested across two micro-batches keeps only the LATEST batch's row") {
    import spark.implicits._
    val idx = buildOn(emb)
    val dir = tmpDir("ann-compact-twobatch")
    AnnIndex.write(idx, dir)
    val maxVid = idx.codes.agg(max(col("vid"))).head().getLong(0)
    val freshVid = maxVid + 1
    val clusters = idx.codes.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).toSet.toSeq.sorted
    val (cA, cB) = (clusters.head, clusters(1))
    val codesArr = idx.codes.orderBy(col("vid")).head().getSeq[Int](2)
    // batch 0 lands the vid in cell A; batch 1 re-ingests it into cell B —
    // the one-stream-run double-ingest ADVICE scenario
    val deltaDir = tmpDir("ann-twobatch-delta") + "/delta"
    Seq((freshVid, cA, codesArr, 0L), (freshVid, cB, codesArr, 1L))
      .toDF("vid", "cluster", "codes", "batch_id")
      .write.mode("overwrite").partitionBy("batch_id").parquet(deltaDir)
    AnnIndex.compact(spark, dir, deltaDir)
    val mine = spark.read.parquet(s"$dir/codes")
      .where(col("vid") === freshVid).collect()
    assert(mine.length == 1,
      s"a twice-ingested vid must survive compaction exactly once, got ${mine.length} rows")
    assert(mine.head.getAs[Int]("cluster") == cB,
      "the surviving row must be the LATEST batch's (cell B)")
  }

  test("compact: a batch partition the checkpoint never committed fails fast, nothing consumed") {
    val idx = buildOn(emb)
    val dir = tmpDir("ann-compact-uncommitted")
    AnnIndex.write(idx, dir)
    val before = codeRows(AnnIndex.read(spark, dir).codes)
    // stage a stream-owned delta: batches 0 and 1 on disk, but the owning
    // checkpoint's commit log only records batch 0 — the mid-batch-death shape
    val deltaDir = tmpDir("ann-uncommitted-delta") + "/delta"
    val ckptDir = tmpDir("ann-uncommitted-ckpt")
    idx.codes.limit(2).withColumn("batch_id", lit(0L))
      .write.mode("overwrite").partitionBy("batch_id").parquet(deltaDir)
    idx.codes.limit(1).withColumn("batch_id", lit(1L))
      .write.mode("append").partitionBy("batch_id").parquet(deltaDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$ckptDir/commits"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$ckptDir/commits/0"),
      "v1".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$deltaDir/_graft_delta_owner"),
      ckptDir.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      AnnIndex.compact(spark, dir, deltaDir)
    }
    assert(e.getMessage.contains("batch_id=1"), s"the guard must NAME the uncommitted batch: ${e.getMessage}")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(deltaDir)),
      "a refused compact must not consume the delta")
    assert(codeRows(AnnIndex.read(spark, dir).codes) == before,
      "a refused compact must not touch the stored codes")
  }

  test("compact: marker-only delta dir is consumed as an empty fold; missing dir fails with a named state") {
    val idx = buildOn(emb)
    val dir = tmpDir("ann-compact-markeronly")
    AnnIndex.write(idx, dir)
    val before = codeRows(AnnIndex.read(spark, dir).codes)
    val deltaDir = tmpDir("ann-markeronly-delta") + "/delta"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(deltaDir))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$deltaDir/_graft_delta_owner"),
      "/some/ckpt".getBytes("UTF-8"))
    AnnIndex.compact(spark, dir, deltaDir) // no-op fold, not a schema-inference crash
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(deltaDir)),
      "the marker-only residue must be consumed")
    assert(codeRows(AnnIndex.read(spark, dir).codes) == before)
    // double compact: the consumed path now fails with the state's name
    val e = intercept[IllegalArgumentException] {
      AnnIndex.compact(spark, dir, deltaDir)
    }
    assert(e.getMessage.contains("already consumed"), e.getMessage)
  }

  test("reconstructionAudit: coverage shrinkage is returned, not left to caller discipline") {
    val idx = buildOn(emb)
    val clean = AnnIndex.reconstructionAudit(emb, col("vec_id"), col("embedding"), idx)
      .head()
    assert(clean.getAs[Long]("n_indexed") == idx.codes.count())
    assert(clean.getAs[Long]("n_excluded") == 0L,
      "a well-formed index audits every indexed vector")
    val badVid = idx.codes.agg(min(col("vid"))).head().getLong(0)
    val corrupted = idx.copy(codes = idx.codes.withColumn("codes",
      when(col("vid") === badVid,
        concat(array(lit(999)), slice(col("codes"), 2, idx.m - 1)))
        .otherwise(col("codes"))))
    val dirty = AnnIndex.reconstructionAudit(emb, col("vec_id"), col("embedding"),
      corrupted).head()
    assert(dirty.getAs[Long]("n_excluded") == 1L,
      "the corrupt-coded vector must surface as an exclusion count")
  }

  test("reconstructionError: an out-of-range code EXCLUDES the vector instead of underreporting") {
    val idx = buildOn(emb)
    val base = AnnIndex.reconstructionError(emb, col("vec_id"), col("embedding"), idx)
    assert(base.count() == idx.codes.count(),
      "well-formed index: one audit row per indexed vector")
    assert(base.agg(min(col("err"))).head().getDouble(0) >= 0.0)
    // corrupt ONE row's first code to an impossible codeword: the joinless
    // subspace must drop the whole vector from the audit (a zero-filled
    // pivot would report a spuriously LOW error — the inversion of the
    // metric's purpose)
    val badVid = idx.codes.agg(min(col("vid"))).head().getLong(0)
    val corrupted = idx.copy(codes = idx.codes.withColumn("codes",
      when(col("vid") === badVid,
        concat(array(lit(999)), slice(col("codes"), 2, idx.m - 1)))
        .otherwise(col("codes"))))
    val audited = AnnIndex.reconstructionError(emb, col("vec_id"),
      col("embedding"), corrupted)
    assert(audited.count() == base.count() - 1)
    assert(audited.where(col("vid") === badVid).isEmpty,
      "the corrupt-coded vector must vanish from the audit, not read as near-zero error")
  }

  test("compact: batch ids below the commit-log purge floor count as committed (minBatchesToRetain)") {
    val idx = buildOn(emb)
    val dir = tmpDir("ann-compact-purged")
    AnnIndex.write(idx, dir)
    val rows = idx.codes.limit(4).collect().toSeq
    // delta holds batches 0..3, but the checkpoint's commits/ was purged
    // down to {2, 3} (Spark retains only minBatchesToRetain entries):
    // batches 0 and 1 are BELOW the retained floor and necessarily
    // committed (batch 2 could not have run otherwise) — compact must fold,
    // not falsely flag a mid-batch death the stream can never repair
    val deltaDir = tmpDir("ann-purged-delta") + "/delta"
    val ckptDir = tmpDir("ann-purged-ckpt")
    rows.indices.foreach { i =>
      idx.codes.where(col("vid") === rows(i).getLong(0))
        .withColumn("batch_id", lit(i.toLong))
        .write.mode("append").partitionBy("batch_id").parquet(deltaDir)
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$ckptDir/commits"))
    Seq("2", "3").foreach { b =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$ckptDir/commits/$b"),
        "v1".getBytes("UTF-8"))
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$deltaDir/_graft_delta_owner"),
      ckptDir.getBytes("UTF-8"))
    AnnIndex.compact(spark, dir, deltaDir) // must not throw
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(deltaDir)),
      "the verified delta must be consumed")
    // while a batch ABOVE the floor that is genuinely missing still fails
    val delta2 = tmpDir("ann-purged-delta2") + "/delta"
    val ckpt2 = tmpDir("ann-purged-ckpt2")
    idx.codes.limit(1).withColumn("batch_id", lit(2L))
      .write.mode("overwrite").partitionBy("batch_id").parquet(delta2)
    idx.codes.limit(1).withColumn("batch_id", lit(4L))
      .write.mode("append").partitionBy("batch_id").parquet(delta2)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$ckpt2/commits"))
    Seq("2", "3").foreach { b =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$ckpt2/commits/$b"),
        "v1".getBytes("UTF-8"))
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$delta2/_graft_delta_owner"),
      ckpt2.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      AnnIndex.compact(spark, dir, delta2)
    }
    assert(e.getMessage.contains("batch_id=4"), e.getMessage)
    assert(e.getMessage.contains("_graft_delta_owner"),
      s"the error must name the marker-deletion escape hatch: ${e.getMessage}")
  }
}
