package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SnapTables

/** The snapshot-manifest storage layer: generation flip is atomic and
  * PUBLICATION-ordered (a reader resolved before a rewrite keeps serving
  * its generation after the flip — the serve-during-rewrite guarantee),
  * the delete plans' guards refuse bad batches before publishing, crashed
  * writers' orphan files are invisible (manifest-driven reads never trust
  * directory listings), and expiry reclaims exactly the unreferenced files.
  */
class SnapTablesSpec extends AnyFunSuite with SparkSpec {

  private def table = {
    import spark.implicits._
    // 12 rows over 3 partitions; keys 1..12, pb = key mod 3
    (1L to 12L).map(k => (k, s"v$k", (k % 3).toInt)).toDF("key", "payload", "pb")
  }

  private def rows(df: DataFrame): Set[(Long, String)] =
    df.select(col("key"), col("payload"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  private def allRows = (1L to 12L).map(k => (k, s"v$k")).toSet
  private def survRows = allRows.filterNot { case (k, _) => k % 4 == 0 }

  test("publishInitial + resolve roundtrip; pointer at gen 0") {
    val dir = tmpDir("snap-pub")
    SnapTables.publishInitial(spark, dir, "pb", table)
    assert(SnapTables.currentGeneration(spark, dir).contains(0))
    assert(rows(SnapTables.resolve(spark, dir, "pb")) == allRows)
  }

  test("deleteByKey publishes gen 1; a reader resolved BEFORE the flip still serves gen 0 AFTER it") {
    import spark.implicits._
    val dir = tmpDir("snap-iso")
    SnapTables.publishInitial(spark, dir, "pb", table)
    // the in-flight reader: resolved (and planned) against gen 0
    val inFlight = SnapTables.resolve(spark, dir, "pb")
    val gen = SnapTables.deleteByKey(spark, dir, "pb", "key",
      (1L to 12L).filter(_ % 4 == 0).toDF("key"))
    assert(gen == 1)
    // post-flip resolution serves the survivors
    assert(rows(SnapTables.resolve(spark, dir, "pb")) == survRows)
    // THE point of the layer: the pre-flip frame still returns every gen-0
    // row — its files were superseded, never deleted
    assert(rows(inFlight) == allRows,
      "a reader resolved before the rewrite must keep serving its generation")
    // time travel reaches both while both are retained
    assert(rows(SnapTables.resolveAt(spark, dir, "pb", 0)) == allRows)
    assert(rows(SnapTables.resolveAt(spark, dir, "pb", 1)) == survRows)
    // a delete that empties partition 0 (its survivors 3, 6, 9) drops it
    // from the manifest; the unaffected partitions keep their exact files
    assert(SnapTables.deleteByKey(spark, dir, "pb", "key",
      Seq(3L, 6L, 9L).toDF("key")) == 2)
    val m1 = SnapTables.manifestEntries(spark, dir, 1)
    val m2 = SnapTables.manifestEntries(spark, dir, 2)
    assert(!m2.contains(0), "an emptied partition must leave the manifest")
    assert(m2 == m1 - 0, "unaffected partitions must keep their original files")
    assert(rows(SnapTables.resolve(spark, dir, "pb")) ==
      survRows.filterNot { case (k, _) => k % 3 == 0 })
  }

  test("a crashed writer's orphan files are invisible: readers trust manifests, not listings") {
    import spark.implicits._
    val dir = tmpDir("snap-orphan")
    SnapTables.publishInitial(spark, dir, "pb", table)
    // simulate a rewrite that died after writing data but BEFORE the
    // pointer rename: drop a stray parquet file into a partition directory
    Seq((999L, "junk", 0)).toDF("key", "payload", "pb")
      .write.mode("append").partitionBy("pb").parquet(dir)
    assert(SnapTables.currentGeneration(spark, dir).contains(0),
      "no flip happened — the current generation must be unchanged")
    assert(rows(SnapTables.resolve(spark, dir, "pb")) == allRows,
      "unreferenced files must be invisible to manifest readers")
  }

  test("expire reclaims superseded files; retained generations keep serving") {
    import spark.implicits._
    val dir = tmpDir("snap-expire")
    SnapTables.publishInitial(spark, dir, "pb", table)
    SnapTables.deleteByKey(spark, dir, "pb", "key",
      (1L to 12L).filter(_ % 4 == 0).toDF("key"))
    SnapTables.expire(spark, dir, "pb", keepGens = 1)
    // the current generation survives expiry intact
    assert(rows(SnapTables.resolve(spark, dir, "pb")) == survRows)
    // gen 0 is gone: its manifest was pruned
    val ex = intercept[IllegalArgumentException] {
      SnapTables.resolveAt(spark, dir, "pb", 0).collect()
    }
    assert(ex.getMessage.contains("missing manifest"))
    // and its exclusive bytes were actually reclaimed: re-reading the raw
    // directories yields exactly the survivors (no superseded duplicates)
    assert(rows(spark.read.parquet(dir)) == survRows,
      "expire must delete every file only gen 0 referenced")
  }

  test("deleteByKey with no matching keys is a no-op at the same generation") {
    import spark.implicits._
    val dir = tmpDir("snap-noop")
    SnapTables.publishInitial(spark, dir, "pb", table)
    val gen = SnapTables.deleteByKey(spark, dir, "pb", "key", Seq(777L).toDF("key"))
    assert(gen == 0, "nothing matched — the generation must not advance")
    assert(rows(SnapTables.resolve(spark, dir, "pb")) == allRows)
  }

  test("decrementCounts: snapshot-published subtraction; pre-flip reader keeps the old statistics") {
    import spark.implicits._
    val dir = tmpDir("snap-dec")
    // additive side table: (key, n, pb) with n = 10 everywhere
    val counts = (1L to 12L).map(k => (k, 10L, (k % 3).toInt)).toDF("key", "n", "pb")
    SnapTables.publishInitial(spark, dir, "pb", counts)
    val inFlight = SnapTables.resolve(spark, dir, "pb")
    // retract 4 from keys 1..3, all 10 from key 4 (legitimate full
    // retraction); key 3's retraction arrives as two rows (1 + 3), which
    // must subtract their sum ONCE instead of fanning out the join
    val deltas = Seq((1L, 4L), (2L, 4L), (3L, 1L), (3L, 3L), (4L, 10L))
      .toDF("key", "__dec")
    val gen = SnapTables.decrementCounts(spark, dir, "pb", Seq("key"), "n", deltas)
    assert(gen == 1)
    def counted(df: DataFrame): Map[Long, Long] =
      df.select(col("key"), col("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val now = counted(SnapTables.resolve(spark, dir, "pb"))
    assert(SnapTables.resolve(spark, dir, "pb").count() == 11L,
      "duplicate delta keys must not duplicate stored rows")
    assert(now(1L) == 6L && now(2L) == 6L && now(3L) == 6L)
    assert(!now.contains(4L), "a key retracted to zero must drop")
    assert((5L to 12L).forall(k => now(k) == 10L))
    // the pre-flip reader still serves the UN-decremented statistics
    assert(counted(inFlight) == (1L to 12L).map(_ -> 10L).toMap,
      "a reader resolved before the decrement must keep its generation's counts")
    // the in-place recipe's guards carry over: over-retraction refuses
    val over = intercept[IllegalArgumentException] {
      SnapTables.decrementCounts(spark, dir, "pb", Seq("key"), "n",
        Seq((5L, 11L)).toDF("key", "__dec"))
    }
    assert(over.getMessage.contains("exceeds"))
    // unknown key (the already-dropped key 4) refuses — a silent no-op
    // would read as a landed retraction
    val unk = intercept[IllegalArgumentException] {
      SnapTables.decrementCounts(spark, dir, "pb", Seq("key"), "n",
        Seq((4L, 1L)).toDF("key", "__dec"))
    }
    assert(unk.getMessage.contains("never counted"))
    assert(SnapTables.currentGeneration(spark, dir).contains(1),
      "refused batches must not advance the generation")
  }

  test("LmIndex.repairBig completes a snapshot delete that crashed between the uni and big flips") {
    import spark.implicits._
    import graft.ops.LmIndex
    val dir = tmpDir("snap-lmrepair")
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug"),
      (3L, "a bird flew over the rug")).toDF("id", "body")
    val tbl = LmIndex.build(docs, col("id"), col("body"))
    def wb(w: String) = pmod(hash(col(w)), lit(4))
    SnapTables.publishInitial(spark, s"$dir/uni", "wb", tbl.uni.withColumn("wb", wb("w")))
    SnapTables.publishInitial(spark, s"$dir/big", "wb", tbl.big.withColumn("wb", wb("w1")))
    val removed = docs.where(col("id") === 2L)
    // simulate the crash: deleteSnapshot's FIRST flip (the uni decrement)
    // landed, the process died before the big flip
    SnapTables.decrementCounts(spark, s"$dir/uni", "wb", Seq("w"), "c1",
      LmIndex.build(removed, col("id"), col("body")).uni
        .withColumnRenamed("c1", "__dec"))
    // the documented one-call repair publishes the big half alone
    assert(LmIndex.repairBig(spark, dir, removed, col("id"), col("body")) == 1)
    // both tables now equal a from-scratch build on the survivors
    val expect = LmIndex.build(docs.where(col("id") =!= 2L), col("id"), col("body"))
    def uniSet(u: DataFrame) = u.select(col("w"), col("c1")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    def bigSet(b: DataFrame) = b.select(col("w1"), col("w2"), col("c2")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(uniSet(SnapTables.resolve(spark, s"$dir/uni", "wb")) == uniSet(expect.uni))
    assert(bigSet(SnapTables.resolve(spark, s"$dir/big", "wb")) == bigSet(expect.big))
    // a doubted second repair is refused, never double-subtracted: the
    // removed doc's own bigrams ("the dog") were fully retracted
    val again = intercept[IllegalArgumentException] {
      LmIndex.repairBig(spark, dir, removed, col("id"), col("body"))
    }
    assert(again.getMessage.contains("never counted"))
    assert(SnapTables.currentGeneration(spark, s"$dir/big").contains(1))
  }

  test("a crash between manifest write and pointer flip is repaired by re-running the publish") {
    import spark.implicits._
    val dir = tmpDir("snap-crash")
    SnapTables.publishInitial(spark, dir, "pb", table)
    // simulate the torn publish: a prior attempt wrote gen-1's manifest and
    // died BEFORE the pointer rename — the manifest exists, the pointer
    // still names gen 0, and gen 1 was never served. HDFS/local rename does
    // not overwrite, so without the delete-before-rename the retry dies.
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val leftover = new org.apache.hadoop.fs.Path(dir, "_manifests/gen-000001.tsv")
    val out = hfs.create(leftover, true)
    out.write("0\tno-such-file.parquet".getBytes("UTF-8"))
    out.close()
    assert(SnapTables.currentGeneration(spark, dir).contains(0))
    // the retried maintenance must REPLACE the unserved leftover and publish
    val gen = SnapTables.deleteByKey(spark, dir, "pb", "key",
      (1L to 12L).filter(_ % 4 == 0).toDF("key"))
    assert(gen == 1)
    assert(rows(SnapTables.resolve(spark, dir, "pb")) == survRows,
      "the re-published gen 1 must serve the survivors, not the crashed leftover")
  }

  test("rewritePartitions refuses survivor rows outside the affected set") {
    import spark.implicits._
    val dir = tmpDir("snap-stray")
    SnapTables.publishInitial(spark, dir, "pb", table)
    // survivors claim partition 1 rows while declaring only partition 0
    // affected — those rows would be written but never manifest-referenced
    val ex = intercept[IllegalArgumentException] {
      SnapTables.rewritePartitions(spark, dir, "pb", Seq(0),
        table.where(col("pb") === 1))
    }
    assert(ex.getMessage.contains("outside the affected set"))
    assert(SnapTables.currentGeneration(spark, dir).contains(0),
      "the refused rewrite must not advance the generation")
    assert(rows(SnapTables.resolve(spark, dir, "pb")) == allRows)
  }

  test("expire tolerates generations a tighter prior expire already dropped") {
    import spark.implicits._
    val dir = tmpDir("snap-reexpire")
    SnapTables.publishInitial(spark, dir, "pb", table)
    SnapTables.deleteByKey(spark, dir, "pb", "key", Seq(4L).toDF("key"))
    SnapTables.expire(spark, dir, "pb", keepGens = 1) // drops gen 0's manifest
    SnapTables.deleteByKey(spark, dir, "pb", "key", Seq(8L).toDF("key"))
    // keep window [0, 2] includes the already-dropped gen 0 — not corruption
    SnapTables.expire(spark, dir, "pb", keepGens = 3)
    assert(rows(SnapTables.resolve(spark, dir, "pb")) ==
      allRows.filterNot { case (k, _) => k == 4L || k == 8L })
  }

  test("appendPartitions: delta-only I/O, union manifest, pre-flip reader keeps the base") {
    import spark.implicits._
    val dir = tmpDir("snap-append")
    SnapTables.publishInitial(spark, dir, "pb", table)
    val inFlight = SnapTables.resolve(spark, dir, "pb")
    // pb=1 exists (accretes a file), pb=3 is a brand-new partition value
    val gen = SnapTables.appendPartitions(spark, dir, "pb",
      Seq((13L, "v13", 1), (14L, "v14", 3)).toDF("key", "payload", "pb"))
    assert(gen == 1)
    assert(rows(SnapTables.resolve(spark, dir, "pb")) ==
      allRows + ((13L, "v13")) + ((14L, "v14")))
    assert(rows(inFlight) == allRows,
      "a reader resolved before the append must not see the delta")
    val m0 = SnapTables.manifestEntries(spark, dir, 0)
    val m1 = SnapTables.manifestEntries(spark, dir, 1)
    assert(m1(0) == m0(0) && m1(2) == m0(2),
      "untouched partitions must carry their generation-N entries forward verbatim")
    assert(m0(1).toSet.subsetOf(m1(1).toSet) && m1(1).size > m0(1).size,
      "a touched partition must reference the union of old and new files")
    assert(m1(3).nonEmpty, "a new partition value must enter the manifest")
    // empty delta publishes nothing
    assert(SnapTables.appendPartitions(spark, dir, "pb",
      Seq.empty[(Long, String, Int)].toDF("key", "payload", "pb")) == 1)
  }

  test("compactPartitions folds accreted files into ~one per partition, content-invariant") {
    import spark.implicits._
    val dir = tmpDir("snap-compact")
    SnapTables.publishInitial(spark, dir, "pb", table)
    SnapTables.appendPartitions(spark, dir, "pb",
      Seq((13L, "v13", 1)).toDF("key", "payload", "pb"))
    SnapTables.appendPartitions(spark, dir, "pb",
      Seq((14L, "v14", 1)).toDF("key", "payload", "pb"))
    assert(SnapTables.manifestEntries(spark, dir, 2)(1).size == 3,
      "two appends must have accreted pb=1 to three referenced files")
    val expect = rows(SnapTables.resolve(spark, dir, "pb"))
    val preCompact = SnapTables.resolve(spark, dir, "pb")
    val gen = SnapTables.compactPartitions(spark, dir, "pb")
    assert(gen == 3)
    val m = SnapTables.manifestEntries(spark, dir, 3)
    assert(m(1).size == 1, "the accreted partition must fold to one file")
    assert(m(0) == SnapTables.manifestEntries(spark, dir, 2)(0),
      "single-file partitions must carry forward with zero I/O")
    assert(rows(SnapTables.resolve(spark, dir, "pb")) == expect,
      "compaction must be invisible in the rows")
    assert(rows(preCompact) == expect,
      "a reader resolved before the compaction keeps serving its files")
    // nothing left to fold: the verb is a no-op at the same generation
    assert(SnapTables.compactPartitions(spark, dir, "pb") == 3)
  }

  test("appendBatch: replay no-ops, checkpoint reset refused, rewrites carry the high-water mark") {
    import spark.implicits._
    val dir = tmpDir("snap-batch")
    SnapTables.publishInitial(spark, dir, "pb", table)
    val d0 = Seq((13L, "v13", 1)).toDF("key", "payload", "pb")
    assert(SnapTables.appendBatch(spark, dir, "pb", d0, batchId = 0L) == 1)
    assert(SnapTables.lastAppendBatch(spark, dir, 1).contains(0L))
    // the crash window the checkpoint cannot close: publication flipped,
    // commit log unwritten, batch 0 replays — recognized, publishes nothing
    assert(SnapTables.appendBatch(spark, dir, "pb", d0, batchId = 0L) == 1)
    assert(SnapTables.resolve(spark, dir, "pb")
      .where(col("key") === 13L).count() == 1,
      "a replayed batch must not duplicate its rows")
    // a maintenance rewrite between batches must not amnesia the mark —
    // and a delete of an appended row must survive the append's replay
    assert(SnapTables.deleteByKey(spark, dir, "pb", "key", Seq(13L).toDF("key")) == 2)
    assert(SnapTables.lastAppendBatch(spark, dir, 2).contains(0L),
      "rewrites must carry the batch high-water mark forward")
    assert(SnapTables.appendBatch(spark, dir, "pb", d0, batchId = 0L) == 2)
    assert(SnapTables.resolve(spark, dir, "pb")
      .where(col("key") === 13L).count() == 0,
      "a replayed append must not resurrect a deleted row")
    // the next real batch advances; a batch BELOW the mark is a reset
    // checkpoint over a live table — refused before any write
    assert(SnapTables.appendBatch(spark, dir, "pb",
      Seq((14L, "v14", 2)).toDF("key", "payload", "pb"), batchId = 1L) == 3)
    val ex = intercept[IllegalArgumentException] {
      SnapTables.appendBatch(spark, dir, "pb", d0, batchId = 0L)
    }
    assert(ex.getMessage.contains("reset"))
  }

  test("appendBatch: a different stream's checkpoint is refused even at an equal batch id") {
    import spark.implicits._
    val dir = tmpDir("snap-stream-id")
    SnapTables.publishInitial(spark, dir, "pb", table)
    assert(SnapTables.appendBatch(spark, dir, "pb",
      Seq((13L, "v13", 1)).toDF("key", "payload", "pb"),
      batchId = 0L, streamId = Some("/ckpt/A")) == 1)
    // the hole id-only logic cannot see: a RESET/SWAPPED checkpoint whose
    // first batch id EQUALS the recorded mark — id-only would classify it
    // as a replay and silently drop the new stream's batch 0
    val ex = intercept[IllegalArgumentException] {
      SnapTables.appendBatch(spark, dir, "pb",
        Seq((99L, "v99", 0)).toDF("key", "payload", "pb"),
        batchId = 0L, streamId = Some("/ckpt/B"))
    }
    assert(ex.getMessage.contains("/ckpt/A") && ex.getMessage.contains("/ckpt/B"),
      "the refusal must name both checkpoints")
    // a maintenance rewrite carries the stream identity forward with the mark
    SnapTables.deleteByKey(spark, dir, "pb", "key", Seq(13L).toDF("key"))
    val ex2 = intercept[IllegalArgumentException] {
      SnapTables.appendBatch(spark, dir, "pb",
        Seq((99L, "v99", 0)).toDF("key", "payload", "pb"),
        batchId = 5L, streamId = Some("/ckpt/B"))
    }
    assert(ex2.getMessage.contains("/ckpt/A"),
      "rewrites must not amnesia the stream identity")
    // the SAME stream's true replay is still a recognized no-op
    assert(SnapTables.appendBatch(spark, dir, "pb",
      Seq((13L, "v13", 1)).toDF("key", "payload", "pb"),
      batchId = 0L, streamId = Some("/ckpt/A")) == 2)
  }

  test("snapshotIngest: one generation per micro-batch; restart on the same checkpoint re-emits nothing") {
    import spark.implicits._
    val dir = tmpDir("snap-ingest")
    val src = tmpDir("snap-ingest-src")
    val ckpt = tmpDir("snap-ingest-ckpt")
    SnapTables.publishInitial(spark, dir, "pb", table)
    Seq((13L, "v13"), (14L, "v14"), (15L, "v15"), (16L, "v16"))
      .toDF("key", "payload")
      .repartition(2).write.mode("overwrite").parquet(src)
    def drain(): Unit = {
      val q = graft.streaming.Pipelines.snapshotIngest(
        spark.readStream.schema("key BIGINT, payload STRING")
          .option("maxFilesPerTrigger", 1).parquet(src),
        dir, "pb", ckpt,
        xform = b => b.withColumn("pb", pmod(col("key"), lit(3)).cast("int")))
      q.awaitTermination()
    }
    drain()
    val expect = allRows ++ (13L to 16L).map(k => (k, s"v$k"))
    assert(rows(SnapTables.resolve(spark, dir, "pb")) == expect)
    val gen = SnapTables.currentGeneration(spark, dir).get
    assert(gen >= 2, "two non-empty micro-batches must publish two generations")
    // restart on the same checkpoint: the drained source replays nothing
    drain()
    assert(SnapTables.currentGeneration(spark, dir).contains(gen),
      "a restart with no new data must publish no generation")
    assert(rows(SnapTables.resolve(spark, dir, "pb")) == expect)
  }

  private def lockPath(dir: String, gen: Int) =
    new org.apache.hadoop.fs.Path(dir, f"_manifests/.publish-$gen%06d.lock")

  private def writeLock(dir: String, gen: Int, identity: String): Unit = {
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val out = hfs.create(lockPath(dir, gen), true)
    out.write(identity.getBytes("UTF-8"))
    out.close()
  }

  test("single-writer ENFORCED: a held claim makes the second writer fail loudly; reclaimStale recovers") {
    import spark.implicits._
    val dir = tmpDir("snap-race")
    SnapTables.publishInitial(spark, dir, "pb", table)
    // writer A holds the gen-1 claim (equivalently: crashed holding it) —
    // the deterministic stand-in for the timing-dependent two-writer race;
    // both writers read gen 0, A claimed first, B must NOT silently orphan
    writeLock(dir, 1, "writer-A")
    val ex = intercept[IllegalStateException] {
      SnapTables.deleteByKey(spark, dir, "pb", "key", Seq(4L).toDF("key"))
    }
    assert(ex.getMessage.contains("claimed by another writer"))
    assert(SnapTables.currentGeneration(spark, dir).contains(0),
      "the refused writer must not advance the generation")
    assert(rows(SnapTables.resolve(spark, dir, "pb")) == allRows,
      "the table must keep serving a consistent generation")
    // operator recovery: A is known dead → reclaim, retry succeeds
    assert(SnapTables.reclaimStale(spark, dir) == Seq(1))
    assert(SnapTables.deleteByKey(spark, dir, "pb", "key",
      Seq(4L).toDF("key")) == 1)
    assert(rows(SnapTables.resolve(spark, dir, "pb")) == allRows - ((4L, "v4")))
  }

  test("two real concurrent writers: exactly one publishes, the loser throws, the table stays consistent") {
    import spark.implicits._
    val dir = tmpDir("snap-race2")
    SnapTables.publishInitial(spark, dir, "pb", table)
    // both writers race deleteByKey from the same base generation; the
    // interleaving is nondeterministic but the OUTCOME is not: whichever
    // thread claims gen 1 first publishes, the other fails either at the
    // claim (marker held) or at the post-claim base re-check (pointer
    // already advanced) — never a silent orphan
    val results = race(
      "A" -> (() => {
        SnapTables.deleteByKey(spark, dir, "pb", "key", Seq(4L).toDF("key")); ()
      }),
      "B" -> (() => {
        SnapTables.deleteByKey(spark, dir, "pb", "key", Seq(8L).toDF("key")); ()
      }))
    // under scheduling jitter one thread's base read can land AFTER the
    // other's full publish — then both deletes apply SERIALLY on stacked
    // generations 1 and 2, which is a correct outcome, not a lost race
    // (what the enforcement forbids is a SILENT lost update)
    assert(results.size <= 1,
      s"at most one writer may lose (got ${results.size} failures: " +
        s"${results.keySet()})")
    if (results.isEmpty) {
      assert(SnapTables.currentGeneration(spark, dir).contains(2),
        "zero losers is only legal when the deletes stacked serially")
      assert(rows(SnapTables.resolve(spark, dir, "pb")) ==
        allRows -- Set((4L, "v4"), (8L, "v8")),
        "with zero losers BOTH deletes must have applied")
    } else {
      assertLoudLoser("two-writer race", results.values.iterator.next())
      // the winner's publication is fully consistent
      assert(SnapTables.currentGeneration(spark, dir).contains(1))
      val got = rows(SnapTables.resolve(spark, dir, "pb"))
      val winnerKey = if (results.containsKey("A")) 8L else 4L
      assert(got == allRows.filterNot(_._1 == winnerKey),
        s"the table must serve exactly the winner's delete, got ${got.size} rows")
    }
  }

  test("appendBatch's crash-replay recognizes its OWN leftover claim and self-heals") {
    import spark.implicits._
    val dir = tmpDir("snap-selfheal")
    SnapTables.publishInitial(spark, dir, "pb", table)
    val d = Seq((13L, "v13", 1)).toDF("key", "payload", "pb")
    // the prior attempt of THIS batch crashed after claiming gen 1: the
    // marker carries its stream+batch identity, so the replay keeps the
    // claim and completes the publication with no operator step
    writeLock(dir, 1, "stream:ckA:batch:7")
    assert(SnapTables.appendBatch(spark, dir, "pb", d, batchId = 7L,
      streamId = Some("ckA")) == 1)
    assert(rows(SnapTables.resolve(spark, dir, "pb")) == allRows + ((13L, "v13")))
    // …while a DIFFERENT batch hitting a foreign claim still fails loudly
    writeLock(dir, 2, "stream:ckA:batch:9")
    val ex = intercept[IllegalStateException] {
      SnapTables.appendBatch(spark, dir, "pb",
        Seq((14L, "v14", 1)).toDF("key", "payload", "pb"),
        batchId = 8L, streamId = Some("ckA"))
    }
    assert(ex.getMessage.contains("claimed by another writer"))
  }

  test("expire minAgeMs: a young generation outside keepGens survives; age 0 reclaims it") {
    import spark.implicits._
    val dir = tmpDir("snap-age")
    SnapTables.publishInitial(spark, dir, "pb", table)
    SnapTables.deleteByKey(spark, dir, "pb", "key", Seq(4L).toDF("key"))
    SnapTables.deleteByKey(spark, dir, "pb", "key", Seq(8L).toDF("key"))
    // gen 0 and 1 are outside keepGens=1 but seconds old — a long-running
    // reader may still hold their file lists; the age floor keeps them
    SnapTables.expire(spark, dir, "pb", keepGens = 1, minAgeMs = 3600L * 1000)
    assert(rows(SnapTables.resolveAt(spark, dir, "pb", 0)) == allRows,
      "a young expired-by-count generation must stay readable")
    assert(rows(SnapTables.resolveAt(spark, dir, "pb", 1)) == allRows - ((4L, "v4")))
    // operator decision: readers drained → count-only retention reclaims
    SnapTables.expire(spark, dir, "pb", keepGens = 1)
    intercept[IllegalArgumentException] {
      SnapTables.resolveAt(spark, dir, "pb", 0)
    }
    assert(rows(SnapTables.resolve(spark, dir, "pb")) ==
      allRows -- Set((4L, "v4"), (8L, "v8")))
  }

  test("compactPartitions targetBytes binpack: partitions of already-large files are left alone") {
    import spark.implicits._
    val dir = tmpDir("snap-binpack")
    SnapTables.publishInitial(spark, dir, "pb", table)
    SnapTables.appendPartitions(spark, dir, "pb",
      Seq((13L, "v13", 1)).toDF("key", "payload", "pb"))
    assert(SnapTables.manifestEntries(spark, dir, 1)(1).size == 2)
    // every parquet file here is >1 byte → none is "small" under
    // targetBytes=1 → nothing would fold → no-op at the same generation
    assert(SnapTables.compactPartitions(spark, dir, "pb", minFiles = 2,
      targetBytes = 1L) == 1)
    // with an honest target the two small files fold; content-invariant
    val expect = rows(SnapTables.resolve(spark, dir, "pb"))
    assert(SnapTables.compactPartitions(spark, dir, "pb", minFiles = 2,
      targetBytes = 64L * 1024 * 1024) == 2)
    assert(SnapTables.manifestEntries(spark, dir, 2)(1).size == 1)
    assert(rows(SnapTables.resolve(spark, dir, "pb")) == expect)
  }

  test("mergeCounts: additive increment as a generation; bucketing mismatch refused before publishing") {
    import spark.implicits._
    val dir = tmpDir("snap-merge")
    // counted table: key k → count 10k, partition k % 3
    SnapTables.publishInitial(spark, dir, "pb",
      (1L to 6L).map(k => (k, k * 10, (k % 3).toInt)).toDF("key", "n", "pb"))
    // delta: existing key 1 (+5, split over two rows — must pre-aggregate),
    // brand-new key 7 in its correct partition 1, new partition value 3
    val gen = SnapTables.mergeCounts(spark, dir, "pb", Seq("key"), "n",
      Seq((1L, 2L, 1), (1L, 3L, 1), (7L, 70L, 1), (9L, 90L, 3))
        .toDF("key", "n", "pb"))
    assert(gen == 1)
    val got = SnapTables.resolve(spark, dir, "pb")
      .collect().map(r => r.getAs[Long]("key") -> r.getAs[Long]("n")).toMap
    assert(got == Map(1L -> 15L, 2L -> 20L, 3L -> 30L, 4L -> 40L,
      5L -> 50L, 6L -> 60L, 7L -> 70L, 9L -> 90L))
    // a delta that re-buckets an existing key must fail loudly pre-publish
    val ex = intercept[IllegalArgumentException] {
      SnapTables.mergeCounts(spark, dir, "pb", Seq("key"), "n",
        Seq((2L, 1L, 0)).toDF("key", "n", "pb")) // key 2 lives in pb=2
    }
    assert(ex.getMessage.contains("different pb"))
    assert(SnapTables.currentGeneration(spark, dir).contains(1))
  }

  /** Every file the generation's manifest references must exist on disk —
    * the invariant a publisher∥expire race would break (expire sweeping a
    * mid-publication writer's not-yet-manifested files).
    */
  /** Run the named bodies on real threads released together at a barrier.
    * Returns racerName -> thrown error; empty means every racer won. One
    * shared scaffold so the five TRUE-race tests cannot drift apart.
    */
  private def race(bodies: (String, () => Unit)*)
      : java.util.concurrent.ConcurrentHashMap[String, Throwable] = {
    val errs = new java.util.concurrent.ConcurrentHashMap[String, Throwable]()
    val barrier = new java.util.concurrent.CyclicBarrier(bodies.size)
    val ts = bodies.map { case (name, body) =>
      val t = new Thread(() => {
        org.apache.spark.sql.SparkSession.setActiveSession(spark)
        barrier.await()
        try body() catch { case e: Throwable => errs.put(name, e); () }
      }, s"racer-$name")
      t.start(); t
    }
    ts.foreach(_.join())
    errs
  }

  /** The ONE whitelist of loud-loser messages the claim/re-check protocol
    * can legally emit — shared across every race test so a claim-message
    * change touches exactly one place.
    */
  private def assertLoudLoser(ctx: String, e: Throwable): Unit = {
    assert(e.isInstanceOf[IllegalStateException] ||
      e.isInstanceOf[IllegalArgumentException],
      s"$ctx: loser must fail loudly at the claim/re-check, got: $e")
    val m = e.getMessage
    assert(m.contains("claimed by another writer") ||
      m.contains("advanced past") || m.contains("advanced from") ||
      m.contains("empty claim marker") || m.contains("lost the claim race"),
      s"$ctx: unexpected loser error: $m")
  }

  private def assertManifestIntact(dir: String): Unit = {
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val gen = SnapTables.currentGeneration(spark, dir).get
    SnapTables.manifestEntries(spark, dir, gen).foreach { case (v, names) =>
      names.foreach { n =>
        val p = new org.apache.hadoop.fs.Path(dir, s"pb=$v/$n")
        assert(hfs.exists(p),
          s"generation $gen references $p but it is GONE — expire swept a " +
            "publisher's files mid-publication")
      }
    }
  }

  test("TRUE race, publisher vs expire: expire never sweeps a mid-publication writer's files") {
    import spark.implicits._
    // 6 repeat runs — the interleaving is nondeterministic, the OUTCOME
    // space is not: either the two verbs serialized cleanly (both applied)
    // or exactly one failed loudly at the claim/re-check; in EVERY outcome
    // the current manifest's files all exist and resolve() is coherent
    (1 to 6).foreach { i =>
      val dir = tmpDir(s"snap-race-expire-$i")
      SnapTables.publishInitial(spark, dir, "pb", table)
      // gen 1 exists so expire(keepGens=1) has real files to reclaim
      SnapTables.deleteByKey(spark, dir, "pb", "key",
        (1L to 12L).filter(_ % 4 == 0).toDF("key"))
      val delta = Seq((13L, "v13", 1)).toDF("key", "payload", "pb")
      val errs = race(
        "publish" -> (() => {
          SnapTables.appendPartitions(spark, dir, "pb", delta); ()
        }),
        "expire" -> (() => {
          SnapTables.expire(spark, dir, "pb", keepGens = 1)
        }))
      assert(errs.size <= 1, s"run $i: at most one racer may lose, got " +
        s"${errs.size} (${errs.keySet()})")
      errs.values.forEach(e => assertLoudLoser(s"run $i", e))
      // THE invariant: whatever interleaved, the serving generation's
      // manifest references only files that exist
      assertManifestIntact(dir)
      val got = rows(SnapTables.resolve(spark, dir, "pb"))
      val expected =
        if (errs.containsKey("publish")) survRows
        else survRows + ((13L, "v13"))
      assert(got == expected,
        s"run $i: resolve() must serve exactly the applied operations")
    }
  }

  test("TRUE race, appendBatch crash-replay vs compaction: the self-heal keeps its claim, maintenance fails loudly or stacks cleanly") {
    import spark.implicits._
    (1 to 6).foreach { i =>
      val dir = tmpDir(s"snap-race-selfheal-$i")
      SnapTables.publishInitial(spark, dir, "pb", table)
      // a second file in pb=1 so compactPartitions has real work
      SnapTables.appendPartitions(spark, dir, "pb",
        Seq((13L, "v13", 1)).toDF("key", "payload", "pb"))
      // batch 7's prior attempt crashed holding the gen-2 claim
      writeLock(dir, 2, "stream:ckA:batch:7")
      val errs = race(
        "replay" -> (() => {
          SnapTables.appendBatch(spark, dir, "pb",
            Seq((14L, "v14", 2)).toDF("key", "payload", "pb"),
            batchId = 7L, streamId = Some("ckA")); ()
        }),
        "compact" -> (() => {
          SnapTables.compactPartitions(spark, dir, "pb"); ()
        }))
      // the replay owns the pre-existing claim by identity — it can NEVER
      // lose; the compactor either hits the held claim (loses loudly) or
      // runs after the replay released (stacks cleanly as gen 3)
      assert(!errs.containsKey("replay"),
        s"run $i: the crash-replay must self-heal, got ${errs.get("replay")}")
      errs.values.forEach(e => assertLoudLoser(s"run $i (compactor)", e))
      assertManifestIntact(dir)
      assert(rows(SnapTables.resolve(spark, dir, "pb")) ==
        allRows ++ Set((13L, "v13"), (14L, "v14")),
        s"run $i: the replayed batch must have published exactly once")
    }
  }

  test("TRUE race, mergeCounts vs decrementCounts on one table: no silent lost update in any interleaving") {
    import spark.implicits._
    (1 to 6).foreach { i =>
      val dir = tmpDir(s"snap-race-counts-$i")
      SnapTables.publishInitial(spark, dir, "pb",
        (1L to 6L).map(k => (k, 10L, (k % 3).toInt)).toDF("key", "n", "pb"))
      val errs = race(
        "merge" -> (() => {
          SnapTables.mergeCounts(spark, dir, "pb", Seq("key"), "n",
            Seq((1L, 5L, 1)).toDF("key", "n", "pb")); ()
        }),
        "retract" -> (() => {
          SnapTables.decrementCounts(spark, dir, "pb", Seq("key"), "n",
            Seq((2L, 4L)).toDF("key", "__dec")); ()
        }))
      assert(errs.size <= 1, s"run $i: at most one racer may lose, got " +
        s"${errs.size} (${errs.keySet()})")
      errs.values.forEach(e => assertLoudLoser(s"run $i", e))
      assertManifestIntact(dir)
      val got = SnapTables.resolve(spark, dir, "pb")
        .collect().map(r => r.getAs[Long]("key") -> r.getAs[Long]("n")).toMap
      // the enforcement guarantee: an effect is either fully published or
      // loudly refused — (applied merge?, applied retract?) must agree
      // with (merge lost?, retract lost?) exactly
      assert(got(1L) == (if (errs.containsKey("merge")) 10L else 15L),
        s"run $i: merge outcome must match its reported result, got $got")
      assert(got(2L) == (if (errs.containsKey("retract")) 10L else 6L),
        s"run $i: retract outcome must match its reported result, got $got")
      val expectGen = 2 - errs.size
      assert(SnapTables.currentGeneration(spark, dir).contains(expectGen),
        s"run $i: generation must count exactly the publications that landed")
    }
  }

  test("zone maps: per-file key stats prune FILES within a partition; every verb maintains them") {
    import spark.implicits._
    val dir = tmpDir("snap-zones")
    SnapTables.publishInitial(spark, dir, "pb", table, statsCol = Some("key"))
    // second file per partition with a disjoint key range
    SnapTables.appendPartitions(spark, dir, "pb",
      (101L to 112L).map(k => (k, s"v$k", (k % 3).toInt))
        .toDF("key", "payload", "pb"))
    val full = SnapTables.manifestEntries(spark, dir, 1)
    assert(full.values.forall(_.size == 2), "each partition must hold 2 files")
    // THE done-condition: a key predicate lists a STRICT subset of files
    val low = SnapTables.zoneFiles(spark, dir, "pb", 1, 1L, 12L)
    assert(low.values.forall(_.size == 1),
      s"the low range must keep exactly the low file per partition, got $low")
    assert(low.forall { case (v, names) => names.toSet.subsetOf(full(v).toSet) })
    // pruned resolves stay CORRECT (superset-of-matching contract)
    assert(rows(SnapTables.resolveRange(spark, dir, "pb", 1L, 12L)) == allRows)
    assert(rows(SnapTables.resolveRange(spark, dir, "pb", 101L, 112L)) ==
      (101L to 112L).map(k => (k, s"v$k")).toSet)
    // a range beyond every zone: empty frame, schema intact
    val none = SnapTables.resolveRange(spark, dir, "pb", 500L, 600L)
    assert(none.isEmpty && none.columns.toSet == Set("key", "payload", "pb"))
    // a rewrite maintains stats WITHOUT the caller re-passing the column:
    // delete from the low range. The rewritten partitions (1, 2) fold both
    // ranges into one file whose fresh zone spans 1..112 — resolveRange is
    // a SUPERSET (the partition-pruning contract), so assert through the
    // caller's row predicate; file-level pruning stays visible on the
    // untouched partition 0, still split low/high
    SnapTables.deleteByKey(spark, dir, "pb", "key", Seq(4L, 8L).toDF("key"))
    assert(rows(SnapTables.resolveRange(spark, dir, "pb", 1L, 12L)
      .where(col("key") <= 12L)) == allRows -- Set((4L, "v4"), (8L, "v8")))
    assert(SnapTables.zoneFiles(spark, dir, "pb", 2, 1L, 12L)(0).size == 1,
      "partition 0 kept its low/high split — the low lookup must still " +
        "prune its high file")
    // compaction folds files and re-derives zones spanning both ranges
    assert(SnapTables.compactPartitions(spark, dir, "pb") == 3)
    assert(SnapTables.zoneFiles(spark, dir, "pb", 3, 1L, 12L)
      .values.forall(_.size == 1))
    assert(rows(SnapTables.resolveRange(spark, dir, "pb", 101L, 112L)
      .where(col("key") >= 101L)) ==
      (101L to 112L).map(k => (k, s"v$k")).toSet)
    // a stats-free table prunes nothing and resolves identically
    val plain = tmpDir("snap-nozones")
    SnapTables.publishInitial(spark, plain, "pb", table)
    assert(SnapTables.zoneFiles(spark, plain, "pb", 0, 1L, 1L) ==
      SnapTables.manifestEntries(spark, plain, 0))
    assert(rows(SnapTables.resolveRange(spark, plain, "pb", 1L, 12L)) == allRows)
  }

  test("TRUE race, rollback vs append: one loud loser or a clean stack — never a half-undone state") {
    import spark.implicits._
    (1 to 6).foreach { i =>
      val dir = tmpDir(s"snap-race-rollback-$i")
      SnapTables.publishInitial(spark, dir, "pb", table)
      SnapTables.appendPartitions(spark, dir, "pb",
        Seq((13L, "v13", 1)).toDF("key", "payload", "pb"))
      val errs = race(
        "rollback" -> (() => {
          SnapTables.rollback(spark, dir, "pb", toGen = 0); ()
        }),
        "append" -> (() => {
          SnapTables.appendPartitions(spark, dir, "pb",
            Seq((14L, "v14", 2)).toDF("key", "payload", "pb")); ()
        }))
      assert(errs.size <= 1, s"run $i: at most one racer may lose, got " +
        s"${errs.size} (${errs.keySet()})")
      errs.values.forEach(e => assertLoudLoser(s"run $i", e))
      assertManifestIntact(dir)
      // the serving content must be exactly one of the four serial
      // outcomes implied by (rollback applied?, append applied?) — the
      // rollback-after-append serial order erases the append's rows from
      // the CURRENT generation (they stay time-travelable), so the legal
      // states are enumerable from the loser set plus the final pointer
      val got = rows(SnapTables.resolve(spark, dir, "pb"))
      val gen = SnapTables.currentGeneration(spark, dir).get
      val legal: Set[Set[(Long, String)]] =
        (errs.containsKey("rollback"), errs.containsKey("append")) match {
          case (true, false) => Set(allRows + ((13L, "v13")) + ((14L, "v14")))
          case (false, true) => Set(allRows)
          case (false, false) =>
            // both applied serially: rollback-then-append or append-then-
            // rollback — the pointer says two publications landed
            Set(allRows + ((14L, "v14")), allRows)
          case (true, true) => Set.empty // forbidden by the <=1 assert
        }
      assert(legal.contains(got),
        s"run $i: gen=$gen served ${got.size} rows — not a legal serial outcome " +
          s"(losers=${errs.keySet()})")
    }
  }

  test("rollback: a retained generation serves again as a NEW generation; ingest history survives") {
    import spark.implicits._
    val dir = tmpDir("snap-rollback")
    SnapTables.publishInitial(spark, dir, "pb", table)
    // gen 1 arrives through the exactly-once stream path so the rollback's
    // header-carry contract is observable
    assert(SnapTables.appendBatch(spark, dir, "pb",
      Seq((13L, "v13", 1)).toDF("key", "payload", "pb"),
      batchId = 7L, streamId = Some("ckA")) == 1)
    // gen 2: a bad delete the operator wants undone
    assert(SnapTables.deleteByKey(spark, dir, "pb", "key",
      (1L to 12L).filter(_ % 4 == 0).toDF("key")) == 2)
    val preFlip = SnapTables.resolve(spark, dir, "pb")
    assert(SnapTables.rollback(spark, dir, "pb", toGen = 1) == 3,
      "rollback publishes FORWARD as a new generation")
    assert(rows(SnapTables.resolve(spark, dir, "pb")) == allRows + ((13L, "v13")),
      "the rolled-back state must serve gen 1's exact content")
    assert(rows(preFlip) == survRows + ((13L, "v13")),
      "a reader resolved before the rollback keeps its generation")
    // every generation stays time-travelable (nothing was copied or deleted)
    assert(rows(SnapTables.resolveAt(spark, dir, "pb", 2)) ==
      survRows + ((13L, "v13")))
    // ingest history is NOT rolled back: batch 7's high-water mark rides
    // the new manifest, so its replay still publishes NOTHING
    assert(SnapTables.lastAppendBatch(spark, dir, 3).contains(7L))
    assert(SnapTables.appendBatch(spark, dir, "pb",
      Seq((14L, "v14", 2)).toDF("key", "payload", "pb"),
      batchId = 7L, streamId = Some("ckA")) == 3,
      "a replayed batch must still be recognized after a rollback")
    // no-op at the current generation
    assert(SnapTables.rollback(spark, dir, "pb", toGen = 3) == 3)
    // an expired target refuses loudly instead of publishing dangling files
    SnapTables.expire(spark, dir, "pb", keepGens = 1)
    val ex = intercept[IllegalArgumentException] {
      SnapTables.rollback(spark, dir, "pb", toGen = 2)
    }
    assert(ex.getMessage.contains("expired") ||
      ex.getMessage.contains("reclaimed"),
      s"unexpected refusal: ${ex.getMessage}")
    assert(SnapTables.currentGeneration(spark, dir).contains(3),
      "a refused rollback must not advance the generation")
    // and zone stats ride a rollback: the zoned table's gen-0 stats serve
    // again after rolling back over an appended generation
    val zdir = tmpDir("snap-rollback-zones")
    SnapTables.publishInitial(spark, zdir, "pb", table, statsCol = Some("key"))
    SnapTables.appendPartitions(spark, zdir, "pb",
      (101L to 112L).map(k => (k, s"v$k", (k % 3).toInt))
        .toDF("key", "payload", "pb"))
    assert(SnapTables.rollback(spark, zdir, "pb", toGen = 0) == 2)
    assert(SnapTables.zoneFiles(spark, zdir, "pb", 2, 101L, 112L).isEmpty,
      "after rolling back over the append, no file can hold the high range")
    assert(rows(SnapTables.resolveRange(spark, zdir, "pb", 1L, 12L)) == allRows)
  }

  test("zone maps stay truthful through a mixed verb history: pruned == unpruned under the row predicate") {
    import spark.implicits._
    val dir = tmpDir("snap-zone-history")
    def batch(lo: Long, hi: Long) =
      (lo to hi).map(k => (k, s"v$k", (k % 3).toInt)).toDF("key", "payload", "pb")
    SnapTables.publishInitial(spark, dir, "pb", batch(1L, 12L),
      statsCol = Some("key"))
    // a fixed, seeded verb history exercising every stats-maintaining path
    val history: Seq[() => Unit] = Seq(
      () => { SnapTables.appendPartitions(spark, dir, "pb", batch(101L, 112L)); () },
      () => { SnapTables.deleteByKey(spark, dir, "pb", "key",
        Seq(3L, 104L).toDF("key")); () },
      () => { SnapTables.appendPartitions(spark, dir, "pb", batch(201L, 206L)); () },
      () => { SnapTables.compactPartitions(spark, dir, "pb"); () },
      () => { SnapTables.appendPartitions(spark, dir, "pb", batch(301L, 303L)); () },
      () => { SnapTables.rollback(spark, dir, "pb",
        SnapTables.currentGeneration(spark, dir).get - 1); () },
      () => { SnapTables.deleteByKey(spark, dir, "pb", "key",
        Seq(205L).toDF("key")); () })
    val probes = Seq((1L, 12L), (101L, 112L), (200L, 210L), (1L, 400L),
      (150L, 180L), (301L, 303L))
    history.zipWithIndex.foreach { case (verb, step) =>
      verb()
      val full = SnapTables.resolve(spark, dir, "pb")
      probes.foreach { case (lo, hi) =>
        val pruned = rows(SnapTables.resolveRange(spark, dir, "pb", lo, hi)
          .where(col("key").between(lo, hi)))
        val truth = rows(full.where(col("key").between(lo, hi)))
        assert(pruned == truth,
          s"step $step range [$lo,$hi]: pruned serve lost/invented rows " +
            s"(pruned ${pruned.size} vs truth ${truth.size}) — a zone line " +
            "went stale through this verb history")
      }
    }
  }

  test("a rewrite that would empty the table fails before publishing") {
    import spark.implicits._
    val dir = tmpDir("snap-empty")
    SnapTables.publishInitial(spark, dir, "pb", table)
    val ex = intercept[IllegalArgumentException] {
      SnapTables.deleteByKey(spark, dir, "pb", "key", (1L to 12L).toDF("key"))
    }
    assert(ex.getMessage.contains("empties the whole table"))
    assert(SnapTables.currentGeneration(spark, dir).contains(0))
    assert(rows(SnapTables.resolve(spark, dir, "pb")) == allRows,
      "the failed rewrite must leave the serving generation untouched")
  }

  test("conflict losses are typed: claim, stale plannedBase, and pointer re-check all throw SnapConflict") {
    import spark.implicits._
    val dir = tmpDir("snap-conflict-type")
    SnapTables.publishInitial(spark, dir, "pb", table)
    // a held foreign claim loses at the claim
    writeLock(dir, 1, "ghost-writer")
    val atClaim = intercept[graft.ops.SnapConflict] {
      SnapTables.appendPartitions(spark, dir, "pb",
        Seq((13L, "v13", 1)).toDF("key", "payload", "pb"))
    }
    assert(atClaim.getMessage.contains("claimed by another writer"))
    SnapTables.reclaimStale(spark, dir)
    // a plan derived against a generation the table has left loses at the
    // plannedBase re-check
    SnapTables.appendPartitions(spark, dir, "pb",
      Seq((13L, "v13", 1)).toDF("key", "payload", "pb"))
    val atBase = intercept[graft.ops.SnapConflict] {
      SnapTables.rewritePartitions(spark, dir, "pb", Seq(1),
        Seq((14L, "v14", 1)).toDF("key", "payload", "pb"),
        plannedBase = Some(0))
    }
    assert(atBase.getMessage.contains("advanced from"))
    assert(rows(SnapTables.resolve(spark, dir, "pb")) == allRows + ((13L, "v13")),
      "both losses must leave the serving generation untouched")
  }

  test("TRUE race, two retryingPublish appenders: BOTH land — the retry turns loud losses into serialized wins") {
    import spark.implicits._
    (1 to 6).foreach { i =>
      val dir = tmpDir(s"snap-retry-race-$i")
      SnapTables.publishInitial(spark, dir, "pb", table)
      val errs = race(
        "A" -> (() => SnapTables.retryingPublish(backoffMs = 10) {
          SnapTables.appendPartitions(spark, dir, "pb",
            Seq((13L, "v13", 1)).toDF("key", "payload", "pb")); ()
        }),
        "B" -> (() => SnapTables.retryingPublish(backoffMs = 10) {
          SnapTables.appendPartitions(spark, dir, "pb",
            Seq((14L, "v14", 2)).toDF("key", "payload", "pb")); ()
        }))
      assert(errs.isEmpty,
        s"run $i: with retry no appender may lose, got ${errs.keySet()}: " +
          s"${scala.jdk.CollectionConverters.CollectionHasAsScala(errs.values())
            .asScala.headOption.getOrElse("")}")
      assert(SnapTables.currentGeneration(spark, dir).contains(2),
        s"run $i: both appends must have published as stacked generations")
      assertManifestIntact(dir)
      assert(rows(SnapTables.resolve(spark, dir, "pb")) ==
        allRows ++ Set((13L, "v13"), (14L, "v14")),
        s"run $i: the served table must hold both appenders' rows")
    }
  }

  test("retryingPublish exhaustion: a never-resolving claim surfaces the original conflict after the attempt budget") {
    import spark.implicits._
    val dir = tmpDir("snap-retry-exhaust")
    SnapTables.publishInitial(spark, dir, "pb", table)
    writeLock(dir, 1, "crashed-writer")
    var calls = 0
    val ex = intercept[graft.ops.SnapConflict] {
      SnapTables.retryingPublish(attempts = 3, backoffMs = 1) {
        calls += 1
        SnapTables.appendPartitions(spark, dir, "pb",
          Seq((13L, "v13", 1)).toDF("key", "payload", "pb"))
      }
    }
    assert(calls == 3, s"must use exactly the attempt budget, used $calls")
    assert(ex.getMessage.contains("claimed by another writer"),
      "exhaustion must surface the conflict's operator instruction")
    assert(rows(SnapTables.resolve(spark, dir, "pb")) == allRows)
  }

  test("appendedBetween: the incremental read equals exactly the rows appended in the range") {
    import spark.implicits._
    val dir = tmpDir("snap-incr")
    SnapTables.publishInitial(spark, dir, "pb", table)
    SnapTables.appendPartitions(spark, dir, "pb",
      Seq((13L, "v13", 1), (14L, "v14", 2)).toDF("key", "payload", "pb"))
    SnapTables.appendPartitions(spark, dir, "pb",
      Seq((15L, "v15", 0)).toDF("key", "payload", "pb"))
    assert(rows(SnapTables.appendedBetween(spark, dir, "pb", 0, 2)) ==
      Set((13L, "v13"), (14L, "v14"), (15L, "v15")))
    assert(rows(SnapTables.appendedBetween(spark, dir, "pb", 1, 2)) ==
      Set((15L, "v15")))
    // an empty range yields an empty frame that still carries the schema
    val empty = SnapTables.appendedBetween(spark, dir, "pb", 2, 2)
    assert(empty.isEmpty && empty.columns.toSet == Set("key", "payload", "pb"))
  }

  test("appendedBetween refuses a range crossing a rewrite or compaction — the file delta is no longer the row delta") {
    import spark.implicits._
    val dir = tmpDir("snap-incr-refuse")
    SnapTables.publishInitial(spark, dir, "pb", table)
    SnapTables.appendPartitions(spark, dir, "pb",
      Seq((13L, "v13", 1)).toDF("key", "payload", "pb"))
    SnapTables.deleteByKey(spark, dir, "pb", "key", Seq(4L).toDF("key"))
    val atDelete = intercept[IllegalArgumentException] {
      SnapTables.appendedBetween(spark, dir, "pb", 0, 2)
    }
    assert(atDelete.getMessage.contains("not an append-only chain"))
    // the append-only PREFIX of the history stays readable
    assert(rows(SnapTables.appendedBetween(spark, dir, "pb", 0, 1)) ==
      Set((13L, "v13")))
    // give pb=0 a second file so the compaction has real work, then the
    // compacted step must refuse too (its rewritten file would replay old
    // rows as changes)
    SnapTables.appendPartitions(spark, dir, "pb",
      Seq((15L, "v15", 0)).toDF("key", "payload", "pb"))
    assert(SnapTables.compactPartitions(spark, dir, "pb") == 4,
      "the compaction must actually rewrite (else this test checks nothing)")
    val atCompact = intercept[IllegalArgumentException] {
      SnapTables.appendedBetween(spark, dir, "pb", 3, 4)
    }
    assert(atCompact.getMessage.contains("not an append-only chain"))
  }
}
