package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.ParaIndex

/** The durable paragraph-hash-table lifecycle: build == write+read, append
  * == rebuild under the id-ordering contract, and the stored-table scrub
  * reproduces the in-memory scrub while keeping the table side scan-only.
  */
class ParaIndexSpec extends AnyFunSuite with SparkSpec {

  private def rows(t: DataFrame): Set[(Long, Long, Long)] =
    t.select(col("h"), col("doc_id").cast("long"), col("pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "alpha one\nshared footer"),
      (2L, "beta two\nshared footer\nbeta extra"),
      (3L, "gamma three"),
      (4L, "alpha one") // duplicate of doc 1's first paragraph
    ).toDF("id", "text")
  }

  test("write + read roundtrip preserves rows; stored table carries its partition column") {
    val tbl = ParaIndex.build(corpus, col("id"), col("text"))
    val dir = tmpDir("para-idx")
    ParaIndex.write(tbl, dir)
    val stored = ParaIndex.read(spark, dir)
    assert(stored.columns.contains("hb"))
    assert(rows(stored) == rows(tbl))
  }

  test("append == rebuild when delta ids sort after the base (the ingest contract)") {
    import spark.implicits._
    val delta = Seq(
      (10L, "shared footer\nnovel delta par"), // footer already indexed
      (11L, "novel delta par\nanother novel")  // in-delta duplicate election
    ).toDF("id", "text")
    val appended = ParaIndex.append(
      ParaIndex.build(corpus, col("id"), col("text")), delta, col("id"), col("text"))
    val rebuilt = ParaIndex.firstOccurrences(
      corpus.unionByName(delta), col("id"), col("text"))
    assert(rows(appended) == rows(rebuilt),
      "append must equal the from-scratch election row for row")
  }

  test("scrub from the stored table == scrub from the built frame; table text never re-split") {
    import spark.implicits._
    val tbl = ParaIndex.build(corpus, col("id"), col("text"))
    val dir = tmpDir("para-idx-serve")
    ParaIndex.write(tbl, dir)
    val stored = ParaIndex.read(spark, dir)
    val batch = Seq(
      (100L, "shared footer\nfresh paragraph\nbatch shared"),
      (101L, "batch shared\nalso fresh")
    ).toDF("id", "text")
    def out(t: DataFrame): Map[Long, (Long, Long, String)] =
      ParaIndex.scrub(t, batch, col("id"), col("text"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val fromStored = out(stored)
    assert(fromStored == out(tbl))
    assert(fromStored(100L) == ((3L, 2L, "fresh paragraph\nbatch shared")),
      "table hit cut; batch-shared paragraph won its in-batch election here")
    assert(fromStored(101L) == ((2L, 1L, "also fresh")),
      "later in-batch duplicate cut")
    // the serve plan must not re-split or re-hash table text: its input is
    // the stored (h, doc_id, pos, hb) parquet — no string column to split
    val plan = ParaIndex.scrub(stored, batch, col("id"), col("text"))
      .queryExecution.executedPlan.toString()
    val splits = "split\\(".r.findAllIn(plan).size
    assert(splits <= 2, // batch paragraphs + batch n_paras projection only
      s"table side must be scan-only; found $splits split() calls:\n$plan")
  }

  test("deleteSnapshot: re-election publishes as a generation; a pre-flip scrubber keeps the old winners") {
    import spark.implicits._
    import graft.ops.SnapTables
    def published(prefix: String): String = {
      val d = tmpDir(prefix)
      SnapTables.publishInitial(spark, d, "hb",
        ParaIndex.build(corpus, col("id"), col("text"))
          .withColumn("hb", pmod(col("h"),
            lit(ParaIndex.DefaultHashBuckets.toLong)).cast("int")))
      d
    }
    val dir = published("para-snap-del")
    // a scrubber resolved BEFORE the delete — its electorate is gen 0
    val preFlip = SnapTables.resolve(spark, dir, "hb")
    // remove docs 1 and 3: doc 1 WON "alpha one" (doc 4 still carries it)
    // and "shared footer" (doc 2 still carries it) — both must re-elect;
    // doc 3's "gamma three" has no surviving carrier — its hash must drop
    val removed = Seq(1L, 3L).toDF("doc_id")
    val survivors = corpus.where(!col("id").isin(1L, 3L))
    val gen = ParaIndex.deleteSnapshot(spark, dir, removed, survivors,
      col("id"), col("text"))
    assert(gen == 1)
    // post-flip: equals the from-scratch survivors election row for row
    val expected = rows(ParaIndex.firstOccurrences(survivors, col("id"), col("text")))
    val stored = SnapTables.resolve(spark, dir, "hb")
    assert(rows(stored) == expected)
    val byDoc = stored.select(col("doc_id").cast("long"), col("pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(byDoc.contains((4L, 0L)), "'alpha one' must re-elect to doc 4")
    assert(byDoc.contains((2L, 1L)), "'shared footer' must re-elect to doc 2 pos 1")
    // the natural caller slip — passing the FULL corpus as survivors — must
    // not let a removed doc win back its own orphaned hashes (doc 1 is the
    // minimal occurrence of 'alpha one')
    val slip = published("para-snap-del-slip")
    ParaIndex.deleteSnapshot(spark, slip, removed, corpus, col("id"), col("text"))
    assert(rows(SnapTables.resolve(spark, slip, "hb")) == expected,
      "removed docs must be excluded from re-election candidacy outright")
    // the isolation is SEMANTICALLY visible on an elected table: the
    // pre-flip electorate still cuts doc 3's now-dropped paragraph
    val probe = Seq((100L, "gamma three\nbrand new line")).toDF("id", "text")
    def kept(tbl: org.apache.spark.sql.DataFrame): Long =
      ParaIndex.scrub(tbl, probe, col("id"), col("text"))
        .select(col("n_kept")).head().getLong(0)
    assert(kept(preFlip) == 1L,
      "gen-0 scrubber must still cut 'gamma three' (its hash was a gen-0 winner)")
    assert(kept(SnapTables.resolve(spark, dir, "hb")) == 2L,
      "gen-1 scrubber must keep it (no survivor carries that paragraph)")
  }
}
