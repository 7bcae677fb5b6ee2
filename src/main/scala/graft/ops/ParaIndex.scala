package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A persisted PARAGRAPH-hash table — the durable twin of
  * [[Dedup.paragraphDedup]] (the q168/q175 table-ification discipline
  * applied to CCNet-style paragraph dedup): elect the corpus' first
  * occurrence of every distinct paragraph ONCE, store the (h, doc_id, pos)
  * triples as a partitioned parquet table, and scrub every later ingest
  * batch against the stored table instead of re-splitting and re-hashing
  * the corpus.
  *
  * Incremental maintenance contract: appends are exact (append == full
  * rebuild, row for row — q190 hash-proves it) PROVIDED delta doc_ids sort
  * after every indexed doc_id, which daily-ingest id assignment satisfies
  * by construction. Under that ordering a paragraph already in the table
  * keeps its stored winner (the table's (doc_id, pos) is globally minimal),
  * and a new paragraph's winner is the delta's own first occurrence —
  * exactly what [[append]] computes. Interleaving old ids would break this;
  * that is a caller bug, same stance as [[WinnowIndex.append]]'s
  * re-fingerprinting rule.
  *
  * Hash width: paragraphs are keyed by the 60-bit [[Hashing.hash60]] (8
  * bytes through every shuffle and on disk, vs 32 for the md5 hex the
  * in-query [[Dedup.paragraphDedup]] uses). A collision merges two
  * paragraphs' electorates first-writer-wins (p ≈ paragraphs²·2⁻⁶¹ — the
  * q124 stance, documented); the scrub error direction is cutting a novel
  * paragraph, never keeping a duplicate.
  *
  * On-disk layout: partitioned by `hb = h mod hashBuckets` (the
  * [[WinnowIndex]] / AnnIndex posting-list discipline), so a selective
  * probe set prunes the table scan to the buckets its hashes touch.
  */
object ParaIndex {

  /** 64 partitions: trivial directory fan-out, ~98% pruning for small
    * probe sets.
    */
  val DefaultHashBuckets = 64

  private def paraRows(df: DataFrame, id: Column, text: Column,
      sep: String): DataFrame =
    Dedup.spreadBy(df.select(id.as("doc_id"), text.as("__pi_text")), col("doc_id"))
      .select(col("doc_id"),
        posexplode(split(col("__pi_text"), sep)).as(Seq("pos", "para")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("para"))

  /** First corpus occurrence of each distinct paragraph:
    * (h, doc_id, pos), one row per distinct hash. The election window
    * partitions on the 60-bit hash (8-byte shuffle key) and orders by
    * (doc_id, pos) — [[Dedup.paragraphDedup]]'s election, reduced to the
    * index triple.
    */
  def firstOccurrences(df: DataFrame, id: Column, text: Column,
      sep: String = "\n"): DataFrame = {
    val hashed = paraRows(df, id, text, sep)
      .select(Hashing.hash60(col("para")).as("h"), col("doc_id"), col("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("doc_id"), col("pos"))
    hashed.withColumn("__pi_rn", row_number().over(w))
      .where(col("__pi_rn") === 1)
      .select(col("h"), col("doc_id"), col("pos"))
  }

  /** Build the table frame, materialized so downstream writes/joins never
    * replay the split+hash lineage.
    */
  def build(df: DataFrame, id: Column, text: Column,
      sep: String = "\n"): DataFrame =
    firstOccurrences(df, id, text, sep).localCheckpoint()

  /** Index a NEW-docs delta and append: paragraphs already in the table
    * keep their stored row (anti-join); novel paragraphs contribute their
    * first delta occurrence. Exact (== rebuild) under the id-ordering
    * contract in the object doc.
    */
  def append(tbl: DataFrame, delta: DataFrame, id: Column, text: Column,
      sep: String = "\n"): DataFrame =
    tbl.unionByName(
      firstOccurrences(delta, id, text, sep)
        .join(tbl.select(col("h")), Seq("h"), "left_anti"))

  /** Persist partitioned by the h-bucket. */
  def write(tbl: DataFrame, path: String,
      hashBuckets: Int = DefaultHashBuckets): Unit =
    tbl.withColumn("hb", pmod(col("h"), lit(hashBuckets.toLong)).cast("int"))
      .repartition(col("hb")) // file count scales with fan-out, not × tasks
      .write.mode("overwrite").partitionBy("hb").parquet(path)

  /** Load a stored table (scan-only lineage). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Storage-truth document removal for the ELECTED table, published as a
    * [[SnapTables]] generation flip — the one durable family where a bare
    * key filter is NOT the survivors-rebuild semantics (the
    * [[MinHashIndex.delete]] caveat made mechanical): a stored row is the
    * corpus-wide FIRST occurrence of its paragraph, so dropping a removed
    * winner's row would stop scrubbing a paragraph that surviving
    * documents still carry. Deletion therefore RE-ELECTS: for exactly the
    * hashes whose stored winner is a removed doc, the new winner is the
    * minimal (doc_id, pos) occurrence among `survivors` — the surviving
    * corpus, which the caller supplies because the table alone cannot know
    * the suppressed later occurrences. Hashes no survivor carries drop
    * entirely. The result equals a from-scratch [[build]] over `survivors`
    * row for row (q414 hash-proves it): unaffected rows' winners are
    * survivors, and removing docs cannot change a minimum it didn't hold.
    *
    * I/O shape: the stored table contributes its removed-winner rows (a
    * doc_id semi-join) and rewrites only their `hb` partitions; the
    * surviving corpus is re-hashed ONCE, filtered to the orphaned hashes
    * BEFORE the election window, so the shuffle carries only the contested
    * paragraphs' rows. Readers resolved before the flip keep the
    * pre-delete winners (the one elected-table case where that isolation
    * is SEMANTICALLY visible: the old generation still scrubs the removed
    * winners' paragraphs). Completes the verb matrix on snapshots:
    * key-filter ([[SnapTables.deleteByKey]]), decrement
    * ([[SnapTables.decrementCounts]]), re-election (here).
    */
  def deleteSnapshot(
      spark: SparkSession,
      path: String,
      removedIds: DataFrame,
      survivors: DataFrame,
      id: Column,
      text: Column,
      sep: String = "\n"): Int = {
    val gen = SnapTables.currentGeneration(spark, path).getOrElse(
      throw new IllegalStateException(s"ParaIndex: $path has no published generation"))
    reElect(SnapTables.resolve(spark, path, "hb"), removedIds, survivors,
        id, text, sep)
      .map { case (affected, rewritten) =>
        SnapTables.rewritePartitions(spark, path, "hb", affected, rewritten)
      }.getOrElse(gen)
  }

  /** The shared re-election core: None when no stored winner is removed,
    * otherwise the affected `hb` set and those partitions' replacement rows
    * (surviving old winners ∪ re-elected minima over `survivors`).
    */
  private def reElect(
      tbl: DataFrame,
      removedIds: DataFrame,
      survivors: DataFrame,
      id: Column,
      text: Column,
      sep: String): Option[(Seq[Int], DataFrame)] = {
    val rm = removedIds.select(col("doc_id"))
    // one row per orphaned hash (the table holds one row per h), carrying
    // the hb its replacement must land back into — bucket-scheme-agnostic
    val orphaned = tbl.join(rm, Seq("doc_id"), "left_semi")
      .select(col("h"), col("hb")).localCheckpoint()
    val affected = orphaned.select(col("hb")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    if (affected.isEmpty) return None
    val contested = paraRows(survivors, id, text, sep)
      .select(Hashing.hash60(col("para")).as("h"), col("doc_id"), col("pos"))
      .join(orphaned.select(col("h")), Seq("h"), "left_semi")
      // robustness, not semantics: `survivors` must not contain the removed
      // docs, but if a caller passes the full corpus (the natural slip), an
      // election won by a REMOVED doc would resurrect the very row the
      // delete exists to purge — exclude them from candidacy outright, so
      // the result equals the correct survivors rebuild either way
      .join(rm, Seq("doc_id"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("doc_id"), col("pos"))
    val reElected = contested.withColumn("__pi_rn", row_number().over(w))
      .where(col("__pi_rn") === 1)
      .select(col("h"), col("doc_id"), col("pos"))
      .join(orphaned.select(col("h"), col("hb")), Seq("h"))
    val rewritten = tbl.where(col("hb").isin(affected: _*))
      .join(rm, Seq("doc_id"), "left_anti")
      .select(col("h"), col("doc_id"), col("pos"), col("hb"))
      .unionByName(reElected.select(col("h"), col("doc_id"), col("pos"), col("hb")))
    Some((affected, rewritten))
  }

  /** Scrub an INGEST batch against the stored table — the serve path:
    * every batch paragraph whose hash is in the table is cut; among the
    * remaining (novel) paragraphs the batch's own first occurrence wins
    * its in-batch election (later in-batch duplicates are cut too — the
    * [[Dedup.paragraphDedup]] semantics with the table as pre-existing
    * electorate winners); documents are stitched back in original order,
    * all-cut documents surviving as explicit empty-text rows.
    *
    * Scale shape: the table side contributes only its (h) column to the
    * anti join — a column-pruned scan of the stored parquet; batch
    * paragraph text crosses the in-batch election window and the rebuild
    * groupBy exactly once each (the q181 budget). The anti join shuffles
    * on the ~uniform 60-bit hash; at 100 TB both sides bucket on h so the
    * join is exchange-free against a bucketed table layout.
    *
    * Output: (doc_id, n_paras, n_kept, clean_text).
    */
  def scrub(tbl: DataFrame, batch: DataFrame, id: Column, text: Column,
      sep: String = "\n"): DataFrame = {
    val paras = paraRows(batch, id, text, sep)
      .withColumn("h", Hashing.hash60(col("para")))
    val novel = paras.join(tbl.select(col("h")), Seq("h"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("doc_id"), col("pos"))
    val kept = novel.withColumn("__pi_rn", row_number().over(w))
      .where(col("__pi_rn") === 1)
    val rebuilt = kept.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("para")))),
          s => s.getField("para")),
        sep).as("clean_text"))
    batch.select(id.as("doc_id"),
        size(split(text, sep)).cast("long").as("n_paras"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }
}
