package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A persisted winnowing fingerprint table — the durable twin of
  * [[Dedup.winnowFingerprints]] (the q125/q157 table-ification discipline
  * applied to the MOSS fingerprint index): winnow the corpus ONCE, store the
  * selected (doc_id, pos, h) triples as a partitioned parquet table, and run
  * every later plagiarism / overlap check against the stored table instead
  * of re-scanning and re-hashing the corpus.
  *
  * Because winnowing is a strictly PER-DOCUMENT computation (a document's
  * fingerprints depend on nothing outside its own token stream), incremental
  * maintenance is exact by construction: winnowing a new-docs delta and
  * appending equals a from-scratch rebuild of the union, row for row —
  * q168 hash-proves this cross-engine (the q158 discipline).
  *
  * On-disk layout: rows are partitioned by `hb = h mod hashBuckets`. The
  * serve path joins probe fingerprints to the table on (hb, h) with the
  * probe side broadcast, so a selective probe set dynamic-partition-prunes
  * the table scan to the buckets its hashes actually touch — the AnnIndex
  * posting-list discipline (`AnnIndex.write`, `ops/AnnIndex.scala:115-123`).
  */
object WinnowIndex {

  /** Number of h-mod partitions in the stored table. 64 keeps directory
    * fan-out trivial while making each serve probe prune ~98% of files for
    * small probe sets.
    */
  val DefaultHashBuckets = 64

  /** Winnow the corpus into the fingerprint table frame: distinct
    * (doc_id, pos, h). Materialized so downstream writes/joins never replay
    * the tokenize+hash lineage.
    */
  def build(df: DataFrame, id: Column, text: Column, k: Int, w: Int): DataFrame =
    Dedup.winnowFingerprints(df, id, text, k, w).localCheckpoint()

  /** Winnow a NEW-docs delta and append it to the stored fingerprints.
    * Per-doc locality makes this exact: append == full rebuild (q168).
    * Re-fingerprinting an already-indexed doc_id is the caller's bug; the
    * table itself is append-only.
    */
  def append(fp: DataFrame, delta: DataFrame, id: Column, text: Column,
      k: Int, w: Int): DataFrame =
    fp.unionByName(Dedup.winnowFingerprints(delta, id, text, k, w))

  /** Persist the fingerprint table partitioned by the h-bucket. */
  def write(fp: DataFrame, path: String,
      hashBuckets: Int = DefaultHashBuckets): Unit =
    fp.withColumn("hb", pmod(col("h"), lit(hashBuckets.toLong)).cast("int"))
      .repartition(col("hb")) // file count scales with fan-out, not × tasks
      .write.mode("overwrite").partitionBy("hb").parquet(path)

  /** Load a stored fingerprint table (scan-only lineage). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Document-frequency side table over the stored fingerprints:
    * (h, df) with df = number of documents carrying hash h. This is the
    * statistic the serve-path cap consumes; because appended documents have
    * NEW doc_ids, their contribution is purely ADDITIVE — maintaining the
    * table on append is [[mergeDfTables]] over the delta's own df table,
    * no corpus rescan (q173 hash-proves merge == full recompute).
    */
  def dfTable(fp: DataFrame): DataFrame =
    fp.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))

  /** Additive merge of df tables (base ∪ delta): same-h rows sum. */
  def mergeDfTables(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("h")).agg(sum(col("df")).as("df"))

  /** Persist the df side table partitioned by the SAME h-bucket scheme as
    * the fingerprint table it summarizes, so a removal's decrement rewrites
    * only the buckets the removed docs' hashes occupy.
    */
  def writeDfTable(dfTbl: DataFrame, path: String,
      hashBuckets: Int = DefaultHashBuckets): Unit =
    dfTbl.withColumn("hb", pmod(col("h"), lit(hashBuckets.toLong)).cast("int"))
      .repartition(col("hb")) // file count scales with fan-out, not × tasks
      .write.mode("overwrite").partitionBy("hb").parquet(path)

  /** Load a stored df table (scan-only lineage). */
  def readDfTable(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(col("h"), col("df"))

  /** Rebuild the stored df side table from the stored FINGERPRINTS — the
    * repair for any df-table doubt (a crash between the fingerprint and df
    * writes, or a decrement whose fate is unknown): the df table is a pure
    * function of the fingerprint table, so recomputing it from the stored
    * rows is always correct, costs one pass over the INDEX (never the
    * corpus), and is idempotent — unlike a re-applied decrement.
    */
  def rebuildDfTable(spark: SparkSession, fpPath: String, dfPath: String,
      hashBuckets: Int = DefaultHashBuckets): Unit =
    writeDfTable(dfTable(read(spark, fpPath)), dfPath, hashBuckets)

  /** Match a probe document set against the STORED fingerprint table — the
    * serve path of a repository-scale plagiarism check. Probes are winnowed
    * with the SAME (k, w) as the table was built with; containment
    * overlap = |shared fingerprints| / min(|probe fp|, |doc fp|), the
    * [[Dedup.winnowOverlapPairs]] semantics with the pair space restricted
    * to probe × table.
    *
    * Scale shape: the table side is NEVER re-tokenized or re-hashed — every
    * consumer reads the stored fingerprint rows (a column-pruned parquet
    * scan), which is the durable-table payoff: corpus text is touched once
    * at build, probes only thereafter. The probe fingerprint frame is tiny
    * (a handful of documents under review) and broadcasts into the
    * (hb, h)-keyed pair join, so a stored table carrying its `hb`
    * partition column prunes that join's scan to the probe hashes' buckets.
    * No localCheckpoint on the table side on purpose: its consumers (df
    * cap, sizes, pair join) each re-read cheap on-disk parquet instead of
    * pinning a corpus-scale frame in executor memory. `maxFpDf` caps the
    * df of TABLE fingerprints (computed over the stored rows — probe text
    * never shifts index statistics); at 100 TB the df and per-doc size
    * frames would themselves be maintained as side tables on append (both
    * are append-aggregatable counts), which changes no semantics here.
    */
  def matches(
      fp: DataFrame,
      probes: DataFrame,
      id: Column,
      text: Column,
      k: Int,
      w: Int,
      threshold: Double,
      maxFpDf: Option[Int] = None,
      hashBuckets: Int = DefaultHashBuckets,
      storedDf: Option[DataFrame] = None): DataFrame = {
    val hbOf = (c: Column) => pmod(c, lit(hashBuckets.toLong)).cast("int")
    // keep the stored partition column when present: a recomputed
    // pmod(h, buckets) is opaque to partition pruning even though equal
    val raw =
      if (fp.columns.contains("hb")) fp.select(col("doc_id"), col("h"), col("hb"))
      else fp.select(col("doc_id"), col("h"), hbOf(col("h")).as("hb"))
    // The df cap keeps hashes with df <= cap; its COMPLEMENT (the capped-out
    // boilerplate hashes) is tiny by construction, so the cap applies as a
    // broadcast anti-join instead of a corpus-wide equi-join against the
    // kept-hash set — every consumer below filters map-side with no shuffle.
    // A stored [[dfTable]] feeds it from a side-table scan; without one the
    // df aggregation over the index runs ONCE (checkpointed, it is model-
    // scale: just the over-cap hashes).
    val overCap = maxFpDf.map { cap =>
      storedDf.getOrElse(
          raw.select(col("doc_id"), col("h")).distinct()
            .groupBy(col("h")).agg(count(lit(1)).as("df")))
        .where(col("df") > cap).select(col("h")).localCheckpoint()
    }
    def capped(rows: DataFrame): DataFrame = overCap match {
      case Some(over) => rows.join(broadcast(over), Seq("h"), "left_anti")
      case None => rows
    }
    val pfp = Dedup.winnowFingerprints(probes, id, text, k, w)
      .select(col("doc_id").as("probe_id"), col("h")).distinct()
      .localCheckpoint()
    val pSizes = pfp.groupBy(col("probe_id")).agg(count(lit(1)).as("nfp_probe"))
    // probe hashes broadcast into the (hb, h) pair join BEFORE any corpus-
    // wide distinct: positional duplicates collapse on the (small) join
    // output, so the full-index distinct+shuffle the old plan paid twice is
    // gone — the scan stays partition-pruned by the probe buckets.
    val hits = capped(
      broadcast(pfp.withColumn("hb", hbOf(col("h"))))
        .join(raw, Seq("hb", "h"))
        .select(col("probe_id"), col("doc_id"), col("h"))
        .distinct())
    val inter = hits
      .groupBy(col("probe_id"), col("doc_id"))
      .agg(count(lit(1)).as("inter"))
    // per-doc fingerprint counts ONLY for candidate docs: a broadcast
    // semi-join bounds the sizing aggregation to the docs the pair join
    // surfaced, replacing the old full-index groupBy(doc_id) shuffle.
    val candDocs = inter.select(col("doc_id")).distinct()
    val idxSizes = capped(
      raw.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("h")).distinct())
      .groupBy(col("doc_id")).agg(count(lit(1)).as("nfp_doc"))
    inter
      .join(broadcast(pSizes), "probe_id")
      .join(idxSizes, "doc_id")
      .withColumn("overlap",
        col("inter").cast("double") / least(col("nfp_probe"), col("nfp_doc")))
      .where(col("overlap") >= threshold)
      .select(col("probe_id"), col("doc_id"), col("inter"),
        col("nfp_probe"), col("nfp_doc"), col("overlap"))
  }
}
