package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A persisted BM25 postings index — the durable twin of [[Text.bm25TopK]]
  * (the WinnowIndex/AnnIndex table-ification discipline applied to lexical
  * retrieval): tokenize the corpus ONCE, store
  *
  *  - `postings` (tok, doc_id, tf): one row per distinct (doc, token),
  *    partitioned by `tb = hash60(tok) mod tokenBuckets` so a query's term
  *    filter prunes the scan to its terms' buckets;
  *  - `doclens` (doc_id, dl): the length-normalization side table — narrow
  *    (two longs) and only aggregated, never joined wide.
  *
  * Serve reads ONLY stored tables — no tokenization anywhere in the search
  * plan (q175 hash-proves serve == the in-query scan, TextIndexSpec pins
  * the plan). Corpus-wide statistics (N, total_dl, per-term df) are
  * computed at serve time from the stored tables: df only over the
  * partition-pruned query-term rows, N/total_dl over the narrow doclens —
  * so they are always consistent with the CURRENT index state, including
  * right after an append (BM25 scores legitimately shift as the corpus
  * grows; the stored tables shift them exactly as a full rescan would,
  * q176).
  *
  * Incremental maintenance is exact by per-document locality, the same law
  * as the winnow table: a new document's postings and length depend on
  * nothing outside its own token stream, so [[append]] == full rebuild row
  * for row (TextIndexSpec).
  */
final case class Bm25Index(postings: DataFrame, doclens: DataFrame)

object TextIndex {

  val DefaultTokenBuckets = 64

  /** Tokenize + count the corpus into the two index frames, materialized so
    * writes and repeated searches never replay the tokenize lineage.
    */
  def build(df: DataFrame, id: Column, text: Column): Bm25Index = {
    val toks = Dedup.spreadBy(df, id)
      .select(id.as("doc_id"), explode(Text.tokens(text)).as("tok"))
    val postings = toks.groupBy(col("tok"), col("doc_id"))
      .agg(count(lit(1)).as("tf")).localCheckpoint()
    // dl == Σ tf over the doc's postings (tokens() yields ≥1 element for
    // every string, so every doc appears): deriving the length table from
    // the postings CHECKPOINT replaces what used to be a second full
    // tokenize pass over the corpus text with one narrow aggregation of
    // already-counted rows.
    Bm25Index(
      postings = postings,
      doclens = postings.groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("dl")).localCheckpoint())
  }

  /** Index a NEW-docs delta and append — exact by per-doc locality. */
  def append(idx: Bm25Index, delta: DataFrame, id: Column, text: Column): Bm25Index = {
    val d = build(delta, id, text)
    Bm25Index(
      postings = idx.postings.unionByName(d.postings),
      doclens = idx.doclens.unionByName(d.doclens))
  }

  /** Persist the index; postings partitioned by the token hash-bucket,
    * doclens by the doc-id bucket — the second partitioning exists for the
    * DELETE path ([[SnapTables.deleteByKey]], q425): a removal set touches
    * only its docs' `db` partitions, so the length table rewrites a bounded
    * partition subset instead of the whole (corpus-cardinality) file set.
    */
  def write(idx: Bm25Index, path: String,
      tokenBuckets: Int = DefaultTokenBuckets): Unit = {
    // keyed repartition before the partitioned write (the SnapTables
    // publishInitial discipline): each task holds whole buckets, so the
    // file count scales with the bucket fan-out instead of fan-out × write
    // tasks. At volume the bucket count is the file-size dial.
    idx.postings
      .withColumn("tb", pmod(Hashing.hash60(col("tok")), lit(tokenBuckets.toLong)).cast("int"))
      .repartition(col("tb"))
      .write.mode("overwrite").partitionBy("tb").parquet(s"$path/postings")
    idx.doclens
      .withColumn("db", pmod(col("doc_id"), lit(tokenBuckets.toLong)).cast("int"))
      .repartition(col("db"))
      .write.mode("overwrite").partitionBy("db").parquet(s"$path/doclens")
  }

  /** Load a stored index (scan-only lineage). Projected back to the logical
    * columns so a read index composes with [[append]]'s unions exactly like
    * a built one (the stored partition columns stay physical-layout
    * concerns).
    */
  def read(spark: SparkSession, path: String): Bm25Index =
    Bm25Index(
      postings = spark.read.parquet(s"$path/postings")
        .select(col("tok"), col("doc_id"), col("tf")),
      doclens = spark.read.parquet(s"$path/doclens")
        .select(col("doc_id"), col("dl")))

  /** BM25 top-k from the STORED tables alone: postings filtered to the
    * query terms (the filter rides to the scan; on a written index the
    * term's hash-bucket partitions prune), then the SAME scoring tree as
    * [[Text.bm25TopK]] ([[Text.bm25Rank]] — shared code, not a copy), so
    * results are engine-exact against the in-query scan.
    */
  def searchBM25(
      idx: Bm25Index,
      queryTerms: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
      "query terms must be non-empty and distinct")
    val tf = idx.postings.where(col("tok").isin(queryTerms: _*))
      .select(col("doc_id"), col("tok"), col("tf"))
    Text.bm25Rank(tf, idx.doclens.select(col("doc_id"), col("dl")),
      queryTerms, k, k1, b)
  }

  /** BATCHED BM25 from the STORED tables: the whole query table is served
    * in one pass over the term-filtered postings ([[Text.bm25BatchRank]] —
    * shared scoring tail, not a copy), so results are engine-exact against
    * the in-query batch scan (q218) and the postings scan count stays
    * independent of the query count.
    */
  def searchBM25Batch(
      idx: Bm25Index,
      queries: DataFrame,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val q = queries.select(col("qid"),
      posexplode(col("terms")).as(Seq("ti", "tok")))
    val termSet = q.select(col("tok")).distinct()
    val tf = idx.postings.join(broadcast(termSet), "tok")
      .select(col("doc_id"), col("tok"), col("tf"))
    Text.bm25BatchRank(tf, idx.doclens.select(col("doc_id"), col("dl")),
      q, k, k1, b)
  }

  /** BATCHED hybrid retrieval from durable tables: [[searchBM25Batch]]
    * fused with [[Text.cosineTopKBatchFromVectors]] over the stored
    * doc-vector table, per query, by [[Text.rrfFuse]] in fixed
    * lexical-then-vector order — the whole serving matrix (single/batched ×
    * lexical/vector/hybrid) now reads tables only (q224 pins it to q97's
    * verbatim in-query oracle).
    */
  def hybridFromTablesBatch(
      idx: Bm25Index,
      vecs: DataFrame,
      queries: DataFrame,
      dims: Int,
      k: Int,
      perList: Int = 100,
      kRrf: Int = 60): DataFrame = {
    val lex = searchBM25Batch(idx, queries, perList)
      .select(col("qid"), col("doc_id"), col("rank").as("lex_rank"))
    val vec = Text.cosineTopKBatchFromVectors(
        vecs.select(col("doc_id"), col("vec")), queries, dims, perList)
      .select(col("qid"), col("doc_id"), col("rank").as("vec_rank"))
    Text.rrfFuse(Seq((lex, "lex_rank"), (vec, "vec_rank")),
      partKeys = Seq("qid"), docKey = "doc_id", k = k, kRrf = kRrf)
  }

  /** HYBRID retrieval served entirely from durable tables: RRF of
    * [[searchBM25]] over the stored postings and cosine over a stored
    * doc-vector table ((doc_id, vec) — [[Text.hashingTrickEmbedding]]'s
    * output persisted like any other side table). The query embeds itself
    * through the SAME vectorizer ([[Text.embeddingFromTokenRows]] on its
    * term rows), so serving needs no model and no corpus text: the whole
    * search plan reads postings + doclens + vectors. Fusion, tie-breaks
    * and the perList cut are [[Text.rrfFuse]]'s — q217 pins the result to
    * q92's in-query oracle, proving the table-served stack loses nothing.
    */
  def hybridFromTables(
      idx: Bm25Index,
      vecs: DataFrame,
      queryTerms: Seq[String],
      dims: Int,
      k: Int,
      perList: Int = 100,
      kRrf: Int = 60): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val lex = searchBM25(idx, queryTerms, perList)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val qtoks = queryTerms.map(t => (0L, t)).toDF("doc_id", "tok")
    val qvec = Text.embeddingFromTokenRows(qtoks, dims)
      .select(col("vec").as("qv"), Num.norm(col("vec")).as("nq"))
      .where(col("nq") > 0)
    val wv = org.apache.spark.sql.expressions.Window
      .orderBy(col("cos").desc, col("doc_id").asc)
    val vec = vecs.select(col("doc_id"), col("vec"))
      .crossJoin(broadcast(qvec))
      .withColumn("nv", Num.norm(col("vec")))
      .where(col("nv") > 0)
      .withColumn("cos", Num.dot(col("vec"), col("qv")) / (col("nv") * col("nq")))
      .withColumn("vec_rank", row_number().over(wv))
      .where(col("vec_rank") <= perList)
      .select(col("doc_id"), col("vec_rank"))
    Text.rrfFuse(Seq((lex, "lex_rank"), (vec, "vec_rank")),
      partKeys = Seq.empty, docKey = "doc_id", k = k, kRrf = kRrf)
  }
}
