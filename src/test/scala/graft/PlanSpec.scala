package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, Media, Similarity}

/** Physical-plan regression tests: the shuffle/pruning properties the 100 TB
  * design depends on. These assert plan SHAPE (what `.explain` shows), not
  * results — a correctness-neutral change that reintroduces a corpus-wide
  * shuffle should fail here, not in a cluster.
  */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private val sf = TestSpark.sf0001

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString()

  test("minhash signatures: exactly one exchange, before the explode (agg reuses the spread)") {
    val docs = Tables.load(spark, sf, "documents")
    val p = plan(Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 3, 16))
    val exchanges = "(?i)exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 exchange (pre-explode repartition), got $exchanges:\n$p")
  }

  test("simhash: one exchange; exploded token rows never shuffle") {
    val docs = Tables.load(spark, sf, "documents")
    val p = plan(Dedup.simhash(docs, col("doc_id"), col("text")))
    assert("(?i)exchange hashpartitioning".r.findAllIn(p).size == 1)
  }

  test("exactByKey: the window shuffle is keyed on md5, not the document body") {
    val docs = Tables.load(spark, sf, "documents")
    val p = plan(Dedup.exactByKey(docs, col("text"), col("doc_id")))
    // The window key is pre-projected (hashpartitioning(_w0) with
    // _w0 = md5(cast(text))): assert the partition key is the projected
    // hash, and that the projection computing it is the md5.
    val part = "(?i)hashpartitioning\\(([^,)]*)".r.findFirstMatchIn(p).map(_.group(1))
    assert(part.exists(k => k.toLowerCase.contains("md5") || k.startsWith("_w")),
      s"window partition key must be the md5 projection, got: $part")
    assert("(?i)_w0#\\d+[^\\n]*".r.findFirstIn(p).isDefined || p.toLowerCase.contains("md5"),
      "plan must compute md5 for the shuffle key")
    assert(p.toLowerCase.contains("md5(cast(text"),
      s"projection must hash the text column:\n${p.linesIterator.take(12).mkString("\n")}")
  }

  test("dimension joins broadcast the small side (q12)") {
    val p = plan(SparkEntry.queries("q12_join_revenue_by_nation")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "nation/region joins must broadcast")
  }

  test("LSH top-k (1 table): no distinct over embedding vectors in the plan") {
    val emb = Tables.load(spark, sf, "embeddings")
    val p = plan(Similarity.lshTopK(emb, col("vec_id"), col("embedding"), 5, 8, 64))
    // a distinct over (va, vb, ...) would show as hashpartitioning on vec columns
    assert(!"(?i)hashpartitioning\\([^)]*va".r.findFirstIn(p).isDefined,
      "vectors must not be shuffle keys")
  }

  test("media metadata-only projection prunes the binary payload at the parquet scan") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
    val dir = tmpDir("media-prune")
    Media.syntheticFromDocs(docs, col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(dir)
    val meta = spark.read.parquet(dir).select(col("media_id"), col("meta.declared_mime"))
    val scan = plan(meta)
    val readSchema = "ReadSchema: ([^\\n]*)".r.findFirstMatchIn(scan).map(_.group(1)).getOrElse("")
    assert(!readSchema.contains("payload"),
      s"metadata-only query must not read payload bytes; ReadSchema=$readSchema")
    assert(readSchema.contains("media_id"))
  }

  test("global sort+limit compiles to TakeOrderedAndProject (q19)") {
    val p = plan(SparkEntry.queries("q19_orderby_limit")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), "orderBy+limit must not globally sort")
  }

  test("rank<=k filters get per-partition WindowGroupLimit (ANN top-k path)") {
    // Spark 4 pushes the row_number()<=k filter below the window as partial +
    // final group limits — each partition keeps k rows per key BEFORE the
    // exchange, so the top-k shuffle carries O(k * keys), not all candidates.
    // This is why no custom top-k physical operator is needed.
    val emb = Tables.load(spark, sf, "embeddings")
    val p = plan(Similarity.lshTopK(emb, col("vec_id"), col("embedding"), 5, 8, 64))
    assert(p.contains("WindowGroupLimit"),
      s"rank filter must compile to WindowGroupLimit:\n${p.linesIterator.take(8).mkString("\n")}")
  }

  test("q171/q172 multi-nation joins: every dimension broadcasts; one fact shuffle") {
    // the Q7/Q8 discipline — supplier/customer/nation/part/region reach the
    // fact rows as BroadcastHashJoins; the only shuffled join is
    // lineitem→orders on the order key. A dimension falling out of
    // broadcast (statistics regression, hint lost) would shuffle the fact
    // table once per dimension at 100 TB.
    Seq("q171_nation_trade_volume", "q172_nation_market_share",
        "q206_profit_by_nation_year").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
      val bhj = "BroadcastHashJoin".r.findAllIn(p).size
      val smj = "SortMergeJoin".r.findAllIn(p).size
      val shj = "ShuffledHashJoin".r.findAllIn(p).size
      assert(bhj >= 3, s"$q: dimensions must broadcast, got $bhj BroadcastHashJoins")
      assert(smj + shj <= 1,
        s"$q: at most the fact-fact join may shuffle, got smj=$smj shj=$shj:\n$p")
    }
  }

  test("q59 TF-IDF per-doc top-k compiles to WindowGroupLimit") {
    // the rank <= k filter must push partial group limits below the window
    // exchange — at corpus scale a full per-doc sort reaching the exchange
    // would shuffle every (doc, token, score) row instead of O(k · docs)
    val docs = Tables.load(spark, sf, "documents")
    val p = plan(graft.ops.Text.tfidfTopTerms(docs, col("doc_id"), col("text"), 5))
    assert(p.contains("WindowGroupLimit"),
      s"TF-IDF top-k must compile to WindowGroupLimit:\n${p.linesIterator.take(12).mkString("\n")}")
  }

  test("bucketed tables join without any exchange (co-located join)") {
    import graft.ops.Layout
    val docs = Tables.load(spark, sf, "documents")
    val dir1 = tmpDir("bkt1")
    val dir2 = tmpDir("bkt2")
    Layout.writeBucketed(docs.select(col("doc_id"), col("lang")),
      "bkt_lang", dir1, "doc_id", 4)
    Layout.writeBucketed(docs.select(col("doc_id"), col("source")),
      "bkt_source", dir2, "doc_id", 4)
    // at test scale the planner would broadcast the tiny side (which turns
    // bucketing off entirely); disable broadcast to see the big-data shape —
    // two large fact tables neither of which fits in memory
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(Layout.bucketedJoin(spark, "bkt_lang", "bkt_source", "doc_id"))
      assert(!p.contains("Exchange"),
        s"matching bucket specs must join shuffle-free:\n${p.linesIterator.take(12).mkString("\n")}")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        "co-located join still uses a real join operator")
      val n = Layout.bucketedJoin(spark, "bkt_lang", "bkt_source", "doc_id").count()
      assert(n == docs.count(), "join result covers every document exactly once")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bkt_lang")
      spark.sql("DROP TABLE IF EXISTS bkt_source")
    }
  }

  test("range-sorted layout: RangePartitioning exchange + in-partition sort, no global sort") {
    import graft.ops.Layout
    val docs = Tables.load(spark, sf, "documents")
    val p = plan(Layout.rangeSorted(docs, "doc_id", 4))
    assert(p.toLowerCase.contains("rangepartitioning"),
      "must sample-balance partitions by key range")
    assert("Sort \\[doc_id".r.findFirstIn(p).isDefined, "in-partition sort on the key")
    // partition-local sort, not a single-task global one
    assert(p.contains("false, 0") || !p.contains("global=true"),
      s"sort must be partition-local:\n${p.linesIterator.take(6).mkString("\n")}")
  }

  test("partitioned layout: a partition-column filter prunes directories at planning time") {
    import graft.ops.Layout
    val docs = Tables.load(spark, sf, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-partlayout").toString
    Layout.writePartitioned(docs, dir, "lang")
    val read = spark.read.parquet(dir).where(col("lang") === "en")
      .select(col("doc_id"), col("n_chars"))
    val p = plan(read)
    assert("(?i)partitionfilters: \\[[^\\]]*lang".r.findFirstIn(p).isDefined,
      s"the lang filter must reach PartitionFilters (directory pruning):\n$p")
    assert(!"(?i)pushedfilters: \\[[^\\]]*lang".r.findFirstIn(p).isDefined,
      "a partition filter should be fully consumed by pruning, not re-evaluated per row")
  }

  test("decontamination: eval shingle side broadcasts; the corpus side never shuffles pre-join") {
    val docs = Tables.load(spark, sf, "documents")
    val p = plan(Dedup.contaminationPairs(
      docs.where(col("doc_id") % 50 =!= 0), docs.where(col("doc_id") % 50 === 0),
      col("doc_id"), col("text"), 3, 5))
    assert(p.contains("BroadcastHashJoin"), s"eval side must broadcast:\n$p")
    // allowed exchanges: the two pre-explode spreads + the final pair agg —
    // no shuffle may sit between the corpus explode and the join
    assert(!"(?i)sortmergejoin".r.findFirstIn(p).isDefined,
      "the contamination join must never be a sort-merge join")
  }

  test("source mixing is a pure scan+filter: no exchange, no join in the plan") {
    val docs = Tables.load(spark, sf, "documents")
    val p = plan(graft.ops.Sampling.mixBySource(docs, col("doc_id"), col("source"),
      Map("src0" -> 1.0, "src1" -> 0.5), defaultRate = 0.1))
    assert(!p.toLowerCase.contains("exchange"), s"mixing must not shuffle:\n$p")
    assert(!p.toLowerCase.contains("join"), s"mixing must not join:\n$p")
  }

  test("ANN serve path from stored index: no training lineage, broadcast model, WindowGroupLimit top-k") {
    val emb = Tables.load(spark, sf, "embeddings")
    val coarse = Similarity.materializeCentroids(Similarity.centroidArrays(
      Similarity.labelCentroidsFlat(emb, col("embedding"), col("label"))))
    val idx = graft.ops.AnnIndex.build(emb, col("vec_id"), col("embedding"),
      coarse, dims = 64, m = 8, k = 16, iters = 1)
    val dir = tmpDir("ann-serve")
    graft.ops.AnnIndex.write(idx, dir)
    val stored = graft.ops.AnnIndex.read(spark, dir)
    val q = emb.where(pmod(col("vec_id"), lit(10)) === 0)
    val p = plan(graft.ops.AnnIndex.search(q, col("vec_id"), col("embedding"), 3,
      stored, nprobe = 2))
    // the read-back index carries parquet-scan lineage only: if any k-means
    // subtree (or the build's localCheckpoints) leaked into the serve plan
    // it would show as an ExistingRDD scan
    assert(!p.toLowerCase.contains("existingrdd"),
      "serve plan must contain no checkpointed training lineage")
    assert(p.contains("WindowGroupLimit"),
      "the top-k rank filter must prune map-side before the exchange")
    // model tables attach via broadcast; the posting-list join is the only
    // corpus-scale operation
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "centroids/codebooks must broadcast")
    // the cluster-partitioned posting lists get DYNAMIC PARTITION PRUNING
    // from the probe side: a selective serve reads only the probed cells'
    // directories, never the full codes table — the on-disk IVF behavior
    assert(p.contains("dynamicpruning"),
      s"the codes scan must be partition-pruned by the probed clusters:\n$p")
    // aggregates allowed: codebook-array assembly (bounded model rows) and
    // the per-(query, cell) LUT densify — 2 logical aggregates (partial +
    // final = 4 nodes), duplicated once more inside the DPP subquery.
    // Nothing aggregates the corpus.
    val aggs = "(?i)hashaggregate|objecthashaggregate|sortaggregate".r.findAllIn(p).size
    assert(aggs <= 8,
      s"only the model-side assembly and query-side LUT densify may aggregate, got $aggs:\n$p")
  }

  test("q393 persisted √N serve: the catalog entry's plan is scan-only — no training or encoding lineage") {
    // q393 serves from the memoized stored index (build+write happens at
    // most once per JVM per sfDir); this pins that the CATALOG wiring — not
    // just the ops-layer API the test above drives — yields the production
    // plan shape at the √N sizing: parquet scans + ADC chain, zero k-means
    // or encode lineage, probed-cell partition pruning intact.
    val p = plan(SparkEntry.queries("q393_ivfpq_persisted_sqrtn")(spark, sf))
    assert(!p.toLowerCase.contains("existingrdd"),
      "persisted serve plan must contain no checkpointed training lineage")
    assert(p.contains("WindowGroupLimit"),
      "the top-k rank filter must prune map-side before the exchange")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "centroids/codebooks must broadcast")
    assert(p.contains("dynamicpruning"),
      s"the codes scan must be partition-pruned by the probed clusters:\n$p")
  }

  test("q399/q403 stored-lifecycle serves: scan-only plans with probed-cell partition pruning") {
    // q399 serves the compacted base+delta table; q403 serves the compacted
    // lifecycle index after its snapshot delete. Both must keep the q393
    // production shape: parquet scans + ADC chain, zero training/encode
    // lineage, and DPP on the cluster-partitioned codes — the compaction
    // query exists precisely to RESTORE that pruning (a batch_id-partitioned
    // delta side has none).
    for (q <- Seq("q399_ivfpq_compacted_serve", "q403_ann_lifecycle_e2e",
        // the snapshot-published codes table (explicit manifest file list +
        // basePath) must keep the SAME production shape — generations are a
        // publication mechanism, not a plan change
        "q413_ivfpq_snapshot_delete",
        // streamed-ingest generations (appendBatch per micro-batch, then
        // compactPartitions) must serve exactly like a batch-built table:
        // the stream leaves no lineage, only files behind a manifest
        "q420_ann_snapshot_stream_ingest")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.toLowerCase.contains("existingrdd"),
        s"$q: serve plan must contain no checkpointed training lineage")
      assert(p.contains("WindowGroupLimit"),
        s"$q: the top-k rank filter must prune map-side before the exchange")
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$q: centroids/codebooks must broadcast")
      assert(p.contains("dynamicpruning"),
        s"$q: the codes scan must be partition-pruned by the probed clusters:\n$p")
    }
  }

  test("q410/q411 stored BQ serves: scan-only funnels — no threshold-training lineage, map-side top-k") {
    // the persisted binary-quant lifecycle legs must keep the q393 serve
    // discipline: the thresholds model and the 28-byte code index enter the
    // plan as parquet scans (zero checkpointed training lineage), the probe
    // side broadcasts into the bucket join, and both rank filters
    // (Hamming screen, L2 rerank) prune map-side as WindowGroupLimit.
    // q432/q433 serve the SAME funnel through SnapTables-resolved frames —
    // generations are publication mechanics, not a plan change (the q413
    // precedent, applied to the BQ family)
    for (q <- Seq("q410_bq_persisted_serve", "q411_bq_persisted_append_serve",
        "q432_bq_snapshot_delete", "q433_bq_snapshot_append")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.toLowerCase.contains("existingrdd"),
        s"$q: stored serve plan must contain no checkpointed training lineage")
      assert(p.contains("WindowGroupLimit"),
        s"$q: screen/rerank rank filters must prune map-side")
      assert(p.contains("BroadcastHashJoin"),
        s"$q: the probe side and the 1-row model must broadcast")
      assert(!p.toLowerCase.contains("cartesianproduct"),
        s"$q: no cartesian products in the funnel:\n$p")
    }
  }

  test("q397 reconstruction audit: decode path is scan-only — broadcast model, no training lineage") {
    val p = plan(SparkEntry.queries("q397_ivfpq_reconstruction_error")(spark, sf))
    assert(!p.toLowerCase.contains("existingrdd"),
      "decode plan must contain no checkpointed training lineage")
    assert(p.contains("BroadcastHashJoin"),
      "centroids and codebooks must broadcast into the posting-list pass")
    // the only corpus-scale joins key on vid/cluster ints; nothing
    // aggregates the corpus beyond the per-vector pivot fold
    assert(!p.toLowerCase.contains("cartesianproduct"),
      s"no cartesian products in the decode path:\n$p")
  }

  test("round-8 plan pins: vocab caps prune map-side; q117 funnel is one aggregate over the join") {
    import graft.ops.{Select, Text}
    val docs = Tables.load(spark, sf, "documents")
    // the rank()<=V vocabulary caps must compile to WindowGroupLimit: a
    // regression here is a silent single-task sort over the whole distinct
    // token table (the empty-partition window has no partition key)
    val pLm = plan(Text.bigramLmScore(
      docs.where(col("doc_id") % 2 === 0), docs, col("doc_id"), col("text"),
      maxVocab = Some(500)))
    assert(pLm.contains("WindowGroupLimit"),
      s"bigramLmScore vocab cap must prune map-side:\n${pLm.linesIterator.take(8).mkString("\n")}")
    val pNb = plan(Select.nbTrainScore(docs, col("doc_id"), col("text"),
      col("lang"), col("doc_id") % 2 === 0, maxVocab = Some(500)))
    assert(pNb.contains("WindowGroupLimit"),
      s"nbTrainScore vocab cap must prune map-side:\n${pNb.linesIterator.take(8).mkString("\n")}")
    // q117: ONE conditional aggregation over the base ⋈ repetition join —
    // not four union branches depending on ReuseExchange
    val pFunnel = plan(SparkEntry.queries("q117_filter_funnel")(spark, sf))
    assert(!pFunnel.contains("Union"),
      "the funnel must not be a union of per-stage aggregations")
    assert(pFunnel.contains("Generate"), "stack() unpivot must be present")
  }

  test("heavy-hitter verify pass broadcasts the candidate set (q49)") {
    val p = plan(SparkEntry.queries("q49_heavy_hitter_tokens")(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "exact verification must map-side filter tokens against broadcast candidates")
  }

  test("batched BM25: corpus scan count is independent of query count (no per-query re-scan)") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
    val terms = Seq("join", "scan", "merge", "filter", "sort", "group")
    def planFor(nq: Int): String = {
      val qdf = (0 until nq)
        .map(i => (i.toLong, terms.drop(i % 3).take(2 + i % 3)))
        .toDF("qid", "terms")
      plan(graft.ops.Text.bm25TopKBatch(docs, col("doc_id"), col("text"), qdf, 5))
    }
    val p3 = planFor(3)
    val p9 = planFor(9)
    def scans(p: String) = "Scan parquet".r.findAllIn(p).size
    assert(scans(p3) == scans(p9),
      s"corpus scans must not grow with the query table: ${scans(p3)} vs ${scans(p9)}")
    assert(p3.contains("WindowGroupLimit"),
      "per-qid top-k must prune map-side before the rank exchange")
    assert(!p3.toLowerCase.contains("sortmergejoin"),
      "the query-table joins must broadcast, never sort-merge")
  }

  test("ingest near-dup suppression: candidate and anti joins broadcast; no sort-merge") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
    val history = Seq("some historical body of text").toDF("t")
      .select(Dedup.simhash60(col("t")).as("simhash"))
    val p = plan(graft.streaming.StreamOps.suppressNearDuplicates(
      docs, "text", history, maxHamming = 3, numBlocks = 6))
    assert(p.contains("BroadcastHashJoin"), s"history block keys must broadcast:\n$p")
    assert("(?i)leftanti".r.findFirstIn(p).isDefined,
      "survivors come from a broadcast anti join")
    assert(!p.toLowerCase.contains("sortmergejoin"),
      "the batch side must never shuffle into a sort-merge join")
  }

  test("balanced shards: equal-MASS output, overshoot bounded by one doc, every row assigned once") {
    import spark.implicits._
    import graft.ops.Layout
    // skewed weights: many small docs + a few giants + a zero-weight doc
    // (must still be assigned somewhere, not silently dropped)
    val docs = ((1 to 60).map(i => (i.toLong, 10L)) ++
      Seq((100L, 180L), (101L, 250L), (102L, 95L), (103L, 0L))).toDF("id", "n_tok")
    val target = 200L
    val sharded = Layout.balancedShards(docs, "id", col("n_tok"), target)
    val rows = sharded.select(col("id"), col("n_tok"), col("shard")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 64 && rows.map(_._1).distinct.length == 64,
      "every row lands in exactly one shard, including the zero-weight doc")
    val masses = rows.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    val maxDoc = rows.map(_._2).max
    masses.foreach { case (s, m) =>
      assert(m < target + maxDoc, s"shard $s mass $m exceeds target + one doc")
    }
    val total = rows.map(_._2).sum
    // ids come from the cumsum chunk grid; a doc spanning several targets
    // absorbs into its FIRST shard, so later grid indices may stay unused
    assert(masses.keySet.subsetOf((0L to total / target).toSet),
      "shard ids live on the cumsum chunk grid")
    assert(masses.size >= (total.toDouble / (target + maxDoc)).ceil.toInt,
      "mass-bounded shards cannot be fewer than total/(target + maxDoc)")
    // writer round-trip: dynamic partition dirs per shard
    val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString
    Layout.writeBalancedShards(docs, dir, "id", col("n_tok"), target)
    val back = spark.read.parquet(dir)
    assert(back.count() == 64 &&
      back.select("shard").distinct().count() == masses.size)
  }

  test("round-7 plan pins: semi-join dup marks, broadcast vocab encode, TakeOrdered outliers") {
    import graft.ops.{Dedup, Similarity, Text}
    val docs = Tables.load(spark, sf, "documents")
    // q107: the duplicated-gram filter must stay a LEFT SEMI join (no
    // fan-out re-materialization of the count table into the occurrences)
    val pSpans = plan(Dedup.duplicatedSpans(docs, col("doc_id"), col("text"), 5))
    assert(pSpans.toLowerCase.contains("leftsemi"),
      "duplicated-gram marks must be a semi join")
    // q111: the vocab side of the encode join must broadcast
    val (_, vocab) = Text.bpeTrain(docs.limit(50), col("text"), 1)
    val pEnc = plan(Text.bpeEncodeByVocab(docs, col("doc_id"), col("text"), vocab))
    assert(pEnc.contains("BroadcastHashJoin"),
      "dictionary-encode join must broadcast the vocab")
    assert(!pEnc.toLowerCase.contains("sortmergejoin"))
    // q114: the global outlier top-k must be TakeOrderedAndProject, never a
    // single-partition sort or window
    val emb = Tables.load(spark, sf, "embeddings")
    val pOut = plan(Similarity.pcaOutliers(emb, col("vec_id"), col("embedding"), 64, 1, 5))
    assert(pOut.contains("TakeOrderedAndProject"),
      "global top-k outliers must map-side prune")
  }

  test("round-7 additions: dhash is scan-only; dhash pairs never cartesian; theta agg is map-side partial; coreset assignment broadcasts") {
    val docs = Tables.load(spark, sf, "documents")
    val media = Media.syntheticFromDocs(docs, col("doc_id"), col("text"))
    // q134: a per-row code — no exchange, no join anywhere
    val pCodes = plan(media.select(col("media_id"), Media.dhash(col("payload")).as("dhash")))
    assert(!pCodes.toLowerCase.contains("exchange"), "dhash codes must be scan+project only")
    // q135: pigeonhole-blocked pairs — no cartesian/nested-loop pair space
    val codes = media.select(col("media_id"), Media.dhash(col("payload")).as("dhash"))
    val pPairs = plan(Media.dhashNearDupPairs(codes, maxHamming = 3))
    assert(!pPairs.contains("CartesianProduct"), "blocked pair join must not be quadratic")
    // q136 core: the theta aggregation must combine map-side (partial
    // ObjectHashAggregate before the exchange), so only #tasks x #sources
    // partial sketches cross the wire
    val sh = docs.select(col("source"),
      graft.ops.Hashing.hash60(col("text")).as("h"))
    val pTheta = plan(sh.groupBy(col("source"))
      .agg(graft.ops.Hashing.thetaSketchAgg(col("h"), 12).as("sk")))
    val oha = "ObjectHashAggregate".r.findAllIn(pTheta).size
    assert(oha >= 2, s"theta sketch agg must have a partial (map-side) stage:\n$pTheta")
    // q137: the basin assignment broadcasts the k seeds, never shuffles the corpus
    val emb = Tables.load(spark, sf, "embeddings")
    val pCs = plan(Similarity.kcenterCoreset(emb, col("vec_id"), col("embedding"), 2))
    assert(pCs.contains("BroadcastNestedLoopJoin") || pCs.contains("BroadcastExchange"),
      "seed table must broadcast into the assignment")
  }

  test("round-7 additions II: moments aggregate map-side; funnel has no global window; sessions never single-partition; pagerank broadcasts scalars") {
    val ev = Tables.load(spark, sf, "events")
    // q144 core: the decimal sum must have a partial (map-side) stage
    val pM = plan(graft.ops.Stats.momentShards(ev, col("value"), col("event_type")))
    assert("partial".r.findAllIn(pM.toLowerCase).nonEmpty,
      s"moment sums must combine map-side:\n$pM")
    // q146: every window runs on user-keyed partitions — a sessionization
    // that funnels the corpus into one partition is the classic scale bug
    val wUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sessions = ev.select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(wUser))
    assert(!plan(sessions).contains("Exchange SinglePartition"),
      "per-user windows must not collapse to a single partition")
    // q149 core: every iteration ends in a localCheckpoint, so the final
    // plan must be a bare materialized scan — no exchange, no join replay
    // (10 unbroken iterations would re-execute the whole chain per action)
    import spark.implicits._
    val nodes = (0L until 50L).toDF("id")
    val edges = (0L until 49L).map(i => (i, i + 1)).toDF("src", "dst")
    val pPr = plan(graft.ops.Graph.pageRank(nodes, edges, iters = 2))
    assert(pPr.contains("ExistingRDD") && !pPr.contains("Exchange"),
      s"iteration lineage must be broken by the per-iteration checkpoint:\n$pPr")
  }

  test("Z-order layout: per-file min/max stays tight in BOTH dimensions (range sort: only one)") {
    import graft.ops.Layout
    import spark.implicits._
    // a 64x64 uniform grid, arrival order scrambled by hash so neither
    // dimension is accidentally pre-sorted
    val grid = (0 until 4096).map(i => (i % 64, i / 64, i)).toDF("a", "b", "i")
      .orderBy(md5(col("i").cast("string")))
    def perFileSpread(dir: String): (Double, Double) = {
      val f = spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg((max(col("a")) - min(col("a"))).as("sa"), (max(col("b")) - min(col("b"))).as("sb"))
        .agg(avg(col("sa")), avg(col("sb"))).head()
      (f.getDouble(0), f.getDouble(1))
    }
    val zDir = tmpDir("zorder")
    Layout.writeZOrdered(grid, zDir, "a", "b", bits = 6, partitions = 16)
    val (za, zb) = perFileSpread(zDir)
    val rDir = tmpDir("rangesort")
    Layout.writeRangeSorted(grid, rDir, "a", 16)
    val (_, rb) = perFileSpread(rDir)
    info(f"z-order per-file spread: a $za%.1f b $zb%.1f; a-range-sort b-spread $rb%.1f (domain 63)")
    // 4096 cells / 16 files = 256 cells/file; a contiguous Z range of that
    // size spans a few 16x16 quadrants, so both spreads sit far below the
    // 63-wide domain — while the one-dimensional sort leaves b unconstrained
    assert(za <= 40 && zb <= 40,
      f"z-order must bound both dimensions per file: a $za%.1f b $zb%.1f")
    assert(rb >= 55, f"control: single-column range sort leaves b unbounded, got $rb%.1f")
    assert(za < rb && zb < rb, "the curve must beat the line on the second dimension")
  }

  test("Hilbert layout: true space-filling curve (permutation + adjacency), NULL out of range, per-file locality") {
    import graft.ops.Layout
    import spark.implicits._
    // exhaustive order-3 grid: codes must be a permutation of 0..63 and every
    // consecutive pair of cells Manhattan-adjacent — the curve never jumps,
    // which is exactly the property the Morton interleave lacks
    val cells = (0 until 64).map(i => (i % 8L, i / 8L)).toDF("x", "y")
      .withColumn("d", Layout.hilbertCode(col("x"), col("y"), 3))
      .collect().map(r => (r.getLong(2), (r.getLong(0), r.getLong(1)))).sortBy(_._1)
    assert(cells.map(_._1).toSeq == (0L until 64L),
      "codes must be a permutation of 0..63")
    cells.toSeq.sliding(2).foreach { case Seq((_, (x1, y1)), (_, (x2, y2))) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"curve jumps from ($x1,$y1) to ($x2,$y2)")
    }
    // out-of-range coordinates evaluate to NULL, never a wrapped/aliased code
    val oob = Seq((8L, 0L), (0L, -1L)).toDF("x", "y")
      .select(Layout.hilbertCode(col("x"), col("y"), 3).as("d")).collect()
    assert(oob.forall(_.isNullAt(0)), "out-of-range must be NULL")
    // same 64x64 harness as the Z-order test: both dimensions bounded per file
    val grid = (0 until 4096).map(i => (i % 64, i / 64, i)).toDF("a", "b", "i")
      .orderBy(md5(col("i").cast("string")))
    val hDir = tmpDir("hilbert")
    Layout.writeHilbertOrdered(grid, hDir, "a", "b", bits = 6, partitions = 16)
    val f = spark.read.parquet(hDir)
      .groupBy(input_file_name())
      .agg((max(col("a")) - min(col("a"))).as("sa"), (max(col("b")) - min(col("b"))).as("sb"))
      .agg(avg(col("sa")), avg(col("sb"))).head()
    val (ha, hb) = (f.getDouble(0), f.getDouble(1))
    info(f"hilbert per-file spread: a $ha%.1f b $hb%.1f (domain 63)")
    assert(ha <= 40 && hb <= 40,
      f"hilbert must bound both dimensions per file: a $ha%.1f b $hb%.1f")
  }

  test("q181 paragraph dedup: the election shuffle is keyed on md5(paragraph), not paragraph text") {
    val p = plan(SparkEntry.queries("q181_paragraph_dedup")(spark, sf))
    assert(p.toLowerCase.contains("md5"),
      "the election window must hash paragraphs for its partition key")
    assert(!"(?i)hashpartitioning\\(para#".r.findFirstIn(p).isDefined,
      "raw paragraph text must never be a shuffle key")
  }

  test("q183 token-budget selection: no corpus-scale shuffle after the checkpointed range pass") {
    // the ONE range shuffle is paid inside globalCumsumBy's localCheckpoint;
    // the serve plan downstream must shuffle nothing corpus-keyed — its only
    // exchanges are the #partitions-row offset machinery (pid keys) and the
    // broadcast offset attach.
    val p = plan(SparkEntry.queries("q183_token_budget_selection")(spark, sf))
    val keys = "(?i)hashpartitioning\\(([^,)]+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.nonEmpty && keys.forall(_.toLowerCase.startsWith("pid")),
      s"every post-checkpoint exchange must be pid-keyed (#partitions rows), got $keys")
    assert(!"(?i)rangepartitioning".r.findFirstIn(p).isDefined,
      "the corpus range shuffle must not replay downstream of the checkpoint")
    assert(p.contains("BroadcastHashJoin"), "the offset table must attach via broadcast")
  }

  test("q186 returned-item ranking: top-20 is TakeOrderedAndProject; nation broadcasts") {
    val p = plan(SparkEntry.queries("q186_returned_item_ranking")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      "the top-20 must not globally sort")
    assert(p.contains("BroadcastHashJoin"), "nation must broadcast")
  }

  test("q189 dormant customers: the no-orders predicate is an anti join, the mean a 1-row broadcast") {
    val p = plan(SparkEntry.queries("q189_dormant_high_balance")(spark, sf))
    assert("(?i)leftanti".r.findFirstIn(p).isDefined,
      s"no-orders must compile to a LEFT ANTI join:\n${p.linesIterator.take(20).mkString("\n")}")
    assert("(?i)broadcastnestedloopjoin|broadcastexchange".r.findFirstIn(p).isDefined,
      "the scalar mean must attach via broadcast")
  }

  test("q200 order priority: the EXISTS is a SEMI join (each order emitted at most once)") {
    val p = plan(SparkEntry.queries("q200_order_priority_check")(spark, sf))
    assert("(?i)leftsemi".r.findFirstIn(p).isDefined,
      s"EXISTS must compile to a LEFT SEMI join, not inner+distinct:\n${p.linesIterator.take(20).mkString("\n")}")
  }

  test("q204 disjunctive revenue: part broadcasts; the OR blocks stay one residual, not a union of scans") {
    val p = plan(SparkEntry.queries("q204_disjunctive_revenue")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "part must broadcast")
    val scans = "(?i)filescan parquet|parquet [a-z]".r.findAllIn(p.toLowerCase).size
    assert(!p.contains("Union"), "the disjunction must not rewrite to a union of scans")
  }

  test("q205 waiting suppliers: decorrelated to ONE orderkey-grain aggregation — no lineitem self-joins, top-10 TakeOrdered") {
    val p = plan(SparkEntry.queries("q205_waiting_suppliers")(spark, sf))
    // the textbook form joins lineitem to itself twice (EXISTS + NOT EXISTS);
    // the decorrelated plan must read lineitem exactly once
    val lineitemScans = "lineitem".r.findAllIn(p).size
    assert(lineitemScans <= 2, // path appears once per scan node line; allow ReadSchema echo
      s"lineitem must be scanned once, saw $lineitemScans mentions:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "the top-10 must not globally sort")
  }

  test("q223 prefix join: no cartesian, prefix rank window partitioned per doc (never global)") {
    val p = plan(SparkEntry.queries("q223_jaccard_prefix_filter")(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"prefix filtering must never go all-pairs:\n$p")
    // the prefix-position row_number partitions by doc_id — a GLOBAL window
    // here would single-thread the whole corpus
    assert(p.contains("windowspecdefinition(doc_id"),
      s"the prefix rank must be a per-document window:\n$p")
    assert(!"Window \\[row_number".r.findAllIn(p)
        .exists(_ => p.contains("windowspecdefinition(row_number")),
      "no unpartitioned rank windows")
  }

  test("q228/q230/q231 TPC-H breadth: dimensions broadcast; elections are group-limits; exclusions are anti/semi joins") {
    // q228: part cut + EU supplier dimension broadcast into the fact agg;
    // the per-part min-cost election must push partial group limits below
    // the rank window (WindowGroupLimit), and no join may shuffle.
    val p228 = plan(SparkEntry.queries("q228_min_cost_supplier")(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p228).size >= 2,
      s"q228: part cut and supplier dimension must broadcast:\n$p228")
    assert(p228.contains("WindowGroupLimit"),
      "q228: the rank-1 election must compile to WindowGroupLimit")
    assert("SortMergeJoin|ShuffledHashJoin".r.findFirstIn(p228).isEmpty,
      s"q228: no join may shuffle the fact rows:\n$p228")
    // q230: the complaint-supplier exclusion is a broadcast ANTI join, the
    // part-attribute cut a broadcast hash join.
    val p230 = plan(SparkEntry.queries("q230_supplier_part_counts")(spark, sf))
    assert("(?i)leftanti".r.findFirstIn(p230).isDefined,
      s"q230: supplier exclusion must be a LEFT ANTI join:\n$p230")
    assert(p230.contains("BroadcastHashJoin"), "q230: part cut must broadcast")
    // q231: the dominant-supplier membership is a SEMI join; region-filtered
    // nation broadcasts.
    val p231 = plan(SparkEntry.queries("q231_dominant_suppliers")(spark, sf))
    assert("(?i)leftsemi".r.findFirstIn(p231).isDefined,
      s"q231: dominant membership must be a LEFT SEMI join:\n$p231")
    assert(p231.contains("BroadcastHashJoin"), "q231: nation must broadcast")
  }

  test("q236/q239/q240/q241: analytic windows stay entity-keyed; SCD dimension broadcasts; basket counts broadcast") {
    // q236/q239: every lag/lead/cumsum window partitions on its entity key
    // — an unpartitioned window would single-task the corpus
    Seq(("q236_event_paths", "user_id"),
        ("q239_scd2_dimension", "o_custkey")).foreach { case (q, key) =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(p.contains(s"windowspecdefinition($key"),
        s"$q: windows must partition by $key:\n$p")
    }
    // q240: the changes-sized SCD dimension must reach the facts by
    // broadcast; lineitem→orders may shuffle once
    val p240 = plan(SparkEntry.queries("q240_pit_revenue_by_priority")(spark, sf))
    assert(p240.contains("BroadcastHashJoin"), "q240: SCD dimension must broadcast")
    val shuffled240 = "SortMergeJoin|ShuffledHashJoin".r.findAllIn(p240).size
    assert(shuffled240 <= 1,
      s"q240: only lineitem→orders may shuffle, got $shuffled240:\n$p240")
    // q241: item counts and the basket total ride broadcasts; the pair
    // explode must not become a join
    val p241 = plan(SparkEntry.queries("q241_market_basket")(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p241).size >= 2,
      s"q241: both item-count sides must broadcast:\n$p241")
    assert(!p241.contains("CartesianProduct"),
      "q241: no cartesian anywhere in the basket chain")
  }

  test("q227 binary-quantization funnel: both ranks are WindowGroupLimits; candidates never cartesian") {
    val p = plan(SparkEntry.queries("q227_bq_rerank_topk")(spark, sf))
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"q227: Hamming screen and L2 rerank must both push group limits:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"q227: candidate generation must stay bucket-joined:\n$p")
  }

  test("session plan pins: AUC two-phase, PMI top-k, winsorize broadcast, silhouette broadcast") {
    // q250: the ROC-AUC tail past the checkpointed range-partitioned frame
    // must attach the #partitions-row offset table by BROADCAST (the
    // two-phase discipline's visible half — the range exchange itself sits
    // behind the localCheckpoint lineage break), and no corpus-sized
    // window may appear
    val p250 = plan(SparkEntry.queries("q250_quality_auc")(spark, sf))
    assert(p250.contains("BroadcastHashJoin"),
      s"q250: offset table must broadcast onto the partials:\n${p250.take(2000)}")
    assert(!p250.contains("SortMergeJoin"),
      s"q250: nothing may sort-merge in the AUC tail:\n${p250.take(2000)}")
    // q253: the PMI top-k is a TakeOrderedAndProject (no global sort), and
    // the total frames ride in as broadcasts
    val p253 = plan(SparkEntry.queries("q253_pmi_pairs")(spark, sf))
    assert(p253.contains("TakeOrderedAndProject"),
      s"q253: top-k must be TakeOrdered:\n${p253.take(2000)}")
    assert("BroadcastNestedLoopJoin|BroadcastExchange".r.findAllIn(p253).nonEmpty,
      "q253: 1-row totals must broadcast")
    // q258: the per-brand winsorize bounds (a #brands-row frame) must
    // reach the clip join by broadcast, not a shuffle
    val p258 = plan(SparkEntry.queries("q258_winsorized_price")(spark, sf))
    assert(p258.contains("BroadcastHashJoin"),
      s"q258: bounds join must broadcast:\n${p258.take(2000)}")
    // q265: centroids reach the distance rows by broadcast; the rank
    // window is a per-vid group limit candidate (rn <= 2 pushes down)
    val p265 = plan(SparkEntry.queries("q265_kmeans_silhouette")(spark, sf))
    assert(p265.contains("BroadcastNestedLoopJoin") || p265.contains("BroadcastExchange"),
      s"q265: centroid side must broadcast:\n${p265.take(2000)}")
    assert(p265.contains("WindowGroupLimit"),
      s"q265: rn <= 2 must push a group limit:\n${p265.take(2000)}")
  }

  test("round-9 stats queries: broadcast totals, no global sort, no cartesian blowup") {
    // q295 KS: the cumulative counts must come from the range-partitioned
    // two-phase prefix sum — no single-partition global window over the
    // value-distinct frame
    // (the range partition itself sits behind prefixSums' localCheckpoint,
    // so the visible evidence is the pid-keyed window — NOT an unkeyed
    // single-partition global window)
    val p295 = plan(SparkEntry.queries("q295_ks_test")(spark, sf))
    assert(p295.contains("windowspecdefinition(pid"),
      s"q295: cumulative window must be pid-keyed (two-phase):\n${p295.take(1500)}")
    // q299 bootstrap: replicate fan-out is a per-row explode (Generate),
    // and the only joins are 1-row broadcast CI/base fusions
    val p299 = plan(SparkEntry.queries("q299_poisson_bootstrap")(spark, sf))
    assert(p299.contains("Generate"), "q299: B replicates come from explode")
    assert(!p299.contains("CartesianProduct"),
      s"q299: no cartesian product allowed:\n${p299.take(1500)}")
    // q300: the head vocabulary must reach the typo join by broadcast —
    // the corpus-scale rare side never shuffles for the join
    val p300 = plan(SparkEntry.queries("q300_typo_candidates")(spark, sf))
    assert(p300.contains("BroadcastNestedLoopJoin") || p300.contains("BroadcastHashJoin"),
      s"q300: head vocab must broadcast:\n${p300.take(1500)}")
    // q309 RFM: ranks come from globalRank's range partition + broadcast
    // offsets — no single global Sort over all customers feeding a window
    val p309 = plan(SparkEntry.queries("q309_rfm_segments")(spark, sf))
    assert(p309.contains("windowspecdefinition(pid"),
      s"q309: rank windows must be pid-keyed (two-phase globalRank):\n${p309.take(1500)}")
    // q302's serve seam (the full query plan hides behind the stationary
    // loop's localCheckpoints): markovFromCounts must broadcast the
    // #states-row totals into the probability join
    val ev = Tables.load(spark, sf, "events")
    val pMk = plan(graft.ops.Stats.markovFromCounts(
      graft.ops.Stats.markovCountTable(ev.select(col("user_id").as("u"),
        col("ts").as("o1"), col("event_id").as("o2"),
        col("event_type").as("cur")))))
    assert(pMk.contains("BroadcastHashJoin"),
      s"markovFromCounts: row totals must broadcast:\n${pMk.take(1500)}")
  }

  test("q331-q339 session pins: bounded explode, entity-keyed windows, broadcast vocab/master/centroids") {
    // q331 EWMA: the 15-lag baseline is a per-row explode (Generate) joined
    // back on day — no range self-join, no cartesian
    val p331 = plan(SparkEntry.queries("q331_ewma_anomaly")(spark, sf))
    assert(p331.contains("Generate"), "q331: lag projection must be an explode")
    assert(!p331.contains("CartesianProduct"),
      s"q331: no cartesian:\n${p331.take(1500)}")
    // q332 islands: every analytic window is keyed on the customer — no
    // unkeyed (single-partition) window over the interval frame
    val p332 = plan(SparkEntry.queries("q332_interval_islands")(spark, sf))
    assert(p332.contains("windowspecdefinition(o_custkey"),
      s"q332: windows must be customer-keyed:\n${p332.take(1500)}")
    assert(!p332.contains("windowspecdefinition()"),
      "q332: no global unkeyed window")
    // q336/q337: the similarity join's small side (head vocab / master
    // names) must broadcast — corpus/record rows never shuffle for it
    val p336 = plan(SparkEntry.queries("q336_jw_typo_links")(spark, sf))
    assert(p336.contains("BroadcastNestedLoopJoin") || p336.contains("BroadcastHashJoin"),
      s"q336: head vocab must broadcast:\n${p336.take(1500)}")
    val p337 = plan(SparkEntry.queries("q337_record_linkage")(spark, sf))
    assert(p337.contains("BroadcastNestedLoopJoin") || p337.contains("BroadcastHashJoin"),
      s"q337: master vocabulary must broadcast:\n${p337.take(1500)}")
    assert(!p337.contains("CartesianProduct"), "q337: blocking must not degrade to cartesian")
    // q338 Davies-Bouldin: the corpus-sized pass joins members to BROADCAST
    // centroids; the pairwise-ratio stage runs on the k-row frame only
    val p338 = plan(SparkEntry.queries("q338_davies_bouldin")(spark, sf))
    assert(p338.contains("BroadcastHashJoin") || p338.contains("BroadcastNestedLoopJoin"),
      s"q338: centroids must broadcast into the member pass:\n${p338.take(1500)}")
    // q339 burstiness: two keyed aggregations, nothing else — no windows,
    // no joins
    val p339 = plan(SparkEntry.queries("q339_user_burstiness")(spark, sf))
    assert(!p339.contains("windowspecdefinition"), "q339: no analytic windows needed")
    assert(!p339.toLowerCase.contains("join"), s"q339: no joins:\n${p339.take(1000)}")
  }

  test("q340/q344 session pins: phonetic-block broadcast; Q21 as native semi+anti join types") {
    // q340 soundex blocking: the head side broadcasts; the blocking join is
    // an equality hash join (the upgrade over q336's range-probe block)
    val p340 = plan(SparkEntry.queries("q340_phonetic_typo_links")(spark, sf))
    assert(p340.contains("BroadcastHashJoin"),
      s"q340: soundex block must be an equality broadcast hash join:\n${p340.take(1500)}")
    assert(!p340.contains("CartesianProduct"), "q340: no cartesian")
    // q344 (q205's native-join-types counterpart): EXISTS and NOT EXISTS
    // must be native LeftSemi/LeftAnti join types (never a
    // distinct+outer-join emulation), supplier broadcast
    val p344 = plan(SparkEntry.queries("q344_waiting_suppliers")(spark, sf))
    assert(p344.contains("LeftSemi"), s"q344: EXISTS → semi join:\n${p344.take(1500)}")
    assert(p344.contains("LeftAnti"), s"q344: NOT EXISTS → anti join:\n${p344.take(1500)}")
    assert(p344.contains("BroadcastHashJoin"),
      s"q344: supplier dim must broadcast:\n${p344.take(1500)}")
  }

  test("q353/q354 stylometry pins: doc-keyed RAKE window; join-free Yule's K") {
    // q353 RAKE: the visible plan starts after the phrase checkpoint (the
    // doc-keyed run window lives on the checkpointed side); pin what
    // remains — word scores broadcast into the phrase-instance frame, and
    // the global top-k is TakeOrdered (no full sort materializes)
    val p353 = plan(SparkEntry.queries("q353_rake_keywords")(spark, sf))
    assert(p353.contains("BroadcastHashJoin"),
      s"q353: wstats must broadcast:\n${p353.take(1500)}")
    assert(p353.contains("TakeOrderedAndProject"),
      s"q353: top-k must be TakeOrdered:\n${p353.take(1500)}")
    // q354 Yule's K: two keyed aggregations, no joins, no windows
    val p354 = plan(SparkEntry.queries("q354_yule_k")(spark, sf))
    assert(!p354.toLowerCase.contains("join"), s"q354: no joins:\n${p354.take(1000)}")
    assert(!p354.contains("windowspecdefinition"), "q354: no analytic windows")
  }

  test("q374/q376 bounded-frame pins: rank/stratum frames are post-aggregation, never the corpus") {
    // q374 BH-FDR (checkpoint=false exposes the full lineage): the
    // single-partition p-rank window must sit ABOVE the per-slice counting
    // aggregation — the corpus reaches one HashAggregate and only the
    // alphabet-bounded slice frame enters the SinglePartition exchange
    val ev = Tables.load(spark, sf, "events")
    val counts = ev
      .select(get_json_object(col("props"), "$.k").cast("long").as("key"),
        col("event_type"))
      .where(col("key").isNotNull)
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("k"))
    val p374 = plan(graft.ops.Stats.bhFdr(
      graft.ops.Stats.twoProportionZ(counts), 0.10, checkpoint = false))
    val iWin = p374.indexOf("windowspecdefinition")
    val iSingle = p374.indexOf("Exchange SinglePartition")
    val iAgg = p374.indexOf("HashAggregate(keys=[key")
    assert(iWin >= 0 && iSingle >= 0 && iAgg >= 0,
      s"q374: expected window + single-partition exchange + slice agg:\n${p374.take(2000)}")
    assert(iWin < iSingle && iSingle < iAgg,
      s"q374: the p-rank window must consume the POST-aggregation frame " +
        s"(plan order window@$iWin < single@$iSingle < agg@$iAgg):\n${p374.take(2000)}")
    assert(!p374.contains("CartesianProduct"),
      "q374: m/istar fusions must be 1-row broadcasts, never cartesian")
    // q376 CEM ATT: customer dim broadcasts into the fact join; the
    // att/dropped fusions are 1-row broadcast joins over the stratum frame
    val o = Tables.load(spark, sf, "orders")
    val c = Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
    val p376 = plan(graft.ops.Stats.cemAtt(
      o.join(c, col("o_custkey") === col("c_custkey")),
      concat_ws("|", col("c_mktsegment"), col("c_nationkey")),
      col("o_orderpriority") === "1-URGENT",
      col("o_totalprice"), checkpoint = false))
    assert(p376.contains("BroadcastHashJoin"),
      s"q376: customer dim must broadcast into the fact join:\n${p376.take(1500)}")
    assert(p376.contains("BroadcastNestedLoopJoin"),
      s"q376: att/dropped must fuse as 1-row broadcasts:\n${p376.take(1500)}")
    assert(!p376.contains("CartesianProduct"), "q376: no cartesian")
    val iStratAgg = p376.indexOf("HashAggregate(keys=[stratum")
    val iBnl = p376.indexOf("BroadcastNestedLoopJoin")
    assert(iStratAgg >= 0 && iBnl >= 0 && iBnl < iStratAgg,
      s"q376: the fusion joins must run ABOVE the stratum aggregation:\n${p376.take(2000)}")
  }

  test("q386 KLL build: sketch aggregation combines map-side — only partial sketches cross the exchange") {
    // the scale contract of the quantile sketch table: value rows reduce to
    // #tasks x #keys KB-sized partial sketches BEFORE the shuffle (the q136
    // theta discipline) — a plan that shuffled raw values first would move
    // corpus rows where bytes should travel
    val docs = Tables.load(spark, sf, "documents")
    val p = plan(docs
      .select(col("source").as("key"), col("n_chars").cast("double").as("x"))
      .where(col("x").isNotNull)
      .groupBy(col("key"))
      .agg(graft.ops.QuantileIndex.kllSketch(col("x"), 256).as("sk")))
    val oha = "ObjectHashAggregate".r.findAllIn(p).size
    assert(oha >= 2,
      s"KLL sketch agg must have a partial (map-side) stage:\n$p")
    val iExch = p.indexOf("Exchange hashpartitioning")
    val iLast = p.lastIndexOf("ObjectHashAggregate")
    assert(iExch >= 0 && iLast > iExch,
      s"the map-side partial must sit BELOW the exchange:\n$p")
  }

  test("q386 KLL serve: kll_quantile/kll_n evaluate ABOVE the aggregate, never over corpus rows") {
    // KllQuantile/KllN heapify the sketch per evaluated row — correct on
    // the #keys-row frame above the aggregate (or a stored table), wrong
    // mapped over a corpus column. Pin the serve plan shape: the quantile
    // expressions live in a Project ABOVE every aggregate stage (plans
    // print top-down, so 'above' = earlier in the string).
    val docs = Tables.load(spark, sf, "documents")
    val p = plan(docs
      .select(col("source").as("key"), col("n_chars").cast("double").as("x"))
      .where(col("x").isNotNull)
      .groupBy(col("key"))
      .agg(graft.ops.QuantileIndex.kllSketch(col("x"), 256).as("sk"))
      .select(col("key"),
        graft.ops.QuantileIndex.kllQuantile(col("sk"), lit(0.5)).as("med"),
        graft.ops.QuantileIndex.kllN(col("sk")).as("n")))
    val iQ = p.indexOf("kll_quantile")
    val iN = p.indexOf("kll_n")
    val iAgg = p.indexOf("ObjectHashAggregate")
    assert(iQ >= 0 && iN >= 0 && iAgg >= 0, s"expected markers in:\n$p")
    assert(iQ < iAgg && iN < iAgg,
      s"kll_quantile/kll_n must evaluate above the aggregate output:\n$p")
  }

  test("q421-q430 snapshot-family serves: index side is manifest-listed parquet scans, never cartesian") {
    // the round-18 snapshot migrations (minhash/simhash/bm25/lm/cms): each
    // serve must read its index through SnapTables.resolve — plain parquet
    // scans over the manifest's file list — and join probe-vs-index through
    // keyed joins only. The corpus text appears ONLY on the probe side
    // (minhash/simhash re-fingerprint probes; bm25/lm/cms have none).
    for (q <- Seq(
        "q421_minhash_snapshot_delete", "q422_minhash_snapshot_append",
        "q423_simhash_snapshot_delete", "q424_simhash_snapshot_append",
        "q425_bm25_snapshot_delete", "q426_bm25_snapshot_append",
        "q427_lm_snapshot_delete", "q428_lm_snapshot_append",
        "q429_cms_snapshot_delete", "q430_cms_snapshot_append")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(p.contains("Scan parquet"),
        s"$q: the index must enter the plan as parquet scans:\n$p")
      assert(!p.toLowerCase.contains("cartesianproduct"),
        s"$q: no cartesian products in a snapshot serve:\n$p")
    }
    // the table-only serves additionally carry ZERO checkpointed lineage
    // (bm25/lm scoring is pure scans+joins; minhash/simhash legitimately
    // checkpoint their probe-side fingerprints)
    for (q <- Seq("q425_bm25_snapshot_delete", "q426_bm25_snapshot_append",
        "q427_lm_snapshot_delete", "q428_lm_snapshot_append")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.toLowerCase.contains("existingrdd"),
        s"$q: stored-table serve must have no checkpointed lineage:\n$p")
    }
  }
}
