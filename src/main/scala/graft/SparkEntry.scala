package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.{Articles, DataGen}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The query catalog is assembled from per-area groups; every entry with an
  * oracle participates in the DuckDB hash-match correctness gate.
  */
object SparkEntry {

  /** Per-area groups in stable order — the unit of session isolation for
    * `Bench --isolated` (fresh SparkSession per group).
    */
  val catalogGroups: Seq[(String, Seq[QueryDef])] = Seq(
    "core" -> CoreQueries.defs,
    "relational" -> RelationalQueries.defs,
    "text" -> TextQueries.defs,
    "dedup" -> DedupQueries.defs,
    "similarity" -> SimilarityQueries.defs,
    "media" -> MediaQueries.defs,
    "pipeline" -> PipelineQueries.defs)

  /** Gate-economics slow tier (VERDICT r18 #7): the queries measured
    * heaviest in the sf0.01 correctness dump (engine-side wall >15 s under
    * the gate's own 4-way concurrency — `verify_timings.json`, re-measured
    * round 19; none reaches the 30 s quarantine bar, so all still verify
    * every round). Verify enqueues them LAST: a driver wall-clock timeout
    * kills this tail, not the broad fast body whose rows check.py has
    * already flushed incrementally. Tagged centrally so the list is one
    * measured, re-tunable ledger rather than flags scattered over 4k
    * lines of catalog.
    */
  private val gateSlowNames: Set[String] = Set(
    "q431_curation_snapshot_capstone", "q291_heaps_exponent",
    "q199_lm_table_serve", "q198_lm_table_append", "q278_lm_table_retract",
    "q224_hybrid_batch_from_tables", "q217_hybrid_from_tables",
    "q218_bm25_batch_from_tables", "q175_bm25_index_serve",
    "q234_bpe_table_encode", "q421_minhash_snapshot_delete")

  /** Full catalog, in stable order. */
  val catalog: Seq[QueryDef] = {
    val defs = catalogGroups.flatMap(_._2)
    // a rename or typo must fail loudly, not silently drop the entry back
    // into the fast tier where a driver timeout can kill broad fast-body
    // queries again
    val unknown = gateSlowNames -- defs.map(_.name).toSet
    require(unknown.isEmpty,
      s"gateSlowNames references queries absent from the catalog: " +
        unknown.toSeq.sorted.mkString(", "))
    defs.map(q => if (gateSlowNames(q.name)) q.copy(gateSlow = true) else q)
  }

  /** Flagship query: the reference's own pipeline (envelope → parse → enrich
    * → windowed avg word count per author), run on seeded generated articles
    * at sf0.001-ish volume. Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val envelope = DataGen.articles(spark, n = 6000L)
    Articles.pipeline(envelope)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. Omitted for non-SQL-expressible ops (driver records
    * a weaker rows-only check).
    */
  def oracleSql: Map[String, String] =
    catalog.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Headline benchmark subset (scale-representative; excludes the
    * intentionally-quadratic oracle variants).
    */
  def benchQueries: Seq[QueryDef] = catalog.filter(_.bench)
}
