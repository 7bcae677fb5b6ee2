package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's article pipeline, generalized.
  *
  * Reference shape (`/root/reference/app/process_articles.py`):
  *   Kinesis envelope → cast(data as string) (l.62) → from_json (l.66) →
  *   flatten (l.67) → to_timestamp(publish_date) (l.68) → word_count
  *   (l.74-75) → watermark 10s (l.79) → groupBy(window 5m/1m, author) (l.80)
  *   → avg(word_count) (l.81) → project window.start/end (l.82) → parquet
  *   append (l.85-91).
  *
  * Every stage is a pure DataFrame => DataFrame usable in batch and streaming.
  * Includes the two columns the reference declared but abandoned
  * (`process_articles.py:69-70`): `unique_id` (uuid) and
  * `processing_timestamp` (current_timestamp).
  */
object Articles {

  /** Article JSON payload schema (`process_articles.py:29-35`). */
  val payloadSchema: StructType = StructType(Seq(
    StructField("article_id", StringType),
    StructField("title", StringType),
    StructField("author", StringType),
    StructField("publish_date", StringType),
    StructField("content", StringType)
  ))

  /** Kinesis record envelope (`process_articles.py:21-27`) — the connector
    * emits `data` as binary; declared here so any StreamSource implementation
    * is interchangeable.
    */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("data", BinaryType),
    StructField("approximateArrivalTimestamp", TimestampType),
    StructField("partitionKey", StringType),
    StructField("sequenceNumber", StringType),
    StructField("kinesisShardId", StringType)
  ))

  /** Envelope → typed article rows (P1-P4 in SURVEY.md §2.2).
    * Malformed JSON yields a null struct (PERMISSIVE from_json, F2); an
    * unparseable publish_date yields null (try_to_timestamp — Spark 4 runs
    * ANSI-on by default, where plain to_timestamp would throw; the reference's
    * 3.5 semantics are null-on-failure).
    */
  def parse(envelope: DataFrame): DataFrame =
    envelope
      .select(col("data").cast("string").as("data"))
      .select(from_json(col("data"), payloadSchema).as("article"))
      .select("article.*")
      .withColumn("publish_date", try_to_timestamp(col("publish_date")))
      .withColumn("unique_id", expr("uuid()"))
      .withColumn("processing_timestamp", current_timestamp())

  /** Enrichment: the word count (`process_articles.py:74-75`), as
    * [[Text.wordCount]] — equal to the reference's `size(split(content,
    * "\\s+"))` on every input, null for a null `content`. The reference's
    * `words` array was only an intermediate that its sink never carried, so
    * it is not built.
    */
  def enrich(articles: DataFrame): DataFrame =
    articles.withColumn("word_count", Text.wordCount(col("content")))

  /** The flagship aggregate: average word count per author per sliding
    * window (`process_articles.py:78-82`). Output schema matches the
    * reference's sink exactly: start, end, author, average_word_count.
    */
  def avgWordCountByAuthor(
      enriched: DataFrame,
      width: String = "5 minutes",
      slide: String = "1 minute",
      watermark: String = "10 seconds"): DataFrame =
    Windowing
      .slidingAgg(enriched, "publish_date", width, slide, Some(watermark),
        keys = Seq(col("author")),
        aggs = Seq(avg(col("word_count")).as("average_word_count")))
      .select(
        col("window_start").as("start"),
        col("window_end").as("end"),
        col("author"),
        col("average_word_count"))

  /** Full pipeline: envelope → finalized windowed aggregates. */
  def pipeline(envelope: DataFrame): DataFrame =
    avgWordCountByAuthor(enrich(parse(envelope)))
}

/** Seeded, fully distributed generator of producer-shaped article JSON —
  * the Scala port of `/root/reference/populate-script/populate_stream.py:73-80`
  * (uuid4 article_id, ~6-word title, author name, ISO-8601 publish_date,
  * multi-paragraph content). Deterministic: every field derives from the row
  * id + seed via md5 arithmetic, so fixtures are reproducible at any
  * parallelism (no driver-side RNG, scales to any row count).
  */
object DataGen {
  private val vocab = Seq(
    "breaking", "news", "market", "analysis", "report", "update", "world",
    "economy", "science", "technology", "health", "policy", "climate",
    "research", "data", "stream", "spark", "window", "article", "press")

  /** n article envelope rows (data: String JSON payload). Timestamps spread
    * uniformly over `spreadSeconds` starting at `startEpochSeconds`.
    */
  def articles(
      spark: SparkSession,
      n: Long,
      seed: Long = 42L,
      numAuthors: Int = 20,
      startEpochSeconds: Long = 1704067200L, // 2024-01-01T00:00:00Z
      spreadSeconds: Long = 3600L): DataFrame =
    envelopeFor(spark.range(n).toDF("id"), seed, numAuthors, startEpochSeconds, spreadSeconds)

  /** Envelope synthesis over an arbitrary `id`-column frame (batch OR
    * streaming — the rate-source adapter feeds its monotonically increasing
    * `value` through here, so the same deterministic derivation serves
    * fixtures and unbounded soak runs).
    */
  def envelopeFor(
      ids: DataFrame,
      seed: Long = 42L,
      numAuthors: Int = 20,
      startEpochSeconds: Long = 1704067200L,
      spreadSeconds: Long = 3600L): DataFrame = {
    val h = Hashing.hash60(concat(lit(seed.toString), lit("-"), col("id")))
    val author = concat(lit("author_"), pmod(h, lit(numAuthors.toLong)))
    val ts = to_timestamp(from_unixtime(
      lit(startEpochSeconds) + pmod(h, lit(spreadSeconds))))
    val titleWords = transform(sequence(lit(0), lit(5)),
      i => element_at(lit(vocab.toArray), (pmod(h + i, lit(vocab.size.toLong)) + 1).cast("int")))
    val nWords = (pmod(Hashing.hash60(concat(lit("wc"), col("id"))), lit(180L)) + lit(20L)).cast("int")
    val contentWords = transform(sequence(lit(1), nWords),
      i => element_at(lit(vocab.toArray), (pmod(h + i * 7, lit(vocab.size.toLong)) + 1).cast("int")))
    val payload = to_json(struct(
      concat(lit("art-"), md5(concat(lit("id"), col("id")))).as("article_id"),
      concat_ws(" ", titleWords).as("title"),
      author.as("author"),
      date_format(ts, "yyyy-MM-dd'T'HH:mm:ss").as("publish_date"),
      concat_ws(" ", contentWords).as("content")
    ))
    ids.select(
      payload.cast("binary").as("data"),
      ts.as("approximateArrivalTimestamp"),
      md5(concat(lit("id"), col("id"))).as("partitionKey"),
      col("id").cast("string").as("sequenceNumber"),
      lit("shardId-000000000000").as("kinesisShardId"))
  }
}
