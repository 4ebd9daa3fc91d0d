package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs in the shapes of the repository's sf0.1 test
  * tables.
  *
  * Every column is a pure function of (seed, row id) through `xxhash64`,
  * so the same seed gives byte-identical tables whatever the partition
  * count. `events` keeps sf0.1's schema and value domains (30 days from
  * 2024-01-01, 1500 users, five event types, exponential `value` with
  * mean 50, `props` = `{"k": 0..99}`) and stores `ts` as raw int64 µs,
  * the shape `graft.Tables.events` and `tools/check.py` both decode.
  */
object Gen {
  val EventTypes: Seq[String] = Seq("click", "view", "purchase", "signup", "error")
  val FirstDay: java.time.LocalDate = java.time.LocalDate.parse("2024-01-01")
  val Days = 30
  private val DayUs = 86400000000L

  private val Vocab = Seq("a", "the", "spark", "stream", "batch", "table", "query",
    "join", "agg", "group", "filter", "scan", "sort", "hash", "merge", "window",
    "row", "column", "line", "part", "order", "customer", "key", "value", "data",
    "vector", "fast", "slow", "big", "small", "index", "shard", "delta", "lake",
    "version", "commit", "manifest", "band", "bucket", "token")

  /** Uniform draw in [0, n) from (seed, id, salt). */
  def draw(seed: Long, id: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(lit(seed), id, lit(salt)), lit(n))

  /** `n` events spread evenly over [[Days]] days, written as one parquet
    * file under `path` (sf0.1's events table is one file). */
  def writeEvents(spark: SparkSession, path: String, seed: Long, n: Long): Unit = {
    val id = col("id")
    val step = Days * DayUs / n
    val u = (draw(seed, id, 4, 1L << 52) + 1).cast("double") / ((1L << 52) + 1).toDouble
    spark.range(0, n, 1, 1)
      .select(
        id.as("event_id"),
        (lit(FirstDay.toEpochDay * DayUs) + id * step + draw(seed, id, 1, step)).as("ts"),
        draw(seed, id, 2, 1500L).as("user_id"),
        element_at(array(EventTypes.map(lit): _*), (draw(seed, id, 3, 5L) + 1).cast("int"))
          .as("event_type"),
        round(-log(u) * 50.0, 2).as("value"),
        concat(lit("{\"k\": "), draw(seed, id, 5, 100L).cast("string"), lit("}")).as("props"))
      .write.mode("overwrite").parquet(path)
  }

  /** Text of document `src`: 10..100 tokens over a 40-word vocabulary.
    * A re-keyed copy of a document uses the same `src`, so its text is
    * byte-identical to the original's. */
  def text(seed: Long, src: Column): Column = {
    val nTok = draw(seed, src, 11, 91L) + 10
    array_join(transform(sequence(lit(0L), nTok - 1),
      i => element_at(array(Vocab.map(lit): _*),
        (pmod(xxhash64(lit(seed), src, i), lit(Vocab.size.toLong)) + 1).cast("int"))), " ")
  }

  /** Documents in sf0.1's `documents` schema; `ids` carries
    * (doc_id, src) pairs, `src` naming whose text the row carries. */
  def documents(seed: Long, ids: DataFrame): DataFrame =
    ids.select(col("doc_id"), text(seed, col("src")).as("text"),
        element_at(array(lit("en"), lit("de"), lit("fr"), lit("zh")),
          (draw(seed, col("src"), 12, 4L) + 1).cast("int")).as("lang"),
        concat(lit("src"), draw(seed, col("src"), 13, 20L).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
}
