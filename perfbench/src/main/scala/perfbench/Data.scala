package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded, program-independent input generators. Every column is a pure
  * function of (row id, seed), built from Spark's own expressions, so the
  * same seed yields the same rows on any commit and any partitioning. The
  * seed moves values, keys and constants; row counts and row widths stay
  * fixed so run time does not depend on it.
  */
object Data {

  /** Uniform non-negative draw in [0, n) keyed by (id, seed, salt). */
  def draw(id: Column, seed: Long, salt: Int, n: Long): Column =
    pmod(xxhash64(id, lit(seed), lit(salt)), lit(n))

  /** Every order key is even; odd keys inside the band are guaranteed
    * absent, so needle lookups can aim at absent keys no min/max prunes.
    */
  def orderKeyBase(seed: Long): Long = 1000000L * (1 + java.lang.Math.floorMod(seed, 97L))

  /** TPC-H-shaped lineitem: exactly four lines per order, so a key lookup
    * returns four rows and a key range of width w returns 4 * (w / 2 + ...)
    * rows whatever the seed.
    */
  def lineitem(spark: SparkSession, rows: Long, seed: Long, parts: Int): DataFrame = {
    val id = col("id")
    spark.range(0, rows, 1, parts).select(
      (lit(orderKeyBase(seed)) + (id / 4).cast(LongType) * 2).as("l_orderkey"),
      (draw(id, seed, 1, 20000L) + 1).as("l_partkey"),
      (draw(id, seed, 2, 1000L) + 1).as("l_suppkey"),
      (pmod(id, lit(4L)) + 1).cast(IntegerType).as("l_linenumber"),
      (draw(id, seed, 3, 50L) + 1).cast(DoubleType).as("l_quantity"),
      ((draw(id, seed, 4, 9000000L) + 90000L).cast(DoubleType) / 100.0).as("l_extendedprice"),
      (draw(id, seed, 5, 11L).cast(DoubleType) / 100.0).as("l_discount"),
      (draw(id, seed, 6, 9L).cast(DoubleType) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (draw(id, seed, 7, 3L) + 1).cast(IntegerType))
        .as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (draw(id, seed, 8, 2L) + 1).cast(IntegerType))
        .as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + draw(id, seed, 9, 2526L) * 86400L).as("l_shipdate"))
  }

  /** Click-stream events with microsecond timestamps, increasing in id. */
  def events(spark: SparkSession, rows: Long, seed: Long, parts: Int): DataFrame = {
    val id = col("id")
    spark.range(0, rows, 1, parts).select(
      id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * 2000000L + draw(id, seed, 1, 1000000L)).as("ts"),
      draw(id, seed, 2, 5000L).as("user_id"),
      element_at(array(Seq("view", "click", "cart", "buy", "error", "signup").map(lit): _*),
        (draw(id, seed, 3, 6L) + 1).cast(IntegerType)).as("event_type"),
      (draw(id, seed, 4, 100000L).cast(DoubleType) / 100.0).as("value"),
      concat(lit("{\"k\": "), draw(id, seed, 5, 100L).cast(StringType), lit("}")).as("props"))
  }

  private val Vocab: Seq[String] =
    ("batch part spark line column order small sort fast value scan hash slow group agg filter " +
      "query a big key window vector stream table join data customer the of to in is for on " +
      "with as by at from this that block footer index split codec frame level check merge")
      .split(' ').toSeq

  /** Tokens of one document drawn from a small vocabulary. `base` is the id
    * the text derives from: planted duplicates share their source's base, so
    * they repeat its tokens; `subPct` of tokens are substituted for the
    * planted near-duplicates.
    */
  private def docText(base: Column, self: Column, seed: Long, subPct: Column): Column = {
    val vocab = array(Vocab.map(lit): _*)
    val n = (draw(base, seed, 11, 50L) + 12).cast(IntegerType)
    concat_ws(" ", transform(sequence(lit(1), n), i =>
      when(pmod(xxhash64(self, i, lit(seed), lit(12)), lit(100L)) < subPct,
        element_at(vocab, (pmod(xxhash64(self, i, lit(seed), lit(13)), lit(Vocab.size.toLong)) + 1)
          .cast(IntegerType)))
        .otherwise(element_at(vocab,
          (pmod(xxhash64(base, i, lit(seed), lit(14)), lit(Vocab.size.toLong)) + 1).cast(IntegerType)))))
  }

  /** Documents corpus with planted exact duplicates (1 in 13) and
    * near-duplicates (1 in 11, 4% of tokens substituted) of an earlier doc.
    */
  def documents(spark: SparkSession, rows: Long, seed: Long, parts: Int): DataFrame = {
    val id = col("id")
    val exact = pmod(id, lit(13L)) === 5
    val near = !exact && pmod(id, lit(11L)) === 3
    val base = when(exact, id - 5).when(near, id - 3).otherwise(id)
    spark.range(0, rows, 1, parts)
      .select(id.as("doc_id"), base.as("_base"),
        when(near, lit(4L)).otherwise(lit(0L)).as("_sub"))
      .select(
        col("doc_id"),
        docText(col("_base"), col("doc_id"), seed, col("_sub")).as("text"),
        element_at(array(Seq("en", "de", "fr", "zh", "es").map(lit): _*),
          (draw(col("_base"), seed, 15, 5L) + 1).cast(IntegerType)).as("lang"),
        concat(lit("src"), draw(col("doc_id"), seed, 16, 8L).cast(StringType)).as("source"))
      .withColumn("n_chars", length(col("text")).cast(LongType))
  }

  /** Delimited-text size of `df`'s rows: the bytes the same rows take as
    * pipe-separated lines, the denominator of every stored-bytes ratio.
    */
  def textBytes(df: DataFrame): Column =
    sum(length(concat_ws("|", df.columns.map(c => coalesce(col(c).cast(StringType), lit(""))).toSeq: _*)) + 1)
}
