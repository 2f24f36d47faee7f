package perfbench

import graft.ops.{Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import java.io.File

/** `pipeline`: LLM-data operators over a documents corpus stored as `.4mz`
  * (planted exact and near duplicates), each to a full result, plus one
  * stateful watermark-dedup stream drain over events redelivered in part.
  * Most time goes to the operators, functions, streaming state and the
  * shuffle; the container scan is a small share.
  */
final class PipelineWorkload(docCount: Long = 2000L, eventRows: Long = 12000L) extends Workload {
  val name = "pipeline"

  val EventFiles = 6
  val Threshold = 0.5
  val Micro = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  private var docSchema: StructType = _
  private var evSchema: StructType = _
  private var docText = 0L
  private var evText = 0L
  private val refs = scala.collection.mutable.Map.empty[String, Seq[Row]]
  private var dedupRef: Check.Digest = _
  private var fixture: File = _

  /** Per-language token and quality statistics. */
  def textStats(docs: DataFrame): DataFrame = docs
    .select(col("lang"), col("text"), TextAnalysis.tokens(col("text")).as("_toks"))
    .select(col("lang"), size(col("_toks")).as("n_tokens"),
      TextAnalysis.qualityScoreFromTokens(col("text"), col("_toks")).as("quality"),
      TextAnalysis.punctPerMille(col("text")).as("punct"),
      TextAnalysis.meanTokenLenMilliFromTokens(col("_toks")).as("mtl"))
    .groupBy(col("lang"))
    .agg(sum("n_tokens").as("total_tokens"), min("quality").as("min_q"), max("quality").as("max_q"),
      sum("quality").as("sum_q"), sum("punct").as("sum_punct"), sum("mtl").as("sum_mtl"))
    .orderBy("lang")

  def exactDedup(docs: DataFrame): DataFrame = Dedup.exactDedup(docs, Seq("text"), "doc_id")
  def pairs(docs: DataFrame): DataFrame = Dedup.nearDupPairs(docs, "doc_id", "text", Threshold)

  /** Event counts and value sums per type: the drained dedup stream must
    * equal the clean source under this aggregate.
    */
  def perType(events: DataFrame): DataFrame = events.groupBy(col("event_type"))
    .agg(count(lit(1)).as("n_events"),
      sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
    .orderBy("event_type")

  private var seed = 0L
  private def documents(spark: SparkSession): DataFrame = Data.documents(spark, docCount, seed, 4)
  private def events(spark: SparkSession): DataFrame = Data.events(spark, eventRows, seed, EventFiles)

  def prepare(ctx: Ctx): Unit = {
    seed = ctx.seed
    val d = documents(ctx.ref)
    val ev = events(ctx.ref)
    docSchema = d.schema
    evSchema = ev.schema
    docText = d.agg(Data.textBytes(d)).head().getLong(0)
    evText = ev.agg(Data.textBytes(ev)).head().getLong(0)
  }

  def references(ctx: Ctx): Unit = {
    val d = documents(ctx.ref)
    refs("text_stats") = textStats(d).collect().toSeq
    dedupRef = Check.digest(exactDedup(d))
    val p = pairs(d).collect().toSeq
    refs("minhash_pairs") = p
    // components and survivors by plain union-find over the reference pairs
    val comp = components(p.map(r => (r.getLong(0), r.getLong(1))))
    val tokens = d.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+", -1).length.toLong).toMap
    refs("clusters") = comp.toSeq.map { case (doc, c) => Row(doc, c) }
    refs("keep_canonical") = comp.groupBy(_._2).toSeq.map { case (c, members) =>
      val best = members.keys.minBy(doc => (-tokens(doc), doc))
      Row(c, best, tokens(best))
    }
    refs("stream_dedup") = perType(events(ctx.ref)).collect().toSeq
  }

  def build(ctx: Ctx, dir: File): Unit = {
    documents(ctx.spark)
      .write.format("4mc").option("payload", "csv").option("codec", "zstd-3")
      .save(new File(dir, "documents").getPath)
    events(ctx.spark)
      .write.format("4mc").option("payload", "csv").option("codec", "zstd-3")
      .option("timestampFormat", Micro)
      .save(new File(dir, "events").getPath)
    fixture = dir
  }

  private def docs(spark: SparkSession): DataFrame =
    spark.read.format("4mc").option("payload", "csv").schema(docSchema)
      .load(new File(fixture, "documents").getPath)

  def fixtureInfo: Map[String, Any] = {
    def info(sub: String, rows: Long, text: Long) = {
      val fs = Files.containers(new File(fixture, sub))
      Map("rows" -> rows, "user_mb" -> text / 1e6, "container_mb" -> Files.bytes(fs) / 1e6,
        "files" -> fs.size)
    }
    Map("documents_4mz" -> info("documents", docCount, docText),
      "events_4mz" -> info("events", eventRows, evText))
  }

  /** Drain the watermark-dedup stream (every fifth event arrives twice) into
    * a memory sink and read the drained table per event type.
    */
  private def streamDedup(ctx: Ctx, r: Int): Seq[Row] = {
    val spark = ctx.spark
    val sink = s"perfbench_dedup_$r"
    val redelivered = spark.readStream.format("4mc").option("payload", "csv")
      .option("timestampFormat", Micro).option("maxFilesPerTrigger", "3").schema(evSchema)
      .load(new File(fixture, "events").getPath)
      .withColumn("_copy", explode(when(col("event_id") % 5 === 0, array(lit(0), lit(1)))
        .otherwise(array(lit(0)))))
      .drop("_copy")
    val q = redelivered
      .withWatermark("ts", "17 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.outputMode("append").format("memory").queryName(sink)
      .option("checkpointLocation", new File(fixture, s"checkpoint-$r").getPath)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    try ctx.collect(perType(spark.table(sink)))
    finally spark.catalog.dropTempView(sink)
  }

  /** Connected components of the pair graph: each doc maps to the smallest
    * doc id of its component.
    */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  /** Near-duplicate pairs handed from one operation to the next. */
  private def pairFrame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), PairSchema)

  private val PairSchema = StructType(Seq(StructField("d1", LongType), StructField("d2", LongType),
    StructField("jaccard", DoubleType)))

  /** One pass of the dedup pipeline: the pairs found by MinHash feed the
    * cluster and keep-canonical operations of the same round, as a pipeline
    * would hand them on.
    */
  def round(ctx: Ctx, r: Int): Seq[Op] = {
    var pairRows: Seq[Row] = Nil
    def collectOp(n: String, q: DataFrame => DataFrame, readsDocs: Boolean = true): Op =
      Op(n, if (readsDocs) docText else 0L, () => {
        val rows = ctx.collect(q(docs(ctx.spark)))
        if (n == "minhash_pairs") pairRows = rows
        Outcome(rows)
      }, o => Check.sameRows(n, o.rows, refs(n)), span = s"ops.$n",
        scanOnly = if (readsDocs) Some(() => docs(ctx.spark).select("text")) else None)
    Seq(
      collectOp("text_stats", textStats),
      Op("exact_dedup", docText, () => { ctx.noop(exactDedup(docs(ctx.spark))); Outcome() },
        _ => ctx.once("exact_dedup")(
          Check.sameDigest("exact_dedup", Check.digest(exactDedup(docs(ctx.spark))), dedupRef)),
        span = "ops.exact_dedup", scanOnly = Some(() => docs(ctx.spark))),
      collectOp("minhash_pairs", pairs),
      collectOp("clusters", _ => Dedup.duplicateClusters(pairFrame(ctx.spark, pairRows)), readsDocs = false),
      collectOp("keep_canonical", d => Dedup.keepCanonical(pairFrame(ctx.spark, pairRows), d, "doc_id", "text")),
      Op("stream_dedup", evText, () => { Outcome(streamDedup(ctx, r)) },
        o => Check.sameRows("stream_dedup", o.rows, refs("stream_dedup"))))
  }

  def storedRatio(outcomes: Seq[Outcome]): Double =
    Files.bytes(Files.containers(fixture)).toDouble / (docText + evText)

  def formatFiles: Seq[(File, String)] = Files.containers(fixture).map(_ -> "zstd-3")
}
