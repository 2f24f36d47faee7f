package perfbench

import graft.streaming.FourMcBatchCommit
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import java.io.File

/** `ingest`: batch writes of an in-memory lineitem table into the container
  * at lz4-fast and zstd-3 (default columnar layout with stats, dictionaries
  * and a key bloom), plus one file-stream ingest of events through
  * `FourMcBatchCommit`. Every output is read back and checked outside the
  * timed region. The same format and sources layers as `scan`, writing.
  */
final class IngestWorkload(rows: Long = 400000L, eventRows: Long = 40000L) extends Workload {
  val name = "ingest"

  val EventFiles = 8
  val Micro = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  private var seed = 0L
  private var liSchema: StructType = _
  private var evSchema: StructType = _
  private var liText = 0L
  private var evText = 0L
  private var liRef: Check.Digest = _
  private var evRef: Check.Digest = _
  private var mem: DataFrame = _
  private var fixture: File = _

  private def lineitem(spark: SparkSession): DataFrame = Data.lineitem(spark, rows, seed, 4)

  /** The stream's source is a directory of parquet files written here. */
  def prepare(ctx: Ctx): Unit = {
    seed = ctx.seed
    Data.events(ctx.ref, eventRows, ctx.seed, EventFiles).write.parquet(ctx.dir("events").getPath)
    val li = lineitem(ctx.ref)
    val ev = ctx.ref.read.parquet(ctx.dir("events").getPath)
    liSchema = li.schema
    evSchema = ev.schema
    liText = li.agg(Data.textBytes(li)).head().getLong(0)
    evText = ev.agg(Data.textBytes(ev)).head().getLong(0)
  }

  def references(ctx: Ctx): Unit = {
    liRef = Check.digest(lineitem(ctx.ref))
    evRef = Check.digest(ctx.ref.read.parquet(ctx.dir("events").getPath))
  }

  /** Set-up materializes the rows in memory; the writes are the timed work. */
  def build(ctx: Ctx, dir: File): Unit = {
    if (mem != null) mem.unpersist(blocking = true)
    mem = lineitem(ctx.spark).cache()
    mem.write.format("noop").mode("overwrite").save()
    dir.mkdirs()
    fixture = dir
  }

  def fixtureInfo: Map[String, Any] = Map(
    "lineitem_in_memory" -> Map("rows" -> rows, "user_mb" -> liText / 1e6,
      "container_mb" -> 0.0, "files" -> 0),
    "events_stream_source" -> Map("rows" -> eventRows, "user_mb" -> evText / 1e6,
      "container_mb" -> 0.0, "files" -> EventFiles))

  /** Read a written directory back through the container reader, compare
    * its row-multiset digest with the source's, then drop it.
    */
  private def readBack(ctx: Ctx, what: String, dir: File, schema: StructType, tsFormat: Option[String],
                       want: => Check.Digest): Option[String] = {
    var r = ctx.spark.read.format("4mc").option("payload", "csv").schema(schema)
    tsFormat.foreach(f => r = r.option("timestampFormat", f))
    val got = Check.digest(r.load(dir.getPath))
    Files.delete(dir)
    Check.sameDigest(what, got, want)
  }

  def round(ctx: Ctx, r: Int): Seq[Op] = {
    val out = new File(fixture, s"round-$r")
    def batchWrite(codec: String): Op = {
      val dir = new File(out, codec)
      Op(s"write_$codec", liText, () => {
        mem.write.format("4mc").option("payload", "csv").option("codec", codec)
          .option("bloomColumns", "l_orderkey").save(dir.getPath)
        Outcome(writtenBytes = liText, storedBytes = Files.bytes(Files.containers(dir)))
      }, _ => readBack(ctx, s"write_$codec", dir, liSchema, None, liRef))
    }
    val streamDir = new File(out, "stream")
    val streamOp = Op("stream_ingest", evText, () => {
      val q = ctx.spark.readStream.schema(evSchema).option("maxFilesPerTrigger", "2")
        .parquet(ctx.dir("events").getPath)
        .writeStream
        .option("checkpointLocation", new File(out, "checkpoint").getPath)
        .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          FourMcBatchCommit.writeBatch(batch, batchId, streamDir.getPath,
            Map("payload" -> "csv", "timestampFormat" -> Micro, "codec" -> "lz4-fast"))
        }
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      Outcome(writtenBytes = evText, storedBytes = Files.bytes(Files.containers(streamDir)))
    }, _ => readBack(ctx, "stream_ingest", streamDir, evSchema, Some(Micro), evRef))
    Seq(batchWrite("lz4-fast"), batchWrite("zstd-3"), streamOp)
  }

  def storedRatio(outcomes: Seq[Outcome]): Double = {
    val written = outcomes.filter(_.storedBytes > 0)
    written.map(_.storedBytes).sum.toDouble / math.max(1L, written.map(_.writtenBytes).sum)
  }

  /** The replay re-reads one kept copy of each batch output. */
  def formatFiles: Seq[(File, String)] = {
    val keep = new File(fixture, "replay")
    if (!keep.exists()) {
      for (codec <- Seq("lz4-fast", "zstd-3"))
        mem.write.format("4mc").option("payload", "csv").option("codec", codec)
          .option("bloomColumns", "l_orderkey").save(new File(keep, codec).getPath)
    }
    Seq("lz4-fast", "zstd-3").flatMap(c => Files.containers(new File(keep, c)).map(_ -> c))
  }
}
