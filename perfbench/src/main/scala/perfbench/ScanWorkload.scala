package perfbench

import graft.format.{FourMcWriter, McCodec}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File

/** `scan`: analytic full-result queries over a lineitem table stored twice
  * (columnar `.4mc` lz4-fast and `.4mz` zstd-3) and a grouped aggregate over
  * a table of more small line-payload files than the executor footer-index
  * cache holds (4,096 entries). Time goes to decompression, decode and
  * aggregation; little is pruned. q1 runs on each store; q6 and the wide
  * projection, short at this size, each run once over both stores, so every
  * operation does enough work that per-job fixed cost does not set its time.
  */
final class ScanWorkload(lineitemRows: Long = 200000L, smallFiles: Int = 4200,
                         linesPerSmallFile: Int = 24) extends Workload {
  val name = "scan"

  private var seed = 0L
  private var liSchema: StructType = _
  private var liTextBytes = 0L
  private var smallTextBytes = 0L
  private var smallPayloads: Array[Array[Byte]] = _
  private var q1Cutoff: String = _
  private var q6Year = 0
  private var q6Disc = 0.0
  private var q6Qty = 0
  private var wideFrom: String = _
  private val refs = scala.collection.mutable.Map.empty[String, Seq[Row]]
  private var wideRef: Check.Digest = _
  private var fixture: File = _

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  private def dbl(c: Column): Column = c.cast(DoubleType)
  private def ts(s: String): Column = lit(s).cast(TimestampType)

  val q1Cols = Set("l_shipdate", "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
    "l_discount", "l_tax")
  val q6Cols = Set("l_shipdate", "l_discount", "l_quantity", "l_extendedprice")

  /** TPC-H q1 pricing summary with a seeded ship-date cutoff. */
  def q1(li: DataFrame): DataFrame = li
    .filter(col("l_shipdate") <= ts(q1Cutoff))
    .groupBy(col("l_returnflag"), col("l_linestatus"))
    .agg(
      dbl(sum(dec(col("l_quantity")))).as("sum_qty"),
      dbl(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
      dbl(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))).as("sum_disc_price"),
      dbl(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))) *
        (lit(1) + dec(col("l_tax"))))).as("sum_charge"),
      dbl(avg(dec(col("l_quantity")))).as("avg_qty"),
      count(lit(1)).as("count_order"))
    .orderBy(col("l_returnflag"), col("l_linestatus"))

  def q6Filter(li: DataFrame): DataFrame = li.filter(
    col("l_shipdate") >= ts(s"$q6Year-01-01 00:00:00") &&
      col("l_shipdate") < ts(s"${q6Year + 1}-01-01 00:00:00") &&
      col("l_discount") >= q6Disc - 0.011 && col("l_discount") <= q6Disc + 0.011 &&
      col("l_quantity") < q6Qty)

  /** TPC-H q6 forecast revenue with seeded year, discount and quantity. */
  def q6(li: DataFrame): DataFrame =
    q6Filter(li).agg(dbl(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))).as("revenue"))

  /** Every column, typed, plus a derived price: the full table to the sink. */
  def wide(li: DataFrame): DataFrame = li.filter(col("l_shipdate") >= ts(wideFrom))
    .select(li.columns.map(col).toIndexedSeq :+
      (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).as("disc_price"): _*)

  /** Per event type over the small files' `user|type|value` lines. */
  def smallAgg(lines: DataFrame): DataFrame = {
    val f = split(col("value"), "\\|")
    lines.select(f.getItem(1).as("event_type"), f.getItem(2).cast(DecimalType(18, 2)).as("v"),
        f.getItem(0).cast(LongType).as("user_id"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dbl(sum(col("v"))).as("sum_v"), max(col("user_id")).as("max_user"))
      .orderBy(col("event_type"))
  }

  private def lineitem(spark: SparkSession): DataFrame = Data.lineitem(spark, lineitemRows, seed, 4)

  private def smallLines(spark: SparkSession): DataFrame =
    Data.events(spark, smallFiles.toLong * linesPerSmallFile, seed, 4)
      .select((col("event_id") / linesPerSmallFile).cast(IntegerType).as("file"), col("event_id"),
        concat_ws("|", col("user_id"), col("event_type"), col("value")).as("value"))

  def prepare(ctx: Ctx): Unit = {
    seed = ctx.seed
    val rnd = new scala.util.Random(ctx.seed)
    q1Cutoff = java.time.LocalDate.of(1998, 12, 1).minusDays(60 + rnd.nextInt(61)) + " 00:00:00"
    q6Year = 1993 + rnd.nextInt(5)
    q6Disc = (2 + rnd.nextInt(8)) / 100.0
    q6Qty = 24 + rnd.nextInt(2)
    wideFrom = java.time.LocalDate.of(1992, 1, 1).plusDays(rnd.nextInt(200)) + " 00:00:00"

    val li = lineitem(ctx.ref)
    liSchema = li.schema
    liTextBytes = li.agg(Data.textBytes(li)).head().getLong(0)

    val byFile = Array.fill(smallFiles)(new StringBuilder)
    smallLines(ctx.ref).collect().sortBy(_.getLong(1)).foreach { r =>
      byFile(r.getInt(0)).append(r.getString(2)).append('\n')
    }
    smallPayloads = byFile.map(_.toString.getBytes("UTF-8"))
    smallTextBytes = smallPayloads.map(_.length.toLong).sum
  }

  def build(ctx: Ctx, dir: File): Unit = {
    val src = lineitem(ctx.spark)
    for ((sub, codec) <- Seq("li4mc" -> "lz4-fast", "li4mz" -> "zstd-3"))
      src.write.format("4mc").option("payload", "csv").option("codec", codec)
        .save(new File(dir, sub).getPath)
    // many small files through the container writer, one writer per file,
    // on as many threads as the Spark session has cores
    val small = new File(dir, "small")
    small.mkdirs()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    try {
      smallPayloads.indices.map { i =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val w = new FourMcWriter(new java.io.BufferedOutputStream(
              new java.io.FileOutputStream(new File(small, f"part-$i%05d.4mc")), 1 << 16),
              McCodec.Lz4Fast, 1 << 16)
            w.write(smallPayloads(i), 0, smallPayloads(i).length)
            w.close()
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    fixture = dir
  }

  def references(ctx: Ctx): Unit = {
    val li = lineitem(ctx.ref)
    refs("q1") = q1(li).collect().toSeq
    refs("q6") = q6(li.union(li)).collect().toSeq
    wideRef = Check.digest(wide(li.union(li)))
    refs("small") = smallAgg(smallLines(ctx.ref)).collect().toSeq
  }

  private[perfbench] def table(ctx: Ctx, sub: String): DataFrame =
    ctx.spark.read.format("4mc").option("payload", "csv").schema(liSchema)
      .load(new File(fixture, sub).getPath)

  private def smallTable(ctx: Ctx): DataFrame =
    ctx.spark.read.format("4mc").load(new File(fixture, "small").getPath)

  def fixtureInfo: Map[String, Any] = {
    def info(sub: String, rows: Long, text: Long) = {
      val fs = Files.containers(new File(fixture, sub))
      Map("rows" -> rows, "user_mb" -> text / 1e6, "container_mb" -> Files.bytes(fs) / 1e6,
        "files" -> fs.size)
    }
    Map("lineitem_4mc" -> info("li4mc", lineitemRows, liTextBytes),
      "lineitem_4mz" -> info("li4mz", lineitemRows, liTextBytes),
      "small_files" -> info("small", smallFiles.toLong * linesPerSmallFile, smallTextBytes))
  }

  /** The operations of a round: name, reference key, query, the columns
    * its plan must read, and its scan-only twin (same projection and
    * filters into the noop sink).
    */
  private def queries(ctx: Ctx): Seq[(String, String, () => DataFrame, Set[String], () => DataFrame)] = {
    def q1Scan(sub: String) = () =>
      table(ctx, sub).filter(col("l_shipdate") <= ts(q1Cutoff)).select(q1Cols.toSeq.map(col): _*)
    def both() = table(ctx, "li4mc").union(table(ctx, "li4mz"))
    val all = liSchema.fieldNames.toSet
    Seq("li4mc" -> "4mc", "li4mz" -> "4mz").map { case (sub, ext) =>
      (s"q1_$ext", "q1", () => q1(table(ctx, sub)), q1Cols, q1Scan(sub))
    } ++ Seq(
      ("q6_both", "q6", () => q6(both()), q6Cols, () => q6Filter(both()).select(q6Cols.toSeq.map(col): _*)),
      ("wide_both", "wide", () => wide(both()), all, () => wide(both())),
      ("small_files_agg", "small", () => smallAgg(smallTable(ctx)), Set("value"),
        () => smallTable(ctx).select("value")))
  }

  override def guard(ctx: Ctx): Seq[String] = queries(ctx).flatMap { case (n, _, q, cols, _) =>
    val missing = cols -- Plans.columnsRead(q())
    if (missing.isEmpty) None else Some(s"$n: optimized plan does not read ${missing.mkString(",")}")
  }

  def round(ctx: Ctx, r: Int): Seq[Op] = queries(ctx).map {
    case (n, "wide", q, _, scanOnly) =>
      Op(n, 2 * liTextBytes, () => { ctx.noop(q()); Outcome() },
        _ => ctx.once(n)(Check.sameDigest(n, Check.digest(q()), wideRef)), scanOnly = Some(scanOnly))
    case (n, key, q, _, scanOnly) =>
      Op(n, key match { case "small" => smallTextBytes; case "q6" => 2 * liTextBytes; case _ => liTextBytes },
        () => { Outcome(ctx.collect(q())) },
        o => Check.sameRows(n, o.rows, refs(key)), scanOnly = Some(scanOnly))
  }

  def storedRatio(outcomes: Seq[Outcome]): Double = {
    val stored = Seq("li4mc", "li4mz", "small").map(s => Files.bytes(Files.containers(new File(fixture, s))))
    stored.sum.toDouble / (2 * liTextBytes + smallTextBytes)
  }

  def formatFiles: Seq[(File, String)] =
    Files.containers(new File(fixture, "li4mc")).map(_ -> "lz4-fast") ++
      Files.containers(new File(fixture, "li4mz")).map(_ -> "zstd-3") ++
      Files.containers(new File(fixture, "small")).map(_ -> "lz4-fast")
}
