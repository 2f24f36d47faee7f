package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.io.File

/** `lookup`: short queries against a directory of a few hundred
  * range-sorted, bloom-indexed, manifested container files: needle
  * equality lookups (half on present keys, half on absent keys inside the
  * key range), narrow key ranges, and one in ten footer-answerable
  * COUNT/MIN/MAX aggregates. The cost is driver planning, manifest and file
  * pruning, footer/stats/bloom reads and per-query fixed cost; almost
  * nothing is decompressed.
  */
final class LookupWorkload(rows: Long = 160000L, fileCount: Int = 64) extends Workload {
  val name = "lookup"

  val BlockBytes = 16384
  val RangeOrders = 16
  val PoolRounds = 40

  import LookupWorkload._

  private var schema: StructType = _
  private var textBytes = 0L
  private var pool: IndexedSeq[IndexedSeq[Query]] = _
  private var keyRefs: Map[Int, Seq[Row]] = _
  private var aggRefs: Map[Int, Seq[Row]] = _
  private var fixture: File = _

  /** Aggregates the container footers can answer without reading blocks. */
  private def agg(t: DataFrame, shape: Int): DataFrame = shape match {
    case 0 => t.agg(count(lit(1)), min("l_orderkey"), max("l_orderkey"))
    case 1 => t.agg(count(lit(1)), min("l_shipdate"), max("l_shipdate"))
    case _ => t.agg(min("l_partkey"), max("l_suppkey"), count(lit(1)))
  }

  private def filterOf(q: Query): Column = q match {
    case Needle(_, k)       => col("l_orderkey") === k
    case KeyRange(_, lo, hi) => col("l_orderkey").between(lo, hi)
    case _                  => lit(true)
  }

  private var seed = 0L
  private def source(spark: SparkSession): DataFrame = Data.lineitem(spark, rows, seed, 4)

  def prepare(ctx: Ctx): Unit = {
    seed = ctx.seed
    val src = source(ctx.ref)
    schema = src.schema
    textBytes = src.agg(Data.textBytes(src)).head().getLong(0)

    // one round: 10 needles (present and absent alternating), 8 ranges and
    // 2 footer aggregates, in seeded order
    val rnd = new scala.util.Random(ctx.seed)
    val base = Data.orderKeyBase(ctx.seed)
    val orders = (rows / 4).toInt
    var id = 0
    def next(): Int = { id += 1; id }
    pool = (0 until PoolRounds).map { _ =>
      val needles = (0 until 10).map { i =>
        Needle(next(), base + 2L * rnd.nextInt(orders) + (i % 2))
      }
      val ranges = (0 until 8).map { _ =>
        val lo = base + 2L * rnd.nextInt(orders - RangeOrders)
        KeyRange(next(), lo, lo + 2L * RangeOrders)
      }
      val aggs = (0 until 2).map(_ => FooterAgg(next(), rnd.nextInt(3)))
      rnd.shuffle(needles ++ ranges ++ aggs)
    }
  }

  /** Every key the pool touches, joined with the generated source. */
  def references(ctx: Ctx): Unit = {
    val src = source(ctx.ref)
    val keyed = pool.flatten.collect {
      case Needle(i, k)        => Seq((i, k))
      case KeyRange(i, lo, hi) => (lo to hi).map(k => (i, k))
    }.flatten
    val spark = ctx.ref
    import spark.implicits._
    val wanted = keyed.toDF("_qid", "_key")
    val joined = src.join(broadcast(wanted), col("l_orderkey") === col("_key"))
      .select((col("_qid") +: schema.fieldNames.toSeq.map(col)): _*).collect()
    val byQuery = joined.groupBy(_.getInt(0)).map { case (q, rs) =>
      q -> rs.toSeq.map(r => Row.fromSeq(r.toSeq.tail))
    }
    keyRefs = pool.flatten.collect {
      case q @ (_: Needle | _: KeyRange) => q.id -> byQuery.getOrElse(q.id, Nil)
    }.toMap
    aggRefs = (0 until 3).map(s => s -> agg(src, s).collect().toSeq).toMap
  }

  def build(ctx: Ctx, dir: File): Unit = {
    source(ctx.spark)
      .write.format("4mc")
      .option("payload", "csv")
      .option("codec", "lz4-fast")
      .option("sortBy", "l_orderkey")
      .option("sortPartitions", fileCount.toString)
      .option("bloomColumns", "l_orderkey")
      .option("blockBytes", BlockBytes.toString)
      .option("manifest", "true")
      .save(new File(dir, "lineitem").getPath)
    fixture = dir
  }

  private def table(ctx: Ctx): DataFrame =
    ctx.spark.read.format("4mc").option("payload", "csv").schema(schema)
      .load(new File(fixture, "lineitem").getPath)

  private def containers = Files.containers(new File(fixture, "lineitem"))

  def fixtureInfo: Map[String, Any] = Map("lineitem_sorted" -> Map(
    "rows" -> rows, "user_mb" -> textBytes / 1e6, "container_mb" -> Files.bytes(containers) / 1e6,
    "files" -> containers.size))

  def round(ctx: Ctx, r: Int): Seq[Op] = pool(r % PoolRounds).map { q =>
    val n = q match {
      case a: FooterAgg => s"agg_${a.shape}"
      case _: Needle    => "needle"
      case _            => "range"
    }
    def want = q match {
      case a: FooterAgg => aggRefs(a.shape)
      case _            => keyRefs(q.id)
    }
    def df(): DataFrame = q match {
      case a: FooterAgg => agg(table(ctx), a.shape)
      case _            => table(ctx).filter(filterOf(q))
    }
    Op(n, textBytes, () => { val got = ctx.collect(df()); Outcome(got) },
      o => Check.sameRows(s"$n#${q.id}", o.rows, want))
  }

  def storedRatio(outcomes: Seq[Outcome]): Double = Files.bytes(containers).toDouble / textBytes

  def formatFiles: Seq[(File, String)] = containers.map(_ -> "lz4-fast")
}

object LookupWorkload {
  private sealed trait Query { def id: Int }
  private final case class Needle(id: Int, key: Long) extends Query
  private final case class KeyRange(id: Int, lo: Long, hi: Long) extends Query
  private final case class FooterAgg(id: Int, shape: Int) extends Query
}
