package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import java.io.File

/** What one operation handed back: the rows a collecting operation
  * returned, and for a writing operation the user bytes it wrote (as
  * delimited text) and the container bytes it stored.
  */
final case class Outcome(rows: Seq[Row] = Nil, writtenBytes: Long = 0L, storedBytes: Long = 0L)

/** One closed-loop operation.
  *
  * @param readBytes delimited-text bytes of the container input the
  *                  operation reads (the numerator of `read_mbps`); 0 for
  *                  an operation that reads none
  * @param span      layer span wrapped around the call (`ops.*`), or ""
  * @param run       the timed call; ends in `collect()`, the noop sink or a
  *                  write, never in a bare row count
  * @param check     comparison of the outcome with its reference, made
  *                  after the timed phases; `Some(reason)` on a mismatch
  * @param scanOnly  the same projection and pushed filters into the noop
  *                  sink, timed only by the traced run
  */
final case class Op(
    name: String,
    readBytes: Long,
    run: () => Outcome,
    check: Outcome => Option[String],
    span: String = "",
    scanOnly: Option[() => DataFrame] = None)

/** Everything an operation needs: both sessions, the seed, the run's own
  * scratch root and the tracer.
  */
final class Ctx(
    val spark: SparkSession,
    val ref: SparkSession,
    val seed: Long,
    val runDir: File,
    val cores: Int,
    var tracer: Tracer) {

  /** File-scan partitions planned by traced operations. */
  var scanTasks = 0L

  private val checked = scala.collection.mutable.Map.empty[String, Option[String]]

  /** A check whose answer cannot change between rounds (the same plan over
    * the same fixture), made once per run.
    */
  def once(key: String)(check: => Option[String]): Option[String] =
    checked.getOrElseUpdate(key, check)

  def dir(name: String): File = new File(runDir, name)

  /** Run `df` to its full result on the driver. */
  def collect(df: DataFrame): Seq[Row] = {
    tracer.span("plans.plan")(df.queryExecution.executedPlan)
    val rows = df.collect().toSeq
    noteScans(df)
    rows
  }

  /** Run `df` to its full result into the noop sink. The write plans the
    * query again, so only a traced run plans it first, to time planning.
    */
  def noop(df: DataFrame): Unit = {
    if (tracer.enabled) tracer.span("plans.plan")(df.queryExecution.executedPlan)
    df.write.format("noop").mode("overwrite").save()
    noteScans(df)
  }

  private def noteScans(df: DataFrame): Unit =
    if (tracer.enabled) scanTasks += Plans.scanPartitions(df)
}

object Plans extends AdaptiveSparkPlanHelper {

  /** File-scan partitions of `df`'s physical plan. */
  def scanPartitions(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec =>
      s.inputRDDs().map(_.getNumPartitions.toLong).sum
    }.sum

  /** Columns of file-based relations that `df`'s optimized plan reads: every
    * relation attribute some operator above the scan references.
    */
  def columnsRead(df: DataFrame): Set[String] = {
    val plan = df.queryExecution.optimizedPlan
    val relOut = plan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r.output
    }.flatten
    val ids = relOut.map(_.exprId).toSet
    plan.flatMap(_.references).filter(a => ids.contains(a.exprId)).map(_.name).toSet
  }
}

/** Result checks against references built outside the container path. */
object Check {

  /** Row-multiset digest: row count, sum of per-row xxhash64 and the
    * delimited-text size of the rows.
    */
  final case class Digest(rows: Long, hashSum: BigDecimal, textBytes: Long)

  def digest(df: DataFrame): Digest = {
    val r = df.agg(
      count(lit(1)),
      sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast(DecimalType(38, 0))),
      Data.textBytes(df)).head()
    Digest(r.getLong(0),
      if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def sameDigest(what: String, got: Digest, want: Digest): Option[String] =
    if (got.rows == want.rows && got.hashSum == want.hashSum) None
    else Some(s"$what: digest $got differs from reference $want")

  /** Multiset equality of rows; doubles compare to a relative 1e-9, since
    * the same sum taken in another partition order may differ in its last
    * bits.
    */
  def sameRows(what: String, got: Seq[Row], want: Seq[Row]): Option[String] = {
    def key(r: Row) = r.toString
    val g = got.sortBy(key)
    val w = want.sortBy(key)
    if (g.length != w.length) Some(s"$what: ${g.length} rows, reference has ${w.length}")
    else g.zip(w).collectFirst { case (a, b) if !close(a, b) => s"$what: row $a differs from reference $b" }
  }

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: Float, y: Float)   => close(x.toDouble, y.toDouble)
    case (x: Row, y: Row)       => x.length == y.length && x.toSeq.zip(y.toSeq).forall { case (p, q) => close(p, q) }
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => close(p, q) }
    case _                      => a == b
  }
}

/** One workload: program-independent inputs, the container fixture the
  * program builds from them, and the operations of one closed-loop round.
  */
trait Workload {
  def name: String

  /** Generate inputs and seeded constants (untimed). */
  def prepare(ctx: Ctx): Unit

  /** Compute the references the checks compare with, in the reference
    * session (untimed; runs after the timed phases, while the JIT is warm).
    */
  def references(ctx: Ctx): Unit

  /** Build the container fixture under `dir` with the program (timed as
    * set-up; may run several times, the last build is the one used).
    */
  def build(ctx: Ctx, dir: File): Unit

  /** Fixture sizes: rows, user MB, container MB, file count per table. */
  def fixtureInfo: Map[String, Any]

  /** Guards checked before timing; each entry is a violation. */
  def guard(ctx: Ctx): Seq[String] = Nil

  /** The operations of round `r`. */
  def round(ctx: Ctx, r: Int): Seq[Op]

  /** Container bytes over delimited-text bytes of the same rows. */
  def storedRatio(outcomes: Seq[Outcome]): Double

  /** Container files, each with its codec, for the single-thread format
    * replay of the traced run.
    */
  def formatFiles: Seq[(File, String)]
}

object Files {
  def tree(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(tree) else Seq(f)

  /** Container data files under `dir` (sidecars and markers excluded). */
  def containers(dir: File): Seq[File] =
    tree(dir).filter(f => f.getName.endsWith(".4mc") || f.getName.endsWith(".4mz"))

  def bytes(fs: Seq[File]): Long = fs.map(_.length).sum

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }
}
