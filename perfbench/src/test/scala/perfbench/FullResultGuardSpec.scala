package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.{Files => JFiles}

/** Pins what makes a timed number honest: every operation produces the full
  * result the user would get, and the scan queries' optimized plans read
  * every column the query references (a `.count()` lets Catalyst prune q1 to
  * a three-column scan that never decodes the price columns).
  */
class FullResultGuardSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val runDir = JFiles.createTempDirectory("perfbench-spec").toFile
  private var ref: SparkSession = _
  private var spark: SparkSession = _
  private val scan = new ScanWorkload(lineitemRows = 4000, smallFiles = 6, linesPerSmallFile = 5)
  private var ctx: Ctx = _

  override def beforeAll(): Unit = {
    val (r, s) = Main.startSessions(runDir, 2, "perfbench-spec")
    ref = r
    spark = s
    ctx = new Ctx(spark, ref, 7L, runDir, 2, new Tracer(false))
    scan.prepare(ctx)
    scan.build(ctx, new File(runDir, "fixture"))
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    Files.delete(runDir)
  }

  test("no benchmark source times a Dataset.count()") {
    val src = new File("src/main/scala/perfbench")
    assert(src.isDirectory, s"run from the benchmark's directory (cwd ${new File(".").getAbsolutePath})")
    val countCall = """\.count\(\s*\)""".r
    val offenders = src.listFiles().filter(_.getName.endsWith(".scala")).toSeq.flatMap { f =>
      scala.io.Source.fromFile(f).getLines().zipWithIndex.collect {
        case (line, i) if countCall.findFirstIn(line).isDefined => s"${f.getName}:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("every scan operation's optimized plan reads every column its query references") {
    assert(scan.guard(ctx) === Nil)
  }

  test("the plan guard catches the columns a count() prunes away") {
    val q1 = scan.q1(scan.table(ctx, "li4mc"))
    assert(scan.q1Cols.subsetOf(Plans.columnsRead(q1)))
    val counted = q1.groupBy().count() // the plan Dataset.count() runs
    val missing = scan.q1Cols -- Plans.columnsRead(counted)
    assert(Set("l_quantity", "l_extendedprice", "l_discount", "l_tax").subsetOf(missing))
  }

  test("the format replay reads every block of the columnar and row-layout fixture files") {
    val files = scan.formatFiles
    assert(files.exists(_._1.getPath.contains("li4mc")) && files.exists(_._1.getPath.contains("small")))
    val m = FormatReplay.run(files, new Tracer(false))
    val blocks = files.map { case (f, _) =>
      val in = graft.format.McInput.local(f.toPath)
      try graft.format.FourMcReader.readIndex(in).numBlocks finally in.close()
    }.sum
    assert(m("format.blocks") === blocks.toDouble)
    for (k <- Seq("format.decompress_mbps", "format.xxhash_mbps", "format.compress_mbps"))
      assert(m(k) > 0, k)
  }

  test("every workload's operations return results equal to their references") {
    val small = Seq(scan, new LookupWorkload(rows = 4000, fileCount = 4),
      new IngestWorkload(rows = 4000, eventRows = 800), new PipelineWorkload(docCount = 300, eventRows = 600))
    for (wl <- small) {
      if (wl ne scan) {
        wl.prepare(ctx)
        wl.build(ctx, new File(runDir, s"fixture-${wl.name}"))
      }
      val outcomes = wl.round(ctx, 0).map(op => op -> op.run())
      wl.references(ctx)
      for ((op, o) <- outcomes) assert(op.check(o) === None, s"${wl.name}/${op.name}")
    }
  }
}
