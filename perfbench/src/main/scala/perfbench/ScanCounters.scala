package perfbench

import graft.sources.FourMcScanMetrics

/** The one place the benchmark reads the container scan counters.
  *
  * They are process-global adders, so a delta taken around an operation is
  * that operation's count only because the benchmark runs one operation at a
  * time. When the counters become per-query metrics, only this file changes.
  */
final case class ScanCounters(
    blocksRead: Long,
    blocksSkipped: Long,
    footerReads: Long,
    statsAggBlocks: Long,
    predElidedBlocks: Long,
    predEvalBatches: Long,
    predSkipBatches: Long,
    manifestFilesPruned: Long) {

  def -(o: ScanCounters): ScanCounters = ScanCounters(
    blocksRead - o.blocksRead, blocksSkipped - o.blocksSkipped, footerReads - o.footerReads,
    statsAggBlocks - o.statsAggBlocks, predElidedBlocks - o.predElidedBlocks,
    predEvalBatches - o.predEvalBatches, predSkipBatches - o.predSkipBatches,
    manifestFilesPruned - o.manifestFilesPruned)

  def +(o: ScanCounters): ScanCounters = ScanCounters(
    blocksRead + o.blocksRead, blocksSkipped + o.blocksSkipped, footerReads + o.footerReads,
    statsAggBlocks + o.statsAggBlocks, predElidedBlocks + o.predElidedBlocks,
    predEvalBatches + o.predEvalBatches, predSkipBatches + o.predSkipBatches,
    manifestFilesPruned + o.manifestFilesPruned)
}

object ScanCounters {
  val zero: ScanCounters = ScanCounters(0, 0, 0, 0, 0, 0, 0, 0)

  def read(): ScanCounters = {
    val m = FourMcScanMetrics
    ScanCounters(m.blocksRead.sum, m.blocksSkipped.sum, m.footerReads.sum, m.statsAggBlocks.sum,
      m.predElidedBlocks.sum, m.predEvalBatches.sum, m.predSkipBatches.sum,
      m.manifestFilesPruned.sum)
  }
}
