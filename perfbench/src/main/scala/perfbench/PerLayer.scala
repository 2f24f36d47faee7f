package perfbench

import perfbench.Main.RoundRun

/** Per-layer metrics of a traced run. Every workload reports every metric
  * (a layer the workload does not reach reports zero). Counts and `_s`
  * times are per round (the traced rounds' mean); `_ms` and `_us` times are
  * per operation.
  */
object PerLayer {

  def metrics(ctx: Ctx, wl: Workload, untraced: Seq[RoundRun], traced: Seq[RoundRun],
              tracer: Tracer): Seq[(String, (Double, String))] = {
    val nRounds = math.max(1, traced.size).toDouble
    val tracedOps = traced.flatMap(_.ops)
    val opIds = tracedOps.map(_.opId).toSet
    val tracedWall = Stats.median(traced.map(_.secs))
    val untracedWall = Stats.median(untraced.map(_.secs))

    // scan-only twins of one round, timed after the traced rounds (the
    // context's tracer is off again, so they add no spans or scan partitions)
    val scanOnlySecs = wl.round(ctx, 0).flatMap(_.scanOnly).map { q =>
      val s = System.nanoTime(); ctx.noop(q()); (System.nanoTime() - s) / 1e9
    }.sum
    val format = FormatReplay.run(wl.formatFiles, tracer)

    val spans = tracer.completeSpans()
    val opSpans = spans.filter(s => s.name == "op" && opIds.contains(s.opId))
    val jobSpans = spans.filter(_.name == "spark.job").groupBy(_.opId)
    val planSpans = spans.filter(s => s.name == "plans.plan" && opIds.contains(s.opId))
    val outsideJobsMs = opSpans.map { o =>
      val jobs = jobSpans.getOrElse(o.opId, Nil).map(j => (j.start, j.end))
      (o.dur - Trace.coveredLength(jobs, Seq((o.start, o.end)))) / 1e6
    }
    val layers = Trace.layerBreakdown(spans)

    val c = tracedOps.map(_.counters).foldLeft(ScanCounters.zero)(_ + _)
    val stages = tracer.stageTotalsFor(opIds)
    val taskRunS = stages.map(_.runMs).sum / 1e3 / nRounds
    val progress = tracer.progressWithin(opSpans)

    def perRound(v: Double) = v / nRounds
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def opSecs(span: String) =
      perRound(spans.filter(s => s.name == span && opIds.contains(s.opId)).map(_.dur / 1e9).sum)
    def rowsOf(op: String) =
      perRound(tracedOps.filter(_.name == op).map(_.outcome.rows.size.toDouble).sum)

    Seq(
      "format.decompress_mbps" -> (format("format.decompress_mbps"), "MB/s"),
      "format.xxhash_mbps" -> (format("format.xxhash_mbps"), "MB/s"),
      "format.compress_mbps" -> (format("format.compress_mbps"), "MB/s"),
      "format.footer_read_us" -> (format("format.footer_read_us"), "us"),
      "format.blocks" -> (format("format.blocks"), "count"),
      "format.stored_mb" -> (format("format.stored_mb"), "MB"),
      "sources.scan_only_s" -> (scanOnlySecs, "s"),
      "sources.blocks_read" -> (perRound(c.blocksRead.toDouble), "count"),
      "sources.blocks_skipped" -> (perRound(c.blocksSkipped.toDouble), "count"),
      "sources.block_skip_ratio" -> (
        if (c.blocksRead + c.blocksSkipped > 0) c.blocksSkipped.toDouble / (c.blocksRead + c.blocksSkipped)
        else 0.0, "ratio"),
      "sources.pred_elided_blocks" -> (perRound(c.predElidedBlocks.toDouble), "count"),
      "sources.pred_eval_batches" -> (perRound(c.predEvalBatches.toDouble), "count"),
      "sources.pred_skip_batches" -> (perRound(c.predSkipBatches.toDouble), "count"),
      "sources.footer_reads" -> (perRound(c.footerReads.toDouble), "count"),
      "plans.plan_ms" -> (mean(planSpans.map(_.dur / 1e6)), "ms"),
      "plans.files_pruned" -> (perRound(c.manifestFilesPruned.toDouble), "count"),
      "plans.scan_tasks" -> (perRound(ctx.scanTasks.toDouble), "count"),
      "plans.stats_agg_blocks" -> (perRound(c.statsAggBlocks.toDouble), "count"),
      "driver.outside_jobs_ms" -> (mean(outsideJobsMs), "ms"),
      "spark.tasks" -> (perRound(stages.map(_.tasks).sum.toDouble), "count"),
      "spark.task_run_s" -> (taskRunS, "s"),
      "spark.task_cpu_s" -> (perRound(stages.map(_.cpuNs).sum / 1e9), "s"),
      "spark.gc_s" -> (perRound(stages.map(_.gcMs).sum / 1e3), "s"),
      "spark.slot_busy_ratio" -> (if (tracedWall > 0) taskRunS / (tracedWall * ctx.cores) else 0.0, "ratio"),
      "spark.shuffle_write_mb" -> (perRound(stages.map(_.shuffleWriteBytes).sum / 1e6), "MB"),
      "spark.shuffle_records" -> (perRound(stages.map(_.shuffleRecords).sum.toDouble), "count"),
      "spark.shuffle_fetch_wait_s" -> (perRound(stages.map(_.fetchWaitMs).sum / 1e3), "s"),
      "spark.spill_mb" -> (perRound(stages.map(_.spillBytes).sum / 1e6), "MB"),
      "ops.text_stats_s" -> (opSecs("ops.text_stats"), "s"),
      "ops.exact_dedup_s" -> (opSecs("ops.exact_dedup"), "s"),
      "ops.minhash_pairs_s" -> (opSecs("ops.minhash_pairs"), "s"),
      "ops.clusters_s" -> (opSecs("ops.clusters"), "s"),
      "ops.keep_canonical_s" -> (opSecs("ops.keep_canonical"), "s"),
      "ops.pairs_out" -> (rowsOf("minhash_pairs"), "count"),
      "ops.docs_kept" -> (rowsOf("keep_canonical"), "count"),
      "streaming.batches" -> (perRound(progress.size.toDouble), "count"),
      "streaming.add_batch_ms" -> (perRound(progress.map(_.addBatchMs).sum.toDouble), "ms"),
      "streaming.state_commit_ms" -> (perRound(progress.map(_.commitMs).sum.toDouble), "ms"),
      "streaming.state_rows" -> (progress.map(_.stateRows.toDouble).foldLeft(0.0)(math.max), "count"),
      "streaming.state_mem_mb" -> (progress.map(_.stateMemBytes / 1e6).foldLeft(0.0)(math.max), "MB")
    ) ++ Trace.Layers.flatMap { l =>
      val (self, cover) = layers(l)
      // the format replay runs once, outside the rounds
      val selfS = if (l == "format") self / 1e9 else perRound(self / 1e9)
      Seq(s"layer.$l.self_s" -> (selfS, "s"), s"layer.$l.cover" -> (cover, "ratio"))
    } ++ Seq(
      "trace.untraced_wall_s" -> (untracedWall, "s"),
      "trace.traced_wall_s" -> (tracedWall, "s"),
      "trace.overhead_s" -> (tracedWall - untracedWall, "s"))
  }
}
