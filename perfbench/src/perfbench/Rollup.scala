package perfbench

/** Per-layer totals over the traced rounds. Each op type is charged to
  * the layer it was chosen to load (flatten -> core, decode -> functions,
  * curate -> operators, append/probe/compact -> sources, microbatch ->
  * streaming), so a layer that a workload never calls reads zero.
  */
object Rollup {
  val Layers = Seq("core", "functions", "operators", "sources", "streaming")

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  private def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total, reach = 0L
    reach = lo
    intervals.map { case (a, b) => (a max lo, b min hi) }.filter(i => i._1 < i._2)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - (a max reach); reach = b }
      }
    total
  }

  def apply(run: Runner, tracer: Tracer, rounds: Seq[(Boolean, Double)],
      cpus: Int): Map[String, Double] = {
    val spans = tracer.spans.toSeq
    val none = new OpCounters
    def c(s: Span) = tracer.counters.getOrElse(s.id, none)
    val out = Map.newBuilder[String, Double]
    Layers.foreach { layer =>
      val ls = spans.filter(_.layer == layer)
      def sum(f: OpCounters => Long) = ls.map(s => f(c(s))).sum.toDouble
      val wall = ls.map(_.wallS).sum
      val runS = sum(_.runMs) / 1000.0
      val gap = ls.map(s => s.endMs - s.startMs -
        covered(c(s).jobIntervals.toSeq, s.startMs, s.endMs)).sum / 1000.0
      out ++= Seq(
        s"$layer.calls" -> ls.size.toDouble,
        s"$layer.self_s" -> wall,
        s"$layer.jobs" -> sum(_.jobs),
        s"$layer.stages" -> sum(_.stages),
        s"$layer.tasks" -> sum(_.tasks),
        s"$layer.task_cpu_s" -> sum(_.cpuNs) / 1e9,
        s"$layer.executor_run_s" -> runS,
        s"$layer.scheduler_delay_s" -> sum(_.schedDelayMs) / 1000.0,
        s"$layer.shuffle_read_bytes" -> sum(_.shuffleRead),
        s"$layer.shuffle_write_bytes" -> sum(_.shuffleWrite),
        s"$layer.spill_bytes" -> sum(_.spill),
        s"$layer.gc_s" -> sum(_.gcMs) / 1000.0,
        s"$layer.planning_s" -> sum(_.planningMs) / 1000.0,
        s"$layer.driver_gap_s" -> gap,
        s"$layer.core_util" -> (if (wall > 0) runS / (wall * cpus) else 0.0))
    }

    val src = spans.filter(_.layer == "sources")
    val inBytes = run.records.filter(r => r.traced && r.kind == "append").map(_.inBytes).sum
    val written = src.map(s => c(s).bytesWritten).sum.toDouble
    val compacts = src.filter(_.kind == "compact")
    out ++= Seq(
      "sources.bytes_written" -> written,
      "sources.bytes_written_per_input_byte" -> (if (inBytes > 0) written / inBytes else 0.0),
      "sources.fs_creates" -> src.map(s => c(s).fsCreates).sum.toDouble,
      "sources.fs_renames" -> src.map(s => c(s).fsRenames).sum.toDouble,
      "sources.fs_deletes" -> src.map(s => c(s).fsDeletes).sum.toDouble,
      "sources.compact_rewrite_ratio" -> (if (compacts.isEmpty) 0.0
        else compacts.count(s => c(s).bytesWritten > 0).toDouble / compacts.size))

    val progress = spans.filter(_.layer == "streaming").flatMap(s => c(s).progress)
    def phase(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1000.0
    val batches = progress.size.toDouble
    val stateRows = progress.groupBy(_.id).values
      .map(ps => ps.maxBy(_.batchId).stateOperators.map(_.numRowsTotal).sum).sum
    out ++= Seq(
      "streaming.batches" -> batches,
      "streaming.rows_per_batch" -> (if (batches > 0) progress.map(_.numInputRows).sum / batches else 0.0),
      "streaming.query_planning_s" -> phase("queryPlanning"),
      "streaming.get_batch_s" -> phase("getBatch"),
      "streaming.add_batch_s" -> phase("addBatch"),
      "streaming.wal_commit_s" -> phase("walCommit"),
      "streaming.state_rows" -> stateRows.toDouble)

    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    out += "trace.overhead_s" ->
      (mean(rounds.filter(_._1).map(_._2)) - mean(rounds.filterNot(_._1).map(_._2)))
    out.result()
  }
}
