package graftbench

/** Per-layer numbers of one traced pass, read from its spans, its model
  * calls, and the Spark and Catalyst events the tracer collected.
  */
object Layers {

  def of(t: Tracer, calls: Seq[Call], pipelineS: Double, estimate: Long,
         chunks: Int, misses: Long, cores: Int, appendMb: Double, memoFiles: Int,
         outputMb: Double, codegenS: Double, compiles: Long): Map[String, Double] = {
    val spans = t.spans.filter(_.run == t.run).toSeq
    def spanS(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    def spanOf(name: String) = spans.find(_.name == name)
    val tasks = t.listener.synchronized(t.listener.tasks.toSeq)
    def tasksIn(name: String) = tasks.filter(_.span == name)
    val mb = 1e6

    // llmmap: the model boundary.
    val first = if (calls.isEmpty) 0L else calls.map(_.startNs).min
    val last = if (calls.isEmpty) 0L else calls.map(_.endNs).max
    val mapSpanS = (last - first) / 1e9
    val busyS = calls.map(c => (c.endNs - c.startNs) / 1e9).sum
    val done = calls.map(c => (c.endNs - first) / 1e9)
    val (meanInFlight, maxInFlight) = inFlight(calls)

    // memo: the span minus the time model calls were running inside it.
    val memoSelfS = spanOf("memo.map_with_memo").map { s =>
      s.seconds - Tracer.union(calls.map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))) / 1e9
    }.getOrElse(0.0)

    val phases = t.phases.synchronized(t.phases.ms.toMap.withDefaultValue(0L))
    val planS = (phases("analysis") + phases("optimization") + phases("planning")) / 1e3 +
      codegenS
    val taskS = tasks.map(_.runS).sum
    val stages = t.listener.synchronized(t.listener.stages.size)
    val jobs = t.listener.synchronized(t.listener.jobs.size)

    Map(
      "llmmap.calls" -> calls.size.toDouble,
      "llmmap.duplicate_calls" -> (calls.size - calls.map(_.textHash).distinct.size).toDouble,
      "llmmap.tokens_sent_ratio" -> calls.map(_.tokens.toLong).sum.toDouble / estimate,
      "llmmap.tasks" -> calls.map(_.task).distinct.size.toDouble,
      "llmmap.in_flight_mean" -> meanInFlight,
      "llmmap.in_flight_max" -> maxInFlight,
      "llmmap.map_span_s" -> mapSpanS,
      "llmmap.wall_over_ideal" -> (if (busyS > 0) mapSpanS / (busyS / cores) else 0.0),
      "llmmap.chunk_done_p50_s" -> Main.percentile(done, 0.5),
      "llmmap.chunk_done_p95_s" -> Main.percentile(done, 0.95),
      "sources.lines_s" -> spanS("sources.lines"),
      "expressions.estimate_task_s" -> tasksIn("expressions.estimate").map(_.runS).sum,
      "chunker.chunk_table_s" -> spanS("chunker.chunk_table"),
      "chunker.shuffle_write_mb" ->
        tasksIn("chunker.chunk_table").map(_.shuffleWriteB).sum / mb,
      "chunker.cached_mb" -> t.cachedMb,
      "chunker.chunks" -> chunks.toDouble,
      "memo.map_with_memo_s" -> spanS("memo.map_with_memo"),
      "memo.self_s" -> memoSelfS,
      "memo.hits" -> (chunks - misses).toDouble,
      "memo.misses" -> misses.toDouble,
      "memo.hit_ratio" -> (chunks - misses).toDouble / chunks,
      "memo.append_mb" -> appendMb,
      "memo.files" -> memoFiles.toDouble,
      "combine.write_combined_s" -> spanS("combine.write_combined"),
      "combine.output_mb" -> outputMb,
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.task_s" -> taskS,
      "spark.gc_s" -> tasks.map(_.gcS).sum,
      "spark.shuffle_write_mb" -> tasks.map(_.shuffleWriteB).sum / mb,
      "spark.spill_mb" -> tasks.map(_.spillB).sum / mb,
      "spark.peak_exec_mem_mb" -> (if (tasks.isEmpty) 0.0 else tasks.map(_.peakMemB).max / mb),
      "spark.idle_slot_share" -> (1 - taskS / (cores * pipelineS)),
      "driver.analysis_s" -> phases("analysis") / 1e3,
      "driver.optimization_s" -> phases("optimization") / 1e3,
      "driver.planning_s" -> phases("planning") / 1e3,
      "driver.codegen_s" -> codegenS,
      "driver.codegen_compiles" -> compiles.toDouble,
      "driver.plan_share" -> planS / pipelineS)
  }

  /** Time-weighted mean and maximum number of calls in flight between the
    * first call's start and the last call's end.
    */
  def inFlight(calls: Seq[Call]): (Double, Double) =
    if (calls.isEmpty) (0.0, 0.0)
    else {
      val events = calls.flatMap(c => Seq((c.startNs, 1), (c.endNs, -1)))
        .sortBy(e => (e._1, e._2))
      var level = 0
      var max = 0
      var area = 0.0
      var prev = events.head._1
      events.foreach { case (at, d) =>
        area += level.toDouble * (at - prev)
        prev = at
        level += d
        max = math.max(max, level)
      }
      val span = events.last._1 - events.head._1
      (if (span > 0) area / span else level.toDouble, max.toDouble)
    }
}
