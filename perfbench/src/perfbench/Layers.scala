package perfbench

/** Per-layer metrics of a traced run, computed from its samples, spans
  * and Spark jobs. Every workload reports every metric; a layer the
  * workload does not enter reads 0. */
object Layers {
  val Batch: Seq[String] = PipelineLoad.Queries.map(p => PipelineLoad.resolve(p)._1)

  def compute(w: String, o: Main.Outcome, tr: Tracer): Map[String, (Double, String)] = {
    val s = o.samples
    val spans = tr.allSpans
    val jobs = tr.allJobs
    val byParent = jobs.groupBy(_.parent)
    def kids(name: String) = spans.filter(_.name == name)
      .flatMap(sp => byParent.getOrElse(sp.id, Nil))
    val ticks = spans.filter(_.name == "tick")
    val reads = spans.filter(_.name == "read")
    val queries = spans.filter(_.name == "query")
    val nTicks = ticks.size.toDouble
    val nReads = reads.size.toDouble
    val nQueries = queries.size.toDouble
    val passes = s.n("passes")
    val tickJobs = kids("tick")
    val collectorJobs = tickJobs ++ kids("ingest")
    def perTick(x: Double) = Stats.ratio(x, nTicks)
    def storeJobMs(op: String) = perTick(collectorJobs
      .filter(j => Tracer.storeOp(j) == op).map(j => (j.endMs - j.startMs).toDouble).sum)
    def attr(sp: Seq[Span], k: String) = sp.map(_.attrs.getOrElse(k, 0.0)).sum

    // a read's plan time runs from its start to its first Spark job
    val readPlanExec = reads.map { r =>
      val first = byParent.getOrElse(r.id, Nil).map(_.startMs * 1000L)
        .filter(_ >= r.startUs - 1000L).sortBy(identity).headOption.getOrElse(r.endUs)
      val plan = math.max(0L, math.min(first, r.endUs) - r.startUs) / 1000.0
      (plan, (r.endUs - r.startUs) / 1000.0 - plan)
    }
    val readJobs = kids("read")
    val rowsScanned = readJobs.map(_.recordsRead.toDouble).sum
    val rowsReturned = attr(reads, "rows_expected")
    val (phases, batches) = tr.streamSnapshot
    val allTasks = jobs.map(_.tasks).sum
    val storeBytesWritten = collectorJobs.map(_.bytesWritten.toDouble).sum
    val codegenOff = tr.noopWritesWithCodegen
    val readCodegenOff =
      if (reads.isEmpty || codegenOff.isEmpty) 0.0
      else codegenOff.count(!_).toDouble / codegenOff.size

    val m = Seq(
      ("trace.op_ms_p50", Main.opMsP50(w, s), "ms"),
      ("trace.spans", spans.size.toDouble, "count"),
      ("engine.tick_ms_p50", Stats.median(s.get("tick_ms")), "ms"),
      ("engine.tick_ms_p90", Stats.pct(s.get("tick_ms"), 0.9), "ms"),
      ("engine.agg_tick_ms_p50", Stats.median(s.get("agg_tick_ms")), "ms"),
      ("engine.purge_tick_ms_p50", Stats.median(s.get("purge_tick_ms")), "ms"),
      ("engine.snap_tick_ms_p50", Stats.median(s.get("snap_tick_ms")), "ms"),
      ("engine.driver_gap_ms_per_tick",
        perTick(ticks.map(t => tr.selfUs(t, byParent.getOrElse(t.id, Nil)) / 1000.0).sum), "ms"),
      ("engine.staged_rows_per_s", Stats.ratio(s.n("staged_rows"), s.n("busy_ns") / 1e9), "1/s"),
      ("codegen.compiles_per_tick", perTick(attr(ticks, "codegen.compiles")), "count"),
      ("codegen.compile_ms_per_tick", perTick(attr(ticks, "codegen.compile_ms")), "ms"),
      ("codegen.compiles_per_read", Stats.ratio(attr(reads, "codegen.compiles"), nReads), "count"),
      ("codegen.compile_ms_per_query",
        Stats.ratio(attr(queries, "codegen.compile_ms"), nQueries), "ms"),
      ("spark.jobs_per_tick", perTick(tickJobs.size), "count"),
      ("spark.tasks_per_tick", perTick(tickJobs.map(_.tasks).sum), "count"),
      ("spark.jobs_per_read", Stats.ratio(readJobs.size, nReads), "count"),
      ("spark.scheduler_delay_ms", Stats.ratio(jobs.map(_.queueMs.toDouble).sum, allTasks), "ms"),
      ("spark.shuffle_write_mb",
        Stats.ratio(kids("query").map(_.shuffleWriteBytes.toDouble).sum / 1e6, passes), "MB"),
      ("store.snapshot_job_ms", storeJobMs("snapshot"), "ms"),
      ("store.append_job_ms", storeJobMs("append"), "ms"),
      ("store.overwrite_job_ms", storeJobMs("overwrite"), "ms"),
      ("store.aggregate_job_ms", storeJobMs("aggregate"), "ms"),
      ("store.ingest_ms_p50", Stats.median(s.get("ingest_ms")), "ms"),
      ("store.files_per_tick", perTick(collectorJobs.map(_.filesWritten.toDouble).sum), "count"),
      ("store.bytes_per_staged_row", Stats.ratio(storeBytesWritten, s.n("staged_rows")), "B"),
      ("read.plan_ms_p50", Stats.median(readPlanExec.map(_._1)), "ms"),
      ("read.exec_ms_p50", Stats.median(readPlanExec.map(_._2)), "ms"),
      ("read.rows_scanned_per_row_returned", Stats.ratio(rowsScanned, rowsReturned), "ratio"),
      ("read.codegen_off_ratio", readCodegenOff, "ratio")) ++
      Dashboard.Kinds.map(k => (s"read.${k}_ms_p50", Stats.median(s.get(s"read.${k}_ms")), "ms")) ++
      Batch.map(q => (s"batch.${q}_s", Stats.median(s.get(s"batch.$q")), "s")) ++
      Seq(
        ("batch.pass_s", Stats.median(s.get("pass_s")), "s"),
        ("batch.geomean_s", Stats.geomean(Batch.map(q => Stats.median(s.get(s"batch.$q"))).filter(_ > 0)), "s"),
        ("streaming.add_batch_ms", Stats.ratio(phases.getOrElse("addBatch", 0.0), passes), "ms"),
        ("streaming.query_planning_ms", Stats.ratio(phases.getOrElse("queryPlanning", 0.0), passes), "ms"),
        ("streaming.wal_commit_ms", Stats.ratio(phases.getOrElse("walCommit", 0.0), passes), "ms"),
        ("streaming.batches", Stats.ratio(batches, passes), "count"),
        ("registry.bytes", o.registryBytes.toDouble, "B"))
    m.map { case (k, v, u) => k -> (v, u) }.toMap
  }
}
