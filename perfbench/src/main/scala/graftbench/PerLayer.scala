package graftbench

/**
 * Per-layer metrics of a traced run, in a fixed order and the same set for
 * every workload: a layer a workload does not exercise reports 0.
 *
 * Times are medians over the calls of one kind, or means per call for
 * probe times. Counts are means per call over the calls of the first
 * cycle, which every run of a seed makes identically, so a count that is
 * deterministic repeats exactly.
 */
object PerLayer {
  private val FsNames = CountingLocalFileSystem.Names
  private val Commits = Set("txtable.upsert", "txtable.delete", "txtable.merge")
  private val Reads = Set("txtable.read_resolve", "txtable.read_exec")

  def apply(ctx: Ctx, p: Probes): Seq[(String, String, Double)] = {
    val ops = p.ops.toSeq
    val prefix = ops.filter(_.cycle == 0)
    def medianOf(name: String): Double = {
      val xs = ctx.calls.filter(c => c.ok && c.name == name).map(_.seconds)
      if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    }
    def perCall(xs: Seq[OpStats])(f: OpStats => Double): Double =
      if (xs.isEmpty) 0.0 else xs.map(f).sum / xs.size
    def layer(name: String): Double =
      ctx.layerSamples.get(name).filter(_.nonEmpty).map(s => s.sum / s.size).getOrElse(0.0)
    val toolsPrefix = prefix.filter(_.name.startsWith("tools."))

    Seq(
      ("parquetio.write_s", "s", medianOf("parquetio.write")),
      ("parquetio.merge_s", "s", medianOf("parquetio.merge")),
      ("parquetio.files_out", "count", layer("parquetio.files_out")),
      ("parquetio.row_groups_out", "count", layer("parquetio.row_groups_out")),
      ("parquetio.bytes_out", "B", layer("parquetio.bytes_out")),
      ("tools.footer_s", "s", {
        val xs = ctx.calls.filter(c => c.ok && c.module == "tools").map(_.seconds)
        if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
      }),
      ("tools.footer_calls", "count/cycle", toolsPrefix.map(_.fs(FsNames.indexOf("open"))).sum.toDouble),
      ("txtable.upsert_s", "s", medianOf("txtable.upsert")),
      ("txtable.delete_s", "s", medianOf("txtable.delete")),
      ("txtable.merge_s", "s", medianOf("txtable.merge")),
      ("txtable.read_resolve_s", "s", medianOf("txtable.read_resolve")),
      ("txtable.read_exec_s", "s", medianOf("txtable.read_exec")),
      ("txtable.feed_s", "s", medianOf("txtable.feed")),
      ("txtable.maintain_s", "s", medianOf("txtable.maintain")),
      ("txtable.history_s", "s", medianOf("txtable.history")),
      ("txtable.commits", "count/read", layer("txtable.commits")),
      ("txtable.data_dirs", "count/read", layer("txtable.data_dirs")),
      ("txtable.dv_dirs", "count/read", layer("txtable.dv_dirs")),
      ("plan.exchanges", "count/call", perCall(prefix)(_.exchanges.toDouble)),
      ("plan.broadcast_hash_joins", "count/call", perCall(prefix)(_.bhj.toDouble)),
      ("plan.stages", "count/call", perCall(prefix)(_.planStages.toDouble))
    ) ++ FsNames.indices.map(i =>
      (s"fs.${FsNames(i)}_calls", "count/call", perCall(prefix)(_.fs(i).toDouble))
    ) ++ FsNames.indices.map(i =>
      (s"fs.commit.${FsNames(i)}_calls", "count/commit",
        perCall(prefix.filter(o => Commits(o.name)))(_.fs(i).toDouble))
    ) ++ FsNames.indices.map(i =>
      (s"fs.read.${FsNames(i)}_calls", "count/read",
        perCall(prefix.filter(o => Reads(o.name)))(_.fs(i).toDouble) * Reads.size)
    ) ++ Seq(
      ("spark.jobs", "count/call", perCall(prefix)(_.jobs.toDouble)),
      ("spark.stages", "count/call", perCall(prefix)(_.stages.toDouble)),
      ("spark.tasks", "count/call", perCall(prefix)(_.tasks.toDouble)),
      ("spark.task_s", "s/call", perCall(ops)(_.taskMs / 1e3)),
      ("spark.offjob_gap_s", "s/call", perCall(ops)(_.offJobGapS(p.epochMs))),
      ("spark.shuffle_read_bytes", "B/call", perCall(prefix)(_.shuffleRead.toDouble)),
      ("spark.shuffle_write_bytes", "B/call", perCall(prefix)(_.shuffleWrite.toDouble)),
      ("spark.input_bytes", "B/call", perCall(prefix)(_.input.toDouble)),
      ("spark.output_bytes", "B/call", perCall(prefix)(_.output.toDouble)),
      ("spark.spill_bytes", "B/call", perCall(prefix)(_.spill.toDouble)),
      ("spark.gc_s", "s/call", perCall(ops)(_.gcMs / 1e3)),
      ("spark.analysis_ms", "ms/call", perCall(ops)(_.analysisMs.toDouble)),
      ("spark.optimizer_ms", "ms/call", perCall(ops)(_.optimizerMs.toDouble)),
      ("spark.planning_ms", "ms/call", perCall(ops)(_.planningMs.toDouble)),
      ("spark.codegen_ms", "ms/call", perCall(ops)(_.codegenNs / 1e6)),
      ("spark.codegen_units", "count/call", perCall(prefix)(_.codegenUnits.toDouble))
    ) ++ PipelineWorkload.Queries.map(q => (s"ops.${q}_s", "s", medianOf(s"ops.$q")))
  }

  /** Spans: one per cycle, per timed call (parent: its cycle) and per Spark
    * job (parent: its call); times in epoch milliseconds. */
  def spans(ctx: Ctx, p: Probes, workload: String): String = {
    def span(id: String, name: String, s: Double, e: Double, parent: Option[String], op: Option[Int]) =
      Json.obj(Seq("span" -> Json.str(id), "name" -> Json.str(name), "start_ms" -> Json.num(s),
        "end_ms" -> Json.num(e), "parent" -> parent.map(Json.str).getOrElse("null"),
        "workload" -> Json.str(workload), "op_id" -> op.map(_.toString).getOrElse("null")))
    val cycles = p.ops.groupBy(_.cycle).toSeq.sortBy(_._1).map { case (c, os) =>
      span(s"cycle$c", "cycle", p.epochMs(os.map(_.startNs).min), p.epochMs(os.map(_.endNs).max), None, None)
    }
    val calls = p.ops.toSeq.flatMap { o =>
      span(s"call${o.id}", o.name, p.epochMs(o.startNs), p.epochMs(o.endNs), Some(s"cycle${o.cycle}"), Some(o.id)) +:
        o.jobSpans.toSeq.map { case (j, s, e) =>
          span(s"job$j", "spark.job", s.toDouble, e.toDouble, Some(s"call${o.id}"), Some(o.id))
        }
    }
    (cycles ++ calls).mkString("\n")
  }

  /** Per call kind: call count and the mean of every probe counter. */
  def detail(ctx: Ctx, p: Probes): String =
    Json.obj(p.ops.toSeq.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, os) =>
      def mean(f: OpStats => Double) = Json.num(os.map(f).sum / os.size)
      name -> Json.obj(Seq(
        "calls" -> os.size.toString,
        "median_s" -> Json.num(Stats.median(os.map(_.seconds))),
        "jobs" -> mean(_.jobs.toDouble), "stages" -> mean(_.stages.toDouble),
        "tasks" -> mean(_.tasks.toDouble), "task_s" -> mean(_.taskMs / 1e3),
        "offjob_gap_s" -> mean(_.offJobGapS(p.epochMs)),
        "executions" -> mean(_.executions.toDouble), "exchanges" -> mean(_.exchanges.toDouble),
        "broadcast_hash_joins" -> mean(_.bhj.toDouble), "plan_stages" -> mean(_.planStages.toDouble),
        "shuffle_read_bytes" -> mean(_.shuffleRead.toDouble),
        "shuffle_write_bytes" -> mean(_.shuffleWrite.toDouble),
        "input_bytes" -> mean(_.input.toDouble), "output_bytes" -> mean(_.output.toDouble),
        "analysis_ms" -> mean(_.analysisMs.toDouble), "optimizer_ms" -> mean(_.optimizerMs.toDouble),
        "planning_ms" -> mean(_.planningMs.toDouble), "codegen_ms" -> mean(_.codegenNs / 1e6),
        "codegen_units" -> mean(_.codegenUnits.toDouble), "gc_s" -> mean(_.gcMs / 1e3)
      ) ++ FsNames.indices.map(i => s"fs_${FsNames(i)}" -> mean(_.fs(i).toDouble)))
    })
}
