package perfbench

import scala.collection.mutable

/** Splits each traced operation's wall time into layer self times and
  * turns the [[Tracer]]'s records into per-pass layer metrics.
  *
  * Self time: the operation's interval is cut at every span boundary and
  * each piece goes to the highest-priority layer covering it — a job
  * (`exec`), else a QueryExecution phase (`catalyst`), else the innermost
  * wrapped call (`sql` > `Snapshot` > `Sink` > `operators`), else
  * `trace.unattributed_s`. The pieces sum to the wall time exactly;
  * `exec.driver_gap_s` is everything outside jobs. */
object Layers {

  private def covers(ivs: Seq[Iv], m: Double): Boolean =
    ivs.exists(iv => iv.start <= m && m < iv.end)

  def attribute(ctx: Harness.Ctx, tr: Tracer, ops: Seq[OpRec],
      tracedPasses: Int): Map[String, Double] = {
    val per = tracedPasses.max(1).toDouble
    val self = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val opIds = ops.map(_.id).toSet
    val jobsByOp = tr.jobs.toSeq.groupBy(_.op)
    val spansByOp = ctx.spans.toSeq.groupBy(_.op)
    var wall, gap, frame, eager, analysis, optimization, planning = 0.0
    var executions = 0
    var snapWrite, snapRead, sinkWrite, dml = 0.0
    var sinkBytes, snapBytes = 0L

    for (o <- ops) {
      val s = o.iv.start
      val e = o.iv.end
      def clip(iv: Iv) = Iv(iv.start.max(s), iv.end.min(e))
      val jobs = jobsByOp.getOrElse(o.id, Nil)
        .map(j => clip(Iv(j.startMs.toDouble, j.endMs.toDouble)))
      val inOp = tr.phases.filter { case (_, iv) => iv.start >= s && iv.start < e }
      val phases = inOp.map(p => clip(p._2)).toSeq
      val spans = spansByOp.getOrElse(o.id, Nil)
      val wrapped = WrapperOrder.map(l => l -> spans.filter(_.layer == l).map(x => clip(x.iv)))
      val cuts = (Seq(s, e) ++ (jobs ++ phases ++ wrapped.flatMap(_._2))
        .flatMap(iv => Seq(iv.start, iv.end))).filter(t => t >= s && t <= e).distinct.sorted
      var jobWall = 0.0
      cuts.sliding(2).foreach {
        case Seq(a, b) if b > a =>
          val m = (a + b) / 2
          val layer =
            if (covers(jobs, m)) "exec"
            else if (covers(phases, m)) "catalyst"
            else wrapped.find(w => covers(w._2, m)).map(_._1).getOrElse("unattributed")
          self(layer) += (b - a) / 1000
          if (layer == "exec") jobWall += (b - a) / 1000
        case _ =>
      }
      wall += o.wall
      gap += (e - s) / 1000 - jobWall
      inOp.foreach {
        case ("analysis", iv) => analysis += iv.len / 1000
        case ("optimization", iv) => optimization += iv.len / 1000
        case ("planning", iv) => planning += iv.len / 1000
        case _ =>
      }
      executions += tr.executions.count(t => t >= s && t < e)
      val frameSpans = spans.filter(_.layer == "operators").map(_.iv)
      frame += frameSpans.map(_.len).sum / 1000
      eager += jobsByOp.getOrElse(o.id, Nil).count(j => covers(frameSpans, j.startMs.toDouble))
      spans.foreach { sp =>
        val t = sp.iv.len / 1000
        sp.layer match {
          case "Snapshot" if sp.name == "read" => snapRead += t
          case "Snapshot" => snapWrite += t
          case "Sink" => sinkWrite += t
          case "sql" => dml += t
          case _ =>
        }
      }
      val written = tr.sums.get(o.id).map(_.bytesWritten).getOrElse(0L)
      if (spans.exists(_.layer == "Sink")) sinkBytes += written
      if (spans.exists(sp => sp.layer == "Snapshot" && sp.name != "read")) snapBytes += written
    }

    val sums = opIds.toSeq.flatMap(tr.sums.get)
    def total(f: TaskSums => Long): Double = sums.map(f).sum.toDouble
    val jobs = tr.jobs.filter(j => opIds(j.op))
    val stages = opIds.toSeq.map(tr.stagesByOp).sum
    val jobWallS = self("exec")
    val runS = total(_.runMs) / 1000
    // slowest stage of each traced pass (by summed task time): max/median task
    val skews = ops.groupBy(_.pass).values.flatMap { passOps =>
      val ids = passOps.map(_.id).toSet
      val st = tr.stageTaskMs.filter(x => ids(tr.opOfStage.getOrElse(x._1, -1))).values
      st.maxByOption(_.sum).filter(_.nonEmpty).map { ts =>
        val med = Harness.median(ts.map(_.toDouble).toSeq)
        if (med > 0) ts.max / med else 1.0
      }
    }
    val aqe = {
      val opOfExec = tr.opOfExec
      tr.aqeByExec.toSeq.collect { case (x, n) if opOfExec.get(x).exists(opIds) => n }.sum
    }
    val rowsRead = total(_.rowsRead)
    val rowsOut = total(_.rowsWritten)
    val commits = ctx.counters("Snapshot.commits")
    def g(n: String) = ctx.gauges.get(n).map(b => Harness.median(b.toSeq)).getOrElse(0.0)

    Map(
      "operators.frame_s" -> frame / per,
      "operators.eager_jobs" -> eager / per,
      "operators.self_s" -> self("operators") / per,
      "catalyst.analysis_s" -> analysis / per,
      "catalyst.optimization_s" -> optimization / per,
      "catalyst.planning_s" -> planning / per,
      "catalyst.executions" -> executions / per,
      "catalyst.self_s" -> self("catalyst") / per,
      "aqe.plan_updates" -> aqe / per,
      "exec.jobs" -> jobs.size / per,
      "exec.stages" -> stages / per,
      "exec.tasks" -> total(_.tasks) / per,
      "exec.job_wall_s" -> jobWallS / per,
      "exec.driver_gap_s" -> gap / per,
      "exec.task_cpu_s" -> total(_.cpuNs) / 1e9 / per,
      "exec.task_run_s" -> runS / per,
      "exec.busy_share" -> (if (jobWallS > 0) runS / (jobWallS * ctx.cores) else 0.0),
      "exec.gc_s" -> total(_.gcMs) / 1000 / per,
      "exec.shuffle_write_bytes" -> total(_.shuffleWrite) / per,
      "exec.shuffle_read_bytes" -> total(_.shuffleRead) / per,
      "exec.spill_bytes" -> total(_.spill) / per,
      "exec.task_skew" -> (if (skews.isEmpty) 1.0 else Harness.median(skews.toSeq)),
      "Tables.bytes_read" -> total(_.bytesRead) / per,
      "Tables.rows_read" -> rowsRead / per,
      "Tables.rows_read_per_row_out" -> (if (rowsOut > 0) rowsRead / rowsOut else 0.0),
      "Sink.write_s" -> sinkWrite / per,
      "Sink.self_s" -> self("Sink") / per,
      "Sink.bytes_written" -> sinkBytes / per,
      "Sink.files_written" -> ctx.counters("Sink.files_written") / per,
      "Snapshot.write_s" -> snapWrite / per,
      "Snapshot.read_s" -> snapRead / per,
      "Snapshot.self_s" -> self("Snapshot") / per,
      "Snapshot.commits" -> commits / per,
      "Snapshot.metadata_bytes_per_commit" ->
        (if (commits > 0) ctx.counters("Snapshot.metadata_bytes") / commits else 0.0),
      "Snapshot.write_amp" -> {
        val changed = ctx.counters("Snapshot.changed_bytes")
        if (changed > 0) snapBytes / changed else 0.0
      },
      "Snapshot.manifest_depth" -> g("Snapshot.manifest_depth"),
      "Snapshot.dv_backlog" -> g("Snapshot.dv_backlog"),
      "Snapshot.live_files" -> g("Snapshot.live_files"),
      "sql.dml_s" -> dml / per,
      "sql.self_s" -> self("sql") / per,
      "trace.unattributed_s" -> self("unattributed") / per,
      "trace.span_cover_frac" -> (if (wall > 0) 1 - self("unattributed") / wall else 0.0),
      "trace.accounted_frac" -> (if (wall > 0) self.values.sum / wall else 0.0))
  }

  /** Wrapped-layer priority when spans overlap: the innermost call wins. */
  private val WrapperOrder = Seq("sql", "Snapshot", "Sink", "operators")
}
