package lakebench

import scala.collection.mutable

/** Turns the spans, job records and counters of the traced passes into the
  * per-layer metrics. Jobs become `exec.job` spans whose parent is the
  * innermost benchmark span open when the job started.
  */
object Ledger {
  /** `System.nanoTime` at the epoch, to put listener times (epoch ms) on the
    * span clock. */
  private val nanoAtEpoch = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(ms: Long): Long = ms * 1000000L + nanoAtEpoch

  def absorb(tr: Tracer, jobs: Seq[JobRec], ops: Seq[Runner.OpRun]): Unit = {
    val byOp = tr.spans.groupBy(_.op)
    ops.foreach { op =>
      val spans = byOp.getOrElse(op.id, Nil)
      val root = spans.find(_.parent == -1)
      // listener times are whole milliseconds: allow one before the op began
      val mine = jobs.filter { j => val s = ns(j.startMs); s >= op.start - 1000000L && s <= op.end }
      val jobSpans = mine.map { j =>
        val s = ns(j.startMs) max op.start
        val parent = spans.filter(p => p.start <= s && s <= p.end)
          .sortBy(-_.start).headOption.fold(-1)(_.id)
        j -> Span(tr.newId(), "exec.job", parent, op.id, op.pass, s, ns(j.endMs) max s)
      }
      tr.spans ++= jobSpans.map(_._2)
      val jobIv = jobSpans.map(x => (x._2.start, x._2.end))
      val wall = op.end - op.start
      val busy = Intervals.covered(jobIv, op.start, op.end)
      tr.add("exec.jobs", mine.size)
      tr.add("exec.stages", mine.map(_.stages).sum)
      tr.add("exec.tasks", mine.map(_.tasks).sum)
      tr.add("exec.job_s", jobSpans.map(_._2.dur).sum / 1e9)
      tr.add("exec.busy_s", busy / 1e9)
      tr.add("exec.task_s", mine.map(_.taskMs).sum / 1e3)
      tr.add("exec.input_bytes", mine.map(_.inBytes).sum)
      tr.add("exec.input_rows", mine.map(_.inRows).sum)
      tr.add("exec.shuffle_write_bytes", mine.map(_.shuffleWrite).sum)
      tr.add("exec.spill_bytes", mine.map(_.spill).sum)
      tr.add("exec.gc_s", mine.map(_.gcMs).sum / 1e3)
      tr.add("op.wall_s", wall / 1e9)
      tr.add("op.rows_out", op.rows)
      tr.add("driver.gap_s", (wall - busy) / 1e9)
      spans.filter(_.name == "sources.commit").foreach { c =>
        val in = jobSpans.filter { case (_, s) => s.start >= c.start && s.start <= c.end }
        tr.add("sources.commit.jobs", in.size)
        tr.add("sources.commit.gap_s",
          (c.dur - Intervals.covered(in.map(x => (x._2.start, x._2.end)), c.start, c.end)) / 1e9)
        tr.add("sources.commit.bytes_written", in.map(_._1.outBytes).sum)
        tr.add("sources.commit.rows_written", in.map(_._1.outRows).sum)
      }
      root.foreach { r =>
        val children = spans.filter(_.parent == r.id).map(s => (s.start, s.end)).toSeq ++ jobIv
        tr.add("unattributed_s", (wall - Intervals.covered(children, op.start, op.end)) / 1e9)
      }
    }
  }

  def metrics(tr: Tracer, cores: Int, passes: Int): Seq[Metric] = {
    val n = passes.max(1).toDouble
    val c = tr.counters
    def spans(name: String) = tr.spans.filter(_.name == name)
    def calls(name: String) = spans(name).size / n
    def secs(name: String) = spans(name).map(_.dur).sum / 1e9 / n
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    def m(name: String, v: Double, unit: String) = Metric(name, v, unit, passes)
    val commits = spans("sources.commit").size
    Seq(
      m("sources.read.calls", calls("sources.read"), "count"),
      m("sources.read.s", secs("sources.read"), "s"),
      m("sources.read.files_total", c("sources.read.files_total") / n, "count"),
      m("sources.read.files_kept", c("sources.read.files_kept") / n, "count"),
      m("sources.read.kept_ratio",
        ratio(c("sources.read.files_kept"), c("sources.read.files_total")), "ratio"),
      m("plans.analyze_s", secs("plans.analyze"), "s"),
      m("plans.optimize_s", secs("plans.optimize"), "s"),
      m("plans.physical_s", secs("plans.physical"), "s"),
      m("plans.graft_rules_s", c("plans.graft_rules_s") / n, "s"),
      m("plans.resolve_datasource_s", c("plans.resolve_datasource_s") / n, "s"),
      m("exec.jobs", c("exec.jobs") / n, "count"),
      m("exec.stages", c("exec.stages") / n, "count"),
      m("exec.tasks", c("exec.tasks") / n, "count"),
      m("exec.job_s", c("exec.job_s") / n, "s"),
      m("exec.task_s", c("exec.task_s") / n, "s"),
      m("exec.task_util", ratio(c("exec.task_s"), c("exec.busy_s") * cores), "ratio"),
      m("exec.input_bytes", c("exec.input_bytes") / n, "B"),
      m("exec.input_rows", c("exec.input_rows") / n, "count"),
      m("exec.rows_in_per_row_out", ratio(c("exec.input_rows"), c("op.rows_out")), "ratio"),
      m("exec.shuffle_write_bytes", c("exec.shuffle_write_bytes") / n, "B"),
      m("exec.spill_bytes", c("exec.spill_bytes") / n, "B"),
      m("exec.gc_s", c("exec.gc_s") / n, "s"),
      m("driver.gap_s", c("driver.gap_s") / n, "s"),
      m("driver.gap_share", ratio(c("driver.gap_s"), c("op.wall_s")), "ratio"),
      m("sources.commit.calls", commits / n, "count"),
      m("sources.commit.s", secs("sources.commit"), "s"),
      m("sources.commit.jobs_per_commit", ratio(c("sources.commit.jobs"), commits), "ratio"),
      m("sources.commit.gap_s", c("sources.commit.gap_s") / n, "s"),
      m("sources.commit.files_added", c("sources.commit.files_added") / n, "count"),
      m("sources.commit.files_removed", c("sources.commit.files_removed") / n, "count"),
      m("sources.commit.bytes_written", c("sources.commit.bytes_written") / n, "B"),
      m("sources.commit.write_amp",
        ratio(c("sources.commit.rows_written"), c("sources.commit.rows_changed")), "ratio"),
      m("operators.dedup.s", secs("operators.dedup"), "s"),
      m("operators.dedup.pairs", c("operators.dedup.pairs") / n, "count"),
      m("operators.ann.s", secs("operators.ann"), "s"),
      m("operators.text.s", secs("operators.text"), "s"),
      m("operators.search.s", secs("operators.search"), "s"),
      m("pipeline.star.s", secs("pipeline.star"), "s"),
      m("pipeline.star.rows_inserted", c("pipeline.star.rows_inserted") / n, "count"),
      m("pipeline.curate.s", secs("pipeline.curate"), "s"),
      m("unattributed_s", c("unattributed_s") / n, "s"))
  }

  /** Self time per span name and traced pass: duration minus what its
    * children cover. */
  def selfTimes(tr: Tracer, passes: Int): Seq[(String, Double)] = {
    val kids = tr.spans.groupBy(_.parent)
    val out = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    tr.spans.sortBy(_.name).foreach { s =>
      val ch = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)).toSeq
      out(s.name.takeWhile(_ != '.') match {
        case "op" => "op (self)"
        case _ => s.name
      }) += (s.dur - Intervals.covered(ch, s.start, s.end)) / 1e9 / passes.max(1)
    }
    out.toSeq
  }

  def writeSpans(tr: Tracer, path: String): Unit = {
    val sb = new StringBuilder
    tr.spans.sortBy(_.start).foreach { s =>
      sb ++= s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "op": ${s.op}, """ +
        s""""pass": ${s.pass}, "start_ns": ${s.start}, "end_ns": ${s.end}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.result())
  }
}
