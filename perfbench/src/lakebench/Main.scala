package lakebench

import org.apache.spark.LakeBenchAccess
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The lake benchmark: one workload, one JVM, one client in a closed
  * loop (the next operation starts when the previous one returns).
  *
  *   lakebench.Main --workload star_scan|etl_commit|llm_curate --seed N
  *                  --seconds S --trace 0|1 --data DIR --work DIR --cores C
  *                  [--spans FILE]
  *
  * `--data` is the read-only input sample, `--work` the run's scratch
  * directory. Set-up builds the tables and runs an untimed warm-up pass
  * that also establishes every reference answer. The timed loop then runs
  * passes until `S` seconds have gone by (at least one), isolating passes
  * as `graft.Bench` isolates queries. With `--trace 1` passes alternate
  * untraced and traced; the traced ones give the per-layer figures and the
  * untraced ones the base of `trace.overhead`. The last stdout line is
  * `RESULT {json}`.
  */
object Main {
  val Workloads = Seq("star_scan", "etl_commit", "llm_curate")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val work = opts("work")
    val cores = opts.getOrElse("cores", "4").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"lakebench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      if (!Workloads.contains(name)) sys.error(s"unknown workload $name")
      bench(spark, name, opts, work, cores)
    } finally spark.stop()
  }

  private def jvmSecs: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  private def bench(spark: SparkSession, name: String, opts: Map[String, String],
                    work: String, cores: Int): Unit = {
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val tr = new Tracer
    val r = new Runner(new Ctx(spark, tr, opts("data"), work, seed, cores), name)
    val sessionS = jvmSecs
    r.wl.setup()
    val builtS = jvmSecs
    r.runPass(-1, traced = false, timed = false)
    val setupS = jvmSecs

    val runs = mutable.ArrayBuffer.empty[Runner.OpRun]
    val passSecs = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val t0 = System.nanoTime()
    var pass = 0
    // traced runs alternate untraced and traced passes and end on an
    // untraced one, so drift from warm-up splits evenly around the traced
    def more = (System.nanoTime() - t0) / 1e9 < seconds || (trace && (pass < 3 || pass % 2 == 0))
    while (pass == 0 || more) {
      val traced = trace && pass % 2 == 1
      val ops = r.runPass(pass, traced, timed = true)
      runs ++= ops
      passSecs += traced -> ops.map(_.secs).sum
      pass += 1
    }
    r.isolate()
    r.isolate()
    // heap pools' usage right after the last collection: steadier than a
    // sample of live usage, which also holds whatever was allocated since
    val heapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

    println(s"[lakebench] workload=$name seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} " +
      s"cores=$cores passes=$pass")
    r.wl.inputSizes.foreach { case (t, rows, bytes, files) =>
      println(s"[lakebench] input $t rows=$rows bytes=$bytes files=$files")
    }
    println(f"[lakebench] setup: session $sessionS%.1f s, inputs and tables ${builtS - sessionS}%.1f s, " +
      f"warm-up pass ${setupS - builtS}%.1f s")
    println("[lakebench] passes: " + passSecs.map { case (traced, secs) =>
      f"$secs%.2f" + (if (traced) "t" else "") }.mkString(" "))
    // a failed operation is never timed as a success
    val untraced = runs.filter(o => !o.traced && o.ok).toSeq
    untraced.groupBy(_.name).toSeq.sortBy(_._2.head.start).foreach { case (n, rs) =>
      println(f"op $n%-22s ${rs.head.kind.label}%-8s p50 ${median(rs.map(_.secs))}%9.4f s n=${rs.size}")
    }
    val untracedPasses = passSecs.filterNot(_._1).map(_._2).toSeq
    val common = Seq(
      Metric("setup_s", setupS, "s", 1),
      Metric("pass_s", median(untracedPasses), "s", untracedPasses.size),
      Metric("retained_heap_mb", heapMb, "MB", 1),
      Metric("storage_amp", r.wl.storageAmp(), "ratio", 1))
    // per operation class, printed only: a workload has one or two of the
    // classes, and the JSON carries the metrics every workload has
    // a p90 needs ten samples beyond it
    val classes = Seq(Kind.Read, Kind.Write, Kind.Compute).flatMap { k =>
      val xs = untraced.filter(_.kind == k).map(_.secs)
      if (xs.isEmpty) Nil
      else Metric(s"${k.label}_p50_s", median(xs), "s", xs.size) +:
        (if (xs.size >= 100) Seq(Metric(s"${k.label}_p90_s", Stats.quantile(xs, 0.9), "s", xs.size))
         else Nil)
    }
    val failRatio = Metric("fail_ratio", r.failed.toDouble / runs.size, "ratio", runs.size)
    (common ++ classes ++ (failRatio +: r.wl.extraMetrics)).foreach(m =>
      println(f"metric ${m.name}%-22s ${m.value}%14.6f ${m.unit}%-6s n=${m.n}"))

    val reported =
      if (!trace) common
      else {
        val tracedPasses = passSecs.filter(_._1).map(_._2).toSeq
        val layers = Ledger.metrics(tr, cores, tracedPasses.size) :+
          Metric("trace.overhead", median(tracedPasses) / median(untracedPasses), "ratio",
            tracedPasses.size)
        layers.foreach(m => println(f"layer ${m.name}%-34s ${m.value}%16.6f ${m.unit}%-6s n=${m.n}"))
        Ledger.selfTimes(tr, tracedPasses.size).foreach { case (span, s) =>
          println(f"self  $span%-34s $s%16.6f s")
        }
        layers
      }
    opts.get("spans").foreach(p => Ledger.writeSpans(tr, p))

    val metricsJson = reported.map(m =>
      s""""${m.name}": {"value": ${Stats.num(m.value)}, "unit": "${m.unit}"}""").mkString(", ")
    println(s"""RESULT {"correct": ${r.failed == 0 && r.warmFailed == 0}, "attempted": ${runs.size}, """ +
      s""""failed": ${r.failed + r.warmFailed}, "metrics": {$metricsJson}}""")
  }

  private def median(xs: Seq[Double]) = Stats.quantile(xs, 0.5)
}

object Runner {
  final case class OpRun(id: Int, pass: Int, name: String, kind: Kind, start: Long, end: Long,
                         ok: Boolean, rows: Long, traced: Boolean) {
    def secs: Double = (end - start) / 1e9
  }
}

/** Runs the passes of one workload and checks every answer against its
  * reference; counts failures of timed and warm-up passes apart. */
final class Runner(ctx: Ctx, workload: String) {
  import Runner.OpRun
  import ctx.{spark, tr}

  val wl: Workload = workload match {
    case "star_scan" => new StarScan(ctx)
    case "etl_commit" => new EtlCommit(ctx)
    case "llm_curate" => new LlmCurate(ctx)
  }
  var failed, warmFailed = 0
  private val listener = new ExecListener
  private val refs = mutable.Map.empty[Int, Option[Answer]]
  private var opSeq = 0

  /** Drop cached plans and blocks and settle the heap, as `graft.Bench` does
    * between queries. */
  def isolate(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc(); Thread.sleep(50); System.gc()
  }

  /** Runs one pass; returns its ops with their timed regions. */
  def runPass(pass: Int, traced: Boolean, timed: Boolean): Seq[OpRun] = {
    isolate()
    wl.beforePass(pass)
    tr.pass = pass
    if (traced) spark.sparkContext.addSparkListener(listener)
    val out = wl.script(pass).zipWithIndex.map { case (op, i) =>
      opSeq += 1
      tr.op = opSeq
      tr.on = traced
      val after = if (traced) op.probe.map(_()) else None
      if (traced) RuleMeter.reset()
      val t0 = System.nanoTime()
      val res = try Right(tr.span(s"op.${op.name}")(op.run())) catch {
        case e: Throwable => Left(e)
      }
      val t1 = System.nanoTime()
      if (traced) {
        val rules = RuleMeter.read()
        def ruleSecs(p: String => Boolean) = rules.collect { case (n, ns) if p(n) => ns }.sum / 1e9
        tr.add("plans.graft_rules_s", ruleSecs(_.startsWith("graft.")))
        tr.add("plans.resolve_datasource_s", ruleSecs(_.contains("ResolveDataSource")))
      }
      after.foreach(_())
      tr.on = false
      val ok = res match {
        case Left(e) =>
          e.printStackTrace()
          println(s"[lakebench] ERROR op=${op.name} pass=$pass failed: " +
            s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          false
        case Right(ans) =>
          val wrong = op.check match {
            case Some(judge) => judge(ans)
            case None =>
              val ref = refs.getOrElseUpdate(i,
                try Some(op.reference.fold(ans)(_())) catch {
                  case e: Throwable =>
                    println(s"[lakebench] ERROR op=${op.name} reference failed: $e"); None
                })
              if (ref.exists(_.matches(ans))) None
              else Some(s"got ${ans.describe}; want ${ref.fold("no reference")(_.describe)}")
          }
          wrong.foreach(w => println(s"[lakebench] ERROR op=${op.name} pass=$pass wrong answer: $w"))
          wrong.isEmpty
      }
      if (!ok) { if (timed) failed += 1 else warmFailed += 1 }
      OpRun(opSeq, pass, op.name, op.kind, t0, t1, ok, res.fold(_ => 0L, _.rows.size.toLong), traced)
    }
    if (traced) {
      LakeBenchAccess.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      tr.on = true
      Ledger.absorb(tr, listener.take(), out)
      tr.on = false
    }
    out
  }
}

object Stats {
  /** Linear-interpolated quantile, the same as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
