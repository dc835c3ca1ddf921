package lakebench

import graft.sources.ManifestTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

sealed abstract class Kind(val label: String)
object Kind {
  /** An operation that returns rows from tables. */
  case object Read extends Kind("read")
  /** A commit: table writes, SQL DML, the star load. */
  case object Write extends Kind("write")
  /** An LLM-pipeline operator call, materialised. */
  case object Compute extends Kind("compute")
}

/** A result in comparable form: rows normalised to plain values and sorted,
  * so two answers compare independent of row order. Doubles compare with a
  * relative tolerance of 1e-9.
  */
final case class Answer(rows: Vector[Vector[Any]]) {
  def matches(o: Answer): Boolean =
    rows.size == o.rows.size && rows.zip(o.rows).forall { case (a, b) =>
      a.size == b.size && a.zip(b).forall((Answer.same _).tupled)
    }
  def describe: String =
    s"${rows.size} rows" + rows.headOption.fold("")(r => s", first ${r.mkString("(", ",", ")")}")
}

object Answer {
  def apply(rows: Array[Row]): Answer =
    Answer(rows.toVector.map(r => norm(r).asInstanceOf[Vector[Any]]).sortBy(key))

  def of(values: Any*): Answer = Answer(Vector(values.toVector.map(norm)))

  private def norm(v: Any): Any = v match {
    case null => null
    case r: Row => r.toSeq.toVector.map(norm)
    case f: Float => f.toDouble
    case d: java.math.BigDecimal => BigDecimal(d)
    case t: java.sql.Timestamp => t.getTime * 1000 + t.getNanos / 1000 % 1000
    case d: java.sql.Date => d.toString
    case s: scala.collection.Seq[_] => s.toVector.map(norm)
    case m: scala.collection.Map[_, _] => m.toVector.map { case (k, x) => (norm(k), norm(x)) }
      .sortBy(_.toString)
    case other => other
  }

  private def key(r: Vector[Any]): String = r.map {
    case d: Double => f"$d%.6e"
    case other => String.valueOf(other)
  }.mkString("\u0001")

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || (x.isNaN && y.isNaN) ||
        math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: Vector[_], y: Vector[_]) =>
      x.size == y.size && x.zip(y).forall((same _).tupled)
    case _ => a == b
  }
}

/** One step of a pass script. `run` is the timed region. `reference`
  * computes the expected answer outside any timing; without it the answer
  * of the first (warm-up) execution is the reference. `check`, where given,
  * judges each answer instead of a reference and returns what is wrong with
  * it. `probe`, called only in traced passes before the timer starts,
  * returns the function to call after it stops — for file and byte counts
  * that must not be timed.
  */
final case class Op(name: String, kind: Kind, run: () => Answer,
                    reference: Option[() => Answer] = None,
                    probe: Option[() => () => Unit] = None,
                    check: Option[Answer => Option[String]] = None)

/** What every workload shares: the session, the tracer, the read-only
  * input directory and a work directory, both inside the checkout.
  */
final class Ctx(val spark: SparkSession, val tr: Tracer, val data: String, val work: String,
                val seed: Long, val cores: Int) {

  /** Run `df` to completion and return its rows. Traced, each planning
    * phase of the one `QueryExecution` is forced inside its own span before
    * the same execution runs.
    */
  def collect(df: DataFrame): Array[Row] =
    if (!tr.on) df.collect()
    else {
      val qe = df.queryExecution
      tr.span("plans.analyze")(qe.analyzed)
      tr.span("plans.optimize")(qe.optimizedPlan)
      tr.span("plans.physical")(qe.executedPlan)
      tr.span("exec.collect")(df.collect())
    }

  def answer(df: DataFrame): Answer = Answer(collect(df))

  /** Seeded random source for query parameters: the same seed gives the
    * same parameters in every run. */
  def rnd(): scala.util.Random = new scala.util.Random(seed * 1000003L)

  /** `spark.sql` analyses eagerly, so its call is the analysis span. */
  def sql(text: String): DataFrame = tr.span("plans.analyze")(spark.sql(text))
}

/** A benchmark workload: set-up (untimed, charged to `setup_s`) and the
  * script of operations every pass runs. The script's parameters depend on
  * the seed only, so each operation's reference answer is established once.
  */
trait Workload {
  def setup(): Unit
  /** Untimed preparation of pass `pass`. */
  def beforePass(pass: Int): Unit = ()
  def script(pass: Int): Seq[Op]
  /** (table, rows, bytes, files) of the inputs the workload reads. */
  def inputSizes: Seq[(String, Long, Long, Long)]
  /** Bytes under the workload's tables over the data bytes of their current
    * snapshots. */
  def storageAmp(): Double
  /** Workload-specific end-to-end figures, printed beside the common ones. */
  def extraMetrics: Seq[Metric] = Nil
}

final case class Metric(name: String, value: Double, unit: String, n: Int)

/** Metadata figures of graft tables, read outside any timed region. */
object TableStats {
  /** All bytes under the table directories over the data bytes their current
    * snapshots reference. */
  def storageAmp(spark: SparkSession, paths: Seq[String]): Double = {
    val onDisk = paths.map(p => Inputs.du(p)._1).sum.toDouble
    val live = paths.map(p =>
      ManifestTable.detail(spark, p).head().getAs[Long]("size_bytes")).sum.toDouble
    onDisk / live
  }

  /** Traced file counts of full snapshot reads: every file is kept. */
  def countFiles(tr: Tracer, spark: SparkSession, paths: Seq[String]): Unit =
    paths.foreach { p =>
      val n = ManifestTable.detail(spark, p).head().getAs[Long]("n_files")
      tr.add("sources.read.files_kept", n)
      tr.add("sources.read.files_total", n)
    }
}
