package lakebench

import graft.operators.MaterializedView
import graft.pipeline.StarPipeline
import graft.sources.ManifestTable
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import java.io.File

/** The paper's ETL, then the table maintenance that follows it, on the
  * fixture sample (10k orders over 80 months, their 40k lines, 10k events).
  *
  * A pass loads the star with `StarPipeline.run` into a fresh directory and
  * runs it again (idempotent: zero rows), then commits a seeded sequence to
  * graft `orders` and `lineitem` tables copied from one template, so every
  * pass starts from the same state. New rows are seed-chosen fixture rows
  * under offset keys. The commits: append, copy-on-write MERGE,
  * deletion-vector delete, a materialised view refresh, a merge-on-read
  * MERGE, an equality-delete MERGE and SQL UPDATE. Each commit is followed
  * by a read-back whose answer must equal the same aggregate over a model
  * built with plain DataFrame operations.
  */
final class EtlCommit(ctx: Ctx) extends Workload {
  import ctx.{spark, tr}

  private val in = ctx.data
  private val tmpl = s"${ctx.work}/template"
  private def passDir(pass: Int) = s"${ctx.work}/pass/$pass"
  private var current = ""
  private def path(t: String) = s"$current/$t"

  private def raw(t: String) = Inputs.table(spark, in, t)
  private def ordersOf(df: DataFrame): DataFrame = df.select(col("o_orderkey"),
    col("o_custkey"), col("o_totalprice"), col("o_orderstatus"),
    year(col("o_orderdate")).as("o_year"))
  private def linesOf(df: DataFrame): DataFrame = df.select(
    (col("l_orderkey") * 8 + col("l_linenumber")).as("l_key"), col("l_orderkey"),
    col("l_quantity"), col("l_extendedprice"))
  private val mvKeys = Seq("o_orderstatus", "o_year")

  def setup(): Unit = {
    current = tmpl
    ManifestTable.overwrite(spark, path("ord"),
      ordersOf(raw("orders")).repartitionByRange(ctx.cores, col("o_orderkey")),
      partitionCols = Seq("o_orderstatus"), statsCols = Seq("o_orderkey"))
    ManifestTable.overwrite(spark, path("li"),
      linesOf(raw("lineitem")).repartitionByRange(2 * ctx.cores, col("l_key")),
      statsCols = Seq("l_key"))
    MaterializedView.refresh(spark, path("ord"), path("mv"), mvKeys, Seq("o_totalprice"))
  }

  override def beforePass(pass: Int): Unit = {
    FileUtils.deleteDirectory(new File(s"${ctx.work}/pass"))
    current = passDir(pass)
    FileUtils.copyDirectory(new File(tmpl), new File(current))
    Seq("ord", "li").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS ${t}_t")
      spark.sql(s"CREATE TABLE ${t}_t USING graft OPTIONS (path '${path(t)}')")
    }
  }

  /** count, exact price sum and an order-independent hash of every row. */
  private def ordDigest(df: DataFrame): DataFrame = df.agg(count(lit(1)),
    sum(col("o_totalprice").cast("decimal(18,2)")),
    sum(xxhash64(col("o_orderkey").cast("long"), col("o_custkey").cast("long"),
      col("o_totalprice").cast("double"), col("o_orderstatus").cast("string"),
      col("o_year").cast("int")).cast("decimal(38,0)")))
  private def liDigest(df: DataFrame): DataFrame = df.agg(count(lit(1)),
    sum(col("l_extendedprice").cast("decimal(18,2)")),
    sum(xxhash64(col("l_key").cast("long"), col("l_orderkey").cast("long"),
      col("l_quantity").cast("double"), col("l_extendedprice").cast("double"))
      .cast("decimal(38,0)")))
  private def mvDigest(df: DataFrame): DataFrame = df.select(col("o_orderstatus"),
    col("o_year").cast("int"), col("n").cast("long"),
    col("sum_o_totalprice").cast("decimal(28,2)"))

  private def files(t: String): Set[String] =
    ManifestTable.filesMeta(spark, path(t)).select("file").collect().map(_.getString(0)).toSet

  /** A commit to table `t`: timed as `sources.commit`; traced, the file
    * delta and the model's changed-row count are recorded untimed. */
  private def commit(name: String, t: String, changed: => Long)(body: => Any): Op =
    Op(name, Kind.Write, () => { tr.span("sources.commit")(body); Answer.of(true) },
      probe = Some { () =>
        val before = files(t)
        tr.add("sources.commit.rows_changed", changed)
        () => {
          val after = files(t)
          tr.add("sources.commit.files_added", (after -- before).size)
          tr.add("sources.commit.files_removed", (before -- after).size)
        }
      })

  /** A read-back of table `t`; `model` gives the expected answer. */
  private def readBack(name: String, t: String, digest: DataFrame => DataFrame,
                       model: => Answer): Op =
    Op(name, Kind.Read,
      () => {
        val df = tr.span("sources.read")(ManifestTable.read(spark, path(t)))
        ctx.answer(tr.span("plans.analyze")(digest(df)))
      },
      reference = Some(() => model),
      probe = Some(() => () => TableStats.countFiles(tr, spark, Seq(path(t)))))

  private def withConf(mode: String)(body: => Any): Unit = {
    spark.conf.set(ManifestTable.DmlModeKey, mode)
    try body finally spark.conf.unset(ManifestTable.DmlModeKey)
  }

  def script(pass: Int): Seq[Op] = {
    val r = ctx.rnd()
    val salt = ctx.seed * 10
    // fresh keys lie above every fixture key (sf0.1 orders keys are < 150000)
    val fresh = 1000000L

    // ---- the star load and its idempotent re-run, checked against the model's counts
    val events = raw("events")
    def counts(m: Map[String, Long]) =
      Answer(m.toVector.sortBy(_._1).map { case (t, n) => Vector[Any](t, n) })
    lazy val starWant = {
      val e = events.agg(countDistinct("user_id"), countDistinct("ts")).head()
      Map("users" -> e.getLong(0), "time" -> e.getLong(1), "fact" -> raw("orders").count())
    }
    def star(name: String, want: => Map[String, Long]) = Op(name, Kind.Write, () => {
      val n = tr.span("pipeline.star")(StarPipeline.run(spark, in, path("star")))
      tr.add("pipeline.star.rows_inserted", n.values.sum)
      counts(n)
    }, reference = Some(() => counts(want)))

    // ---- the orders model, step by step
    val ord0 = ordersOf(raw("orders"))
    val appendBatch = ordersOf(Inputs.offsetKeys(
      Inputs.sample(raw("orders"), "o_orderkey", salt, 20), fresh, "o_orderkey"))
    val ord1 = ord0.unionByName(appendBatch)
    val mergeSrc = Inputs.sample(ord0, "o_orderkey", salt, 64)
      .select(col("o_orderkey"), col("o_custkey"), (col("o_totalprice") + 1.0).as("o_totalprice"),
        lit("M").as("o_orderstatus"), col("o_year"))
      .unionByName(ordersOf(Inputs.offsetKeys(
        Inputs.sample(raw("orders"), "o_orderkey", salt + 1, 100), 2 * fresh, "o_orderkey")))
    mergeSrc.createOrReplaceTempView("ord_src")
    val ord2 = ord1.join(mergeSrc.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .unionByName(mergeSrc)
    val dvDeleted = col("o_orderkey") % 83 === r.nextInt(83)
    val ord3 = ord2.filter(!dvDeleted)
    val updatedSql = s"o_orderkey % 97 = ${r.nextInt(97)}"
    val ord4 = ord3.withColumn("o_totalprice",
      when(expr(updatedSql), col("o_totalprice") + 2).otherwise(col("o_totalprice")))

    // ---- the lineitem model: a merge-on-read MERGE, then an eq-delete MERGE
    val li0 = linesOf(raw("lineitem"))
    // about 800 changed lines and the ~100 lines of 25 fixture orders under new keys
    def liSrc(s: Long, offset: Long) = Inputs.sample(li0, "l_key", s, 50)
      .select(col("l_key"), col("l_orderkey"), (col("l_quantity") + 1.0).as("l_quantity"),
        col("l_extendedprice"))
      .unionByName(linesOf(Inputs.offsetKeys(
        Inputs.sample(raw("lineitem"), "l_orderkey", s, 400), offset, "l_orderkey")))
    val morSrc = liSrc(salt + 2, 3 * fresh)
    val eqSrc = liSrc(salt + 3, 4 * fresh)
    morSrc.createOrReplaceTempView("li_mor_src")
    eqSrc.createOrReplaceTempView("li_eq_src")
    def merged(base: DataFrame, src: DataFrame) =
      base.join(src.select("l_key"), Seq("l_key"), "left_anti").unionByName(src)
    val li1 = merged(li0, morSrc)
    val li2 = merged(li1, eqSrc)
    // every read-back's model digest in one query: the digests share a
    // shape, and one job is cheaper than a warm-up job per step
    lazy val models: Map[String, Answer] = Seq(
      "append" -> ordDigest(ord1), "merge_cow" -> ordDigest(ord2),
      "delete_dv" -> ordDigest(ord3), "merge_mor" -> liDigest(li1), "merge_eq" -> liDigest(li2),
      "update" -> ordDigest(ord4))
      .map { case (step, df) => df.withColumn("step", lit(step)) }.reduce(_ unionAll _)
      .collect().groupBy(_.getAs[String]("step"))
      .map { case (step, rows) => step -> Answer(rows.map(r => Row(r.toSeq.init: _*))) }
    def mergeSql(t: String, src: String, key: String) =
      s"""MERGE INTO $t t USING $src s ON t.$key = s.$key
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin

    Seq(
      star("star_load", starWant),
      star("star_reload", starWant.map { case (t, _) => t -> 0L }),
      commit("append", "ord", appendBatch.count()) {
        ManifestTable.append(spark, path("ord"), appendBatch)
      },
      readBack("append_read", "ord", ordDigest, models("append")),
      commit("merge_cow", "ord", mergeSrc.count()) {
        spark.sql(mergeSql("ord_t", "ord_src", "o_orderkey"))
      },
      readBack("merge_cow_read", "ord", ordDigest, models("merge_cow")),
      commit("delete_dv", "ord", ord2.filter(dvDeleted).count()) {
        ManifestTable.deleteVectorized(spark, path("ord"), dvDeleted)
      },
      readBack("delete_dv_read", "ord", ordDigest, models("delete_dv")),
      commit("mv_refresh", "mv", 0L) {
        MaterializedView.refresh(spark, path("ord"), path("mv"), mvKeys, Seq("o_totalprice"))
      },
      // the view is a graft table: MaterializedView.read is ManifestTable.read
      readBack("mv_read", "mv", mvDigest, Answer(mvDigest(ord3.groupBy(mvKeys.map(col): _*)
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast("decimal(18,2)"))
          .as("sum_o_totalprice"))).collect())),
      commit("merge_mor", "li", morSrc.count()) {
        withConf("mor")(spark.sql(mergeSql("li_t", "li_mor_src", "l_key")))
      },
      readBack("merge_mor_read", "li", liDigest, models("merge_mor")),
      commit("merge_eq", "li", eqSrc.count()) {
        withConf("eq")(spark.sql(mergeSql("li_t", "li_eq_src", "l_key")))
      },
      readBack("merge_eq_read", "li", liDigest, models("merge_eq")),
      commit("update", "ord", ord3.filter(expr(updatedSql)).count()) {
        spark.sql(s"UPDATE ord_t SET o_totalprice = o_totalprice + 2 WHERE $updatedSql")
      },
      readBack("update_read", "ord", ordDigest, models("update")))
  }

  def inputSizes: Seq[(String, Long, Long, Long)] =
    Inputs.sizes(spark, in, Seq("events", "orders", "lineitem", "customer"))

  def storageAmp(): Double = TableStats.storageAmp(spark, Seq("ord", "li", "mv").map(path))
}
