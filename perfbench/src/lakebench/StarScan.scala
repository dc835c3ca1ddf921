package lakebench

import graft.sources.ManifestTable
import graft.sources.ManifestTable.PartitionTransform
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Read-only analytics over graft star tables built once in set-up.
  *
  * The fixture sample's orders and lineitem are scaled ×k by unioning k
  * copies under key offsets (k = 3: 30k orders, 120k lines, a fifth of
  * sf0.1). lineitem is bucketed on l_orderkey, range-clustered inside each
  * bucket (zone maps on l_orderkey and l_shipdate) with a Bloom filter on
  * l_partkey, and has two versions so time travel has something to read:
  * the second appends one more copy of a twentieth of the orders' lines.
  * orders is co-bucketed with it. Every query goes to the
  * graft tables (through SQL on catalog tables or through
  * `ManifestTable.read*`) and, outside the timing, to the same query over
  * the raw parquet with plain Spark; the two answers must match.
  */
final class StarScan(ctx: Ctx) extends Workload {
  import ctx.{spark, tr}

  private val k = 3
  // the sample holds orders 0 until 10000; copy i holds keys + i * span
  private val span = 10000L
  private val nOrders = k * span
  private val nV2 = span / 20
  private val nPart = 20000 // every sf0.1 part
  private val buckets = 4
  private val in = s"${ctx.work}/input"
  private val lake = s"${ctx.work}/lake"
  private def path(t: String) = s"$lake/$t"
  private val tables = Seq("li", "ord", "cust", "nation", "region")

  def setup(): Unit = {
    def fixture(t: String) = Inputs.table(spark, ctx.data, t)
    def scaled(t: String, key: String) =
      (0 until k).map(i => Inputs.offsetKeys(fixture(t), i * span, key)).reduce(_ unionByName _)
    def save(df: DataFrame, t: String) =
      df.repartition(ctx.cores).write.mode("overwrite").parquet(s"$in/$t.parquet")
    save(scaled("orders", "o_orderkey"), "orders")
    save(scaled("lineitem", "l_orderkey"), "lineitem")
    save(Inputs.offsetKeys(fixture("lineitem").where(col("l_orderkey") < nV2), nOrders,
      "l_orderkey"), "lineitem_v2")
    Seq("customer", "nation", "region").foreach(t => save(fixture(t), t))
    def raw(t: String) = spark.read.parquet(s"$in/$t.parquet")
    val clustered = raw("lineitem").repartitionByRange(2 * ctx.cores, col("l_orderkey"))
    ManifestTable.overwrite(spark, path("li"), clustered,
      statsCols = Seq("l_orderkey", "l_shipdate"), bloomCols = Seq("l_partkey"),
      transforms = Seq(PartitionTransform("l_bucket", "bucket", buckets, "l_orderkey")))
    ManifestTable.append(spark, path("li"), raw("lineitem_v2"))
    ManifestTable.overwrite(spark, path("ord"),
      raw("orders").repartitionByRange(ctx.cores, col("o_orderkey")),
      statsCols = Seq("o_orderkey", "o_orderdate"),
      transforms = Seq(PartitionTransform("o_bucket", "bucket", buckets, "o_orderkey")))
    ManifestTable.overwrite(spark, path("cust"), raw("customer"))
    ManifestTable.overwrite(spark, path("nation"), raw("nation"))
    ManifestTable.overwrite(spark, path("region"), raw("region"))
    tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t USING graft OPTIONS (path '${path(t)}')")
    }
    raw("lineitem").unionByName(raw("lineitem_v2")).createOrReplaceTempView("raw_li")
    raw("lineitem").createOrReplaceTempView("raw_li_v1")
    raw("orders").createOrReplaceTempView("raw_ord")
    raw("customer").createOrReplaceTempView("raw_cust")
    raw("nation").createOrReplaceTempView("raw_nation")
    raw("region").createOrReplaceTempView("raw_region")
  }

  /** `text` with `{t}` placeholders bound to the graft tables or to the raw
    * views. */
  private def bind(text: String, raw: Boolean): String =
    (tables :+ "li_v1").foldLeft(text) { (s, t) =>
      val name = if (raw) s"raw_$t" else if (t == "li_v1") "li FOR VERSION AS OF 1" else t
      s.replace(s"{$t}", name)
    }

  private def sqlOp(name: String, text: String): Op =
    Op(name, Kind.Read, () => ctx.answer(ctx.sql(bind(text, raw = false))),
      reference = Some(() => Answer(spark.sql(bind(text, raw = true)).collect())))

  /** A `ManifestTable.read*` call (timed as `sources.read`), then `shape` on
    * the lazy frame; the reference runs `shape` on the raw view after
    * `rawFilter`. `files` gives (kept, total) for the traced counts.
    */
  private def apiOp(name: String, read: () => DataFrame, rawView: String, rawFilter: String,
                    shape: DataFrame => DataFrame, files: () => (Int, Int)): Op =
    Op(name, Kind.Read,
      () => {
        val df = tr.span("sources.read")(read())
        ctx.answer(tr.span("plans.analyze")(shape(df)))
      },
      reference = Some(() => Answer(shape(spark.table(rawView).where(rawFilter)).collect())),
      probe = Some(() => () => {
        val (kept, total) = files()
        tr.add("sources.read.files_kept", kept)
        tr.add("sources.read.files_total", total)
      }))

  private val lineCols = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
    "l_extendedprice", "l_shipdate").map(col)
  private def sums(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"),
      sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"),
      sum(col("l_quantity")).as("qty"))

  def script(pass: Int): Seq[Op] = {
    val r = ctx.rnd()
    val maxKey = nOrders + nV2
    def key() = (r.nextDouble() * maxKey).toLong
    val ops = Seq.newBuilder[Op]
    for (j <- 0 until 2) {
      val p1 = r.nextInt(nPart.toInt).toLong
      ops += sqlOp(s"sql_point_$j",
        s"SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM {li} " +
          s"WHERE l_partkey = $p1")
      val p2 = r.nextInt(nPart.toInt).toLong
      ops += apiOp(s"api_point_$j",
        () => ManifestTable.readPoint(spark, path("li"), "l_partkey", p2),
        "raw_li", s"l_partkey = $p2", _.select(lineCols: _*),
        () => { val (f, t) = ManifestTable.prunedFilesByPoint(spark, path("li"), "l_partkey", p2)
          (f.size, t) })
    }
    locally {
      val lo = key(); val hi = lo + nOrders / 100
      ops += apiOp("api_range",
        () => ManifestTable.readRange(spark, path("li"), "l_orderkey", lo, hi),
        "raw_li", s"l_orderkey BETWEEN $lo AND $hi", sums,
        () => { val (f, t) = ManifestTable.prunedFiles(spark, path("li"), "l_orderkey", lo, hi)
          (f.size, t) })
      val lo2 = key(); val hi2 = lo2 + nOrders / 100
      ops += sqlOp("sql_range",
        s"SELECT count(*), sum(CAST(l_extendedprice AS DECIMAL(18,2))), min(l_shipdate), " +
          s"max(l_quantity) FROM {li} WHERE l_orderkey BETWEEN $lo2 AND $hi2")
    }
    // sf0.1 orders run from 1995-01 to 2001-08
    val year = 1995 + r.nextInt(6)
    ops += sqlOp("sql_star",
      s"""SELECT r_name, c_mktsegment, count(*) AS n,
         |  sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS revenue
         |FROM {li} JOIN {ord} ON l_orderkey = o_orderkey
         |  JOIN {cust} ON o_custkey = c_custkey
         |  JOIN {nation} ON c_nationkey = n_nationkey
         |  JOIN {region} ON n_regionkey = r_regionkey
         |WHERE o_orderdate >= TIMESTAMP '$year-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '${year + 1}-01-01 00:00:00'
         |  AND l_shipdate >= TIMESTAMP '$year-03-01 00:00:00'
         |GROUP BY r_name, c_mktsegment""".stripMargin)
    ops += sqlOp("sql_meta_agg",
      "SELECT count(*), min(l_orderkey), max(l_orderkey), min(l_shipdate), max(l_shipdate) FROM {li}")
    val lo = key(); val hi = lo + nOrders / 10
    ops += sqlOp("sql_cobucket_join",
      s"""SELECT o_orderpriority, count(*) AS n, sum(l_quantity) AS qty
         |FROM {li} JOIN {ord} ON l_orderkey = o_orderkey
         |WHERE l_orderkey BETWEEN $lo AND $hi
         |GROUP BY o_orderpriority""".stripMargin)
    val lo3 = key(); val hi3 = lo3 + nOrders / 50
    ops += sqlOp("sql_time_travel",
      s"SELECT l_returnflag, count(*), sum(CAST(l_extendedprice AS DECIMAL(18,2))) " +
        s"FROM {li_v1} WHERE l_orderkey BETWEEN $lo3 AND $hi3 GROUP BY l_returnflag")
    val day = r.nextInt(2300)
    ops += apiOp("api_orders_agg",
      () => ManifestTable.read(spark, path("ord")),
      "raw_ord", "true",
      _.where(col("o_orderdate") >= date_add(lit("1995-01-01").cast("date"), day))
        .where(col("o_orderdate") < date_add(lit("1995-01-01").cast("date"), day + 60))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)"))),
      () => { val n = ManifestTable.detail(spark, path("ord")).head().getAs[Long]("n_files").toInt
        (n, n) })
    ops.result()
  }

  def inputSizes: Seq[(String, Long, Long, Long)] =
    Seq("lineitem", "lineitem_v2", "orders", "customer").map { t =>
      val (bytes, files) = Inputs.parquetSize(s"$in/$t.parquet")
      (t, spark.read.parquet(s"$in/$t.parquet").count(), bytes, files)
    }

  def storageAmp(): Double = TableStats.storageAmp(spark, tables.map(path))
}
