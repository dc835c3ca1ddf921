package lakebench

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's inputs: a sample of the sf0.1 fixtures kept in the
  * benchmark's `data` directory (rows selected by `data/sample.py`, never
  * changed), read with the fixture readers of `graft.sources.Tables`.
  * Workloads that need more rows or fresh keys copy fixture rows under
  * offset keys; the seed picks which rows and parameters, not the values.
  */
object Inputs {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "region" => Tables.region(spark, dir)
    case "nation" => Tables.nation(spark, dir)
    case "customer" => Tables.customer(spark, dir)
    case "supplier" => Tables.supplier(spark, dir)
    case "part" => Tables.part(spark, dir)
    case "orders" => Tables.orders(spark, dir)
    case "lineitem" => Tables.lineitem(spark, dir)
    case "events" => Tables.events(spark, dir)
    case "documents" => Tables.documents(spark, dir)
    case "embeddings" => Tables.embeddings(spark, dir)
  }

  /** `df` with each of `keys` shifted by `offset`: the same rows under keys
    * no fixture row has. */
  def offsetKeys(df: DataFrame, offset: Long, keys: String*): DataFrame =
    keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + offset))

  /** A seeded selection of about one row in `every`, by a hash of `key`. */
  def sample(df: DataFrame, key: String, salt: Long, every: Int): DataFrame =
    df.filter(pmod(xxhash64(col(key), lit(salt)), lit(every.toLong)) === 0)

  /** (table, rows, bytes, files) of input tables under `dir`. */
  def sizes(spark: SparkSession, dir: String, names: Seq[String]): Seq[(String, Long, Long, Long)] =
    names.map { t =>
      val (bytes, files) = parquetSize(s"$dir/$t.parquet")
      (t, table(spark, dir, t).count(), bytes, files)
    }

  /** Bytes and file count of the files under `path`. */
  def du(path: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        val files = s.filter(java.nio.file.Files.isRegularFile(_)).toArray.toSeq
          .map(_.asInstanceOf[java.nio.file.Path])
        (files.map(java.nio.file.Files.size).sum, files.size.toLong)
      } finally s.close()
    }
  }

  /** Data-file bytes and count only (Spark's `.crc` and `_SUCCESS` aside). */
  def parquetSize(path: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(path)
    val s = java.nio.file.Files.walk(p)
    try {
      val files = s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(f => f.toString.endsWith(".parquet") && java.nio.file.Files.isRegularFile(f))
      (files.map(java.nio.file.Files.size).sum, files.size.toLong)
    } finally s.close()
  }
}
