package lakebench

import graft.operators.{Dedup, Search, Similarity, TextAnalysis}
import graft.pipeline.CurationPipeline
import graft.sources.ManifestTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The LLM-data-pipeline operators over the sf0.1 documents (5000, about
  * one in ten in a near-duplicate pair) and embeddings (2000 unit 64-d
  * vectors), stored as graft tables: the curation pipeline, MinHash-LSH
  * dedup with clustering, IVF vector search, BPE training and BM25. The seed holds 64 embeddings out of the corpus as
  * ANN queries and picks the BM25 terms from the documents' words.
  * Dedup is checked against exact Jaccard clustering, the ANN answers by
  * their recall@10 against brute force, every other operator against its
  * warm-up answer.
  */
final class LlmCurate(ctx: Ctx) extends Workload {
  import ctx.{spark, tr}

  private val nQueries = 64
  private val k = 10
  // The sf0.1 embeddings are spread almost uniformly (a vector's ten nearest
  // share its label no more often than chance), so IVF recall follows the
  // share of lists probed: over seeds 1-20 a NumPy replica of this search
  // gives a mean recall@10 of 0.73 (sd 0.02) with 16 of the 40 lists probed
  // and 0.48 with 8. An answer below the floor counts as wrong.
  private val nProbe = 16
  private val RecallFloor = 0.6
  private val lake = s"${ctx.work}/lake"
  private val out = s"${ctx.work}/curated"
  private val docsPath = s"$lake/documents"
  private val embPath = s"$lake/embeddings"
  // the pre-tokenizer of graft's q_bpe_train: letters, digits, punctuation
  // and whitespace runs
  private val PreTokenRe =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n\\f\\r\\x0B]+|[ \\t\\n\\f\\r\\x0B]+"
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private var exactTopK = Map.empty[Long, Set[Long]]
  private var queryIds = Seq.empty[Long]
  private var words = Seq.empty[String]

  private def fixture(t: String) = Inputs.table(spark, ctx.data, t)

  def setup(): Unit = {
    val ids = fixture("embeddings").select("vec_id").collect().map(_.getLong(0)).sorted
    queryIds = ctx.rnd().shuffle(ids.toSeq).take(nQueries)
    ManifestTable.overwrite(spark, docsPath, fixture("documents"))
    ManifestTable.overwrite(spark, embPath,
      fixture("embeddings").filter(!col("vec_id").isin(queryIds: _*)))
    words = fixture("documents").select(explode(split(col("text"), " "))).distinct()
      .collect().map(_.getString(0)).filter(_.nonEmpty).sorted.toSeq
    exactTopK = Similarity.bruteForceTopK(ManifestTable.read(spark, embPath), queries, k)
      .collect().groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("n_id")).toSet }
  }

  override def beforePass(pass: Int): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))

  private def queries: DataFrame = fixture("embeddings").filter(col("vec_id").isin(queryIds: _*))
  private def docs(): DataFrame = tr.span("sources.read")(ManifestTable.read(spark, docsPath))
  private def emb(): DataFrame = tr.span("sources.read")(ManifestTable.read(spark, embPath))

  /** An operator call over the graft tables at `reads`, timed as `layer`;
    * `traced` runs untimed after it in traced passes. */
  private def op(name: String, layer: String, reads: Seq[String],
                 reference: Option[() => Answer] = None, traced: () => Unit = () => ())(
                 body: => Answer): Op =
    Op(name, Kind.Compute, () => tr.span(layer)(body), reference,
      probe = Some(() => () => { TableStats.countFiles(tr, spark, reads); traced() }))

  /** An ANN search, judged by its mean recall@10 against brute force. */
  private def ann(name: String, search: (DataFrame, DataFrame) => DataFrame): Op = {
    val q = queries
    op(name, "operators.ann", Seq(embPath))(ctx.answer(search(emb(), q).select("q_id", "n_id")))
      .copy(check = Some { a =>
        val got = a.rows.groupBy(_(0).asInstanceOf[Long]).map { case (qid, rs) =>
          qid -> rs.map(_(1).asInstanceOf[Long]).toSet }
        val recall = exactTopK.toSeq.map { case (qid, want) =>
          (got.getOrElse(qid, Set.empty) intersect want).size.toDouble / want.size
        }.sum / exactTopK.size
        recalls += recall
        if (recall >= RecallFloor) None
        else Some(f"recall@$k $recall%.3f is below $RecallFloor")
      })
  }

  def script(pass: Int): Seq[Op] = {
    val r = ctx.rnd()
    val terms = r.shuffle(words).take(3)
    Seq(
      op("curate", "pipeline.curate", Seq(docsPath)) {
        val d = docs().select("doc_id", "lang", "text")
        val counts = CurationPipeline.run(spark, d, d.filter(col("doc_id") % 17 === 0),
          out, nShards = ctx.cores)
        Answer(counts.toVector.map(c => Vector[Any](c.stage, c.rows)))
      },
      op("dedup", "operators.dedup", Seq(docsPath),
        reference = Some(() => Answer(Dedup.clusters(Dedup.jaccardPairs(fixture("documents"),
          "doc_id", "text", n = 3, threshold = 0.7)).collect())),
        traced = () => tr.add("operators.dedup.pairs", Dedup.minhashLshPairs(
          ManifestTable.read(spark, docsPath), "doc_id", "text", n = 3, threshold = 0.7).count())) {
        ctx.answer(Dedup.clusters(
          Dedup.minhashLshPairs(docs(), "doc_id", "text", n = 3, threshold = 0.7)))
      },
      ann("ann_ivf", Similarity.ivfTopK(_, _, k, everyNthCentroid = 50, nProbe = nProbe)),
      op("bpe_train", "operators.text", Seq(docsPath)) {
        ctx.answer(TextAnalysis.bpeTrain(spark, docs(), "text", PreTokenRe, 3))
      },
      op("bm25", "operators.search", Seq(docsPath)) { ctx.answer(Search.bm25(docs(), terms, 10)) })
  }

  def inputSizes: Seq[(String, Long, Long, Long)] =
    Inputs.sizes(spark, ctx.data, Seq("documents", "embeddings"))

  def storageAmp(): Double = TableStats.storageAmp(spark, Seq(docsPath, embPath))

  override def extraMetrics: Seq[Metric] =
    if (recalls.isEmpty) Nil
    else Seq(Metric("ann_recall_at_10", recalls.sum / recalls.size, "ratio", recalls.size))
}
