package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.{Kernel, MergeBatchFold, MinhashSigs}
import graft.operators.{Dedup, Similarity, TokenizerTrain}

/** The curation probe: its op is one curation pass over a generated
  * corpus — `Dedup.minhashNearDups` → `Dedup.duplicateClusters`,
  * `Similarity.semanticClusters` over the generated vectors, and
  * `TokenizerTrain.trainBpeMergesBatched` over
  * `TokenizerTrain.wordCounts`. Iterative driver loops over many small
  * jobs and shuffles. The traced `embed_bulk` run measures one pass for
  * the curation layers (see [[EmbedBulk.probes]]).
  *
  * Inputs: `corpus/` (id, text) with planted exact-duplicate groups and
  * near-duplicate chains, `vecs/` (id, vec) with planted neighbour
  * groups, `groups/` (group, kind, id) naming what was planted, and
  * `meta/` (threshold, knn, merges). */
final class CurateCorpus(ctx: Ctx) {
  import ctx.spark

  private var corpus: DataFrame = _
  private var vecs: DataFrame = _
  private var nDocs = 0L
  private lazy val meta: Row = spark.read.parquet(s"${ctx.input}/meta").collect()(0)
  private lazy val threshold = meta.getAs[Double]("threshold")
  private lazy val knn = meta.getAs[Int]("knn")
  private lazy val nMerges = meta.getAs[Int]("merges")

  /** Outputs of the last pass, checked after the loop. */
  private var dupLabels: Map[Long, Long] = Map.empty
  private var semLabels: Map[Long, Long] = Map.empty
  private var wordCounts: DataFrame = _
  private var merges: Seq[(Long, String, String, Long)] = Nil

  def setup(): Unit = {
    corpus = spark.read.parquet(s"${ctx.input}/corpus")
    vecs = spark.read.parquet(s"${ctx.input}/vecs")
    nDocs = corpus.count()
  }

  def warmUp(): Unit = pass()

  private def pass(): Unit = {
    val pairs = ctx.span("operators.Dedup.minhashNearDups")(
      Dedup.minhashNearDups(corpus, "id", "text", threshold))
    dupLabels = ctx.span("operators.Dedup.duplicateClusters")(
      Dedup.duplicateClusters(pairs).collect()).map(r => r.getLong(0) -> r.getLong(1)).toMap
    semLabels = ctx.span("operators.Similarity.semanticClusters")(
      Similarity.semanticClusters(vecs, "id", "vec", knn).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    wordCounts = ctx.span("operators.TokenizerTrain.wordCounts")(
      TokenizerTrain.wordCounts(corpus, "text").localCheckpoint(true))
    merges = ctx.span("operators.TokenizerTrain.trainBpeMergesBatched")(
      TokenizerTrain.trainBpeMergesBatched(wordCounts, nMerges))._1
  }

  def op(): Op = Op("curate", 3L * nDocs, () => pass())

  private lazy val groups: Seq[(Long, String, Long)] =
    spark.read.parquet(s"${ctx.input}/groups").collect()
      .map(r => (r.getAs[Long]("group"), r.getAs[String]("kind"), r.getAs[Long]("id"))).toSeq

  private def together(labels: Map[Long, Long], ids: Seq[Long]): Boolean =
    ids.map(labels.get).distinct match {
      case Seq(Some(_)) => true
      case _ => false
    }

  def verify(ops: Seq[OpRec]): Seq[Check] = {
    val all = ops.map(_.id)
    val byGroup = groups.groupBy(g => (g._2, g._1)).map { case (k, v) => k -> v.map(_._3).sorted }
    val exactSplit = byGroup.collect { case (("exact", g), ids) if !together(dupLabels, ids) => g }
    val neighbourSplit = byGroup.collect { case (("neighbour", g), ids) if !together(semLabels, ids) => g }
    val sequential = TokenizerTrain.trainBpeMerges(wordCounts, nMerges)
    Seq(
      Check("every planted exact-duplicate group is one cluster", exactSplit.isEmpty,
        s"${exactSplit.size} split: ${exactSplit.take(5).mkString(",")}", all),
      Check("every planted neighbour group is one semantic cluster", neighbourSplit.isEmpty,
        s"${neighbourSplit.size} split: ${neighbourSplit.take(5).mkString(",")}", all),
      Check("batched BPE merges equal the sequential trainer", merges == sequential,
        s"batched=${merges.size} sequential=${sequential.size} first diff at " +
          merges.zip(sequential).indexWhere { case (a, b) => a != b }, all))
  }

  def layerMetrics(t: Tracer, ops: Seq[OpRec]): Map[String, Double] =
    Seq("operators.Dedup.minhashNearDups", "operators.Dedup.duplicateClusters",
      "operators.Similarity.semanticClusters", "operators.TokenizerTrain.wordCounts",
      "operators.TokenizerTrain.trainBpeMergesBatched")
      .map(c => s"${c}_ms" -> Layers.callMs(t, ops, c)).toMap

  def kernels(k: Kernels): Map[String, Double] = {
    val perms = (0 until 16).map(Dedup.minhashPerm)
    val shingles = corpus.select(Dedup.shingles(Kernel.tokenIds(col("text")), 3).as("sh"))
    val syms = wordCounts.select(filter(split(col("word"), ""), s => s =!= "").as("syms"))
    Map(
      "functions.MinhashSigs.rows_per_s" -> k.exprRowsPerS(shingles,
        MinhashSigs(k.col("sh"), perms.map(_._1).toArray, perms.map(_._2).toArray)),
      "functions.MergeBatchFold.rows_per_s" -> k.exprRowsPerS(syms,
        MergeBatchFold(k.col("syms"), merges.map(m => (m._2, m._3)))))
  }
}
