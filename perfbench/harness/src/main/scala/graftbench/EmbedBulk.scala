package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Graft
import graft.functions.{BpeIds, K, Kernel, PooledSums, WordPieceIds}

/** `embed_bulk`: each op is one bulk pass over the generated corpus —
  * one job per pipeline (`Graft.textEmbedding().embed`,
  * `Graft.sparseTextEmbedding`, `Graft.textEmbeddingLearned`), each
  * written to the noop sink. Narrow per-row kernels, no shuffle, no
  * index or stream.
  *
  * Inputs: `corpus/` (doc_id, text) and `sample/`, a seeded subset the
  * oracle check compares against DuckDB. */
final class EmbedBulk(ctx: Ctx) extends Workload {
  import ctx.spark

  private var corpus: DataFrame = _
  private var nDocs = 0L
  private var modelLoadMs = 0.0

  /** Traced runs only: the curation layers, measured by one probe pass
    * over the corpus under `curate/` (see [[CurateCorpus]]). */
  private lazy val curation: Option[CurateCorpus] =
    if (ctx.tracer.enabled) Some(new CurateCorpus(ctx.copy(input = s"${ctx.input}/curate")))
    else None

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def dense(df: DataFrame) = Graft.textEmbedding().embed(df, "text", "emb")
  private def sparse(df: DataFrame) = Graft.sparseTextEmbedding(df, "doc_id", "text")
  private def learned(df: DataFrame) = Graft.textEmbeddingLearned(df, "doc_id", "text")

  override def setup(rep: Int): Unit = {
    corpus = spark.read.parquet(s"${ctx.input}/corpus")
    nDocs = corpus.count()
  }

  override def warmUp(): Unit = {
    // the learned model's banks and the tokenizer fixtures load once per
    // process
    val t0 = System.nanoTime()
    graft.backend.DecoderLayerBackend.fullModel()
    graft.model.Bpe.fixture
    graft.model.WordPiece.fixture
    modelLoadMs = (System.nanoTime() - t0) / 1e6
    // one full pass over the corpus the loop will embed, for the JIT
    noop(dense(corpus)); noop(sparse(corpus)); noop(learned(corpus))
  }

  override def op(i: Int): Op = Op("embed", 3L * nDocs, () => {
    ctx.span("operators.TextEmbedder.embed")(noop(dense(corpus)))
    ctx.span("operators.SparseEmbedder.sparseStruct")(noop(sparse(corpus)))
    ctx.span("Graft.textEmbeddingLearned")(noop(learned(corpus)))
  })

  override def probes(): Seq[Op] = curation.toSeq.map { c =>
    c.setup()
    c.warmUp()
    c.op()
  }

  /** Row counts and unit norms over the whole corpus, then the sample's
    * outputs dumped in the oracle queries' flat shape for `run.py`. */
  override def verify(ops: Seq[OpRec]): Seq[Check] = {
    val probeChecks = curation.toSeq.flatMap(_.verify(ops.filter(_.probe)))
    val all = ops.filterNot(_.probe).map(_.id)
    def norms(df: DataFrame, c: String) = df
      .select(sqrt(aggregate(col(c), lit(0.0), (a, x) => a + x.cast("double") * x.cast("double"))).as("n"))
      .agg(count(lit(1)), sum(when(abs(col("n") - 1.0) > 1e-6, 1).otherwise(0)))
      .collect()(0)
    val d = norms(dense(corpus), "emb")
    val l = norms(learned(corpus), "embedding")
    val s = sparse(corpus).agg(count(lit(1)),
      sum(when(array_sort(col("sparse.indices")) =!= col("sparse.indices") ||
        !forall(col("sparse.values"), v => v > 0), 1).otherwise(0))).collect()(0)
    val checks = Seq(
      Check("dense rows and unit norm", d.getLong(0) == nDocs && d.getLong(1) == 0L,
        s"rows=${d.getLong(0)}/$nDocs off_norm=${d.getLong(1)}", all),
      Check("learned rows and unit norm", l.getLong(0) == nDocs && l.getLong(1) == 0L,
        s"rows=${l.getLong(0)}/$nDocs off_norm=${l.getLong(1)}", all),
      Check("sparse indices sorted, weights positive", s.getLong(1) == 0L,
        s"bad=${s.getLong(1)}", all))
    val sample = spark.read.parquet(s"${ctx.input}/sample")
    val out = s"${ctx.work}/check"
    dense(sample).select(col("doc_id"), posexplode(col("emb")).as(Seq("dim", "val")))
      .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
      .write.mode("overwrite").parquet(s"$out/q01_dense_embed")
    sparse(sample).select(col("doc_id"), posexplode(arrays_zip(
        col("sparse.indices").as("token_id"), col("sparse.values").as("weight"))).as(Seq("idx", "z")))
      .select(col("doc_id"), col("idx").cast("long").as("idx"),
        col("z.token_id").as("token_id"), col("z.weight").as("weight"))
      .write.mode("overwrite").parquet(s"$out/q05_sparse_struct")
    learned(sample).select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
      .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
      .write.mode("overwrite").parquet(s"$out/q98_bpe_full_model")
    val oracle = graft.oracle.OracleSql.all
    val sql = Seq("q01_dense_embed", "q05_sparse_struct", "q98_bpe_full_model")
      .map(q => q -> oracle(q)).toMap
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.write(sql).getBytes("UTF-8"))
    // a document with no positive weight has no sparse row; run.py checks
    // this count against the oracle query over the whole corpus
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/sparse_rows.txt"),
      s.getLong(0).toString.getBytes("UTF-8"))
    checks ++ probeChecks
  }

  /** The oracle comparison happens in `run.py`, which sets the ratio. */
  override def quality(): Double = Double.NaN

  override def layerMetrics(t: Tracer, ops: Seq[OpRec]): Map[String, Double] =
    curation.map(_.layerMetrics(t, ops)).getOrElse(Map.empty) ++ Map(
    "model.load_ms" -> modelLoadMs,
    "operators.TextEmbedder.embed_ms" -> Layers.callMs(t, ops, "operators.TextEmbedder.embed"),
    "operators.SparseEmbedder.sparseStruct_ms" ->
      Layers.callMs(t, ops, "operators.SparseEmbedder.sparseStruct"),
    "Graft.textEmbeddingLearned_ms" -> Layers.callMs(t, ops, "Graft.textEmbeddingLearned"))

  override def kernels(k: Kernels): Map[String, Double] = {
    val text = corpus.select(col("text"))
    val tids = corpus.select(Kernel.tokenIds(col("text")).as("tids"))
    val bpe = corpus.select(col("doc_id"),
      slice(k.column(BpeIds(k.col("text"), graft.model.Bpe.fixture)), 1,
        graft.oracle.OracleSql.q95MaxLen).as("tids"))
    curation.map(_.kernels(k)).getOrElse(Map.empty) ++ Map(
      "functions.WordPieceIds.rows_per_s" ->
        k.exprRowsPerS(text, WordPieceIds(k.col("text"), graft.model.WordPiece.fixture)),
      "functions.BpeIds.rows_per_s" ->
        k.exprRowsPerS(text, BpeIds(k.col("text"), graft.model.Bpe.fixture)),
      "functions.PooledSums.rows_per_s" -> k.exprRowsPerS(tids, PooledSums(k.col("tids"), K.Dim)),
      "backend.BackendEmbedder.rows_per_s" -> k.rowsPerS(bpe)(df =>
        graft.backend.BackendEmbedder.embed(df, "doc_id", "tids",
          graft.backend.DecoderLayerBackend.fullModel(), minTokens = 1)))
  }
}
