package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.functions.{AdcDist, CodebookBank, PqEncode, TopKAgg}
import graft.operators.{FullText, FullTextIndex, VectorIndex}
import graft.streaming.StreamingOps

/** `index_serve`: one client in a closed loop against a persisted IVF-PQ
  * index (with stored vectors) and a BM25 index, both built in set-up.
  * The seeded schedule mixes
  *  - `search`: one hybrid request for a small query batch —
  *    `VectorIndex.load` once after each write, `searchRescored`,
  *    `FullTextIndex.searchTopK`, `FullText.rrfFuse`, collect;
  *  - `ingest`: one micro-batch file lands in the input directory of two
  *    long-running streams (`ivfPqUpsertSink`, `bm25UpsertSink`); the op
  *    ends when `processAllAvailable` returns on both;
  *  - `delete`: one `VectorIndex.delete` (auto-compact policy on) and
  *    one `FullTextIndex.removeDocs`.
  *
  * The benchmark keeps its own copy of the live rows to check every
  * result and to compute exact recall. */
final class IndexServe(ctx: Ctx) extends Workload {
  import ctx.spark

  private val K = 10
  private val RecallFloor = 0.25
  private val VecSchema = StructType(Seq(StructField("id", LongType), StructField("text", StringType),
    StructField("vec", ArrayType(FloatType, containsNull = false))))
  // query columns must not collide with the index's (id, vec) rows
  private val QuerySchema = StructType(Seq(StructField("qid", LongType), StructField("qtext", StringType),
    StructField("qvec", ArrayType(FloatType, containsNull = false))))

  import IndexServe.Sched
  private lazy val schedule: IndexedSeq[Sched] = spark.read.parquet(s"${ctx.input}/schedule")
    .orderBy("seq").collect().toIndexedSeq
    .map(r => Sched(r.getAs[String]("kind"), r.getAs[Int]("arg"), r.getAs[scala.collection.Seq[Long]]("ids").toList))
  private lazy val meta: Row = spark.read.parquet(s"${ctx.input}/meta").collect()(0)
  private lazy val warmupOps: Int = meta.getAs[Int]("warmup_ops")
  private lazy val queryBatch: Int = meta.getAs[Int]("query_batch")
  override lazy val cycle: Int = meta.getAs[Int]("cycle")
  private lazy val queries: IndexedSeq[Row] =
    spark.read.parquet(s"${ctx.input}/queries").orderBy("qid").collect().toIndexedSeq

  // per set-up repetition state
  private var vecPath = ""
  private var ftPath = ""
  private var streamIn = ""
  private var streams: Seq[StreamingQuery] = Nil
  private var loaded: Option[VectorIndex.Loaded] = None
  private val live = mutable.HashMap.empty[Long, Array[Float]]

  // index file accounting (traced run only)
  private var lastListing: Map[String, Long] = Map.empty
  private var compactions = 0
  private var bytesWritten = 0L
  private var userBytes = 0L

  private def rowsOf(df: DataFrame): Array[Row] = df.collect()

  override def setup(rep: Int): Unit = {
    vecPath = ctx.repDir(rep, "vec_index")
    ftPath = ctx.repDir(rep, "bm25_index")
    streamIn = ctx.repDir(rep, "stream_in")
    Files.createDirectories(Paths.get(streamIn))
    live.clear(); loaded = None
    val base = spark.read.parquet(s"${ctx.input}/base")
    rowsOf(base.select("id", "vec")).foreach(r => live(r.getLong(0)) = r.getSeq[Float](1).toArray)
    ctx.span("operators.VectorIndex.writeIvfPq")(
      VectorIndex.writeIvfPq(base, "id", "vec", nCells = VectorIndex.nCellsFor(live.size.toLong),
        m = 8, nCentsPq = 16, path = vecPath, storeVectors = true))
    ctx.span("operators.FullTextIndex.write")(FullTextIndex.write(base, "id", "text", ftPath))
  }

  /** Starts both streams on the last repetition's indexes, then runs
    * untimed the schedule's first ops (one of each kind) and a few
    * read-only searches, so the JIT settles on the search path and the
    * loop starts with a loaded index, as it does after any search. */
  override def warmUp(): Unit = {
    val src = spark.readStream.schema(VecSchema).parquet(streamIn)
    streams = Seq(
      StreamingOps.ivfPqUpsertSink(src.select("id", "vec"), "id", "vec", vecPath)
        .queryName("ivfPqUpsertSink")
        .option("checkpointLocation", s"$vecPath/../ck_vec").start(),
      StreamingOps.bm25UpsertSink(src.select("id", "text"), "id", "text", ftPath)
        .queryName("bm25UpsertSink")
        .option("checkpointLocation", s"$vecPath/../ck_bm25").start())
    val warmOps = (0 until warmupOps).map(opAt) ++
      (0 until meta.getAs[Int]("warmup_searches")).map(j => searchOp(queries.size / queryBatch - 1 - j))
    warmOps.zipWithIndex.foreach { case (o, i) =>
      o.body()
      o.check().foreach(e => throw new IllegalStateException(s"warm-up op $i: $e"))
    }
    lastListing = indexListing()
  }

  override def close(): Unit = streams.foreach { q => q.stop(); q.awaitTermination(30000L) }

  override def op(i: Int): Op = opAt(i + warmupOps)
  override def maxOps: Int = schedule.size - warmupOps

  private def opAt(i: Int): Op = {
    val s = schedule(i)
    s.kind match {
      case "search" => searchOp(s.arg)
      case "ingest" => ingestOp(s.arg)
      case "delete" => deleteOp(s.ids)
    }
  }

  private def queryFrame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), QuerySchema)

  private def searchOp(q: Int): Op = {
    val rows = (0 until queryBatch).map(j => queries((q * queryBatch + j) % queries.size))
    var result: Array[Row] = Array.empty
    Op("search", rows.size.toLong, () => {
      if (loaded.isEmpty)
        loaded = Some(ctx.span("operators.VectorIndex.load")(VectorIndex.load(spark, vecPath)))
      val qdf = queryFrame(rows)
      val vec = ctx.span("operators.VectorIndex.searchRescored")(
        VectorIndex.searchRescored(spark, qdf, "qid", "qvec", loaded.get, k = K))
      val lex = ctx.span("operators.FullTextIndex.searchTopK")(
        FullTextIndex.searchTopK(spark, qdf, "qid", "qtext", ftPath, K))
      val fused = ctx.span("operators.FullText.rrfFuse")(
        FullText.rrfFuse(vec, lex.withColumnRenamed("doc_id", "id"), "qid", "id", K))
      result = ctx.span("collect")(fused.select("qid", "id").collect())
    }, () => {
      val byQ = result.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)) }
      val want = math.min(K, live.size)
      rows.map(_.getLong(0)).flatMap { qid =>
        val ids = byQ.getOrElse(qid, Array.empty[Long])
        if (ids.length < want) Some(s"query $qid: ${ids.length} rows, want $want")
        else if (ids.distinct.length != ids.length) Some(s"query $qid: duplicate ids")
        else ids.find(id => !live.contains(id)).map(id => s"query $qid: id $id is not live")
      }.headOption
    })
  }

  private def ingestOp(b: Int): Op = {
    val file = Paths.get(ctx.input, "ingest", f"batch-$b%05d.parquet")
    val batch = rowsOf(spark.read.parquet(file.toString).select("id", "vec"))
    Op("ingest", batch.length.toLong, () => {
      val tmp = Paths.get(streamIn, f".landing-$b%05d.parquet")
      Files.copy(file, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, Paths.get(streamIn, f"batch-$b%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      streams.foreach { q =>
        ctx.span(s"streaming.${q.name}.processAllAvailable")(q.processAllAvailable())
      }
    }, () => {
      loaded = None
      batch.foreach(r => live(r.getLong(0)) = r.getSeq[Float](1).toArray)
      afterWrite(Files.size(file))
      None
    })
  }

  private def deleteOp(ids: Seq[Long]): Op = Op("delete", ids.size.toLong, () => {
    import spark.implicits._
    val df = ids.toDF("id")
    ctx.span("operators.VectorIndex.delete")(VectorIndex.delete(spark, vecPath, df, "id"))
    ctx.span("operators.FullTextIndex.removeDocs")(FullTextIndex.removeDocs(spark, df, "id", ftPath))
  }, () => {
    loaded = None
    ids.foreach(live.remove)
    afterWrite(8L * ids.size)
    None
  })

  private def indexListing(): Map[String, Long] = Layers.listing(vecPath) ++ Layers.listing(ftPath)

  /** Listing-based accounting after a write op: files that disappeared
    * mean a compaction rewrote them; new or resized files are bytes the
    * write put on disk for `user` bytes of request. */
  private def afterWrite(user: Long): Unit = if (ctx.tracer.enabled) {
    val now = indexListing()
    val dataFile = (p: String) => p.endsWith(".parquet") && !p.contains("/_")
    if (lastListing.keys.exists(p => dataFile(p) && !now.contains(p))) compactions += 1
    bytesWritten += now.collect { case (p, n) if !lastListing.get(p).contains(n) => n }.sum
    userBytes += user
    lastListing = now
  }

  private def bruteForce(q: Array[Float]): Seq[Long] =
    live.iterator.map { case (id, v) =>
      var d = 0.0
      var i = 0
      while (i < v.length) { val x = v(i).toDouble - q(i).toDouble; d += x * x; i += 1 }
      (d, id)
    }.toSeq.sorted.take(K).map(_._2)

  private var recall = Double.NaN

  override def verify(ops: Seq[OpRec]): Seq[Check] = {
    val errs = ops.filter(_.error.nonEmpty)
    val searches = ops.filter(_.kind == "search").map(_.id)
    // recall sample: one batch of seeded queries against the final state
    val rq = spark.read.parquet(s"${ctx.input}/recall").orderBy("qid").collect()
    val idx = VectorIndex.load(spark, vecPath)
    val got = VectorIndex.searchRescored(spark, queryFrame(rq.toSeq), "qid", "qvec", idx, k = K)
      .select("qid", "id").collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val hits = rq.map(r => bruteForce(r.getSeq[Float](2).toArray)
      .count(got.getOrElse(r.getLong(0), Set.empty[Long]).contains)).sum
    recall = hits.toDouble / (rq.length * K)
    val leaked = got.values.flatten.filterNot(live.contains)
    Seq(
      Check("every op result checked", errs.isEmpty,
        errs.take(3).map(o => s"op ${o.id} ${o.kind}: ${o.error.get}").mkString("; ")),
      Check("vector leg returns only live ids", leaked.isEmpty, s"${leaked.size} not live", searches),
      // a floor that catches a broken search, not a grade: the grade is
      // the quality metric and its bound
      Check(s"recall@$K of the vector leg >= $RecallFloor", recall >= RecallFloor,
        f"recall=$recall%.4f", searches))
  }

  override def quality(): Double = recall

  override def layerMetrics(t: Tracer, ops: Seq[OpRec]): Map[String, Double] = {
    val calls = Seq("operators.VectorIndex.load", "operators.VectorIndex.searchRescored",
      "operators.FullTextIndex.searchTopK", "operators.FullText.rrfFuse",
      "operators.VectorIndex.delete", "operators.FullTextIndex.removeDocs",
      "operators.VectorIndex.writeIvfPq", "operators.FullTextIndex.write")
      .map(c => s"${c}_ms" -> Layers.callMs(t, ops, c))
    import scala.jdk.CollectionConverters._
    val progress = t.progress.asScala.toSeq.map(_.progress).filter(_.numInputRows > 0)
    val stream = streams.flatMap { q =>
      val sink = q.name
      val mine = progress.filter(_.id == q.id)
      def avg(k: String) =
        if (mine.isEmpty) 0.0
        else mine.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / mine.size
      val batchJobs = t.jobs.values.asScala.count(_.streamQuery == q.id.toString)
      Seq("latestOffset", "addBatch", "walCommit", "commitOffsets", "queryPlanning",
        "triggerExecution").map(k => s"streaming.$sink.${k}_ms" -> avg(k)) :+
        (s"streaming.$sink.jobs_per_batch" -> (if (mine.isEmpty) 0.0 else batchJobs.toDouble / mine.size))
    }
    val codes = Layers.listing(s"$vecPath/codes").keys.filter(_.endsWith(".parquet"))
    val cells = codes.map(p => Paths.get(p).getParent.toString).toSet
    val tombDir = Paths.get(vecPath, "tombstones")
    val pending = if (Files.exists(tombDir)) spark.read.parquet(tombDir.toString).distinct().count() else 0L
    val indexed = spark.read.parquet(s"$vecPath/codes").count()
    val onDisk = indexListing().values.sum
    (calls ++ stream ++ Seq(
      "index.files_per_cell" -> codes.size.toDouble / math.max(cells.size, 1),
      "index.tombstone_ratio" -> pending.toDouble / math.max(indexed, 1L),
      "index.compactions" -> compactions.toDouble,
      "index.bytes_written_per_user_byte" -> bytesWritten.toDouble / math.max(userBytes, 1L),
      "index.bytes_per_row" -> onDisk.toDouble / math.max(live.size, 1))).toMap
  }

  override def kernels(k: Kernels): Map[String, Double] = {
    val (_, books) = VectorIndex.loadQuantizers(spark, vecPath)
    val bank = CodebookBank.of(spark, books)
    val vecs = spark.read.parquet(s"${ctx.input}/base").select("id", "vec")
    val q = queries.head.getSeq[Float](2).toArray
    val codes = spark.read.parquet(s"$vecPath/codes").select(col("id"), col("codes"))
      .withColumn("q", typedLit(q))
    val scored = codes.select(col("id"), (col("id") % 8).as("qid"),
      (hash(col("id")).cast("double") / Int.MaxValue).as("score"))
    Map(
      "functions.PqEncode.rows_per_s" -> k.exprRowsPerS(vecs, PqEncode(k.col("vec"), bank)),
      "functions.AdcDist.rows_per_s" -> k.exprRowsPerS(codes, AdcDist(k.col("q"), k.col("codes"), bank)),
      "functions.TopKAgg.rows_per_s" -> k.rowsPerS(scored)(
        _.groupBy("qid").agg(TopKAgg.topK(col("score"), col("id"), K).as("top"))))
  }
}

object IndexServe {
  private final case class Sched(kind: String, arg: Int, ids: Seq[Long])
}
