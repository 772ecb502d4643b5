package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.{DedupIndex, FullText, FullTextIndex, SidecarIO, SketchStore, VectorIndex}

/** The index serving path without metadata jobs: every index table's
  * footer schema equals Spark's inferred one, a hybrid search over a
  * local query batch plans without launching a job, and the driver-side
  * query preparation and BM25 totals give the same rows on degenerate
  * inputs as the in-plan forms did. */
class ServingPathSpec extends AnyFunSuite with SparkSessionTestWrapper {

  // a seeded corpus built in the session: 500 rows of 32-dim float
  // vectors in [-1, 1] and 9-38-word texts over a 60-word vocabulary
  private lazy val e = spark.range(500).select(col("id").as("vec_id"),
    transform(sequence(lit(0), lit(31)), j =>
      ((pmod(hash(col("id"), j), lit(2001)) - lit(1000)).cast("double") / lit(1000.0))
        .cast("float")).as("embedding"))
  private lazy val d = {
    val words = array((0 until 60).map(i => lit(s"word$i")): _*)
    spark.range(500).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), pmod(col("id"), lit(30)) + lit(8)), j =>
        element_at(words, (pmod(hash(col("id"), j, lit(7)), lit(60)) + lit(1)).cast("int"))))
        .as("text"))
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A query batch as a serving caller builds it: driver rows in a local
    * relation — (qid, qvec, qtext) from the first `n` corpus rows. */
  private def localQueries(n: Int, nullVec: Boolean = false,
                           nullText: Boolean = false): DataFrame = {
    val vecs = e.filter(col("vec_id") < n).orderBy("vec_id").collect()
    val texts = d.filter(col("doc_id") < n).orderBy("doc_id").collect()
    val rows = vecs.zip(texts).map { case (v, t) =>
      val q = v.getLong(0)
      Row(q, if (nullVec && q == 0L) null else v.getSeq[Float](1),
        if (nullText && q == 0L) null else t.getString(1))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType.fromDDL(
        "qid BIGINT, qvec ARRAY<FLOAT>, qtext STRING"))
  }

  private def vecIndex(corpus: DataFrame = e, nCells: Int = 16): String = {
    val p = tmp("graft_serve_vec")
    VectorIndex.writeIvfPq(corpus, "vec_id", "embedding", nCells, 8, 16, p,
      storeVectors = true)
    p
  }

  private def textIndex(): String = {
    val p = tmp("graft_serve_bm25")
    FullTextIndex.write(d, "doc_id", "text", p)
    p
  }

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  private def assertParity(dir: String): Unit =
    assert(SidecarIO.footerSchema(spark, dir).contains(spark.read.parquet(dir).schema), dir)

  test("footer schema == inferred schema for every VectorIndex table, float and double corpora") {
    import spark.implicits._
    val floats = vecIndex()
    val doubles = vecIndex(e.select(col("vec_id"), col("embedding").cast("array<double>")))
    VectorIndex.delete(spark, floats, Seq(3L, 4L).toDF("vec_id"), "vec_id", autoCompact = false)
    Seq(s"$floats/codes", s"$floats/vecs", s"$floats/tombstones",
      s"$doubles/vecs").foreach(assertParity)
    val vecType = (p: String) => SidecarIO.footerSchema(spark, s"$p/vecs").get("vec").dataType
    assert(vecType(floats).simpleString == "array<float>")
    assert(vecType(doubles).simpleString == "array<double>")
    assert(SidecarIO.footerSchema(spark, s"$floats/codes").get("cell").dataType.simpleString == "int")
  }

  test("footer schema == inferred schema for every BM25 table") {
    import spark.implicits._
    val p = textIndex()
    FullTextIndex.appendBatch(spark, d.filter(lit(false)), "doc_id", "text", p)
    FullTextIndex.removeDocs(spark, Seq(1L, 2L).toDF("doc_id"), "doc_id", p)
    Seq("postings", "docs", "df", "meta", "tombstones").foreach(t => assertParity(s"$p/$t"))
  }

  test("footer schema == inferred schema for the sketch store's cells table") {
    val cms = tmp("graft_serve_cms")
    SketchStore.writeCms(d.filter(col("doc_id") < 250), "text", 3, 16, cms)
    SketchStore.appendCms(d.filter(col("doc_id") >= 250), "text", cms)
    val hll = tmp("graft_serve_hll")
    val sh = SketchStore.shingleRows(d.withColumn("g", col("doc_id") % 3), "g", "text", n = 3)
    SketchStore.writeHll(sh, "g", "shingle", p = 6, path = hll)
    Seq(s"$cms/cells", s"$hll/cells").foreach(assertParity)
    // a streamed batch label is not an integral partition value: the
    // read falls back to inference, and the estimates read the same
    val before = rows(SketchStore.cmsGrid(spark, cms))
    SketchStore.appendCmsBatch(d.filter(lit(false)), "text", cms,
      SketchStore.streamLabel("spec", 0L))
    assert(SidecarIO.footerSchema(spark, s"$cms/cells").isEmpty)
    assert(rows(SketchStore.cmsGrid(spark, cms)) == before)
  }

  test("no footer schema falls back to inference: empty table, driver-written sidecar") {
    val empty = tmp("graft_serve_empty")
    assert(SidecarIO.footerSchema(spark, empty).isEmpty)
    assert(SidecarIO.footerSchema(spark, s"$empty/missing").isEmpty)
    val inferred = intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(empty))
    val fallback = intercept[org.apache.spark.sql.AnalysisException](SidecarIO.readTable(spark, empty))
    assert(fallback.getCondition == inferred.getCondition)
    // parquet-mr sidecars carry no Spark schema key
    val p = textIndex()
    assert(SidecarIO.footerSchema(spark, s"$p/conf").isEmpty)
    assert(SidecarIO.readTable(spark, s"$p/conf").schema == spark.read.parquet(s"$p/conf").schema)
  }

  /** Jobs the body launches, counted by a listener. Listener events
    * arrive in order, so once a marker job's start has been seen every
    * job the body started has been counted. */
  private def jobsLaunchedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = s"graft-job-budget-${System.nanoTime()}"
    val counted = new java.util.concurrent.atomic.AtomicInteger()
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit =
        if (Option(ev.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          seen.countDown()
        else if (seen.getCount > 0) counted.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never seen")
      counted.get
    } finally sc.removeSparkListener(listener)
  }

  test("job budget: load, searchRescored, searchTopK and rrfFuse plan a local batch with zero jobs") {
    import spark.implicits._
    val vp = vecIndex()
    val fp = textIndex()
    // tombstones on both sides, so the masks' reads are in the budget too
    VectorIndex.delete(spark, vp, Seq(5L).toDF("vec_id"), "vec_id", autoCompact = false)
    FullTextIndex.removeDocs(spark, Seq(5L).toDF("doc_id"), "doc_id", fp)
    val q = localQueries(4)
    var fused: DataFrame = null
    val jobs = jobsLaunchedBy {
      val idx = VectorIndex.load(spark, vp)
      val vec = VectorIndex.searchRescored(spark, q, "qid", "qvec", idx, k = 5)
      val lex = FullTextIndex.searchTopK(spark, q, "qid", "qtext", fp, 5)
      fused = FullText.rrfFuse(vec, lex.withColumnRenamed("doc_id", "id"), "qid", "id", 5)
    }
    assert(jobs == 0, s"$jobs jobs launched before the action")
    val got = fused.select("qid", "id").collect()
    assert(got.length == 4 * 5)
    assert(!got.exists(_.getLong(1) == 5L))
  }

  test("job budget: DedupIndex reads catalog tables without a schema job") {
    DedupIndex.writeMinhash(d.filter(col("doc_id") < 400), "doc_id", "text",
      table = "graft_serve_didx")
    val batch = d.filter(col("doc_id") >= 400)
    var found: DataFrame = null
    val jobs = jobsLaunchedBy {
      found = DedupIndex.nearDupsAgainst(spark, batch, "doc_id", "text",
        "graft_serve_didx", threshold = 0.3)
    }
    assert(jobs == 0, s"$jobs jobs launched before the action")
    assert(found.columns.toSeq == Seq("doc_id", "corpus_id", "est_jaccard"))
  }

  test("empty query batch: every leg returns no rows") {
    val vp = vecIndex()
    val fp = textIndex()
    val q = localQueries(0)
    val vec = VectorIndex.searchRescored(spark, q, "qid", "qvec", VectorIndex.load(spark, vp), k = 5)
    val lex = FullTextIndex.searchTopK(spark, q, "qid", "qtext", fp, 5)
    assert(vec.collect().isEmpty)
    assert(lex.collect().isEmpty)
    assert(FullText.rrfFuse(vec, lex.withColumnRenamed("doc_id", "id"), "qid", "id", 5)
      .collect().isEmpty)
  }

  test("a null qvec or qtext row gets no rows; the batch's other rows are unchanged") {
    val vp = vecIndex()
    val fp = textIndex()
    val idx = VectorIndex.load(spark, vp)
    val vecOf = (q: DataFrame) => rows(VectorIndex.searchRescored(spark, q, "qid", "qvec", idx, k = 5))
    val lexOf = (q: DataFrame) => rows(FullTextIndex.searchTopK(spark, q, "qid", "qtext", fp, 5))
    val vecFull = vecOf(localQueries(4))
    val lexFull = lexOf(localQueries(4))
    val vecNull = vecOf(localQueries(4, nullVec = true))
    val lexNull = lexOf(localQueries(4, nullText = true))
    assert(vecNull.nonEmpty && lexNull.nonEmpty)
    assert(vecNull == vecFull.filter(_.head != 0L))
    assert(lexNull == lexFull.filter(_.head != 0L))
  }

  test("k larger than the live rows returns every live row once") {
    import spark.implicits._
    val small = e.filter(col("vec_id") < 24)
    val vp = vecIndex(small, nCells = 4)
    VectorIndex.delete(spark, vp, Seq(1L, 2L, 3L).toDF("vec_id"), "vec_id", autoCompact = false)
    val live = (0L until 24L).filterNot(Set(1L, 2L, 3L)).toSet
    val vec = VectorIndex.searchRescored(spark, localQueries(2), "qid", "qvec",
        VectorIndex.load(spark, vp), nProbe = 4, k = 100)
      .collect().groupBy(_.getLong(0))
    assert(vec.keySet == Set(0L, 1L))
    vec.values.foreach { rs =>
      assert(rs.map(_.getLong(1)).toSet == live && rs.length == live.size)
      assert(rs.map(_.getInt(2)).sorted.toSeq == (1 to live.size))
    }
    val fp = textIndex()
    FullTextIndex.removeDocs(spark, Seq(1L, 2L, 3L).toDF("doc_id"), "doc_id", fp)
    val q = localQueries(4).select(col("qid"), col("qtext"))
    val lex = rows(FullTextIndex.searchTopK(spark, q, "qid", "qtext", fp, 100000))
    val brute = rows(FullText.bm25Search(q, "qid", "qtext",
      d.filter(!col("doc_id").isin(1L, 2L, 3L)), "doc_id", "text", 100000)
      .select(col("qid"), col("doc_id"), col("rank"), col("score")))
    assert(lex.nonEmpty && lex == brute)
  }

  test("a search after an empty-batch append (null total_len partial) is unchanged") {
    val fp = textIndex()
    val q = localQueries(4)
    val before = rows(FullTextIndex.searchTopK(spark, q, "qid", "qtext", fp, 10))
    FullTextIndex.appendBatch(spark, d.filter(lit(false)), "doc_id", "text", fp)
    assert(spark.read.parquet(s"$fp/meta").filter(col("total_len").isNull).count() == 1L)
    assert(rows(FullTextIndex.searchTopK(spark, q, "qid", "qtext", fp, 10)) == before)
    assert(before.nonEmpty)
  }
}
