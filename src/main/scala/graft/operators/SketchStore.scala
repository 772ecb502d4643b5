package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{K, Kernel}

/** Persisted, incrementally-growing sketches — the fixed-size-summary
  * twin of [[VectorIndex]] (ANN) and [[FullTextIndex]] (lexical). A
  * 100 TB pipeline keeps its corpus statistics ALIVE across ingest: each
  * day's batch folds into a persisted sketch without ever rescanning
  * history, and estimates always answer over everything ingested so far.
  * [[Sketch]] provides the in-plan sketches and their merge laws; this
  * module gives them the build-once/append-many disk lifecycle.
  *
  * Layout (one self-contained directory per store):
  *   - `<path>/conf` — construction params (commit marker, written LAST
  *     at build exactly like [[FullTextIndex]]'s: a half-built store
  *     refuses rather than serves).
  *   - `<path>/cells/batch=<n>/` — one partition dir per ingested batch
  *     holding that batch's partial grid (CMS: (row, bucket, cnt);
  *     HLL: (group, bucket, maxrho)). Estimates fold the partials at
  *     read — cell-wise SUM for CMS (counts are linear), per-(group,
  *     bucket) MAX for HLL — so a read is sketch-sized × batches, never
  *     corpus-sized, and there is nothing worth compacting: the
  *     partials ARE already the fixed-size summaries.
  *
  * Replay safety falls out of the layout, not a marker protocol: an
  * append targets its OWN `batch=<n>` partition and deletes it first,
  * so a redelivered micro-batch (foreachBatch is at-least-once)
  * overwrites its previous attempt instead of double-counting — for CMS
  * the linear sum sees each batch once; for HLL the max is idempotent
  * anyway (a genuinely duplicated HLL batch would change nothing — the
  * asymmetry between the two merge laws, made concrete). */
object SketchStore {

  private def hfs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def requireConf(spark: SparkSession, path: String): Unit =
    require(hfs(spark, path).exists(new Path(s"$path/conf")),
      s"SketchStore $path has no conf table — not a written store")

  /** Next batch index for the driver-side batch API. Streaming sinks
    * live in their own `batch=s_<streamId>_<n>` namespace (see
    * [[graft.streaming.StreamingOps.cmsIngestSink]]), so only plain
    * numeric labels participate in the driver-side counter — a store can
    * take driver appends and streamed ingest concurrently without either
    * writer overwriting the other's partitions. */
  private def nextBatch(spark: SparkSession, path: String): Long = {
    val cells = new Path(s"$path/cells")
    val fs = hfs(spark, path)
    if (!fs.exists(cells)) 0L
    else fs.listStatus(cells).map(_.getPath.getName)
      .filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch="))
      .filter(n => n.nonEmpty && n.length <= 18 && n.forall(_.isDigit))
      .map(_.toLong)
      .foldLeft(-1L)(math.max) + 1L
  }

  /** Partition label for a streaming sink's micro-batch: namespaced by
    * the caller's stream id so (a) it can never collide with the
    * driver-side numeric counter and (b) two streams targeting the same
    * store — or one stream restarted with a FRESH checkpoint under a new
    * id — never overwrite each other's landed partials. Callers must
    * keep `streamId` stable across restarts of the SAME checkpoint
    * (that is what makes replay-by-overwrite target the same logical
    * batch) and unique per checkpoint otherwise. */
  def streamLabel(streamId: String, batchId: Long): String = {
    require(streamId.nonEmpty && streamId.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_'),
      s"streamId must be a nonempty [A-Za-z0-9_-] token, got '$streamId'")
    s"s_${streamId}_$batchId"
  }

  private def writePartition(part: DataFrame, path: String, label: String): Unit = {
    val dir = s"$path/cells/batch=$label"
    // delete-then-write = replay-by-overwrite (see module doc)
    hfs(part.sparkSession, path).delete(new Path(dir), true)
    part.coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir)
  }

  // ------------------------------------------------------------- CMS

  /** Build a CMS store over `df`'s text: the corpus's fixed depth×width
    * grid lands as batch 0, conf commits the build. */
  def writeCms(df: DataFrame, textCol: String, depth: Int, width: Int,
               path: String, maxLength: Int = K.MaxLength): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    // a rebuild supersedes everything: clear the commit marker first,
    // then any prior batch partials
    hfs(spark, path).delete(new Path(s"$path/conf"), true)
    hfs(spark, path).delete(new Path(s"$path/cells"), true)
    writePartition(Sketch.cmsSketch(df, textCol, depth, width, maxLength),
      path, "0")
    // driver-side 1-row conf write (SidecarIO) — a coalesce(1) Spark
    // write paid a full job for three ints
    SidecarIO.writeGroups(spark.sparkContext.hadoopConfiguration,
      s"$path/conf", SidecarIO.schemaOf(
        """message conf { optional int32 depth; optional int32 width;
          |optional int32 max_length; }""".stripMargin),
      f => Seq(f.newGroup().append("depth", depth).append("width", width)
        .append("max_length", maxLength)))
  }

  /** Fold an ingest batch into the store: ONE narrow tokenize over just
    * the batch → its own partial grid partition. O(batch) + a
    * sketch-sized write, never a history rescan. */
  def appendCms(batch: DataFrame, textCol: String, path: String): Unit = {
    val spark = batch.sparkSession
    appendCmsBatch(batch, textCol, path, nextBatch(spark, path).toString)
  }

  /** Replay-safe body for a streaming sink: the partial grid goes to
    * `batch=<label>`, overwriting any crashed previous attempt. Sinks
    * pass [[streamLabel]] so their partitions live in a per-stream
    * namespace; the driver-side [[appendCms]] passes its counter. */
  def appendCmsBatch(batch: DataFrame, textCol: String, path: String,
                     batchLabel: String): Unit = {
    val spark = batch.sparkSession
    requireConf(spark, path)
    val c = cmsConf(spark, path)
    writePartition(
      Sketch.cmsSketch(batch, textCol, c._1, c._2, c._3), path, batchLabel)
  }

  private def cmsConf(spark: SparkSession, path: String): (Int, Int, Int) = {
    // driver-side sidecar read (SidecarIO): per-batch conf fetch was a
    // full Spark job for one row
    val r = SidecarIO.readGroups(
      spark.sparkContext.hadoopConfiguration, s"$path/conf").head
    (r.getInteger("depth", 0), r.getInteger("width", 0),
      r.getInteger("max_length", 0))
  }

  /** The store's current whole-history grid: cell-wise sum over every
    * batch partial — ≤ depth·width rows per batch in, ≤ depth·width out. */
  def cmsGrid(spark: SparkSession, path: String): DataFrame = {
    requireConf(spark, path)
    SidecarIO.readTable(spark, s"$path/cells")
      .groupBy("row", "bucket").agg(sum(col("cnt")).as("cnt"))
  }

  /** Point estimates of `candidates`' `token_id` column over everything
    * the store has ever ingested. */
  def cmsEstimates(spark: SparkSession, candidates: DataFrame,
                   path: String): DataFrame = {
    val c = cmsConf(spark, path)
    Sketch.cmsEstimatesFrom(cmsGrid(spark, path), candidates, c._1, c._2)
  }

  // ------------------------------------------------------------- HLL

  /** Build an HLL store over (`groupCol`, `valueCol` int64) rows:
    * per-group max-rank bucket tables land as batch 0. */
  def writeHll(df: DataFrame, groupCol: String, valueCol: String, p: Int,
               path: String): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    hfs(spark, path).delete(new Path(s"$path/conf"), true)
    hfs(spark, path).delete(new Path(s"$path/cells"), true)
    writePartition(
      Sketch.hllSketchTable(df, groupCol, valueCol, p)
        .withColumnRenamed(groupCol, "group"), path, "0")
    SidecarIO.writeGroups(spark.sparkContext.hadoopConfiguration,
      s"$path/conf", SidecarIO.schemaOf(
        """message conf { optional int32 p;
          |optional binary group_col (UTF8); }""".stripMargin),
      f => Seq(f.newGroup().append("p", p).append("group_col", groupCol)))
  }

  /** Fold an ingest batch in. Replay here is DOUBLY safe: the batch
    * overwrites its own partition AND the read-side max is idempotent. */
  def appendHll(batch: DataFrame, groupCol: String, valueCol: String,
                path: String): Unit =
    appendHllBatch(batch, groupCol, valueCol, path,
      nextBatch(batch.sparkSession, path).toString)

  /** Replay-safe body for a streaming sink. */
  def appendHllBatch(batch: DataFrame, groupCol: String, valueCol: String,
                     path: String, batchLabel: String): Unit = {
    val spark = batch.sparkSession
    requireConf(spark, path)
    val p = hllConf(spark, path)
    writePartition(
      Sketch.hllSketchTable(batch, groupCol, valueCol, p)
        .withColumnRenamed(groupCol, "group"), path, batchLabel)
  }

  private def hllConf(spark: SparkSession, path: String): Int =
    SidecarIO.readGroups(
      spark.sparkContext.hadoopConfiguration, s"$path/conf").head.getInteger("p", 0)

  /** Per-group distinct estimates over everything ingested so far:
    * per-(group, bucket) max across batch partials (idempotent — batch
    * overlap cannot inflate), then the estimator division. Output
    * (group, est). */
  def hllEstimates(spark: SparkSession, path: String): DataFrame = {
    requireConf(spark, path)
    val p = hllConf(spark, path)
    Sketch.hllEstimateFrom(
      SidecarIO.readTable(spark, s"$path/cells")
        .groupBy(col("group"), col("bucket")).agg(max(col("maxrho")).as("maxrho")),
      "group", p)
  }

  /** Convenience: the shingle stream [[Sketch.hllDistinctShingles]]
    * feeds its exact/estimate pair from — (group, shingle) rows ready
    * for [[writeHll]]/[[appendHll]]. */
  def shingleRows(df: DataFrame, groupCol: String, textCol: String, n: Int,
                  maxLength: Int = K.MaxLength): DataFrame =
    df.select(col(groupCol), Kernel.tokenIds(col(textCol), maxLength).as("__tids"))
      .filter(size(col("__tids")) >= n)
      .select(col(groupCol), explode(Dedup.shingles(col("__tids"), n)).as("shingle"))
}
