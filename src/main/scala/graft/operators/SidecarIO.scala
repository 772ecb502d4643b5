package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}

/** Driver-side parquet I/O for index metadata — guide §1.2 "per-task
  * work" at the driver: `spark.read.parquet(...).collect()` on a 16-row
  * sidecar pays a full job schedule + task launch (measured 110–410 ms
  * each in local[32]; the suite's index gates issue several per query
  * and the streaming sinks several per micro-batch), where reading the
  * same single part-file with parquet-mr on the driver is
  * ~milliseconds and byte-identical — the same decoder Spark's scan
  * uses underneath.
  *
  * Scope guard — three uses, none data-sized:
  *   - '''k-sized sidecars''' (IVF-PQ meta/centroids/books, BM25 conf):
  *     read and written whole on the driver ([[readGroups]],
  *     [[writeGroups]]); rows bounded by nCells/k/m.
  *   - '''BM25 meta partials''': one row per append or removal, summed
  *     on the driver through [[readGroups]] — O(appends + removals since
  *     the last `recapStats`), never corpus-sized.
  *   - '''data tables''' (codes, vecs, postings, docs, df, tombstones,
  *     sketch cells): only their SCHEMA comes from a footer
  *     ([[readTable]]: one part file's footer instead of Spark's
  *     schema-inference job); the scan itself stays in Spark, where
  *     pruning and parallelism matter. */
object SidecarIO {

  /** The footer key under which every Spark parquet write stores the
    * written frame's schema as JSON — the key Spark's own inference
    * reads first. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private def isDataFile(p: Path): Boolean =
    p.getName.startsWith("part-") && p.getName.endsWith(".parquet")

  /** Open one parquet file for a driver-side read, with read options
    * built over the session's own Hadoop configuration.
    * `ParquetFileReader.open(inputFile)` builds default options, which
    * construct and parse a fresh Hadoop `Configuration` on every call:
    * measured ~9 ms per file, against ~0.6 ms for open + row-group read
    * here — the whole cost of a footer or a 1-row sidecar read. */
  def open(p: Path, hconf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(p, hconf), HadoopReadOptions.builder(hconf).build())

  /** `spark.read.parquet(dir)` with the schema pinned from
    * [[footerSchema]]: the same relation minus the schema-inference job
    * Spark otherwise runs on every read (measured 52–64 ms each; a
    * search read three such tables per index). Falls back to plain
    * inference when no footer schema is available (no data file yet, or
    * a file without Spark's key), so an empty table fails exactly as it
    * always did. */
  def readTable(spark: SparkSession, dir: String): DataFrame =
    footerSchema(spark, dir).fold(spark.read.parquet(dir))(s => spark.read.schema(s).parquet(dir))

  /** The schema `spark.read.parquet(dir)` infers, from ONE part file's
    * footer read on the driver: the data columns from Spark's schema key
    * (so a vector column keeps the `array<float>` or `array<double>` the
    * caller's corpus wrote), nullable as every file-source read makes
    * them, then the partition column of a one-level `name=value` layout
    * (the index tables' `cell=N`) typed as inference types it: int when
    * every value fits, else long. None — fall back to inference — when
    * the directory has no data file, the footer lacks the key, a
    * partition value is not integral, or the session asks inference for
    * something one footer cannot give (schema merging, untyped partition
    * values). */
  def footerSchema(spark: SparkSession, dir: String): Option[StructType] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val d = new Path(dir)
    val fs = d.getFileSystem(hconf)
    def conf(k: String, default: String) = spark.conf.get(k, default).toBoolean
    if (conf("spark.sql.parquet.mergeSchema", "false") ||
        !conf("spark.sql.sources.partitionColumnTypeInference.enabled", "true") ||
        !fs.exists(d)) return None
    val entries = fs.listStatus(d)
    val partDirs = entries.filter(e => e.isDirectory && e.getPath.getName.contains("="))
      .map(_.getPath).sortBy(_.getName)
    val rootFiles = entries.filter(e => e.isFile && isDataFile(e.getPath))
      .map(_.getPath).sortBy(_.getName)
    val partCols: Option[Seq[StructField]] =
      if (partDirs.isEmpty) Some(Seq.empty)
      else {
        val kv = partDirs.map(_.getName.split("=", 2))
        val name = kv.head(0)
        if (rootFiles.nonEmpty || kv.exists(_(0) != name) ||
            kv.exists(_(1).toLongOption.isEmpty)) None
        else Some(Seq(StructField(name,
          if (kv.forall(_(1).toIntOption.isDefined)) IntegerType else LongType)))
      }
    partCols.flatMap { pcols =>
      val file =
        if (partDirs.isEmpty) rootFiles.headOption
        else partDirs.iterator.flatMap(p =>
          fs.listStatus(p).map(_.getPath).filter(isDataFile).sortBy(_.getName)).nextOption()
      file.flatMap { f =>
        val rdr = open(f, hconf)
        val json =
          try Option(rdr.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
          finally rdr.close()
        json.map(j => StructType(org.apache.spark.sql.graftbridge.Bridge.asNullable(
          DataType.fromJson(j).asInstanceOf[StructType]).fields ++ pcols))
      }
    }
  }

  /** Every record of the parquet table at `dir`, read on the driver.
    * Reads each `part-*.parquet` (sidecars are written coalesce(1), but
    * multi-part dirs read correctly — callers sort by key columns, so
    * file order cannot matter). */
  def readGroups(hconf: Configuration, dir: String): Seq[Group] = {
    val d = new Path(dir)
    val fs = d.getFileSystem(hconf)
    val parts = fs.listStatus(d).map(_.getPath).filter(isDataFile).sortBy(_.getName)
    parts.toSeq.flatMap { p =>
      val rdr = open(p, hconf)
      try {
        val schema = rdr.getFooter.getFileMetaData.getSchema
        val io = new ColumnIOFactory().getColumnIO(schema)
        val out = scala.collection.mutable.ArrayBuffer.empty[Group]
        var rg = rdr.readNextRowGroup()
        while (rg != null) {
          val rec = io.getRecordReader(rg, new GroupRecordConverter(schema))
          var i = 0L
          while (i < rg.getRowCount) { out += rec.read(); i += 1 }
          rg = rdr.readNextRowGroup()
        }
        out.toSeq
      } finally rdr.close()
    }
  }

  /** An `array<double>` column (Spark's 3-level list encoding:
    * `optional group F (LIST) { repeated group list { optional double
    * element } }`) as a driver array, in element order. */
  def doubles(g: Group, field: String): Array[Double] = {
    val lst = g.getGroup(field, 0)
    val n = lst.getFieldRepetitionCount(0)
    Array.tabulate(n)(i => lst.getGroup(0, i).getDouble(0, 0))
  }

  def has(g: Group, field: String): Boolean = g.getType.containsField(field)

  /** A nullable int64 column: None where the record holds null. */
  def longOpt(g: Group, field: String): Option[Long] =
    if (g.getFieldRepetitionCount(field) == 0) None else Some(g.getLong(field, 0))

  /** Write driver-resident rows as ONE part file under `dir` (replacing
    * the directory) — the write-side twin of [[readGroups]], for the
    * same k-sized sidecars: a `coalesce(1).write.parquet` of 1–256
    * driver rows pays a full job schedule + task commit (measured
    * 100–250 ms each in local[32]; a build writes three), where the
    * same bytes through parquet-mr on the driver are ~milliseconds.
    * The file is Spark-readable (standard 3-level lists, snappy) and
    * named `part-*.parquet` so [[readGroups]] and `spark.read` both
    * pick it up. Same scope guard as the reads: driver-small tables
    * ONLY — corpus-shaped tables stay behind Spark writes. */
  def writeGroups(hconf: Configuration, dir: String, schema: MessageType,
                  fill: SimpleGroupFactory => Seq[Group]): Unit = {
    val d = new Path(dir)
    val fs = d.getFileSystem(hconf)
    fs.delete(d, true)
    fs.mkdirs(d)
    val file = new Path(d,
      s"part-00000-${java.util.UUID.randomUUID().toString}.parquet")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, hconf))
      .withConf(hconf)
      .withType(schema)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try fill(new SimpleGroupFactory(schema)).foreach(w.write)
    finally w.close()
  }

  def schemaOf(ddl: String): MessageType = MessageTypeParser.parseMessageType(ddl)

  /** Append an `array<double>` value in Spark's 3-level list encoding —
    * the shape [[doubles]] reads back. */
  def addDoubles(g: Group, field: String, v: Array[Double]): Unit = {
    val lst = g.addGroup(field)
    v.foreach(x => lst.addGroup("list").add("element", x))
  }
}
