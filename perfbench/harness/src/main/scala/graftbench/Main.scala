package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One closed-loop operation of a workload. `docs` is the number of
  * input documents (or query/ingest/delete rows) it processes; `check`
  * runs right after it, outside the timed region, and returns an error
  * message when the op's output is wrong. */
final case class Op(kind: String, docs: Long, body: () => Unit,
                    check: () => Option[String] = () => None)

final case class OpRec(id: Int, kind: String, startMs: Long, endMs: Long, ms: Double,
                       docs: Long, error: Option[String], probe: Boolean = false)

/** A check made after the timed loop; a failed one marks `failsOps`
  * (op ids) as wrong. */
final case class Check(name: String, ok: Boolean, detail: String, failsOps: Seq[Int] = Nil)

trait Workload {
  /** Build everything the timed loop needs from the generated inputs,
    * into a fresh state for set-up repetition `rep`. */
  def setup(rep: Int): Unit
  /** Once, after the last repetition: start what runs beside the loop
    * and warm caches, model banks and the JIT with untimed ops. */
  def warmUp(): Unit
  /** The `i`-th op of the seeded schedule. */
  def op(i: Int): Op
  /** Length of the schedule; the loop never runs past it. */
  def maxOps: Int = Int.MaxValue
  /** Ops in one repetition of the schedule's mix; the loop runs at
    * least one whole cycle, and throughput counts whole cycles only. */
  def cycle: Int = 1
  /** Output checks over the whole run, after the timed loop. */
  def verify(ops: Seq[OpRec]): Seq[Check]
  /** The workload's result-quality ratio (1.0 = every checked result is
    * as good as the exact answer). */
  def quality(): Double
  /** Workload-specific layer metrics, read after the loop (traced run). */
  def layerMetrics(tracer: Tracer, ops: Seq[OpRec]): Map[String, Double] = Map.empty
  /** Extra ops the traced run measures once after the loop, for layers
    * the loop does not reach; preparing them is untimed. */
  def probes(): Seq[Op] = Nil
  /** Kernel throughput on pre-materialized inputs (traced run). */
  def kernels(k: Kernels): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

/** Entry point of one benchmark run: session start, repeated set-up,
  * the closed loop, the checks, and a result file for `run.py`.
  *
  * {{{
  * java ... graftbench.Main --workload index_serve --input <dir> --work <dir>
  *   --seconds 16 --trace 0 --out result.json
  * }}} */
object Main {
  /** Set-up runs this many times into fresh state; `run.py` reports the
    * median. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val input = args("input")
    val work = args("work")
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    // honours CPU affinity and container limits
    val cpus = Runtime.getRuntime.availableProcessors
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(Paths.get(work))

    val spark = graft.Graft.tunedBuilder(input, cpus)
      .appName(s"perfbench-$workload")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.stopTimeout", "30000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(spark, trace)
    val ctx = Ctx(spark, input, work, tracer)
    val wl: Workload = workload match {
      case "embed_bulk" => new EmbedBulk(ctx)
      case "index_serve" => new IndexServe(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    val setupS = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      wl.setup(r)
      (System.nanoTime() - t0) / 1e9
    }
    val warmT0 = System.nanoTime()
    wl.warmUp()
    val warmUpS = (System.nanoTime() - warmT0) / 1e9

    // The closed loop: one client, the next op starts when the previous
    // one (and its untimed check) is done. Measurement ends once the
    // ops' own wall time reaches `seconds` and at least one whole cycle
    // of the op mix ran. A traced run traces the whole loop; its
    // overhead is the difference to the untraced run of the same seed.
    val recs = mutable.ArrayBuffer.empty[OpRec]
    var timedMs = 0.0
    var i = 0
    val hardStop = System.nanoTime() + (seconds * 3e9).toLong
    def runOp(op: Op, probe: Boolean): OpRec = {
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val err = try {
        tracer.inOp(i, op.kind)(tracer.span(s"op.${op.kind}")(op.body()))
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      val ms = (System.nanoTime() - t0) / 1e6
      val checked = err.orElse(
        try op.check() catch { case e: Throwable => Some(s"check threw ${e.getMessage}".take(300)) })
      val rec = OpRec(i, op.kind, startMs, System.currentTimeMillis(), ms, op.docs, checked, probe)
      i += 1
      rec
    }
    tracer.attach()
    while ((timedMs < seconds * 1000.0 || i < wl.cycle) && System.nanoTime() < hardStop &&
      i < wl.maxOps) {
      val rec = runOp(wl.op(i), probe = false)
      timedMs += rec.ms
      recs += rec
    }
    if (trace) wl.probes().foreach(op => recs += runOp(op, probe = true))
    tracer.drain()

    val checks = try wl.verify(recs.toSeq)
      catch { case e: Throwable => Seq(Check("verify", ok = false, s"threw $e".take(300), recs.map(_.id).toSeq)) }
    val quality = try wl.quality() catch { case _: Throwable => 0.0 }
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (trace) {
      layers ++= Layers.sparkPerKind(tracer, recs.toSeq)
      layers ++= wl.layerMetrics(tracer, recs.toSeq)
      layers ++= wl.kernels(new Kernels(tracer))
      tracer.detach()
    }
    val spanSummary = if (trace) tracer.spanSummary() else Map.empty[String, (Int, Double, Double)]
    if (trace) Layers.writeSpans(tracer, s"$work/spans.jsonl")
    val (rssMb, heapMb) = (Layers.peakRssMb(), Layers.heapPeakMb())
    wl.close()

    val failedIds = checks.filter(!_.ok).flatMap(_.failsOps).toSet
    val out = Map(
      "workload" -> workload,
      "session_s" -> sessionS,
      "setup_pass_s" -> setupS,
      "warmup_s" -> warmUpS,
      "cycle" -> wl.cycle,
      "ops" -> recs.map(r => Map(
        "id" -> r.id, "kind" -> r.kind, "ms" -> r.ms, "docs" -> r.docs, "probe" -> r.probe,
        "ok" -> (r.error.isEmpty && !failedIds.contains(r.id)),
        "error" -> r.error.getOrElse(""))).toSeq,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok,
        "detail" -> c.detail, "fails_ops" -> c.failsOps)),
      "quality" -> (if (quality.isNaN) null else quality),
      "peak_rss_mb" -> rssMb,
      "heap_peak_mb" -> heapMb,
      "layers" -> layers.filter(_._2.isFinite).toMap,
      "spans" -> spanSummary.map { case (k, (n, d, s)) =>
        k -> Map("n" -> n, "total_ms" -> d, "self_ms" -> s) })
    Files.write(Paths.get(args("out")), Json.write(out).getBytes("UTF-8"))
    spark.stop()
  }
}

final case class Ctx(spark: SparkSession, input: String, work: String, tracer: Tracer) {
  def span[A](name: String)(f: => A): A = tracer.span(name)(f)
  /** A fresh directory for set-up repetition `rep`. */
  def repDir(rep: Int, name: String): String = {
    val p = Paths.get(work, s"rep$rep", name)
    Files.createDirectories(p.getParent)
    p.toString
  }
}

object Json {
  /** `value` (maps, sequences, strings, numbers, booleans, null) as
    * JSON. Jackson writes a non-finite double as a string, so callers
    * leave those out. */
  def write(value: Any): String =
    org.json4s.jackson.Serialization.write(value.asInstanceOf[AnyRef])(org.json4s.DefaultFormats)
}
