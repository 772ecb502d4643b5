package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Per-layer numbers derived from the tracer's records after the loop. */
object Layers {
  /** Every op kind of every workload; a kind a workload does not run
    * reports zeros, so each traced run prints the same metric names. */
  val Kinds: Seq[String] = Seq("embed", "search", "ingest", "delete", "curate")

  /** Spark counters per op, averaged over the ops of each kind:
    * jobs, stages, tasks, Catalyst planning ms, the driver-side gap (op
    * wall minus the union of its job intervals), executor time and the
    * byte counters. */
  def sparkPerKind(t: Tracer, ops: Seq[OpRec]): Map[String, Double] = {
    val planning = t.planning.asScala.toSeq
    Kinds.flatMap { kind =>
      val mine = ops.filter(_.kind == kind)
      val per = mine.map { o =>
        val jobs = t.jobsOf(o.id)
        val st = jobs.flatMap(t.stageTotalsOfJob)
        val busy = Tracer.unionLength(
          jobs.map(j => (j.start, if (j.end > 0) j.end else o.endMs)), o.startMs, o.endMs)
        val plan = planning.filter { case (s, _) => s >= o.startMs && s <= o.endMs }.map(_._2).sum
        Seq(
          "jobs" -> jobs.size.toDouble,
          "stages" -> jobs.map(_.stageIds.size).sum.toDouble,
          "tasks" -> st.map(_.tasks).sum.toDouble,
          "planning_ms" -> plan.toDouble,
          "driver_gap_ms" -> math.max(0.0, o.ms - busy),
          "executor_run_ms" -> st.map(_.runMs).sum.toDouble,
          "executor_cpu_ms" -> st.map(_.cpuMs).sum.toDouble,
          "gc_ms" -> st.map(_.gcMs).sum.toDouble,
          "input_bytes" -> st.map(_.inputBytes).sum.toDouble,
          "output_bytes" -> st.map(_.outputBytes).sum.toDouble,
          "shuffle_read_bytes" -> st.map(_.shuffleReadBytes).sum.toDouble,
          "shuffle_write_bytes" -> st.map(_.shuffleWriteBytes).sum.toDouble,
          "spill_bytes" -> st.map(_.spillBytes).sum.toDouble)
      }
      SparkCounters.map { c =>
        val vals = per.map(_.toMap.apply(c))
        s"spark.$kind.$c" -> (if (vals.isEmpty) 0.0 else vals.sum / vals.size)
      }
    }.toMap
  }

  val SparkCounters: Seq[String] = Seq("jobs", "stages", "tasks", "planning_ms",
    "driver_gap_ms", "executor_run_ms", "executor_cpu_ms", "gc_ms", "input_bytes",
    "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")

  /** Mean inclusive ms of the spans named `name` inside `ops`; a call
    * made only during set-up (an index build) averages its set-up spans
    * instead. 0 when no such call ran. */
  def callMs(t: Tracer, ops: Seq[OpRec], name: String): Double = {
    val ids = ops.map(_.id).toSet
    val named = t.allSpans.filter(_.name == name)
    val inOps = named.filter(s => ids.contains(s.op))
    val s = if (inOps.nonEmpty) inOps else if (named.forall(_.op < 0)) named else Nil
    if (s.isEmpty) 0.0 else s.map(x => (x.end - x.start) / 1e6).sum / s.size
  }

  def writeSpans(t: Tracer, path: String): Unit = {
    val lines = t.allSpans.map(s => Json.write(Map("name" -> s.name, "start_ns" -> s.start,
      "end_ns" -> s.end, "parent" -> s.parent, "op" -> s.op)))
    Files.write(Paths.get(path), lines.asJava)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0.0
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  /** Sum of the heap pools' peak usage, in MB. */
  def heapPeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024.0 * 1024.0)

  /** Regular files under `dir` with their sizes, keyed by path. */
  def listing(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }
}
