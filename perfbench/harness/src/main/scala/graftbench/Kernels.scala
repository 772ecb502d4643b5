package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graftbridge.Bridge

/** Kernel throughput: rows ÷ executor run time of the stages that
  * evaluate one native per-row expression (or aggregate) over a cached,
  * already materialized input, so scheduling and scans stay out of the
  * figure. The jobs are tagged and timed through the attached [[Tracer]];
  * the median of three jobs is reported. */
final class Kernels(tracer: Tracer) {
  private var n = 0

  /** Rows per executor-second of `job` over `input` (cached here). */
  def rowsPerS(input: DataFrame)(job: DataFrame => DataFrame): Double = {
    val cached = input.cache()
    val rows = cached.count()
    try {
      val rates = (0 until 3).map { _ =>
        n += 1
        val g = s"kernel-$n"
        tracer.inGroup(g)(job(cached).write.format("noop").mode("overwrite").save())
        // a skipped stage never completes and adds nothing
        val ms = tracer.awaitGroup(g).flatMap(tracer.stageTotalsOfJob).map(_.runMs).sum
        rows.toDouble / math.max(ms, 1L) * 1000.0
      }
      rates.sorted.apply(1)
    } finally cached.unpersist(blocking = true)
  }

  /** [[rowsPerS]] for a single column expression. */
  def exprRowsPerS(input: DataFrame, expr: org.apache.spark.sql.catalyst.expressions.Expression): Double =
    rowsPerS(input)(_.select(Bridge.column(expr).as("k")))

  def col(name: String): org.apache.spark.sql.catalyst.expressions.Expression =
    Bridge.expression(org.apache.spark.sql.functions.col(name))
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column = Bridge.column(e)
}
