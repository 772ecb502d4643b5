package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `new Column(expr)` constructor; the sanctioned
  * conversion lives in `org.apache.spark.sql.classic.ExpressionUtils`, which
  * is `private[sql]`. This bridge (in an org.apache.spark.sql subpackage,
  * the usual pattern for Spark extension libraries) re-exports the two
  * conversions the graft kernel needs to register custom Catalyst
  * expressions as Columns. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `StructType.asNullable` is `private[spark]`; a file-source read
    * makes every column nullable with it, so a schema taken from a
    * parquet footer must too to equal the inferred one. */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  /** `AbstractDataType`/`TypeCollection` are `private[sql]` in Spark 4,
    * but they are the only way ExpectsInputTypes can declare "array of
    * float OR double" — re-exported here so the native expressions can
    * reject wrong-typed SQL args at analysis time. */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType
  def oneOf(types: org.apache.spark.sql.types.AbstractDataType*): AbstractType =
    org.apache.spark.sql.types.TypeCollection(types: _*)

  /** Drop the `originStats` a lazy `localCheckpoint` captured into its
    * [[org.apache.spark.sql.execution.LogicalRDD]], keeping the RDD,
    * partitioning, and ordering metadata intact.
    *
    * Why this exists (r19, OPTIMIZATION_r19.md): `Dataset.checkpoint`
    * snapshots the child plan's `Statistics` into the cut node, and the
    * size-only stats visitor estimates a join as the PRODUCT of its
    * children — so an iterative loop whose round joins the label table
    * with itself squares `sizeInBytes` every cut. The value is a
    * BigInt: its bit length doubles per round (measured 19 bits →
    * 147M bits in 24 rounds), the giant-number arithmetic starts
    * costing real per-round time, and past ~31 doublings
    * `java.math.BigInteger` throws `BigInteger would overflow supported
    * range`. Dropping the snapshot resets the node to unknown stats
    * (`defaultSizeInBytes` = Long.MaxValue) — the same
    * never-auto-broadcast planning the garbage product produced, now
    * without the exponential growth. AQE re-decides join strategies
    * from RUNTIME sizes, so downstream physical plans keep their
    * measured shapes. */
  def dropOriginStats(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    replaceOriginStats(df, None)

  /** [[dropOriginStats]] with a REPLACEMENT estimate instead of unknown:
    * iterative callers stamp each cut with a constant, externally-derived
    * sizeInBytes (e.g. the loop's input-edge size) so static planning
    * keeps the same broadcast behavior every round — a small table keeps
    * broadcasting, a 100 TB one keeps not — while the estimate no longer
    * compounds round over round. */
  def replaceOriginStats(df: org.apache.spark.sql.DataFrame,
                         sizeInBytes: Option[BigInt]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    df.queryExecution.logical match {
      case l: LogicalRDD =>
        val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val stats = sizeInBytes.map(s =>
          org.apache.spark.sql.catalyst.plans.logical.Statistics(sizeInBytes = s))
        org.apache.spark.sql.classic.Dataset.ofRows(session,
          new LogicalRDD(l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
            l.isStreaming, l.stream)(session, stats))
      case _ => df
    }
  }

  /** Register a SQL function on a LIVE session (the extensions path in
    * [[graft.sql.GraftExtensions]] only applies at session build time;
    * `SparkSession.sessionState` is private[sql], hence this bridge). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")
}
