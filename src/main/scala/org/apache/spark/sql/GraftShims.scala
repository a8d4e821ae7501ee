package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Bridge to the sql-private Column↔Expression converters, needed to
  * expose custom Catalyst expressions (graft.functions.VecDot) as
  * Columns, plus the custom-LogicalPlan → DataFrame and
  * extra-strategy hooks the whole-operator tier (graft.plans) needs,
  * and the Parquet listing and footer-schema rules `graft.Tables.parquet`
  * reuses from Spark's own schema inference.
  * Lives in the org.apache.spark.sql package solely for access — the
  * standard pattern for Spark extension libraries. */
object GraftShims {
  def toExpr(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def toCol(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Wrap a custom logical node as a DataFrame (analyzer passes it
    * through — children and expressions arrive resolved). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Idempotently append a planner strategy at runtime via the public
    * experimental-methods hook — lets the custom operators work on
    * sessions built WITHOUT spark.sql.extensions. */
  def addStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(s)) {
      exp.extraStrategies = exp.extraStrategies :+ s
    }
  }

  /** Spark's file-index rule for one child name: `_` and `.` names,
    * bar `_metadata`, `_common_metadata` and `_k=v` dirs, and
    * `._COPYING_` files are not part of a table. */
  def isHiddenPath(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** A Parquet footer's Spark schema, converted as Spark's schema
    * inference converts it (the converter arguments of
    * `ParquetFileFormat.mergeSchemasInParallel`), with the flags read
    * from THIS session's conf rather than the thread-local
    * `SQLConf.get`, so a session-level `nanosAsLong` applies. */
  def parquetFooterSchema(spark: SparkSession,
      footer: org.apache.parquet.hadoop.Footer): StructType = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation))
  }
}
