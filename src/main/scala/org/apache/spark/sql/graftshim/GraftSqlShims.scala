package org.apache.spark.sql.graftshim

import org.apache.hadoop.conf.Configuration
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => FilterPlan, LocalRelation}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** The minimal `private[sql]` surface graft's ordered and local scans
  * need, exposed from an `org.apache.spark.sql` subpackage — the
  * standard technique Spark connector libraries use to reach the
  * file-source internals the planner itself builds scans from.
  * Everything else in graft goes through public APIs.
  */
object GraftSqlShims {
  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** DataFrame over an RDD of InternalRow (no Row round-trip; the plan
    * is a single LogicalRDD node regardless of how many files feed the
    * RDD).
    */
  def internalDf(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    classic(spark).internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** DataFrame over rows held in memory: one LocalRelation, which the
    * optimizer folds limits and projections into and which collects
    * without a Spark job.
    */
  def localDf(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    Dataset.ofRows(classic(spark),
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** `cond` as an interpreted predicate over rows of `schema`: analyzed
    * (names resolved, types coerced) like a DataFrame filter, then bound
    * to row positions. No code is generated, so a new literal costs no
    * compile.
    */
  def interpretedPredicate(spark: SparkSession, schema: StructType,
      cond: Column): InternalRow => Boolean = {
    val plan = FilterPlan(classic(spark).expression(cond),
      LocalRelation(DataTypeUtils.toAttributes(schema)))
    val analyzed = classic(spark).sessionState.executePlan(plan).analyzed
      .collectFirst { case f: FilterPlan => f }.get
    val p = Predicate.createInterpreted(BindReferences.bindReference(
      analyzed.condition, analyzed.child.output))
    p.initialize(0)
    p.eval
  }

  /** The parquet readFunction FileSourceScanExec itself uses — pushed
    * `filters` prune row groups via parquet min/max stats executor-side.
    */
  def parquetReader(spark: SparkSession, dataSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter],
      options: Map[String, String], hadoopConf: Configuration)
      : PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, dataSchema, new StructType(), requiredSchema, filters,
      options, hadoopConf)

  def hadoopConf(spark: SparkSession): Configuration =
    spark.sessionState.newHadoopConfWithOptions(Map.empty)

  /** Whether the parquet reader can return ColumnarBatch for this
    * schema (all-atomic columns + vectorized reader enabled) — the
    * same gate FileSourceScanExec consults before requesting batches.
    */
  def parquetSupportsBatch(spark: SparkSession,
      schema: StructType): Boolean =
    new ParquetFileFormat().supportBatch(spark, schema)
}
