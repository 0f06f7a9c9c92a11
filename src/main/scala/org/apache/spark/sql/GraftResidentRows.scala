package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.StorageLevel

/**
 * Scala-visibility shim: `Dataset.ofRows` and `LogicalRDD.fromDataset` are
 * `private[sql]`, so the one construction graft needs is re-exported here
 * from inside the sql package. It is what `Dataset.localCheckpoint` builds,
 * with `persist` in place of the checkpoint: a DataFrame over a plan's rows
 * materialized as an RDD, whose plan keeps the original output
 * partitioning. The RDD keeps its lineage, so lost blocks recompute from
 * the plan's sources. Used by `graft.catalog.Catalog` for resident copies.
 */
object GraftResidentRows {
  /** `df`'s rows persisted at `level` (lazily: the first action over a
    * [[frame]] of them fills the blocks) under the RDD name `name`.
    * Unpersist the result to release. */
  def persist(df: DataFrame, level: StorageLevel, name: String): RDD[InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd
      .map(_.copy()).setName(name).persist(level)

  /** A DataFrame over `rows` in `template`'s session, with `template`'s
    * output and output partitioning. `rows` must hold rows of
    * `template`'s schema, e.g. [[persist]] of a plan that reads the same
    * files. */
  def frame(rows: RDD[InternalRow], template: DataFrame): DataFrame = {
    val ds = template.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession,
      execution.LogicalRDD.fromDataset(rows, ds, isStreaming = false))
  }
}
