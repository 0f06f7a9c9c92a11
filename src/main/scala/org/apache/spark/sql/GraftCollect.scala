package org.apache.spark.sql

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}

/**
 * `Dataset.collect` with a cheaper job submission, for
 * `graft.result.ResultJson`'s one action per served query. The SQL side is
 * what `Dataset.collect` does: one SQL execution named "collect" (so
 * `QueryExecutionListener`s, SQL metrics and the submitting thread's local
 * properties all see it), with internal errors wrapped as there. The job
 * side differs: `Dataset.collect` ends in `RDD.collect`, whose function
 * `SparkContext.runJob` wraps in a closure of its own, and Spark's
 * ClosureCleaner reads and parses the bytecode of the classes that declare
 * those closures (`RDD`, `SparkContext`) on every job. Here the one
 * closure is declared in this small object, and a job costs well under half
 * (BENCH.md §"One job per served query").
 */
object GraftCollect {
  /** Every row of `df`, in partition order, from one Spark job. */
  def collect(df: DataFrame): Array[Row] = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      QueryExecution.withInternalError("""The "collect" action failed.""") {
        qe.executedPlan.resetMetrics()
        val rdd = qe.executedPlan.execute()
        qe.sparkSession.sparkContext.runJob(rdd, copyRows, rdd.partitions.indices)
          .flatMap(_.map(r => toRow(r).asInstanceOf[Row]))
      }
    }
  }

  // Operators reuse their output row objects, so each is copied before
  // the partition's rows are gathered.
  private val copyRows: (TaskContext, Iterator[InternalRow]) => Array[InternalRow] =
    (_, rows) => rows.map(_.copy()).toArray
}
