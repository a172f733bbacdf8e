package org.apache.spark.sql.perfbench

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.util.LongAccumulator

/** Output sinks that run a query's ALREADY-PLANNED physical plan.
  *
  * The benchmark times planning (`df.queryExecution.executedPlan`) and the
  * output action as separate spans. `df.write...` would build a second
  * QueryExecution and optimize and plan the query again inside the action,
  * so both sinks here consume `queryExecution.toRdd` of the planned frame.
  * Every output column of every row is produced: unlike `Dataset.count()`,
  * nothing lets the optimizer prune the projection away.
  *
  * Lives under `org.apache.spark.sql` for `internalCreateDataFrame`, the
  * only way to hand already-computed rows to a DataFrameWriter. */
object ExecutedFrame {

  /** Drain every row of the planned frame; returns the row count. */
  def noop(df: DataFrame): Long = {
    val rdd = df.queryExecution.toRdd
    rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      n
    }).sum
  }

  /** Write every row of the planned frame as parquet under `path`
    * (overwriting); returns the row count. */
  def parquet(df: DataFrame, path: String): Long = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rows = session.sparkContext.longAccumulator("perfbench.rows")
    val counted = countRows(df.queryExecution.toRdd, rows)
    session.internalCreateDataFrame(counted, df.schema)
      .write.mode("overwrite").parquet(path)
    rows.value
  }

  private def countRows(rdd: RDD[InternalRow], acc: LongAccumulator): RDD[InternalRow] =
    rdd.mapPartitions { it =>
      var n = 0L
      TaskContext.get().addTaskCompletionListener[Unit](_ => acc.add(n))
      it.map { r => n += 1; r }
    }
}
