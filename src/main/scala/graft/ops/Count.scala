package graft.ops

import org.apache.spark.sql.DataFrame

/** Row counts of loop-body frames. */
object Count {

  /** The row count of `df` in ONE Spark job. `Dataset.count()` aggregates
    * through an exchange, which under AQE is two jobs (the partial-count
    * map stage, then the final aggregate); counting the frame's
    * partitions directly is one. On a lazily marked checkpoint
    * (`localCheckpoint(eager = false)`) it computes every partition, so
    * it still fills the checkpoint.
    */
  def rows(df: DataFrame): Long = df.queryExecution.toRdd.count()
}
