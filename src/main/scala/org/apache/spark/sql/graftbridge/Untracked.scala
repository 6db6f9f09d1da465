package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

/** An internal bookkeeping action over a frame's RDD, outside any SQL
  * execution: its jobs carry no execution id, so AQE posts no
  * per-stage plan updates. The jobs still run under the session's job
  * artifact state, as a SQL execution's do (`ArtifactManager` is
  * `private[sql]`). Without it a stage whose plan reads a persisted
  * frame takes the artifact state of the session clone that cached the
  * frame, a fresh one per persist, and its tasks compile their
  * generated classes again under that clone's new executor class
  * loader each time.
  */
object Untracked {
  def apply[T](df: DataFrame)(action: RDD[InternalRow] => T): T =
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .artifactManager.withResources(action(df.queryExecution.toRdd))
}
