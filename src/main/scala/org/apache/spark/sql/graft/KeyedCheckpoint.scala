package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** Re-declares the hash partitioning of a checkpointed frame. A
  * checkpoint's `LogicalRDD` copies the partitioning of the plan it ran,
  * and an adaptive plan reports none, so a checkpoint of
  * `repartition(n, keys)` forgets that its rows are already
  * hash-partitioned on `keys`. The rebuilt leaf reports
  * `HashPartitioning(keys, n)`, so joins and aggregations keyed on
  * `keys` plan no Exchange on its side. `LogicalRDD.copy` and
  * `classic.Dataset.ofRows` are package-private to Spark SQL, hence
  * this package. */
object KeyedCheckpoint {
  def hashPartitioned(checkpointed: DataFrame, keys: Seq[String], n: Int): DataFrame =
    checkpointed.queryExecution.analyzed match {
      case leaf: LogicalRDD =>
        require(leaf.rdd.getNumPartitions == n,
          s"checkpoint has ${leaf.rdd.getNumPartitions} partitions, not the $n it was keyed into")
        val session = checkpointed.sparkSession.asInstanceOf[classic.SparkSession]
        val exprs = keys.map(k => leaf.output.find(_.name == k).getOrElse(
          throw new IllegalArgumentException(s"no column $k in ${leaf.output}")))
        classic.Dataset.ofRows(session, leaf.copy(outputPartitioning = HashPartitioning(exprs, n))(
          session, Some(leaf.stats), Some(leaf.constraints)))
      case other =>
        throw new IllegalArgumentException(s"not a checkpoint: ${other.nodeName}")
    }
}
