package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lineage-truncation policy shared by every iterative operator
  * (connected components, PageRank): set `spark.graft.cc.checkpointDir`
  * to an HDFS/object-store path and truncation goes through a RELIABLE
  * `checkpoint` (survives executor loss — the mode for 10^12-row fleet
  * runs); unset, it uses `localCheckpoint` (executor-storage, fine
  * single-JVM). The 10^12-row mode is a conf, not a code change.
  */
object Checkpoints {

  final val ConfKey = "spark.graft.cc.checkpointDir"

  /** The reliable checkpoint directory, registered with the
    * SparkContext; None in local mode. */
  def reliableDir(spark: SparkSession): Option[String] = {
    val ckptDir = spark.conf.getOption(ConfKey)
    ckptDir.foreach(spark.sparkContext.setCheckpointDir)
    ckptDir
  }

  /** Resolve the truncator ONCE per operator invocation (the conf read
    * and setCheckpointDir happen at resolution, not per iteration). */
  def truncator(spark: SparkSession): DataFrame => DataFrame = {
    val reliable = reliableDir(spark).isDefined
    df => if (reliable) df.checkpoint(eager = true) else df.localCheckpoint(true)
  }
}
