package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lineage-truncation policy shared by every iterative operator
  * (connected components, BPE merge learning, host PageRank) and by the
  * materialized dedup probe: set `spark.graft.cc.checkpointDir` to an
  * HDFS/object-store path and truncation goes through a RELIABLE
  * `checkpoint` (survives executor loss — the mode for 10^12-row fleet
  * runs); unset, a local master uses `localCheckpoint` (executor storage
  * is the driver JVM's own) and any other master fails at once, naming
  * the conf, instead of silently keeping blocks that die with their
  * executor. The 10^12-row mode is a conf, not a code change.
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

  /** Whether truncation under `master` with checkpoint dir `dir` is
    * reliable: yes when the dir is set; no on a local master (`local`,
    * `local[...]`); an error naming the conf on any other master. */
  def reliable(master: String, dir: Option[String]): Boolean = {
    val local = master == "local" || master.startsWith("local[")
    require(dir.isDefined || local,
      s"$ConfKey must be set on master $master: a localCheckpoint dies with its executor")
    dir.isDefined
  }

  /** Resolve the truncator ONCE per operator invocation (the conf read
    * and setCheckpointDir happen at resolution, not per iteration). */
  def truncator(spark: SparkSession): DataFrame => DataFrame = {
    val rel = reliable(spark.sparkContext.master, reliableDir(spark))
    df => if (rel) df.checkpoint(eager = true) else df.localCheckpoint(true)
  }
}
