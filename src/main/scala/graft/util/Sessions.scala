package graft.util

import org.apache.spark.sql.SparkSession

/** The one local-mode session factory: `graft.Bench`, `graft.Probe`,
  * `graft.Verify`, `graft.ExplainAll` and the Spark test suites all plan
  * under this config. Any other `spark.*` key goes in as a JVM system
  * property (`-Dspark.k=v`): `SparkConf` loads those for every key not
  * set here. When a session already exists (one test JVM, many suites),
  * `getOrCreate` returns it and re-applies the runtime SQL confs below;
  * the master and the other context confs stay those of the first call.
  * Every session it returns carries the engine's functions and optimizer
  * rule (`GraftExtensions.install`), as a cluster session built with
  * `spark.sql.extensions=graft.GraftExtensions` does. */
object Sessions {

  def local(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-local-$cores")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // At cluster scale the 128MB default yields ~800k splits per 100TB;
      // at bench scale (a few GB) it caps scan tasks below core count.
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (1024 * 1024).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.GraftExtensions.install(s)
    s
  }
}
