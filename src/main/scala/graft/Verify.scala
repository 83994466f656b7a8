package graft
import graft.util.Sessions
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. `Verify <sfDir>
  * <outDir> [name,…]`: the list limits both to those queries (a dev loop);
  * a name that is no declared query fails the run before Spark starts. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, names) = args.toSeq match {
      case Seq(sf, out, rest @ _*) => (sf, out, rest)
      case _ =>
        System.err.println("usage: graft.Verify <sfDir> <outDir> [name,...]")
        sys.exit(2)
    }
    val listed = names.headOption.map(_.split(",").toSet)
    val unknown = listed.fold(Set.empty[String])(_ -- SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(s"[verify] unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val wanted: String => Boolean = listed.getOrElse(_ => true)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
