package graft

import graft.queries.Query
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.TimeUnit
import org.scalatest.funsuite.AnyFunSuite

/** The query registry is the one place a query and its oracle are
  * declared; these pin its shape without running a Spark job. */
class RegistrySpec extends AnyFunSuite {

  private val names = Query.all.map(_.name)

  test("117 declared queries, each name declared once") {
    assert(names.distinct.size == names.size, names.diff(names.distinct))
    assert(names.size == 117)
  }

  test("a query has an oracle exactly when its name starts with q; 80 oracles") {
    val off = Query.all.filter(q => q.name.startsWith("q") != q.oracle.isDefined).map(_.name)
    assert(off.isEmpty, off)
    assert(Query.all.count(_.oracle.isDefined) == 80)
  }

  test("SparkEntry.queries and oracleSql are views of the registry") {
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == Query.all.filter(_.oracle.isDefined).map(_.name).toSet)
    Query.all.foreach(q => assert(SparkEntry.oracleSql.get(q.name) == q.oracle, q.name))
  }

  test("the oracle SQL is pinned: one digest over every name and its SQL") {
    // a change to any oracle, added or removed one changes the
    // driver-facing oracle_sql.json; this digest makes it deliberate
    val text = SparkEntry.oracleSql.toSeq.sorted.map { case (k, v) => s"$k\n$v\n" }.mkString
    val hex = java.security.MessageDigest.getInstance("SHA-256").digest(text.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString
    assert(hex == "3a93cba933830f62dc6bcafd28aa4e301433a81edcb7cd949827e4a8dd123dc9")
  }

  test("every Bench headline query is declared") {
    assert(Bench.headline.filterNot(names.toSet).isEmpty)
  }

  test("Verify exits non-zero on an undeclared name, lists it and writes nothing") {
    val out = new java.io.File(s"${SparkEntry.SynthRoot}/verify_unknown_${System.nanoTime()}")
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val p = new ProcessBuilder(javaBin, "-Xmx256m", "-cp", System.getProperty("java.class.path"),
      "graft.Verify", "unused_sf_dir", out.getPath, "q01_pricing_summary,q01_typo")
      .redirectErrorStream(true).start()
    val log = new String(p.getInputStream.readAllBytes(), UTF_8)
    assert(p.waitFor(120, TimeUnit.SECONDS), "Verify did not exit")
    assert(p.exitValue != 0, log)
    assert(log.contains("unknown query names: q01_typo"), log)
    assert(!out.exists)
  }

  test("every case fold in main code names its locale") {
    // under tr-TR "I".toLowerCase is "ı": a bare String fold makes the
    // output depend on the JVM's default locale. Character.toUpperCase(c)
    // and c.toLower fold one char and stay allowed.
    import scala.jdk.CollectionConverters._
    val bare = """\.to(Lower|Upper)Case(\(\s*\)|(?![\w(]))""".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val hits = files.flatMap { f =>
      java.nio.file.Files.readAllLines(f, UTF_8).asScala.zipWithIndex.collect {
        case (l, i) if bare.findFirstIn(l).isDefined => s"$f:${i + 1}"
      }
    }
    assert(files.nonEmpty && hits.isEmpty, hits)
  }
}
