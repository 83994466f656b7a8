package graft.util

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Small text files (the [[IndexManifest]] staleness manifests, segment
  * counters) routed through the Hadoop FileSystem API so a persisted
  * index can live wherever its parquet data does — HDFS, S3A, or local
  * disk. java.nio would silently pin the index family to the driver's
  * local filesystem while the data went remote (ADVICE r4): the
  * production-crawl framing of the persisted indexes requires manifest
  * and data to share one store.
  *
  * [[write]] is write-temp-then-rename (FileContext rename with
  * OVERWRITE — atomic on HDFS and posix local): a concurrent reader
  * sees either the old manifest or the new one, never a partially
  * written file. Object stores without atomic rename (S3) degrade to
  * copy+delete — the staleness checks of [[IndexManifest]] still fail
  * safe there (a half-visible manifest mismatches and forces a
  * rebuild). */
object FsText {

  def write(conf: Configuration, path: String, txt: String): Unit = {
    val p = new Path(path)
    val tmp = new Path(path + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    val out = p.getFileSystem(conf).create(tmp, true)
    try out.write(txt.getBytes(UTF_8))
    finally out.close()
    // resolve the scheme through the FileSystem (a bare "/x/y" path
    // has no scheme of its own)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      p.getFileSystem(conf).getUri, conf)
    fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  def read(conf: Configuration, path: String): String = {
    val p = new Path(path)
    val in = p.getFileSystem(conf).open(p)
    try new String(in.readAllBytes(), UTF_8)
    finally in.close()
  }

  def exists(conf: Configuration, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(conf).exists(p)
  }
}
