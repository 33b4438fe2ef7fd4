package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Durable metadata catalog file — the Spark-side analog of the reference's
  * etcd metadata plane (`/root/reference/cluster/auth.go:120-158`,
  * `cluster/partition_key_storage.go`, `cluster/settings_storage.go:59-87`,
  * `syncing/importer.go:305-333`): databases, retention policies, continuous
  * queries, users, partition keys, subscriptions, and measurement→RP
  * bindings all survive an engine restart.
  *
  * Format: one snapshot file `dataDir/_catalog`, a `v1` header line then one
  * record per line; record fields are joined by U+001F with `\`-escaping for
  * the separator and newlines. The Engine owns the mapping between records
  * and its typed stores — this object is just crash-safe file I/O. Writes go
  * through tmp+rename (the same discipline as MeasurementStore.saveMeta), so
  * a crash mid-persist leaves the previous intact snapshot, never a torn
  * file. Metadata is tiny (KBs), so snapshot-per-mutation is the right
  * trade — identical to etcd's full-durability semantics without a quorum.
  */
object MetaCatalog {

  private val Sep = '\u001f'

  private def path(dir: String) = new Path(s"$dir/_catalog")

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\u001f", "\\u").replace("\n", "\\n").replace("\r", "\\r")

  private def unesc(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s(i) == '\\' && i + 1 < s.length) {
        s(i + 1) match {
          case '\\' => sb += '\\'
          case 'u'  => sb += '\u001f'
          case 'n'  => sb += '\n'
          case 'r'  => sb += '\r'
          case c    => sb += c
        }
        i += 2
      } else { sb += s(i); i += 1 }
    }
    sb.toString
  }

  private val tmpSeq = new java.util.concurrent.atomic.AtomicLong(0)

  def write(spark: SparkSession, dir: String, records: Seq[Seq[String]]): Unit = {
    val p = path(dir)
    // unique tmp per write: even racing writers (which the Engine already
    // serializes) never share a tmp path
    val tmp = new Path(s"$dir/_catalog.tmp.${tmpSeq.getAndIncrement()}")
    val f = fs(spark, p)
    // sweep orphans from writes that crashed between create and rename —
    // unique names mean nothing else ever overwrites them
    scala.util.Try {
      f.globStatus(new Path(s"$dir/_catalog.tmp.*")).foreach { st =>
        if (st.getPath != tmp) f.delete(st.getPath, false)
      }
    }
    val body = ("v1" +: records.map(_.map(esc).mkString(Sep.toString))).mkString("\n")
    val out = f.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (f.exists(p)) f.delete(p, false) // local/HDFS rename won't clobber
    f.rename(tmp, p)
  }

  /** None when no catalog was ever written (or it is unreadable — a fresh
    * engine start beats refusing to start; measurements restore separately). */
  def read(spark: SparkSession, dir: String): Option[Seq[Seq[String]]] =
    scala.util.Try {
      val p = path(dir)
      val f = fs(spark, p)
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        val lines = body.split("\n", -1).toSeq
        if (lines.headOption.contains("v1"))
          Some(lines.tail.filter(_.nonEmpty)
            .map(_.split(Sep.toString, -1).toSeq.map(unesc))) // -1: keep trailing empties
        else None
      }
    }.toOption.flatten
}
