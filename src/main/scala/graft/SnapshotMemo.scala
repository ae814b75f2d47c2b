package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Memo for values that are a pure function of one parquet
  * snapshot: a resolved relation, a dispatch guard's verdict, a learned
  * rule set.
  *
  * Entries are keyed by (path, snapshot token, what). The token changes
  * when the data is rewritten in place, so an entry is never served
  * for another snapshot: its key is simply never asked for again and
  * ages out of the LRU. `what` names the value within a snapshot — the site
  * plus every parameter the value depends on (a session, a bound, a
  * column pair).
  *
  * One access-ordered LRU of [[Capacity]] entries under one lock. The
  * compute runs outside the lock; two threads missing the same key
  * both compute, and either result is right because the value is a
  * pure function of the snapshot. A path whose token cannot be read is
  * computed live and never stored (the scan behind it fails loudly
  * anyway).
  */
object SnapshotMemo {

  val Capacity = 256

  /** (total length, root mtime) of a file or directory, from filesystem
    * metadata only — no job, no footer read. The length of a directory
    * sums every file under it. None when the path cannot be read. The
    * filesystem resolves through the context's Hadoop conf: a per-call
    * session copy (`newHadoopConf`) cost ~160 µs on a 4-core VM, six
    * times the rest of a warm [[Tables.table]] call. */
  def token(spark: SparkSession, path: String): Option[(Long, Long)] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      val len =
        if (st.isDirectory) fs.getContentSummary(p).getLength else st.getLen
      Some((len, st.getModificationTime))
    } catch { case _: Exception => None }

  final case class Stats(hits: Long, misses: Long, evictions: Long,
                         size: Int)

  private type Key = (String, (Long, Long), Any)

  private var hits, misses, evictions = 0L

  // access order: a hit moves its entry to the young end
  private val entries = new java.util.LinkedHashMap[Key, Any](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Any])
        : Boolean = {
      val over = size > Capacity
      if (over) evictions += 1
      over
    }
  }

  /** The memoized `compute` for (`path`'s current snapshot, `what`). */
  def apply[V](spark: SparkSession, path: String, what: Any)
              (compute: => V): V =
    token(spark, path) match {
      case None => compute
      case Some(t) =>
        val key: Key = (path, t, what)
        val cached = entries.synchronized {
          val v = entries.get(key)
          if (v == null) misses += 1 else hits += 1
          Option(v)
        }
        cached.map(_.asInstanceOf[V]).getOrElse {
          val v = compute
          entries.synchronized(entries.put(key, v))
          v
        }
    }

  def stats: Stats = entries.synchronized(
    Stats(hits, misses, evictions, entries.size))
}
