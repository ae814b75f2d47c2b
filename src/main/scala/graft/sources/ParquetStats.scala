package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Driver-side parquet footer statistics — row counts and int64 column
  * min/max straight from row-group metadata, NO Spark job. Dispatch
  * guards use these to pick a plan before paying any cluster action:
  * a footer read is ~ms per file and exact (parquet stores exact
  * per-row-group statistics for int64 columns; a missing statistic
  * returns None and the caller falls back to an aggregate probe). */
object ParquetStats {

  private def footers(spark: SparkSession, pathStr: String)
      : Seq[org.apache.parquet.hadoop.metadata.ParquetMetadata] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(pathStr)
    val fs = p.getFileSystem(conf)
    // RECURSE into subdirectories: a nested/partitioned layout whose
    // files were silently skipped would under-count rows and narrow
    // min/max — a dispatch guard could then admit a packed collect
    // whose unseen files hold keys past the pack range. (Partition
    // columns live in directory names, not footers, so longMinMax on
    // one still correctly returns None via its column-not-found path.)
    // skip hidden/temporary entries, with SPARK'S exact rule
    // (InMemoryFileIndex): '.'-prefixed always hidden; '_'-prefixed
    // hidden UNLESS the name contains '=' (a partition dir for a
    // column named e.g. `_year` is `_year=2020/` and Spark READS it —
    // filtering it here would under-count in exactly the way this
    // filter exists to prevent). Counting a crashed write's
    // _temporary/ files would diverge the footer count from the
    // logical COUNT(*) the oracles replay.
    def visible(p: Path): Boolean = {
      val n = p.getName
      !(n.startsWith(".") || (n.startsWith("_") && !n.contains("=")))
    }
    // No extension filter: Spark's InMemoryFileIndex treats EVERY
    // visible file as a data file, so an externally produced layout
    // with extensionless part files must count here too — an
    // extension filter would under-count it and flip dispatch guards
    // relative to the oracle's COUNT(*). A visible non-parquet stray
    // makes the footer open below throw, and the caller's catch
    // reports None ("unknown") — the same layout makes Spark's own
    // parquet scan fail, so falling back to a live probe (which then
    // fails loudly) is the honest behavior, never a silent skip.
    def list(dir: Path): Seq[Path] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        if (!visible(st.getPath)) Seq.empty
        else if (st.isDirectory) list(st.getPath)
        else Seq(st.getPath)
      }
    val files =
      if (fs.getFileStatus(p).isDirectory) list(p)
      else Seq(p)
    files.map { f =>
      val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try rdr.getFooter finally rdr.close()
    }
  }

  /** Total rows from footers; None on any read failure. */
  def rowCount(spark: SparkSession, pathStr: String): Option[Long] =
    try Some(footers(spark, pathStr).map { fm =>
      var n = 0L
      val it = fm.getBlocks.iterator()
      while (it.hasNext) n += it.next().getRowCount
      n
    }.sum)
    catch { case _: Exception => None }

  /** Total row-group count across all files; None on any read failure.
    * A parquet scan's achievable task parallelism is bounded by this
    * (Spark cannot split a row group), so dispatch guards use it to
    * detect scans that cannot occupy the session (r17-opt,
    * [[graft.Spread]]). */
  def rowGroupCount(spark: SparkSession, pathStr: String): Option[Long] =
    try Some(footers(spark, pathStr).map(_.getBlocks.size.toLong).sum)
    catch { case _: Exception => None }

  /** (min, max) of an int64 column across all row groups; None when any
    * row group lacks the statistic (or on read failure) — callers must
    * treat None as "unknown", never as empty. */
  def longMinMax(spark: SparkSession, pathStr: String, colName: String)
      : Option[(Long, Long)] =
    try {
      var lo = Long.MaxValue
      var hi = Long.MinValue
      var any = false
      footers(spark, pathStr).foreach { fm =>
        val it = fm.getBlocks.iterator()
        while (it.hasNext) {
          val blk = it.next()
          val cit = blk.getColumns.iterator()
          var found = false
          while (cit.hasNext) {
            val c = cit.next()
            if (c.getPath.toDotString == colName) {
              found = true
              val st = c.getStatistics
              if (st == null || !st.hasNonNullValue) return None
              (st.genericGetMin, st.genericGetMax) match {
                case (mn: java.lang.Long, mx: java.lang.Long) =>
                  lo = math.min(lo, mn.longValue)
                  hi = math.max(hi, mx.longValue)
                  any = true
                case _ => return None
              }
            }
          }
          if (!found) return None
        }
      }
      if (any) Some((lo, hi)) else None
    } catch { case _: Exception => None }
}
