package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.sources.ParquetStats

/** Unit contract of the zero-job footer-statistics reader the dense
  * dispatch guards depend on: exact counts and ranges from written
  * parquet, and STRICT None on anything unknown — a guard must never
  * mistake "statistic unavailable" for "range is safe". */
class ParquetStatsSpec extends SparkSpec {

  private def write(rows: Seq[(Long, Long)], parts: Int): String = {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pstats").toString
    rows.toDF("a", "b").repartition(parts)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/t.parquet")
    s"$dir/t.parquet"
  }

  test("rowCount and longMinMax are exact across multiple files") {
    val rows = (1L to 5000L).map(i => (i * 3 - 2, 7000L - i))
    val p = write(rows, 4)
    assert(ParquetStats.rowCount(spark, p).contains(5000L))
    assert(ParquetStats.longMinMax(spark, p, "a").contains((1L, 14998L)))
    assert(ParquetStats.longMinMax(spark, p, "b").contains((2000L, 6999L)))
  }

  test("negative and boundary values survive the statistics round-trip") {
    val p = write(Seq((-5L, Long.MaxValue), (0L, Long.MinValue + 1)), 1)
    assert(ParquetStats.longMinMax(spark, p, "a").contains((-5L, 0L)))
    assert(ParquetStats.longMinMax(spark, p, "b")
      .contains((Long.MinValue + 1, Long.MaxValue)))
  }

  test("unknowns are None, never a guess") {
    val p = write(Seq((1L, 2L)), 1)
    assert(ParquetStats.longMinMax(spark, p, "no_such_col").isEmpty)
    assert(ParquetStats.rowCount(spark, "/nonexistent/path.parquet").isEmpty)
    assert(ParquetStats
      .longMinMax(spark, "/nonexistent/path.parquet", "a").isEmpty)
  }

  test("nested/partitioned layouts are fully counted (recursive walk)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pstats").toString
    (1L to 300L).map(i => (i, i % 3)).toDF("a", "pk")
      .write.mode(SaveMode.Overwrite).partitionBy("pk")
      .parquet(s"$dir/t.parquet")
    // every file under pk=0/, pk=1/, pk=2/ must be seen: a non-recursive
    // listing would report 0 rows here and a dense guard could admit a
    // collect whose unseen files hold keys past the pack range
    assert(ParquetStats.rowCount(spark, s"$dir/t.parquet").contains(300L))
    assert(ParquetStats.longMinMax(spark, s"$dir/t.parquet", "a")
      .contains((1L, 300L)))
    // the partition column lives in directory names, not footers:
    // still None (unknown), never a guess
    assert(ParquetStats.longMinMax(spark, s"$dir/t.parquet", "pk").isEmpty)
  }

  test("hidden/temporary entries are ignored, like Spark readers do") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pstats").toString
    (1L to 10L).map(i => (i, i)).toDF("a", "b").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/t.parquet")
    // a crashed write's leftovers: Spark ignores '_'/'.' names, so the
    // footer count must too — over-counting could flip a dispatch
    // branch the oracle's logical COUNT(*) doesn't take
    (1L to 90L).map(i => (i, i)).toDF("a", "b").coalesce(1)
      .write.parquet(s"$dir/t.parquet/_temporary/0/part.parquet")
    (1L to 7L).map(i => (i, i)).toDF("a", "b").coalesce(1)
      .write.parquet(s"$dir/t.parquet/.hidden/part.parquet")
    assert(ParquetStats.rowCount(spark, s"$dir/t.parquet").contains(10L))
    assert(ParquetStats.longMinMax(spark, s"$dir/t.parquet", "a")
      .contains((1L, 10L)))
  }

  test("non-long columns return None (the pack guard needs int64)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pstats").toString
    Seq(("x", 1.5), ("y", 2.5)).toDF("s", "d")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/t.parquet")
    assert(ParquetStats.longMinMax(spark, s"$dir/t.parquet", "s").isEmpty)
    assert(ParquetStats.longMinMax(spark, s"$dir/t.parquet", "d").isEmpty)
  }

  test("session_window_overlap's footer t0 truncates pre-epoch nanos " +
      "like Tables.events' ts_us") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-t0").toString
    // int64 nanos: user 1 at −1,500 ns (ts_us −1, truncated like
    // DuckDB's epoch_us), user 2 at 5,399,999,998 µs
    writeParquetFile(Seq((1L, 1L, -1500L, 1.0),
        (2L, 2L, 5399999998000L, 2.0))
      .toDF("user_id", "event_id", "ts", "value"), s"$d/events.parquet")
    assert(ParquetStats.longMinMax(spark, s"$d/events.parquet", "ts")
      .contains((-1500L, 5399999998000L)))
    val t0 = Tables.events(spark, d).agg(min(col("ts_us"))).first()
      .getLong(0)
    assert(t0 == -1L)
    // window 0 is [t0, t0 + 5,400,000,000 µs): user 2's one-event
    // session [5,399,999,998, +1) overlaps it only if the footer t0 is
    // −1 (a floored −2 ends the window at 5,399,999,998), and user 1's
    // session [−1, 0) only if t0 < 0 — so the one row pins t0 == −1
    val rows = graft.queries.Relational.sessionWindowOverlap(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((0L, 2L, 2L)))
  }
}
