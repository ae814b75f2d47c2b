package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.GraphEdges
import graft.queries.PipelineQueries

/** The snapshot-memo contract: a value is reused only while its parquet
  * snapshot (length + mtime) is unchanged, a warm hit costs no Spark
  * job, the LRU holds its bound, and DedupIndex's sidecar names hash
  * the same bytes through the shared token. */
class SnapshotMemoSpec extends SparkSpec {

  /** `body`'s result with the memo misses and hits it caused. */
  private def counted[A](body: => A): (A, Long, Long) = {
    val before = SnapshotMemo.stats
    val out = body
    val after = SnapshotMemo.stats
    (out, after.misses - before.misses, after.hits - before.hits)
  }

  private def docs(words: Seq[String]): DataFrame = {
    import spark.implicits._
    (0 until 60).map { i =>
      val text = Seq.tabulate(8)(j => words((i + j * 3) % words.size))
        .mkString(" ")
      (text, if (i % 2 == 0) "en" else "de", "web", text.length.toLong)
    }.toDF("text", "lang", "source", "n_chars")
  }

  test("a file rewritten in place misses at every memoized site and " +
      "answers from the new data; a warm hit launches no job") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-memo").toString
    val li = s"$d/lineitem.parquet"
    val dp = s"$d/documents.parquet"
    // before: 40 orders of 5 lines, one row group, no hot order
    val before = (0 until 200).map(i => (i / 5L, (i * 7 % 50).toLong))
    // after: plus one order of 1,100 distinct parts (hot), written in
    // row groups of ~100 rows
    val after = before ++ (0 until 1100).map(p => (1000L, p.toLong))
    writeParquetFile(before.toDF("l_orderkey", "l_partkey"), li)
    writeParquetFile(docs(Seq("alpha", "bravo", "charlie", "delta",
      "echo", "foxtrot", "golf", "hotel")), dp)

    def lineitemCount() = Tables.table(spark, d, "lineitem").count()
    def hot(): Boolean = {
      val raw = Tables.lineitem(spark, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val (_, persisted) = GraphEdges.coPurchasePairs(raw.distinct(), raw,
        memoPath = Some(li))
      persisted.foreach(_.unpersist())
      persisted.nonEmpty
    }
    def fertility() =
      PipelineQueries.tokenizerFertility(spark, d).collect().toSet

    val count0 = lineitemCount()
    val narrow0 = Spread.narrow(spark, li)
    val hot0 = hot()
    val fert0 = fertility()
    assert((count0, narrow0, hot0) == ((200L, true, false)))

    // warm: the resolved relation and the probe verdict cost no job
    val raw = Tables.lineitem(spark, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    val ((_, tableMisses, tableHits), tableJobs) =
      jobsDuring(counted(Tables.table(spark, d, "lineitem")))
    assert((tableMisses, tableHits, tableJobs) == ((0L, 1L, 0)))
    val (((_, persisted), probeMisses, probeHits), probeJobs) =
      jobsDuring(counted(GraphEdges.coPurchasePairs(raw.distinct(), raw,
        memoPath = Some(li))))
    assert(persisted.isEmpty)
    assert((probeMisses, probeHits, probeJobs) == ((0L, 1L, 0)))
    // cold, the same probe is a Spark job
    val (_, coldJobs) = jobsDuring(GraphEdges.coPurchasePairs(
      raw.distinct(), raw))
    assert(coldJobs >= 1)

    val liToken = SnapshotMemo.token(spark, li)
    val docToken = SnapshotMemo.token(spark, dp)
    writeParquetFile(after.toDF("l_orderkey", "l_partkey"), li,
      Map("parquet.block.size" -> "1024"))
    writeParquetFile(docs(Seq("quick", "brown", "jumps", "over", "lazy",
      "dogs", "quietly", "quartz")), dp)
    assert(SnapshotMemo.token(spark, li) != liToken)
    assert(SnapshotMemo.token(spark, dp) != docToken)

    val (count1, m1, _) = counted(lineitemCount())
    assert(m1 == 1 && count1 == 1300L)

    val (narrow1, m2, h2) = counted(Spread.narrow(spark, li))
    val width = Spread.width(spark.sparkContext.defaultParallelism,
      Runtime.getRuntime.availableProcessors)
    val groups = sources.ParquetStats.rowGroupCount(spark, li).get
    assert(groups >= 2)
    assert((m2, h2) == ((1L, 0L)) && narrow1 == (groups < width / 2))
    assert(narrow1 != narrow0)

    Tables.lineitem(spark, d) // the relation is warm: only the probe counts
    val (hot1, m3, _) = counted(hot())
    assert(m3 == 1 && hot1)

    Tables.documents(spark, d) // likewise: only the merges count
    val (fert1, m4, _) = counted(fertility())
    assert(m4 == 1)
    assert(fert1 != fert0)
    // the fresh answer: the same corpus under a path never seen before
    val d2 = Files.createTempDirectory("graft-memo2").toString
    Files.copy(Path.of(dp), Path.of(s"$d2/documents.parquet"))
    assert(fert1 == PipelineQueries.tokenizerFertility(spark, d2)
      .collect().toSet)
  }

  test("the LRU holds Capacity entries, evicts the least recently " +
      "used and counts each eviction; an unreadable path is never stored") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-lru").toString
    val p = s"$d/t.parquet"
    writeParquetFile(Seq(1L).toDF("x"), p)
    var computed = 0
    def get(i: Int): Int = SnapshotMemo(spark, p, ("lru", i)) {
      computed += 1; i
    }
    val before = SnapshotMemo.stats
    (0 until SnapshotMemo.Capacity).foreach(get)
    get(0) // 0 becomes the most recently used
    get(SnapshotMemo.Capacity) // evicts 1
    val after = SnapshotMemo.stats
    assert(after.size == SnapshotMemo.Capacity)
    // every entry present before, then key 1
    assert(after.evictions - before.evictions == before.size + 1)
    computed = 0
    assert(get(0) == 0 && computed == 0)
    assert(get(1) == 1 && computed == 1)
    assert(SnapshotMemo.stats.size == SnapshotMemo.Capacity)

    val missing = s"$d/absent.parquet"
    val (_, misses, hits) = counted {
      SnapshotMemo(spark, missing, "live")(computed += 1)
      SnapshotMemo(spark, missing, "live")(computed += 1)
    }
    assert(computed == 3 && misses == 0 && hits == 0)
  }

  test("DedupIndex.snapshotKey is the MD5 of " +
      "FormatVersion|variant|path|length|mtime, so existing sidecars hit") {
    def md5(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val dir = Files.createTempDirectory("graft-snapkey")
    val file = dir.resolve("a.parquet")
    Files.write(file, Array.fill[Byte](100)(1))
    Files.createDirectories(dir.resolve("sub"))
    // a directory's length sums the files under it, nested ones too
    Files.write(dir.resolve("sub/b.parquet"), Array.fill[Byte](23)(2))
    file.toFile.setLastModified(1600000000000L)
    dir.toFile.setLastModified(1700000000000L)
    assert(pipeline.DedupIndex.snapshotKey(spark, file.toString, "pin") ==
      md5(s"3|pin|$file|100|1600000000000"))
    assert(pipeline.DedupIndex.snapshotKey(spark, dir.toString, "pin") ==
      md5(s"3|pin|$dir|123|1700000000000"))
  }
}
