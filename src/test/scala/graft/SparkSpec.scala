package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for suites (one per JVM — local[4], UTC, AQE on). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
      // The plan-shape suites pin AT-SCALE contracts, where the
      // Spread scan-parallelism heal is a footer-guarded structural
      // no-op (row groups >= cores/2) — so it is off here and its
      // local firing behavior (guard verdicts, result equality, the
      // reused exchange) is owned by SpreadSpec, which re-enables it
      // per test.
      .config(Spread.EnabledConf, "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf(dir: String): String = s"/root/testdata/$dir"

  /** Write `df` as ONE parquet file at `target` (the layout of the
    * testdata tables), replacing any file there. */
  def writeParquetFile(df: DataFrame, target: String,
                       options: Map[String, String] = Map.empty): Unit = {
    val tmp = Files.createTempDirectory("graft-pqfile")
    df.coalesce(1).write.options(options).parquet(s"$tmp/out")
    val part = new java.io.File(s"$tmp/out").listFiles()
      .find(f => f.getName.startsWith("part-")).get
    Files.move(part.toPath, Paths.get(target),
      StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  /** `body`'s result and the number of Spark jobs started while it ran.
    * Listener events post asynchronously, so the count is read after a
    * fixed settle wait. */
  def jobsDuring[A](body: => A): (A, Int) = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      Thread.sleep(500)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
