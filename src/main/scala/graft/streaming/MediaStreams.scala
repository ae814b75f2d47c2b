package graft.streaming

import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.Multimodal
import graft.pipeline.Multimodal.{MediaFeatures, MediaItem}

/** Streaming media ingest: watch a directory (or object-store prefix)
  * for arriving media files and run the kind-dispatched feature /
  * metadata extraction continuously — the landing-zone half of the
  * multimodal pipeline, where files appear as a crawler or upload
  * service drops them and the engine keeps the corpus catalog current
  * without batch re-scans.
  *
  * Built on the `binaryFile` file-stream source (same discovery/
  * checkpoint semantics as the events parquet stream); the payload
  * stays an opaque BINARY column until the partition-local batch loop
  * decodes it, so nothing here shuffles file contents.
  */
object MediaStreams {

  /** binaryFile's fixed schema — a streaming source needs it declared
    * up front (there may be no files yet when the stream starts). */
  val binaryFileSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** Media kind from the file extension — the dispatch key
    * [[Multimodal.extractMediaFeatures]] uses. Unknown extensions map
    * to "binary" (byte-stub features, counted as decode failures). */
  def kindFromPath(path: Column): Column = {
    val ext = lower(regexp_extract(path, "\\.([A-Za-z0-9]+)$", 1))
    when(ext.isin("png", "jpg", "jpeg", "bmp", "gif"), "image")
      .when(ext.isin("wav", "au", "aiff", "mp3"), "audio")
      .when(ext.isin("avi", "h264", "264", "mp4", "m4v"), "video")
      .otherwise("binary")
  }

  /** File-stream of [[MediaItem]]s from a directory: id is the 64-bit
    * hash of the path (stable across restarts — re-delivered files get
    * the same id), kind from the extension, path kept in `meta`.
    * `maxFilesPerTrigger` bounds micro-batch size so one huge drop
    * cannot stall the trigger. */
  def readMediaDir(spark: SparkSession, dir: String,
                   maxFilesPerTrigger: Int = 256): Dataset[MediaItem] = {
    import spark.implicits._
    spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(dir)
      .select(xxhash64(col("path")).as("id"),
        kindFromPath(col("path")).as("kind"),
        col("content"),
        map(lit("src"), col("path")).as("meta"))
      .as[MediaItem]
  }

  /** Continuous feature/metadata extraction over the file stream —
    * append-mode rows, one per file, via the same partition-local
    * batch kernel the batch path uses. */
  def streamingMediaFeatures(items: Dataset[MediaItem])
      : Dataset[MediaFeatures] =
    Multimodal.extractMediaFeatures(items)
}
