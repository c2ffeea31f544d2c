package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Shared scaffolding for checkpoint-RESTART streaming tests: a feed
  * directory that gains one parquet file per logical delivery, and an
  * AvailableNow drain through a foreachBatch sink (the memory sink refuses
  * checkpoint recovery, so restart tests must collect emissions through
  * foreachBatch — per-run, so each run observes only its own output).
  * One home for the stage-then-move file feeder so a fix to it lands in
  * every restart test at once.
  */
private[graft] trait StreamingRestartHarness { self: SparkTestBase =>

  final class RestartFeed(name: String) {
    val root: File = java.nio.file.Files.createTempDirectory(name).toFile
    val feed: File = { val f = new File(root, "feed"); f.mkdirs(); f }
    val ckpt: String = new File(root, "ckpt").getAbsolutePath

    /** Deliver `df` as ONE new parquet file in the feed (staged elsewhere,
      * then moved in, so the stream source never sees a partial file).
      */
    def addFile(tag: String, df: DataFrame): Unit = {
      val staging = new File(root, s"stage_$tag")
      df.coalesce(1).write.mode("overwrite").parquet(staging.getAbsolutePath)
      val part = staging.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new File(feed, s"$tag.parquet").toPath)
    }

    /** One AvailableNow run over the feed with the shared checkpoint:
      * `plan` shapes the stream, `onBatch` receives every emitted batch.
      */
    def drain(schema: String)(plan: DataFrame => DataFrame)(
        onBatch: DataFrame => Unit): StreamingQuery = {
      val q = plan(
          spark.readStream.schema(schema).parquet(feed.getAbsolutePath))
        .writeStream
        .outputMode("append")
        .foreachBatch((batch: DataFrame, _: Long) => onBatch(batch))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q
    }
  }

  /** [[graft.streaming.StreamingOps.drainLog]]'s query started OUTSIDE
    * the engine's streaming scope, so it checkpoints through Spark's
    * default manager (Hadoop's local filesystem): one side of the
    * cross-manager restart tests.
    */
  def drainLogSparkDefault(topic: String, chk: File, sink: File,
      maxRecordsPerTrigger: Long): Unit = {
    val q = spark.readStream
      .format(classOf[graft.streaming.InMemoryLogProvider].getName)
      .option("topic", topic)
      .option("maxRecordsPerTrigger", maxRecordsPerTrigger.toString)
      .load()
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", chk.getAbsolutePath)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(sink.getAbsolutePath)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    graft.streaming.StreamingOps.awaitDrained(q)
  }

  /** Hadoop `.<name>.crc` sidecars anywhere under `dir` — Spark 4.1's own
    * `<name>.crc` checksum files are not hidden and do not count. */
  def hadoopSidecars(dir: File): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(dir.toPath)
    try walk.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(".") && n.endsWith(".crc")).toSeq
    finally walk.close()
  }
}
