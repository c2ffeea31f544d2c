import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.types.LongType

/** Milliseconds per checkpoint file under Spark's default manager and
  * under GraftCheckpointFileManager, and per one-file write through
  * Spark's v1 parquet sink (FileOutputCommitter) against the same job
  * into the noop sink and against GraftParquetIO's java.nio writer. */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val conf = spark.sparkContext.hadoopConfiguration
    val root = Files.createTempDirectory("cfm_probe")
    val bytes = Array.fill[Byte](300)(7)
    def perCall(n: Int)(f: Int => Unit): Double = {
      (0 until 5).foreach(i => f(100000 + i)) // warm-up
      val t0 = System.nanoTime()
      (0 until n).foreach(f)
      (System.nanoTime() - t0) / 1e6 / n
    }
    for (round <- 1 to 2) {
      val dir = new Path(
        Files.createDirectories(root.resolve(s"chk$round")).toUri)
      for ((label, fm) <- Seq(
          "spark default manager" -> CheckpointFileManager.create(dir, conf),
          "GraftCheckpointFileManager" ->
            new graft.streaming.GraftCheckpointFileManager(dir, conf))) {
        for (overwrite <- Seq(false, true)) {
          val ms = perCall(40) { i =>
            val out = fm.createAtomic(
              new Path(dir, s"${label.take(5)}-$overwrite-$i"), overwrite)
            out.write(bytes); out.close()
          }
          println(f"round $round $label%-28s createAtomic(overwrite=$overwrite%-5s) $ms%8.3f ms/file")
        }
        val ms = perCall(200)(i => fm.exists(new Path(dir, s"x$i")))
        println(f"round $round $label%-28s exists $ms%8.3f ms/call")
      }
      val one = spark.range(1).toDF("id").coalesce(1)
      val sink = root.resolve(s"sink$round").toString
      val v1 = perCall(20)(_ => one.write.mode("append").parquet(sink))
      println(f"round $round v1 parquet append of one 1-row file (FileOutputCommitter) $v1%8.1f ms/write")
      val noop = perCall(20)(_ =>
        one.write.format("noop").mode("overwrite").save())
      println(f"round $round the same one-row job into the noop sink (job cost only) $noop%8.1f ms/write")
      val nio = perCall(20) { i =>
        graft.sources.GraftParquetIO.write(
          root.resolve(s"nio$round-$i.parquet").toString,
          Seq("id"), Seq(LongType), Vector(InternalRow(1L)))
      }
      println(f"round $round GraftParquetIO.write of one 1-row file (java.nio) $nio%8.1f ms/write")
    }
    spark.stop()
    graft.sources.GraftParquetIO.deleteRecursively(root.toFile)
  }
}
