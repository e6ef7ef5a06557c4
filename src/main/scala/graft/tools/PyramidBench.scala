package graft.tools

import graft.zeiss._
import org.apache.spark.sql.SparkSession

/** Dev benchmark for the image-pyramid path at a configurable size, on
  * `local[SPARK_GRAFT_CPUS]` (default 32) with as many shuffle partitions.
  * Usage: runMain graft.tools.PyramidBench [z y x] [chunk] [levels]
  */
object PyramidBench {
  def main(args: Array[String]): Unit = {
    val (z, y, x) = if (args.length >= 3)
      (args(0).toLong, args(1).toLong, args(2).toLong) else (512L, 512L, 512L)
    val chunk = if (args.length >= 4) args(3).toInt else 128
    val levels = if (args.length >= 5) args(4).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val out = java.nio.file.Files.createTempDirectory("graft-pyr-bench").toString
    val settings = ZeissJobSettings(
      inputSource = "/nonexistent", outputDirectory = out,
      chunkSize = Seq(chunk, chunk, chunk), downsampleLevels = levels)
    val shape = Seq(1L, 1L, z, y, x)
    val gb = z * y * x * 2.0 / (1L << 30)
    val t0 = System.nanoTime()
    val counts = ZeissJob.writeStack(spark, settings, "bench(1).czi",
      headerOverride = Some((shape, Seq(1.0, 0.5, 0.5), 99L)))
    val secs = (System.nanoTime() - t0) / 1e9
    val zarrBytes = {
      def du(f: java.io.File): Long =
        if (f.isFile) f.length
        else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)
      du(new java.io.File(out))
    }
    println(f"[pyramid] ${z}x${y}x$x uint16 ($gb%.2f GiB) chunk=$chunk levels=$levels")
    println(f"[pyramid] wall ${secs}%.1f s -> ${gb / secs * 60}%.1f GiB/min; " +
      f"chunks per level: ${counts.mkString(",")}; " +
      f"compressed size ${zarrBytes / 1024.0 / 1024.0}%.0f MiB " +
      f"(${zarrBytes.toDouble / (z * y * x * 2) * 100}%.1f%% of raw)")
    // cleanup
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(out))
    spark.stop()
  }
}
