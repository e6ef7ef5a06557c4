package graft.zeiss

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.{AccumulatorV2, SerializableConfiguration}

/** Zarr v2 store read/write (SURVEY §2A ops 17-19): JSON sidecars
  * (`.zgroup` / `.zarray` / `.zattrs`) plus one Blosc-compressed file per
  * chunk named `t/c/z/y/x` (`dimension_separator="/"`, matching
  * `compress/czi_to_zarr.py:545-553`).
  *
  * All paths go through the Hadoop FileSystem API so the same code writes
  * `file://` locally and `s3a://` on a cluster — replacing the reference's
  * `aws s3 sync` subprocess sink (`utils/utils.py:138-201`) with the S3A
  * committer, per SURVEY §2A op 24.
  *
  * Chunk writes happen in tasks on the executors; only the metadata
  * sidecars are driver-side. Region-disjointness makes chunk writes
  * lock-free (one file per chunk — the same property the reference exploits
  * with `lock=False`, `zarr_writer.py:209`).
  */
object ZarrIO {

  private def fs(path: String, conf: Configuration): FileSystem =
    new Path(path).getFileSystem(conf)

  /** A copy of the context's Hadoop conf, broadcast once for the tasks of
    * one conversion, level write or level read. Captured in each task's
    * closure instead, the conf (about a thousand properties, each with a
    * gzipped source list) would be deserialized again by every task;
    * Spark's file scans broadcast it for the same reason. */
  def broadcastConf(spark: SparkSession): Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(
      new SerializableConfiguration(new Configuration(spark.sparkContext.hadoopConfiguration)))

  def writeBytes(conf: Configuration, path: String, bytes: Array[Byte]): Unit = {
    val p = new Path(path)
    val f = fs(path, conf)
    val out = f.create(p, true)
    try out.write(bytes) finally out.close()
  }

  def readBytes(conf: Configuration, path: String): Array[Byte] = {
    val p = new Path(path)
    val f = fs(path, conf)
    val in = f.open(p)
    try {
      val len = f.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }

  def writeString(conf: Configuration, path: String, s: String): Unit =
    writeBytes(conf, path, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** `.zarray` JSON for one pyramid level. */
  def zarrayJson(grid: ChunkGrid, settings: ZeissJobSettings): String = {
    val compressor =
      if (settings.compressionEnabled)
        s"""{"id":"blosc","cname":"${settings.compressorCname}","clevel":${settings.compressorClevel},"shuffle":${if (settings.compressorShuffle) 1 else 0},"blocksize":0}"""
      else "null"
    val shape = grid.shape.mkString("[", ",", "]")
    val chunks = (Seq(1, 1) ++ grid.chunk).mkString("[", ",", "]")
    s"""{"zarr_format":2,"shape":$shape,"chunks":$chunks,"dtype":"${grid.dtypeName}","compressor":$compressor,"fill_value":0,"order":"C","filters":null,"dimension_separator":"/"}"""
  }

  /** Pads a (possibly edge-truncated) C-order payload of extent
    * (ez,ey,ex) to the full chunk shape (cz,cy,cx), zero-filled. Zarr v2
    * requires every stored chunk to decode to exactly
    * prod(chunks)*itemsize bytes — zarr-python writes edge chunks
    * full-size, padded with fill_value (0 in our `.zarray`), so any
    * standard reader (zarr-python/tensorstore/neuroglancer) can consume
    * the store. Zero bytes ARE fill_value 0 for every supported dtype
    * (two's-complement ints and IEEE floats). */
  private[zeiss] def padToFullChunk(data: Array[Byte],
      ez: Int, ey: Int, ex: Int, cz: Int, cy: Int, cx: Int,
      itemSize: Int): Array[Byte] =
    if (ez == cz && ey == cy && ex == cx) data
    else {
      val out = new Array[Byte](cz * cy * cx * itemSize)
      val rowBytes = ex * itemSize
      var z = 0
      while (z < ez) {
        var y = 0
        while (y < ey) {
          System.arraycopy(data, (z * ey + y) * rowBytes,
            out, ((z * cy + y) * cx) * itemSize, rowBytes)
          y += 1
        }
        z += 1
      }
      out
    }

  /** Inverse of [[padToFullChunk]]: slices the (ez,ey,ex) live region out
    * of a full-size stored chunk, restoring the engine's truncated
    * in-memory edge-chunk representation. */
  private[zeiss] def sliceFromFullChunk(data: Array[Byte],
      ez: Int, ey: Int, ex: Int, cz: Int, cy: Int, cx: Int,
      itemSize: Int): Array[Byte] =
    if (ez == cz && ey == cy && ex == cx) data
    else {
      val out = new Array[Byte](ez * ey * ex * itemSize)
      val rowBytes = ex * itemSize
      var z = 0
      while (z < ez) {
        var y = 0
        while (y < ey) {
          System.arraycopy(data, ((z * cy + y) * cx) * itemSize,
            out, (z * ey + y) * rowBytes, rowBytes)
          y += 1
        }
        z += 1
      }
      out
    }

  /** Writes one pyramid level as it streams past: the driver writes
    * `.zarray` now, and each task Blosc-compresses and writes every chunk,
    * then passes it on unchanged, so the next level is computed in the
    * same job from the chunks still in memory. Lazy: the files appear when
    * an action downstream runs. Each task reports its chunk count to
    * `counts` under (level, partition). */
  def writeThrough(spark: SparkSession, ds: Dataset[ImageChunk], grid: ChunkGrid,
      groupDir: String, level: Int, settings: ZeissJobSettings,
      counts: LevelCounts, conf: Broadcast[SerializableConfiguration]): Dataset[ImageChunk] = {
    import spark.implicits._
    val levelDir = s"$groupDir/$level"
    writeString(spark.sparkContext.hadoopConfiguration, s"$levelDir/.zarray",
      zarrayJson(grid, settings))
    val itemSize = grid.dtype.itemSize
    val (clevel, doShuffle, compress) =
      (settings.compressorClevel, settings.compressorShuffle, settings.compressionEnabled)
    val g = grid
    ds.mapPartitions { (it: Iterator[ImageChunk]) =>
      val c = conf.value.value
      val Seq(cz, cy, cx) = g.chunk
      var n = 0L
      it.map { chunk =>
        val (ez, ey, ex) = g.extent(chunk.zi, chunk.yi, chunk.xi)
        val full = padToFullChunk(chunk.data, ez, ey, ex, cz, cy, cx, itemSize)
        val payload =
          if (compress) Blosc.compress(full, itemSize, clevel, doShuffle)
          else full
        writeBytes(c,
          s"$levelDir/${chunk.t}/${chunk.c}/${chunk.zi}/${chunk.yi}/${chunk.xi}", payload)
        n += 1
        chunk
      } ++ { // by-name: runs once the partition is exhausted
        counts.add(((level, TaskContext.getPartitionId()), n))
        Iterator.empty
      }
    }
  }

  /** Writes one pyramid level and returns its chunk count (an action: the
    * last level of a pyramid, or a level written on its own). */
  def writeLevel(spark: SparkSession, ds: Dataset[ImageChunk], grid: ChunkGrid,
      groupDir: String, level: Int, settings: ZeissJobSettings): Long = {
    val conf = broadcastConf(spark)
    try writeLevel(spark, ds, grid, groupDir, level, settings, conf)
    finally conf.destroy()
  }

  /** [[writeLevel]] with tasks writing through the broadcast `conf`. */
  private[zeiss] def writeLevel(spark: SparkSession, ds: Dataset[ImageChunk], grid: ChunkGrid,
      groupDir: String, level: Int, settings: ZeissJobSettings,
      conf: Broadcast[SerializableConfiguration]): Long = {
    val counts = LevelCounts(spark, s"zarr-chunks-l$level")
    writeThrough(spark, ds, grid, groupDir, level, settings, counts, conf)
      .foreachPartition((it: Iterator[ImageChunk]) => it.foreach(_ => ()))
    counts.level(level)
  }

  /** Reads one pyramid level back as a chunk table — the reference's
    * write-then-read-back level step (`czi_to_zarr.py:527-540`); the level
    * chain only needs it after a blocked level-0 write. The chunk
    * coordinate list is tiny (grid metadata); voxel bytes are read
    * and decompressed in parallel on the executors. */
  def readLevel(spark: SparkSession, groupDir: String, level: Int)
      : (ChunkGrid, Dataset[ImageChunk]) = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val levelDir = s"$groupDir/$level"
    val zarrayJson = new String(readBytes(conf, s"$levelDir/.zarray"),
      java.nio.charset.StandardCharsets.UTF_8)
    val grid = parseZarray(zarrayJson)
    // the .zarray compressor field is authoritative — sniffing chunk bytes
    // would misread raw voxel data whose first byte happens to be the
    // blosc format version
    val compressed = {
      val c = new ObjectMapper().readTree(zarrayJson).get("compressor")
      c != null && !c.isNull
    }
    val sconf = broadcastConf(spark)
    // chunk coordinates are derived from a range index on the executors —
    // never materialized on the driver (a 100TB level is tens of millions
    // of chunks; the driver holds only the grid geometry)
    val g = grid
    val (nc, nz, ny, nx) = (g.nC, g.nz, g.ny, g.nx)
    val itemSize = g.dtype.itemSize
    val ds = spark.range(0, grid.numChunks, 1,
        math.min(grid.numChunks, spark.sparkContext.defaultParallelism * 2).toInt)
      .map { idx =>
        var r = idx
        val xi = (r % nx).toInt; r /= nx
        val yi = (r % ny).toInt; r /= ny
        val zi = (r % nz).toInt; r /= nz
        val c = (r % nc).toInt; r /= nc
        val t = r.toInt
        val raw = readBytes(sconf.value.value, s"$levelDir/$t/$c/$zi/$yi/$xi")
        val full = if (compressed) Blosc.decompress(raw) else raw
        // stored chunks are always full-size (zarr v2); restore the
        // engine's truncated edge-chunk working representation
        val Seq(cz, cy, cx) = g.chunk
        val (ez, ey, ex) = g.extent(zi, yi, xi)
        ImageChunk(t, c, zi, yi, xi,
          sliceFromFullChunk(full, ez, ey, ex, cz, cy, cx, itemSize))
      }
    (grid, ds)
  }

  def parseZarray(json: String): ChunkGrid = {
    val node = new ObjectMapper().readTree(json)
    val shape = (0 until node.get("shape").size).map(i => node.get("shape").get(i).asLong)
    val chunks = (0 until node.get("chunks").size).map(i => node.get("chunks").get(i).asInt)
    ChunkGrid(shape, chunks.drop(2), node.get("dtype").asText)
  }

  /** Driver-side group metadata: `.zgroup` + OME-NGFF `.zattrs`
    * (`write_ome_ngff_metadata`, `czi_to_zarr.py:222-295`). */
  def writeGroupMeta(spark: SparkSession, groupDir: String, zattrsJson: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    writeString(conf, s"$groupDir/.zgroup", """{"zarr_format":2}""")
    writeString(conf, s"$groupDir/.zattrs", zattrsJson)
  }
}

/** Chunk counts that write tasks report under (level, partition id). A
  * task re-run after a lost shuffle output or a stage retry reports the
  * same key with the same count, and the merge keeps one — where a
  * `LongAccumulator` updated from shuffle-map tasks would count it twice. */
final class LevelCounts extends AccumulatorV2[((Int, Int), Long), Map[(Int, Int), Long]] {
  private var counts = Map.empty[(Int, Int), Long]
  override def isZero: Boolean = counts.isEmpty
  override def copy(): LevelCounts = { val c = new LevelCounts; c.counts = counts; c }
  override def reset(): Unit = counts = Map.empty
  override def add(v: ((Int, Int), Long)): Unit = counts += v
  override def merge(other: AccumulatorV2[((Int, Int), Long), Map[(Int, Int), Long]]): Unit =
    counts ++= other.value
  override def value: Map[(Int, Int), Long] = counts
  /** Chunks written for `level`, each partition counted once. */
  def level(level: Int): Long = counts.iterator.collect { case ((`level`, _), n) => n }.sum
}

object LevelCounts {
  /** A fresh accumulator registered with `spark`'s context. */
  def apply(spark: SparkSession, name: String): LevelCounts = {
    val c = new LevelCounts
    spark.sparkContext.register(c, name)
    c
  }
}
