package graft.zeiss

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.SerializableConfiguration

/** Distributed chunk-table source over a real CZI container (SURVEY §2A
  * op 5, live path), with no shuffle. The subblock directory — parsed once,
  * driver-side, like the reference's header read — plans the tasks: each
  * task owns a box of whole blocks of write-grid chunks, reads through the
  * Hadoop FS API only the parts of the subblocks that intersect its box,
  * and assembles those chunks whole in memory. Every chunk has exactly one
  * owner, so no fragment ever crosses tasks and the reference's rechunk of
  * the lazily loaded stack (`czi_to_zarr.py:447`) costs no exchange,
  * however the acquisition tiled it. With the pyramid's scale factors as
  * the block, every level-1 chunk's sources share one task, which lets
  * `ZeissJob.writeStack` run the level 0->1 step inside it.
  *
  * Box size follows Spark's own file-split rule (`FilePartition.maxSplitBytes`):
  * min(maxPartitionBytes, max(openCostInBytes, arrayBytes / defaultParallelism)),
  * never below one block — so no task reads corpus-sized input.
  */
object CziSource {

  /** The Z planes [z0, z1), rows [y0, y1) and columns [x0, x1) of one
    * subblock (entry-relative) that a box needs. */
  final case class Piece(entry: CziReader.SubblockEntry,
      z0: Int, z1: Int, y0: Int, y1: Int, x0: Int, x1: Int) {
    /** Bytes the task reads for this piece: just its region of an
      * uncompressed payload, the whole decoded subblock for a zstd one. */
    def readBytes(itemSize: Int): Long = itemSize.toLong * (
      if (entry.compression == CziReader.CompressionNone) (z1 - z0).toLong * (y1 - y0) * (x1 - x0)
      else entry.size("Z").toLong * entry.size("Y") * entry.size("X"))
  }

  /** One task: write-grid chunks (t, c, zi0 until zi1, yi0 until yi1,
    * xi0 until xi1) and the subblock pieces that cover them. */
  final case class Box(t: Int, c: Int, zi0: Int, zi1: Int, yi0: Int, yi1: Int,
      xi0: Int, xi1: Int, pieces: Seq[Piece])

  /** Spark's file-split size for `totalBytes` of input. */
  def splitBytes(totalBytes: Long, parallelism: Int,
      maxPartitionBytes: Long, openCostInBytes: Long): Long =
    math.min(maxPartitionBytes, math.max(openCostInBytes, totalBytes / parallelism))

  /** Plans the boxes of `dst` (whose shape is the directory's, normalized by
    * `origin`) from the subblock directory alone, in units of `block`
    * (chunks per block along Z, Y, X; blocks are cut short at the array's
    * ragged end). A box is one block deep in Z and holds at most `split`
    * bytes: whole block rows while a row fits, runs of blocks along X only
    * when one block row is over budget, never less than one block. Runs
    * are balanced, so the boxes of a slab are near one size. Only (T, C)
    * stacks the directory holds get boxes. */
  def plan(entries: Seq[CziReader.SubblockEntry], origin: Seq[Int], dst: ChunkGrid,
      split: Long, block: Seq[Int] = Seq(1, 1, 1)): Seq[Box] = {
    val Seq(cz, cy, cx) = dst.chunk
    val Seq(bz, by, bx) = block
    // block extents in voxels
    val (vz, vy, vx) = (bz * cz, by * cy, bx * cx)
    val itemSize = dst.dtype.itemSize
    val (nby, nbx) = (Grid.nChunks(dst.ny, by), Grid.nChunks(dst.nx, bx))
    def balanced(n: Int, most: Long): Int = {
      val k = Grid.ceilDiv(n, math.max(1L, math.min(most, n.toLong)))
      Grid.ceilDiv(n, k).toInt
    }
    // (block rows, block cols) per box for a slab `depth` planes deep
    def layout(depth: Int): (Int, Int) = {
      val rowBytes = depth.toLong * vy * dst.shape(4) * itemSize
      if (rowBytes <= split) (balanced(nby, split / rowBytes), nbx)
      else (1, balanced(nbx, split / (depth.toLong * vy * vx * itemSize)))
    }
    val layouts = (0 until Grid.nChunks(dst.shape(2), vz))
      .map(sz => layout(Grid.chunkExtent(dst.shape(2), vz, sz)))
    val pieces = mutable.LinkedHashMap.empty[(Int, Int, Int, Int, Int), mutable.ArrayBuffer[Piece]]
    val Seq(t0, c0, z0, y0, x0) = origin
    entries.foreach { e =>
      val (t, c) = (e.start("T") - t0, e.start("C") - c0)
      val (gz, gy, gx) = (e.start("Z") - z0, e.start("Y") - y0, e.start("X") - x0)
      val (ez, ey, ex) = (e.size("Z"), e.size("Y"), e.size("X"))
      (gz / vz to (gz + ez - 1) / vz).foreach { sz =>
        val (rows, cols) = layouts(sz)
        val (pz0, pz1) = (math.max(gz, sz * vz) - gz, math.min(gz + ez, sz * vz + vz) - gz)
        (gy / vy / rows to (gy + ey - 1) / vy / rows).foreach { yb =>
          val (py0, py1) = (math.max(gy, yb * rows * vy) - gy,
            math.min(gy + ey, (yb + 1) * rows * vy) - gy)
          (gx / vx / cols to (gx + ex - 1) / vx / cols).foreach { xb =>
            val (px0, px1) = (math.max(gx, xb * cols * vx) - gx,
              math.min(gx + ex, (xb + 1) * cols * vx) - gx)
            pieces.getOrElseUpdate((t, c, sz, yb, xb), mutable.ArrayBuffer.empty) +=
              Piece(e, pz0, pz1, py0, py1, px0, px1)
          }
        }
      }
    }
    pieces.toSeq.sortBy(_._1).map { case ((t, c, sz, yb, xb), ps) =>
      val (rows, cols) = layouts(sz)
      Box(t, c, sz * bz, math.min(dst.nz, (sz + 1) * bz),
        yb * rows * by, math.min(dst.ny, (yb + 1) * rows * by),
        xb * cols * bx, math.min(dst.nx, (xb + 1) * cols * bx), ps.toSeq)
    }
  }

  /** Chunk table of `info`'s voxels on the `dst` grid (dst.shape must be
    * the info shape; subblock starts are normalized by info.origin): one
    * task per planned box, no shuffle. */
  def chunkTable(spark: SparkSession, info: CziReader.CziInfo, dst: ChunkGrid)
      : Dataset[ImageChunk] =
    chunkTable(spark, info, dst, Seq(1, 1, 1), ZarrIO.broadcastConf(spark))

  /** [[chunkTable]] planned in whole `block`s, with one partition per box
    * and each box's chunks emitted block by block; tasks open the stack
    * with the broadcast `conf`. */
  private[zeiss] def chunkTable(spark: SparkSession, info: CziReader.CziInfo, dst: ChunkGrid,
      block: Seq[Int], conf: Broadcast[SerializableConfiguration]): Dataset[ImageChunk] = {
    import spark.implicits._
    require(dst.shape == info.shape,
      s"grid shape ${dst.shape} != czi shape ${info.shape}")
    val sc = spark.sparkContext
    val sqlConf = spark.sessionState.conf
    val split = splitBytes(dst.shape.product * dst.dtype.itemSize, sc.defaultParallelism,
      sqlConf.filesMaxPartitionBytes, sqlConf.filesOpenCostInBytes)
    val boxes = plan(info.entries, info.origin, dst, split, block)
    val (path, origin) = (info.path, info.origin)
    spark.createDataset(sc.parallelize(boxes, math.max(1, boxes.size)).flatMap { box =>
      readBox(conf.value.value, path, origin, dst, block, box)
    })
  }

  /** Reads one box's pieces and assembles its chunks (task side). The
    * chunks leave block by block, each block's in (z, y, x) order, and the
    * box lets go of each chunk as it leaves. */
  private def readBox(conf: Configuration, path: String, origin: Seq[Int],
      dst: ChunkGrid, block: Seq[Int], box: Box): Iterator[ImageChunk] = {
    val is = dst.dtype.itemSize
    val Seq(cz, cy, cx) = dst.chunk
    val (dz, dy, dx) = (box.zi1 - box.zi0, box.yi1 - box.yi0, box.xi1 - box.xi0)
    val chunks = Array.tabulate(dz, dy, dx)((z, y, x) =>
      new Array[Byte](dst.chunkBytes(box.zi0 + z, box.yi0 + y, box.xi0 + x)))
    val in = CziReader.openStream(conf, path)
    try box.pieces.foreach { p =>
      val e = p.entry
      val data = CziReader.rows(in, e, p.z0, p.z1, p.y0, p.y1, p.x0, p.x1)
      // the piece's global origin and extent
      val gz = e.start("Z") - origin(2) + p.z0
      val gy = e.start("Y") - origin(3) + p.y0
      val gx = e.start("X") - origin(4) + p.x0
      val (pz, py, px) = (p.z1 - p.z0, p.y1 - p.y0, p.x1 - p.x0)
      for (zi <- math.max(box.zi0, gz / cz) to math.min(box.zi1 - 1, (gz + pz - 1) / cz);
           yi <- math.max(box.yi0, gy / cy) to math.min(box.yi1 - 1, (gy + py - 1) / cy);
           xi <- math.max(box.xi0, gx / cx) to math.min(box.xi1 - 1, (gx + px - 1) / cx)) {
        val out = chunks(zi - box.zi0)(yi - box.yi0)(xi - box.xi0)
        val (ez, ey, ex) = dst.extent(zi, yi, xi)
        val (iz0, iz1) = (math.max(gz, zi * cz), math.min(gz + pz, zi * cz + ez))
        val (iy0, iy1) = (math.max(gy, yi * cy), math.min(gy + py, yi * cy + ey))
        val (ix0, ix1) = (math.max(gx, xi * cx), math.min(gx + px, xi * cx + ex))
        val n = (ix1 - ix0) * is
        var z = iz0
        while (z < iz1) {
          var y = iy0
          while (y < iy1) {
            System.arraycopy(data, (((z - gz) * py + y - gy) * px + ix0 - gx) * is,
              out, (((z - zi * cz) * ey + y - yi * cy) * ex + ix0 - xi * cx) * is, n)
            y += 1
          }
          z += 1
        }
      }
    } finally in.close()
    val Seq(_, by, bx) = block
    for {
      y0 <- Iterator.range(0, dy, by); x0 <- Iterator.range(0, dx, bx)
      z <- Iterator.range(0, dz)
      y <- Iterator.range(y0, math.min(dy, y0 + by)); x <- Iterator.range(x0, math.min(dx, x0 + bx))
    } yield {
      val data = chunks(z)(y)(x)
      chunks(z)(y)(x) = null
      ImageChunk(box.t, box.c, box.zi0 + z, box.yi0 + y, box.xi0 + x, data)
    }
  }
}
