package graft.zeiss

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Dataset, SparkSession}

/** Distributed chunk-table source over a real CZI container (SURVEY §2A
  * op 5, live path), with no shuffle. The subblock directory — parsed once,
  * driver-side, like the reference's header read — plans the tasks: each
  * task owns a chunk-aligned box of write-grid chunks, one chunk deep in Z,
  * reads through the Hadoop FS API only the parts of the subblocks that
  * intersect its box, and assembles those chunks whole in memory. Every
  * chunk has exactly one owner, so no fragment ever crosses tasks and the
  * reference's rechunk of the lazily loaded stack (`czi_to_zarr.py:447`)
  * costs no exchange, however the acquisition tiled it.
  *
  * Box size follows Spark's own file-split rule (`FilePartition.maxSplitBytes`):
  * min(maxPartitionBytes, max(openCostInBytes, arrayBytes / defaultParallelism)),
  * never below one chunk — so no task reads corpus-sized input.
  */
object CziSource {

  /** The Z planes [z0, z1) and rows [y0, y1) of one subblock (entry-relative)
    * that a box needs; X always spans the subblock's full width. */
  final case class Piece(entry: CziReader.SubblockEntry, z0: Int, z1: Int, y0: Int, y1: Int) {
    /** Bytes the task reads for this piece: just its rows of an
      * uncompressed payload, the whole decoded subblock for a zstd one. */
    def readBytes(itemSize: Int): Long = entry.size("X").toLong * itemSize * (
      if (entry.compression == CziReader.CompressionNone) (z1 - z0).toLong * (y1 - y0)
      else entry.size("Z").toLong * entry.size("Y"))
  }

  /** One task: write-grid chunks (t, c, zi, yi0 until yi1, xi0 until xi1)
    * and the subblock pieces that cover them. */
  final case class Box(t: Int, c: Int, zi: Int, yi0: Int, yi1: Int, xi0: Int, xi1: Int,
      pieces: Seq[Piece])

  /** Spark's file-split size for `totalBytes` of input. */
  def splitBytes(totalBytes: Long, parallelism: Int,
      maxPartitionBytes: Long, openCostInBytes: Long): Long =
    math.min(maxPartitionBytes, math.max(openCostInBytes, totalBytes / parallelism))

  /** Plans the boxes of `dst` (whose shape is the directory's, normalized by
    * `origin`) from the subblock directory alone. A box is one chunk deep in
    * Z and holds at most `split` bytes: whole chunk rows while a row fits,
    * runs of chunks along X only when one row is over budget, never less
    * than one chunk. Runs are balanced, so the boxes of a slab are near one
    * size. Only (T, C) stacks the directory holds get boxes. */
  def plan(entries: Seq[CziReader.SubblockEntry], origin: Seq[Int], dst: ChunkGrid,
      split: Long): Seq[Box] = {
    val Seq(cz, cy, cx) = dst.chunk
    val itemSize = dst.dtype.itemSize
    val (ny, nx) = (dst.ny, dst.nx)
    def balanced(n: Int, most: Long): Int = {
      val k = Grid.ceilDiv(n, math.max(1L, math.min(most, n.toLong)))
      Grid.ceilDiv(n, k).toInt
    }
    // (rows, cols) per box for a slab `depth` planes deep
    def layout(depth: Int): (Int, Int) = {
      val rowBytes = depth.toLong * cy * dst.shape(4) * itemSize
      if (rowBytes <= split) (balanced(ny, split / rowBytes), nx)
      else (1, balanced(nx, split / (depth.toLong * cy * cx * itemSize)))
    }
    val layouts = (0 until dst.nz).map(zi => layout(Grid.chunkExtent(dst.shape(2), cz, zi)))
    val pieces = mutable.LinkedHashMap.empty[(Int, Int, Int, Int, Int), mutable.ArrayBuffer[Piece]]
    val Seq(t0, c0, z0, y0, x0) = origin
    entries.foreach { e =>
      val (t, c) = (e.start("T") - t0, e.start("C") - c0)
      val (gz, gy, gx) = (e.start("Z") - z0, e.start("Y") - y0, e.start("X") - x0)
      val (ez, ey, ex) = (e.size("Z"), e.size("Y"), e.size("X"))
      (gz / cz to (gz + ez - 1) / cz).foreach { zi =>
        val (rows, cols) = layouts(zi)
        val (pz0, pz1) = (math.max(gz, zi * cz) - gz, math.min(gz + ez, zi * cz + cz) - gz)
        (gy / cy / rows to (gy + ey - 1) / cy / rows).foreach { yb =>
          val (py0, py1) = (math.max(gy, yb * rows * cy) - gy,
            math.min(gy + ey, (yb + 1) * rows * cy) - gy)
          (gx / cx / cols to (gx + ex - 1) / cx / cols).foreach { xb =>
            pieces.getOrElseUpdate((t, c, zi, yb, xb), mutable.ArrayBuffer.empty) +=
              Piece(e, pz0, pz1, py0, py1)
          }
        }
      }
    }
    pieces.toSeq.sortBy(_._1).map { case ((t, c, zi, yb, xb), ps) =>
      val (rows, cols) = layouts(zi)
      Box(t, c, zi, yb * rows, math.min(ny, (yb + 1) * rows),
        xb * cols, math.min(nx, (xb + 1) * cols), ps.toSeq)
    }
  }

  /** Chunk table of `info`'s voxels on the `dst` grid (dst.shape must be
    * the info shape; subblock starts are normalized by info.origin): one
    * task per planned box, no shuffle. */
  def chunkTable(spark: SparkSession, info: CziReader.CziInfo, dst: ChunkGrid)
      : Dataset[ImageChunk] = {
    import spark.implicits._
    require(dst.shape == info.shape,
      s"grid shape ${dst.shape} != czi shape ${info.shape}")
    val sc = spark.sparkContext
    val sqlConf = spark.sessionState.conf
    val split = splitBytes(dst.shape.product * dst.dtype.itemSize, sc.defaultParallelism,
      sqlConf.filesMaxPartitionBytes, sqlConf.filesOpenCostInBytes)
    val boxes = plan(info.entries, info.origin, dst, split)
    val (path, origin) = (info.path, info.origin)
    spark.createDataset(sc.parallelize(boxes, math.max(1, boxes.size)).flatMap { box =>
      // task-side re-open: Configuration() resolves file:// (and any
      // cluster-default scheme) without shipping the driver's conf
      readBox(new Configuration(), path, origin, dst, box)
    })
  }

  /** Reads one box's pieces and assembles its chunks (task side). */
  private def readBox(conf: Configuration, path: String,
      origin: Seq[Int], dst: ChunkGrid, box: Box): Iterator[ImageChunk] = {
    val is = dst.dtype.itemSize
    val Seq(cz, cy, cx) = dst.chunk
    val cols = box.xi1 - box.xi0
    val chunks = Array.tabulate(box.yi1 - box.yi0, cols)((y, x) =>
      new Array[Byte](dst.chunkBytes(box.zi, box.yi0 + y, box.xi0 + x)))
    val in = CziReader.openStream(conf, path)
    try box.pieces.foreach { p =>
      val e = p.entry
      val data = CziReader.rows(in, e, p.z0, p.z1, p.y0, p.y1)
      // the piece's global origin and extent
      val gz = e.start("Z") - origin(2) + p.z0
      val gy = e.start("Y") - origin(3) + p.y0
      val gx = e.start("X") - origin(4)
      val (pz, py, px) = (p.z1 - p.z0, p.y1 - p.y0, e.size("X"))
      val zOff = gz - box.zi * cz // piece Z planes lie inside the box's slab
      for (yi <- math.max(box.yi0, gy / cy) to math.min(box.yi1 - 1, (gy + py - 1) / cy);
           xi <- math.max(box.xi0, gx / cx) to math.min(box.xi1 - 1, (gx + px - 1) / cx)) {
        val out = chunks(yi - box.yi0)(xi - box.xi0)
        val (ey, ex) = (Grid.chunkExtent(dst.shape(3), cy, yi), Grid.chunkExtent(dst.shape(4), cx, xi))
        val (iy0, iy1) = (math.max(gy, yi * cy), math.min(gy + py, yi * cy + ey))
        val (ix0, ix1) = (math.max(gx, xi * cx), math.min(gx + px, xi * cx + ex))
        val n = (ix1 - ix0) * is
        var z = 0
        while (z < pz) {
          var y = iy0
          while (y < iy1) {
            System.arraycopy(data, ((z * py + y - gy) * px + ix0 - gx) * is,
              out, (((zOff + z) * ey + y - yi * cy) * ex + ix0 - xi * cx) * is, n)
            y += 1
          }
          z += 1
        }
      }
    } finally in.close()
    Iterator.range(0, box.yi1 - box.yi0).flatMap(y => Iterator.range(0, cols).map(x =>
      ImageChunk(box.t, box.c, box.zi, box.yi0 + y, box.xi0 + x, chunks(y)(x))))
  }
}
