package graft.zeiss

import org.apache.spark.sql.{Dataset, SparkSession}

/** The chunk-grid rechunk (SURVEY.md §2A op 13) — the one shuffle of the
  * pipeline, run once per pyramid level. The reference's first rechunk, of
  * the loaded stack (`compress/czi_to_zarr.py:447`), needs none here:
  * [[CziSource]] assembles write-grid chunks where it reads them.
  *
  * Each source chunk is split into the fragments that fall into target-grid
  * chunks (narrow, local), fragments are shuffled BY TARGET CHUNK KEY, and
  * each target chunk is assembled from its fragments. At 100 TB this is a
  * single key-partitioned exchange of exactly the array's bytes — the same
  * volume dask moves, but with Spark's shuffle service, AQE partition sizing
  * and work stealing instead of dask's static scheduler.
  *
  * When source and target grids are identical the operation is the identity
  * and performs no shuffle (caller sees the same Dataset).
  */
object Rechunk {

  /** A sub-block of one target chunk: target grid coords + offset + shape. */
  final case class Fragment(
      t: Int, c: Int, zi: Int, yi: Int, xi: Int,
      oz: Int, oy: Int, ox: Int,
      sz: Int, sy: Int, sx: Int,
      data: Array[Byte])

  def apply(spark: SparkSession, ds: Dataset[ImageChunk], grid: ChunkGrid,
      newChunk: Seq[Int]): (ChunkGrid, Dataset[ImageChunk]) = {
    if (newChunk == grid.chunk) return (grid, ds)
    import spark.implicits._
    val src = grid
    val dst = ChunkGrid(grid.shape, newChunk, grid.dtypeName)
    val frags = ds.flatMap(chunk => split(src, dst, chunk))
    val out = frags
      .groupByKey(f => (f.t, f.c, f.zi, f.yi, f.xi))
      .mapGroups { (key: (Int, Int, Int, Int, Int), fs: Iterator[Fragment]) =>
        assemble(dst, key._1, key._2, key._3, key._4, key._5, fs)
      }
    (dst, out)
  }

  /** Splits one source chunk into target-grid fragments (pure, local). */
  def split(src: ChunkGrid, dst: ChunkGrid, chunk: ImageChunk): Iterator[Fragment] = {
    val is = src.dtype.itemSize
    val (ez, ey, ex) = src.extent(chunk.zi, chunk.yi, chunk.xi)
    // global voxel range covered by this source chunk
    val gz0 = chunk.zi.toLong * src.chunk(0); val gz1 = gz0 + ez
    val gy0 = chunk.yi.toLong * src.chunk(1); val gy1 = gy0 + ey
    val gx0 = chunk.xi.toLong * src.chunk(2); val gx1 = gx0 + ex
    val (dcz, dcy, dcx) = (dst.chunk(0), dst.chunk(1), dst.chunk(2))
    val tz0 = (gz0 / dcz).toInt; val tz1 = ((gz1 - 1) / dcz).toInt
    val ty0 = (gy0 / dcy).toInt; val ty1 = ((gy1 - 1) / dcy).toInt
    val tx0 = (gx0 / dcx).toInt; val tx1 = ((gx1 - 1) / dcx).toInt
    val out = Iterator.range(tz0, tz1 + 1).flatMap { tzi =>
      Iterator.range(ty0, ty1 + 1).flatMap { tyi =>
        Iterator.range(tx0, tx1 + 1).map { txi =>
          // intersection of source chunk and target chunk, global coords
          val iz0 = math.max(gz0, tzi.toLong * dcz)
          val iz1 = math.min(gz1, tzi.toLong * dcz + dcz)
          val iy0 = math.max(gy0, tyi.toLong * dcy)
          val iy1 = math.min(gy1, tyi.toLong * dcy + dcy)
          val ix0 = math.max(gx0, txi.toLong * dcx)
          val ix1 = math.min(gx1, txi.toLong * dcx + dcx)
          val (sz, sy, sx) = ((iz1 - iz0).toInt, (iy1 - iy0).toInt, (ix1 - ix0).toInt)
          val bytes = new Array[Byte](sz * sy * sx * is)
          var di = 0
          var z = 0
          while (z < sz) {
            val srcZ = (iz0 - gz0).toInt + z
            var y = 0
            while (y < sy) {
              val srcY = (iy0 - gy0).toInt + y
              val srcOff = ((srcZ.toLong * ey + srcY) * ex + (ix0 - gx0)).toInt * is
              System.arraycopy(chunk.data, srcOff, bytes, di, sx * is)
              di += sx * is
              y += 1
            }
            z += 1
          }
          Fragment(chunk.t, chunk.c, tzi, tyi, txi,
            (iz0 - tzi.toLong * dcz).toInt, (iy0 - tyi.toLong * dcy).toInt,
            (ix0 - txi.toLong * dcx).toInt, sz, sy, sx, bytes)
        }
      }
    }
    out
  }

  /** Assembles one target chunk from its fragments (pure, local). */
  def assemble(dst: ChunkGrid, t: Int, c: Int, zi: Int, yi: Int, xi: Int,
      frags: Iterator[Fragment]): ImageChunk = {
    val is = dst.dtype.itemSize
    val (ez, ey, ex) = dst.extent(zi, yi, xi)
    val bytes = new Array[Byte](ez * ey * ex * is)
    frags.foreach { f =>
      var z = 0
      var si = 0
      while (z < f.sz) {
        var y = 0
        while (y < f.sy) {
          val dstOff = (((f.oz + z).toLong * ey + (f.oy + y)) * ex + f.ox).toInt * is
          System.arraycopy(f.data, si, bytes, dstOff, f.sx * is)
          si += f.sx * is
          y += 1
        }
        z += 1
      }
    }
    ImageChunk(t, c, zi, yi, xi, bytes)
  }
}
