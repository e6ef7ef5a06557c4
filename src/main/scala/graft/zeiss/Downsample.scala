package graft.zeiss

import org.apache.spark.sql.{Dataset, SparkSession}

/** Windowed-mean pyramid downsampling — the reference's
  * `xarray_multiscale.multiscale(reduction=windowed_mean,
  * preserve_dtype=True)` (`compress/czi_to_zarr.py:342-386`), SURVEY §2A
  * op 14.
  *
  * Because the write chunk (128^3 default) is an exact multiple of the scale
  * factor (2^3 default), every downsample window lies entirely inside one
  * chunk, so the reduction is a pure per-chunk map — ZERO shuffle. What can
  * shuffle is the follow-up rechunk from the shrunken grid (64^3) back to
  * the write chunk (128^3), which moves each level's bytes once (level i+1
  * is 8x smaller, so the total over all levels is a geometric series
  * ~1.14x of level 1). From a CZI source read in block-aligned boxes, the
  * level-1 rechunk runs inside each task instead ([[levelInPartitions]]),
  * so only levels 2 and up shuffle. Each shuffle is also a level boundary:
  * `ZeissJob.writeStack` feeds each level straight from the previous
  * level's in-memory chunks.
  *
  * Edge windows (array bound not divisible by the factor) average over the
  * voxels actually present, matching the ceil-division shape rule
  * (`czi_to_zarr.py:181-183`). `preserve_dtype` casts the mean back with
  * numpy-astype truncation-toward-zero semantics.
  */
object Downsample {

  /** Requires chunk sizes divisible by factors (true for every reference
    * configuration; callers with odd grids must rechunk first — same
    * constraint dask's aligned rechunk-then-map imposes). */
  def windowedMean(spark: SparkSession, ds: Dataset[ImageChunk], grid: ChunkGrid,
      factors: Seq[Int]): (ChunkGrid, Dataset[ImageChunk]) = {
    require(grid.chunk.zip(factors).forall { case (c, f) => c % f == 0 },
      s"chunk ${grid.chunk} not divisible by factors $factors — rechunk first")
    import spark.implicits._
    val g = grid
    val f = factors
    val out = ds.map(chunk => downsampleChunk(g, f, chunk))
    (g.downsampled(f, g.chunk.zip(f).map { case (c, ff) => c / ff }), out)
  }

  /** Downsample one chunk locally (pure). The chunk's grid coords are
    * unchanged — it now lives on the shrunken-chunk grid. Integer dtypes
    * sum in `Long` and divide with truncation, which is exactly the
    * truncated double mean (a window's sum stays far below 2^53, and a
    * non-integral quotient of it lies at least 1/n from any integer);
    * float dtypes keep the double mean in scan order. */
  def downsampleChunk(grid: ChunkGrid, factors: Seq[Int], chunk: ImageChunk): ImageChunk = {
    val dt = grid.dtype
    val (ez, ey, ex) = grid.extent(chunk.zi, chunk.yi, chunk.xi)
    val Seq(fz, fy, fx) = factors
    val out =
      if (dt == Dtype.UInt16 && fz == 2 && fy == 2 && fx == 2 &&
          ez % 2 == 0 && ey % 2 == 0 && ex % 2 == 0) meanU16x2(chunk.data, ez, ey, ex)
      else windowedMeans(dt, chunk.data, ez, ey, ex, fz, fy, fx)
    ImageChunk(chunk.t, chunk.c, chunk.zi, chunk.yi, chunk.xi, out)
  }

  /** The 2x2x2 mean of a uint16 payload whose extents are all even (the
    * default factors on any interior chunk): eight unsigned loads per
    * output voxel, no per-voxel dispatch. */
  private def meanU16x2(d: Array[Byte], ez: Int, ey: Int, ex: Int): Array[Byte] = {
    val (oz, oy, ox) = (ez / 2, ey / 2, ex / 2)
    val out = new Array[Byte](oz * oy * ox * 2)
    val (row, plane) = (ex * 2, ey * ex * 2) // byte strides
    var o = 0
    var zo = 0
    while (zo < oz) {
      var yo = 0
      while (yo < oy) {
        var p = 2 * zo * plane + 2 * yo * row
        val end = p + row
        while (p < end) {
          val q = p + row; val r = p + plane; val s = r + row
          val sum =
            (d(p) & 0xff) + ((d(p + 1) & 0xff) << 8) + (d(p + 2) & 0xff) + ((d(p + 3) & 0xff) << 8) +
            (d(q) & 0xff) + ((d(q + 1) & 0xff) << 8) + (d(q + 2) & 0xff) + ((d(q + 3) & 0xff) << 8) +
            (d(r) & 0xff) + ((d(r + 1) & 0xff) << 8) + (d(r + 2) & 0xff) + ((d(r + 3) & 0xff) << 8) +
            (d(s) & 0xff) + ((d(s + 1) & 0xff) << 8) + (d(s + 2) & 0xff) + ((d(s + 3) & 0xff) << 8)
          val mean = sum >>> 3
          out(o) = mean.toByte
          out(o + 1) = (mean >>> 8).toByte
          o += 2
          p += 4
        }
        yo += 1
      }
      zo += 1
    }
    out
  }

  /** Windowed means of any dtype, factors and (ragged) extents; edge
    * windows average over the voxels present. */
  private def windowedMeans(dt: Dtype, data: Array[Byte], ez: Int, ey: Int, ex: Int,
      fz: Int, fy: Int, fx: Int): Array[Byte] = {
    val (oz, oy, ox) =
      (Grid.ceilDiv(ez, fz).toInt, Grid.ceilDiv(ey, fy).toInt, Grid.ceilDiv(ex, fx).toInt)
    val out = new Array[Byte](oz * oy * ox * dt.itemSize)
    var zo = 0
    while (zo < oz) {
      val z0 = zo * fz; val z1 = math.min(z0 + fz, ez)
      var yo = 0
      while (yo < oy) {
        val y0 = yo * fy; val y1 = math.min(y0 + fy, ey)
        var xo = 0
        while (xo < ox) {
          val x0 = xo * fx; val x1 = math.min(x0 + fx, ex)
          val n = (z1 - z0) * (y1 - y0) * (x1 - x0)
          val o = (zo * oy + yo) * ox + xo
          if (dt.isInteger) {
            var sum = 0L
            var z = z0
            while (z < z1) {
              var y = y0
              while (y < y1) {
                val rowBase = (z * ey + y) * ex
                var x = x0
                while (x < x1) { sum += dt.readInt(data, rowBase + x); x += 1 }
                y += 1
              }
              z += 1
            }
            // preserve_dtype: numpy astype truncates toward zero, as `/` does
            dt.write(out, o, (sum / n).toDouble)
          } else {
            var sum = 0.0
            var z = z0
            while (z < z1) {
              var y = y0
              while (y < y1) {
                val rowBase = (z * ey + y) * ex
                var x = x0
                while (x < x1) { sum += dt.read(data, rowBase + x); x += 1 }
                y += 1
              }
              z += 1
            }
            dt.write(out, o, sum / n)
          }
          xo += 1
        }
        yo += 1
      }
      zo += 1
    }
    out
  }

  /** One full pyramid step: windowed mean then rechunk back to the write
    * chunk shape — `compute_pyramid`'s per-level body. If the incoming grid
    * is not factor-aligned (deep levels clamp chunks to the shrinking array
    * shape), an aligning rechunk runs first — the same grid normalization
    * dask's rechunk-then-map performs. */
  def level(spark: SparkSession, ds: Dataset[ImageChunk], grid: ChunkGrid,
      factors: Seq[Int], writeChunk: Seq[Int]): (ChunkGrid, Dataset[ImageChunk]) = {
    val aligned = grid.chunk.zip(factors).map { case (c, f) =>
      if (c % f == 0) c else math.max(f, (c / f) * f)
    }
    val (inGrid, inDs) =
      if (aligned == grid.chunk) (grid, ds) else Rechunk(spark, ds, grid, aligned)
    val (shrunkGrid, shrunk) = windowedMean(spark, inDs, inGrid, factors)
    Rechunk(spark, shrunk, shrunkGrid, clamped(writeChunk, shrunkGrid))
  }

  /** [[level]] for factor-aligned input whose partitions each hold whole
    * factor blocks of chunks ([[CziSource]]'s aligned boxes): the windowed
    * mean and the rechunk back to the write chunk both run inside each
    * partition, so the step adds no shuffle and no stage. */
  def levelInPartitions(spark: SparkSession, ds: Dataset[ImageChunk], grid: ChunkGrid,
      factors: Seq[Int], writeChunk: Seq[Int]): (ChunkGrid, Dataset[ImageChunk]) = {
    val (shrunkGrid, shrunk) = windowedMean(spark, ds, grid, factors)
    Rechunk.inPartitions(spark, shrunk, shrunkGrid, clamped(writeChunk, shrunkGrid))
  }

  /** The write chunk, clamped to the shrunk array's shape. */
  private def clamped(writeChunk: Seq[Int], grid: ChunkGrid): Seq[Int] =
    writeChunk.zipWithIndex.map { case (c, i) => math.min(c.toLong, grid.shape(2 + i)).toInt }
}
