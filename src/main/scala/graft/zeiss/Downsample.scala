package graft.zeiss

import org.apache.spark.sql.{Dataset, SparkSession}

/** Windowed-mean pyramid downsampling — the reference's
  * `xarray_multiscale.multiscale(reduction=windowed_mean,
  * preserve_dtype=True)` (`compress/czi_to_zarr.py:342-386`), SURVEY §2A
  * op 14.
  *
  * Because the write chunk (128^3 default) is an exact multiple of the scale
  * factor (2^3 default), every downsample window lies entirely inside one
  * chunk, so the reduction is a pure per-chunk map — ZERO shuffle. The only
  * shuffle in the level chain is the follow-up rechunk from the shrunken
  * grid (64^3) back to the write chunk (128^3), which moves each level's
  * bytes once (level i+1 is 8x smaller, so the total over all levels is a
  * geometric series ~1.14x of level 1). That shuffle is also the level
  * boundary: `ZeissJob.writeStack` feeds each level straight from the
  * previous level's in-memory chunks, one stage per level.
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
    * unchanged — it now lives on the shrunken-chunk grid. */
  def downsampleChunk(grid: ChunkGrid, factors: Seq[Int], chunk: ImageChunk): ImageChunk = {
    val dt = grid.dtype
    val (ez, ey, ex) = grid.extent(chunk.zi, chunk.yi, chunk.xi)
    val (fz, fy, fx) = (factors(0), factors(1), factors(2))
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
          var sum = 0.0
          var n = 0
          var z = z0
          while (z < z1) {
            var y = y0
            while (y < y1) {
              var x = x0
              val rowBase = (z * ey + y) * ex
              while (x < x1) { sum += dt.read(chunk.data, rowBase + x); n += 1; x += 1 }
              y += 1
            }
            z += 1
          }
          val mean = sum / n
          // preserve_dtype: numpy astype truncates toward zero for ints
          dt.write(out, (zo * oy + yo) * ox + xo,
            if (dt.isInteger) { if (mean >= 0) math.floor(mean) else math.ceil(mean) }
            else mean)
          xo += 1
        }
        yo += 1
      }
      zo += 1
    }
    ImageChunk(chunk.t, chunk.c, chunk.zi, chunk.yi, chunk.xi, out)
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
    Rechunk(spark, shrunk, shrunkGrid, writeChunk.zipWithIndex.map { case (c, i) =>
      math.min(c.toLong, shrunkGrid.shape(2 + i)).toInt
    })
  }
}
