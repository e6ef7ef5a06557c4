package graft.zeiss

import org.scalatest.funsuite.AnyFunSuite

/** Laws of the shuffle-free CZI ingest planner, checked from subblock
  * directory entries alone — no file, no Spark. They make "no plan sends
  * corpus-sized input through one task" checkable on the image path. */
class CziPlanSpec extends AnyFunSuite {

  // Spark's defaults for spark.sql.files.{maxPartitionBytes,openCostInBytes}
  private val MaxPartitionBytes = 128L << 20
  private val OpenCostInBytes = 4L << 20

  /** Gray16 mosaic of `tile`-square uncompressed tiles, one subblock per
    * tile and Z plane, starting at an arbitrary stage origin. */
  private def mosaic(tilesY: Int, tilesX: Int, tile: Int, planes: Int)
      : Seq[CziReader.SubblockEntry] =
    for (z <- 0 until planes; ty <- 0 until tilesY; tx <- 0 until tilesX)
      yield CziReader.SubblockEntry(CziReader.PixelGray16, 1L, CziReader.CompressionNone, Seq(
        CziReader.DimEntry("X", 500 + tx * tile, tile, tile),
        CziReader.DimEntry("Y", 300 + ty * tile, tile, tile),
        CziReader.DimEntry("Z", 7 + z, 1, 1),
        CziReader.DimEntry("C", 0, 1, 1),
        CziReader.DimEntry("T", 0, 1, 1)))

  private def planFor(tilesY: Int, tilesX: Int, tile: Int, planes: Int, chunk: Int,
      parallelism: Int): (ChunkGrid, Long, Seq[CziSource.Box]) = {
    val grid = ChunkGrid(Seq(1L, 1L, planes.toLong, tilesY.toLong * tile, tilesX.toLong * tile),
      Seq(chunk, chunk, chunk), Dtype.UInt16.zarrName)
    val split = CziSource.splitBytes(grid.shape.product * 2, parallelism,
      MaxPartitionBytes, OpenCostInBytes)
    (grid, split, CziSource.plan(mosaic(tilesY, tilesX, tile, planes), Seq(0, 0, 7, 300, 500),
      grid, split))
  }

  private def chunksOf(b: CziSource.Box): Seq[(Int, Int, Int, Int, Int)] =
    for (yi <- b.yi0 until b.yi1; xi <- b.xi0 until b.xi1) yield (b.t, b.c, b.zi, yi, xi)

  private def bytes(grid: ChunkGrid, b: CziSource.Box): Long =
    chunksOf(b).map { case (_, _, zi, yi, xi) => grid.chunkBytes(zi, yi, xi).toLong }.sum

  /** Every chunk has exactly one box, and a box holds at most `split`
    * bytes unless it is a single chunk (so a fortiori one chunk row). */
  private def assertCoverAndSize(grid: ChunkGrid, split: Long, boxes: Seq[CziSource.Box]): Unit = {
    val owned = boxes.flatMap(chunksOf)
    assert(owned.size == grid.numChunks, "chunks owned by more or fewer than one box")
    assert(owned.distinct.size == owned.size, "a chunk owned twice")
    boxes.foreach { b =>
      assert(bytes(grid, b) <= split || (b.yi1 - b.yi0 == 1 && b.xi1 - b.xi0 == 1),
        s"box (${b.zi}, ${b.yi0}-${b.yi1}, ${b.xi0}-${b.xi1}) over the $split-byte split")
    }
  }

  Seq(4, 32).foreach { dp =>
    test(s"2048^2 tiles x 1000 planes, 128^3 chunks, defaultParallelism $dp: " +
        "one owner per chunk, boxes within the split, reads equal the array") {
      val (grid, split, boxes) = planFor(2, 2, 2048, 1000, 128, dp)
      assert(split == MaxPartitionBytes)
      assertCoverAndSize(grid, split, boxes)
      // uncompressed tiles are read over exactly the rows each box needs
      val read = boxes.flatMap(_.pieces).map(_.readBytes(2)).sum
      assert(read == grid.shape.product * 2)
      // 8 Z slabs (the last 104 planes deep) x 32 one-row boxes
      assert(boxes.size == 8 * 32)
    }
  }

  test("a chunk row over the split is cut along X, never below one chunk") {
    // 512 MiB at defaultParallelism 32: a 16 MiB split, while one 64^3-chunk
    // row is 32 MiB, so boxes are one row, half the width
    val (grid, split, boxes) = planFor(1, 4, 1024, 64, 64, 32)
    assert(split == (16L << 20))
    assertCoverAndSize(grid, split, boxes)
    assert(boxes.forall(b => b.yi1 - b.yi0 == 1 && b.xi1 - b.xi0 == grid.nx / 2))
    // the X cuts fall on tile edges here, so every voxel is read once
    assert(boxes.flatMap(_.pieces).map(_.readBytes(2)).sum == grid.shape.product * 2)
    // a 256 MiB chunk over the 128 MiB split stands alone in its box
    val (g1, s1, single) = planFor(1, 1, 1024, 512, 512, 4)
    assertCoverAndSize(g1, s1, single)
    assert(single.size == 4 && single.forall(b => bytes(g1, b) > s1))
  }

  test("whole chunk rows while a row fits, balanced across a slab's boxes") {
    // 136 MiB at defaultParallelism 4: a 34 MiB split holds 16 of the 33
    // 2.06 MiB chunk rows, so each slab splits into 3 boxes of 11 rows
    val (grid, split, boxes) = planFor(2, 2, 528, 64, 32, 4)
    assertCoverAndSize(grid, split, boxes)
    assert(boxes.map(b => b.yi1 - b.yi0).toSet == Set(11))
    assert(boxes.forall(b => b.xi0 == 0 && b.xi1 == grid.nx))
    assert(boxes.size == grid.nz * 3)
  }
}
