package graft.zeiss

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Decodes generated spec-conformant ZISRAW fixtures through the real
  * source seam: directory parse, origin normalization, mosaic-tile
  * reassembly onto the write grid, and the writeStack end-to-end path
  * (real CZI -> OME-Zarr, voxel-exact). Raw byte-offset assertions pin the
  * on-disk layout to the public spec so the fixture writer and the reader
  * cannot drift together unnoticed.
  */
class CziReaderSpec extends AnyFunSuite {

  private def tempCzi(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("stack.czi").toString

  private def conf = TestSpark.spark.sparkContext.hadoopConfiguration

  private def writeMosaicFixture(path: String, seed: Long,
      metadataXml: Option[String] = None): Unit =
    CziFixture.write(path, CziFixture.mosaic(seed), metadataXml)

  test("raw layout: segment ids and directory position match the spec") {
    val path = tempCzi("graft-czi-raw")
    writeMosaicFixture(path, seed = 9L)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    assert(new String(bytes, 0, 10, "US-ASCII") == "ZISRAWFILE")
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val dirPos = bb.getLong(32 + 52) // directory position at data offset 52
    assert(new String(bytes, dirPos.toInt, 15, "US-ASCII") == "ZISRAWDIRECTORY")
    assert(bb.getInt(dirPos.toInt + 32) == 8) // entry count
    assert(new String(bytes, 32 + 512, 14, "US-ASCII") == "ZISRAWSUBBLOCK")
  }

  test("tryOpen parses shape, dtype and origin from the directory") {
    val path = tempCzi("graft-czi-open")
    writeMosaicFixture(path, seed = 9L)
    val info = CziReader.tryOpen(conf, path).get
    assert(info.shape == Seq(1L, 1L, 4L, 32L, 48L))
    assert(info.origin == Seq(0, 0, 10, 200, 100))
    assert(info.dtype == Dtype.UInt16)
    assert(info.entries.size == 8)
  }

  test("chunkTable reassembles mosaic tiles voxel-exactly on the write grid") {
    val spark = TestSpark.spark
    val path = tempCzi("graft-czi-table")
    writeMosaicFixture(path, seed = 9L)
    val info = CziReader.tryOpen(conf, path).get
    // chunk (2,16,16): every chunk spans 2 subblock Z planes; X chunks 3
    val grid = ChunkGrid(info.shape, Seq(2, 16, 16), info.dtype.zarrName)
    val chunks = CziSource.chunkTable(spark, info, grid).collect()
    assert(chunks.length == 2 * 2 * 3)
    chunks.foreach { ch =>
      val (ez, ey, ex) = grid.extent(ch.zi, ch.yi, ch.xi)
      var i = 0
      for (z <- 0 until ez; y <- 0 until ey; x <- 0 until ex) {
        val want = ChunkTable.voxel(9L, 0, 0,
          ch.zi * 2L + z, ch.yi * 16L + y, ch.xi * 16L + x, grid.dtype)
        assert(grid.dtype.read(ch.data, i) == want,
          s"chunk (${ch.zi},${ch.yi},${ch.xi}) voxel ($z,$y,$x)")
        i += 1
      }
    }
  }

  test("writeStack converts a real CZI end-to-end (voxel-exact OME-Zarr)") {
    val spark = TestSpark.spark
    val path = tempCzi("graft-czi-e2e")
    writeMosaicFixture(path, seed = 9L)
    val out = java.nio.file.Files.createTempDirectory("graft-czi-out").toString
    val settings = ZeissJobSettings(inputSource = "/nonexistent",
      outputDirectory = out, chunkSize = Seq(16, 16, 16), downsampleLevels = 2)
    val counts = ZeissJob.writeStack(spark, settings, path)
    assert(counts.size == 2)
    val (g0, l0) = ZarrIO.readLevel(spark, s"$out/stack_0.ome.zarr", 0)
    assert(g0.shape == Seq(1L, 1L, 4L, 32L, 48L))
    assert(g0.dtype == Dtype.UInt16)
    l0.collect().foreach { ch =>
      val (ez, ey, ex) = g0.extent(ch.zi, ch.yi, ch.xi)
      var i = 0
      for (z <- 0 until ez; y <- 0 until ey; x <- 0 until ex) {
        assert(g0.dtype.read(ch.data, i) == ChunkTable.voxel(9L, 0, 0,
          ch.zi * 16L + z, ch.yi * 16L + y, ch.xi * 16L + x, g0.dtype))
        i += 1
      }
    }
  }

  test("multi-channel Gray8 stack: per-(c,z) subblocks") {
    val spark = TestSpark.spark
    val path = tempCzi("graft-czi-gray8")
    CziFixture.write(path, CziFixture.gray8(3L))
    val info = CziReader.tryOpen(conf, path).get
    assert(info.shape == Seq(1L, 2L, 2L, 8L, 8L) && info.dtype == Dtype.UInt8)
    val grid = ChunkGrid(info.shape, Seq(2, 8, 8), info.dtype.zarrName)
    val chunks = CziSource.chunkTable(spark, info, grid).collect()
    assert(chunks.length == 2) // one 2-plane Z chunk per channel
    chunks.foreach { ch =>
      var i = 0
      for (z <- 0 until 2; y <- 0 until 8; x <- 0 until 8) {
        assert(grid.dtype.read(ch.data, i) ==
          ChunkTable.voxel(3L, 0, ch.c, z, y, x, grid.dtype), s"c=${ch.c} ($z,$y,$x)")
        i += 1
      }
    }
  }

  test("zstd0-compressed subblocks decode through zstd-jni") {
    val spark = TestSpark.spark
    val path = tempCzi("graft-czi-zstd0")
    CziFixture.write(path, CziFixture.zstd0(21L))
    val info = CziReader.tryOpen(conf, path).get
    assert(info.shape == Seq(1L, 1L, 4L, 16L, 24L))
    val grid = ChunkGrid(info.shape, Seq(4, 16, 24), info.dtype.zarrName)
    val ch = CziSource.chunkTable(spark, info, grid).collect().head
    var i = 0
    for (z <- 0 until 4; y <- 0 until 16; x <- 0 until 24) {
      assert(grid.dtype.read(ch.data, i) == ChunkTable.voxel(21L, 0, 0, z, y, x, grid.dtype))
      i += 1
    }
  }

  test("runJob globs a real CZI next to empty fixtures and converts both") {
    val spark = TestSpark.spark
    val in = java.nio.file.Files.createTempDirectory("graft-czi-job-in").toString
    val out = java.nio.file.Files.createTempDirectory("graft-czi-job-out").toString
    writeMosaicFixture(s"$in/real(5).czi", seed = 9L)
    java.nio.file.Files.createFile(java.nio.file.Paths.get(in, "empty.czi"))
    val settings = ZeissJobSettings(inputSource = in, outputDirectory = out,
      chunkSize = Seq(16, 16, 16), downsampleLevels = 1)
    val resp = ZeissJob.runJob(spark, settings)
    assert(resp.statusCode == 200 && resp.message.contains("Stacks: 2"))
    // the real CZI decodes; its shape comes from the subblock directory
    val (gReal, _) = ZarrIO.readLevel(spark, s"$out/real_5.ome.zarr", 0)
    assert(gReal.shape == Seq(1L, 1L, 4L, 32L, 48L))
    // the empty file falls back to the synthetic header's default shape
    val (gSynth, _) = ZarrIO.readLevel(spark, s"$out/empty_0.ome.zarr", 0)
    assert(gSynth.shape == Seq(1L, 1L, 64L, 96L, 128L))
  }

  test("corrupt payload size fails loudly instead of yielding garbage voxels") {
    val path = tempCzi("graft-czi-corrupt")
    // dims claim 4x4 Gray16 (32 raw bytes) but the stored payload is 20
    CziFixture.write(path, Seq(CziFixture.Block(
      dims = Seq(CziReader.DimEntry("X", 0, 4, 4), CziReader.DimEntry("Y", 0, 4, 4)),
      data = new Array[Byte](20), pixelType = CziReader.PixelGray16)))
    val info = CziReader.tryOpen(conf, path).get // directory itself is valid
    val e = intercept[IllegalArgumentException](
      CziReader.payload(conf, path, info.entries.head))
    assert(e.getMessage.contains("extents say 32"))
  }

  test("non-CZI files classify as NotCzi (synthetic seam)") {
    val empty = tempCzi("graft-czi-empty")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(empty))
    assert(CziReader.open(conf, empty) == CziReader.NotCzi)
    val garbage = tempCzi("graft-czi-garbage")
    java.nio.file.Files.write(java.nio.file.Paths.get(garbage),
      Array.fill[Byte](1024)(42))
    assert(CziReader.open(conf, garbage) == CziReader.NotCzi)
    assert(CziReader.tryOpen(conf, garbage).isEmpty)
  }

  test("a real CZI with an unsupported codec classifies as Unsupported") {
    // compression 4 = JPEG-XR: a legitimate ZISRAW container the minimal
    // reader cannot decode -- must NOT look like "not a CZI"
    val path = tempCzi("graft-czi-jxr")
    CziFixture.write(path, Seq(CziFixture.Block(
      dims = Seq(CziReader.DimEntry("X", 0, 4, 4), CziReader.DimEntry("Y", 0, 4, 4)),
      data = new Array[Byte](32), pixelType = CziReader.PixelGray16,
      compression = 4)))
    CziReader.open(conf, path) match {
      case CziReader.Unsupported(reason) => assert(reason.contains("JPEG-XR"))
      case other => fail(s"expected Unsupported, got $other")
    }
    assert(CziReader.tryOpen(conf, path).isEmpty)
  }

  test("writeStack fails loudly on an unsupported real CZI; flag restores fallback") {
    val spark = TestSpark.spark
    val in = java.nio.file.Files.createTempDirectory("graft-czi-loud-in").toString
    val out = java.nio.file.Files.createTempDirectory("graft-czi-loud-out").toString
    val path = s"$in/real.czi"
    CziFixture.write(path, Seq(CziFixture.Block(
      dims = Seq(CziReader.DimEntry("X", 0, 4, 4), CziReader.DimEntry("Y", 0, 4, 4)),
      data = new Array[Byte](32), pixelType = CziReader.PixelGray16,
      compression = 4)))
    val settings = ZeissJobSettings(inputSource = in, outputDirectory = out,
      chunkSize = Seq(16, 16, 16), downsampleLevels = 1)
    val e = intercept[UnsupportedCziException](
      ZeissJob.writeStack(spark, settings, path))
    assert(e.getMessage.contains("refusing"))
    // opting in restores the old synthetic-fallback behavior
    val counts = ZeissJob.writeStack(spark,
      settings.copy(syntheticFallbackForUnsupported = true), path)
    assert(counts.nonEmpty)
    val (g, _) = ZarrIO.readLevel(spark, s"$out/real_0.ome.zarr", 0)
    assert(g.shape == Seq(1L, 1L, 64L, 96L, 128L)) // synthetic default shape
  }

  test("voxel size parses from the ZISRAWMETADATA scaling XML (micrometers)") {
    val path = tempCzi("graft-czi-scale")
    writeMosaicFixture(path, seed = 9L,
      metadataXml = Some(CziFixture.scalingXml(2.0e-6, 0.5e-6, 0.75e-6)))
    val info = CziReader.tryOpen(conf, path).get
    assert(info.voxelSizeZyx.isDefined)
    val Seq(vz, vy, vx) = info.voxelSizeZyx.get
    assert(math.abs(vz - 2.0) < 1e-9 && math.abs(vy - 0.5) < 1e-9 &&
      math.abs(vx - 0.75) < 1e-9)
    // absent metadata -> None -> writeStack's 1 um default
    val bare = tempCzi("graft-czi-noscale")
    writeMosaicFixture(bare, seed = 9L)
    assert(CziReader.tryOpen(conf, bare).get.voxelSizeZyx.isEmpty)
  }

  test("writeStack feeds the CZI voxel size into the OME scale transforms") {
    val spark = TestSpark.spark
    val path = tempCzi("graft-czi-scale-e2e")
    writeMosaicFixture(path, seed = 9L,
      metadataXml = Some(CziFixture.scalingXml(2.0e-6, 0.5e-6, 0.75e-6)))
    val out = java.nio.file.Files.createTempDirectory("graft-czi-scale-out").toString
    val settings = ZeissJobSettings(inputSource = "/nonexistent",
      outputDirectory = out, chunkSize = Seq(16, 16, 16), downsampleLevels = 2)
    ZeissJob.writeStack(spark, settings, path)
    val zattrs = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/stack_0.ome.zarr/.zattrs")), "UTF-8")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(zattrs)
    val datasets = root.get("multiscales").get(0).get("datasets")
    def scaleOf(lvl: Int): Seq[Double] = {
      val s = datasets.get(lvl).get("coordinateTransformations").get(0).get("scale")
      (0 until s.size).map(i => s.get(i).asDouble)
    }
    assert(scaleOf(0) == Seq(1.0, 1.0, 2.0, 0.5, 0.75))
    assert(scaleOf(1) == Seq(1.0, 1.0, 4.0, 1.0, 1.5)) // x2 per level
  }

  test("zstd1 subblocks decode, with and without hi-lo byte packing") {
    val spark = TestSpark.spark
    def verify(path: String): Unit = {
      val info = CziReader.tryOpen(conf, path).get
      assert(info.shape == Seq(1L, 1L, 2L, 8L, 12L))
      val grid = ChunkGrid(info.shape, Seq(2, 8, 12), info.dtype.zarrName)
      val ch = CziSource.chunkTable(spark, info, grid).collect().head
      var i = 0
      for (z <- 0 until 2; y <- 0 until 8; x <- 0 until 12) {
        assert(grid.dtype.read(ch.data, i) ==
          ChunkTable.voxel(33L, 0, 0, z, y, x, grid.dtype), s"($z,$y,$x)")
        i += 1
      }
    }
    // size-1 header: [0x01] ++ zstd(raw)
    val plain = tempCzi("graft-czi-zstd1")
    CziFixture.write(plain, CziFixture.zstd1(33L, hiLo = false))
    verify(plain)
    // size-3 header with the hi-lo bit: low-byte plane then high-byte plane
    val hilo = tempCzi("graft-czi-zstd1-hilo")
    CziFixture.write(hilo, CziFixture.zstd1(33L, hiLo = true))
    verify(hilo)
  }

  test("overlapping or non-covering mosaics classify as Unsupported") {
    val dt = Dtype.UInt16
    def tile(y0: Int, ey: Int) = CziFixture.Block(
      dims = Seq(
        CziReader.DimEntry("X", 0, 8, 8),
        CziReader.DimEntry("Y", y0, ey, ey),
        CziReader.DimEntry("Z", 0, 1, 1)),
      data = CziFixture.voxelBox(dt, 5L, 0, 0, 0, y0, 0, 1, ey, 8),
      pixelType = CziReader.PixelGray16)
    // tiles [0,10) and [8,16): 2-row overlap -- nondeterministic reassembly
    val overlapping = tempCzi("graft-czi-overlap")
    CziFixture.write(overlapping, Seq(tile(0, 10), tile(8, 8)))
    CziReader.open(conf, overlapping) match {
      case CziReader.Unsupported(reason) => assert(reason.contains("overlap"))
      case other => fail(s"expected Unsupported, got $other")
    }
    // tiles [0,4) and [12,16): gap -- silently zero-filled before this check
    val gapped = tempCzi("graft-czi-gap")
    CziFixture.write(gapped, Seq(tile(0, 4), tile(12, 4)))
    CziReader.open(conf, gapped) match {
      case CziReader.Unsupported(reason) => assert(reason.contains("cover"))
      case other => fail(s"expected Unsupported, got $other")
    }
  }

  test("corrupt zstd frame fails loudly (truncated decode detected)") {
    val path = tempCzi("graft-czi-zstd-trunc")
    // frame decodes to 8 bytes but the extents demand 32
    val shortFrame = com.github.luben.zstd.Zstd.compress(new Array[Byte](8), 3)
    CziFixture.write(path, Seq(CziFixture.Block(
      dims = Seq(CziReader.DimEntry("X", 0, 4, 4), CziReader.DimEntry("Y", 0, 4, 4)),
      data = shortFrame, pixelType = CziReader.PixelGray16,
      compression = CziReader.CompressionZstd0)))
    val info = CziReader.tryOpen(conf, path).get
    val e = intercept[Exception](CziReader.payload(conf, path, info.entries.head))
    assert(e.getMessage.contains("extents say 32") ||
      e.getMessage.toLowerCase.contains("zstd"))
  }
}
