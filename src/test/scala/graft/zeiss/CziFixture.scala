package graft.zeiss

import java.nio.{ByteBuffer, ByteOrder}

/** Test-side writer of minimal spec-conformant ZISRAW containers — the
  * fixtures CziReaderSpec decodes. Layout follows the public ZISRAW spec
  * exactly as documented on [[CziReader]]: 32-byte-aligned segments,
  * ZISRAWFILE header with the directory position at data offset 52,
  * ZISRAWSUBBLOCK fixed part + DirectoryEntryDV copy padded to 256, and a
  * ZISRAWDIRECTORY of packed DV entries. Offsets are asserted raw in the
  * spec so writer and reader cannot drift together unnoticed.
  */
object CziFixture {

  final case class Block(
      dims: Seq[CziReader.DimEntry],
      data: Array[Byte],
      pixelType: Int,
      compression: Int = 0)

  private def align32(n: Int): Int = ((n + 31) / 32) * 32

  private def entryBytes(b: Block, filePos: Long): Array[Byte] = {
    val buf = ByteBuffer.allocate(32 + 20 * b.dims.size).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('D'.toByte).put('V'.toByte)
    buf.putInt(b.pixelType) // offset 2
    buf.putLong(filePos) // 6
    buf.putInt(0) // filePart, 14
    buf.putInt(b.compression) // 18
    buf.put(0.toByte) // pyramidType, 22
    buf.put(0.toByte) // reserved
    buf.putInt(0) // reserved, 24..27
    buf.putInt(b.dims.size) // 28
    b.dims.foreach { d =>
      val name = d.dim.getBytes("US-ASCII")
      (0 until 4).foreach(i => buf.put(if (i < name.length) name(i) else 0.toByte))
      buf.putInt(d.start)
      buf.putInt(d.size)
      buf.putFloat(d.start.toFloat)
      buf.putInt(d.storedSize)
    }
    buf.array()
  }

  /** Writes the container; returns the subblock file positions. An
    * optional document XML (voxel scaling etc.) lands in a trailing
    * ZISRAWMETADATA segment whose position goes to file-header data
    * offset 60 — the field [[CziReader.open]] reads the Scaling from. */
  def write(path: String, blocks: Seq[Block],
      metadataXml: Option[String] = None): Seq[Long] = {
    val fhTotal = 32 + 512
    // per-subblock: fixed(16) + entry, padded to 256, + payload (no
    // per-subblock metadata XML, no attachments)
    val sbUsed = blocks.map { b =>
      math.max(256, 16 + 32 + 20 * b.dims.size) + b.data.length
    }
    val sbTotal = sbUsed.map(u => 32 + align32(u))
    val sbPos = sbTotal.scanLeft(fhTotal.toLong)(_ + _)
    val dirPos = sbPos.last
    val dirUsed = 128 + blocks.zip(sbPos).map { case (b, _) => 32 + 20 * b.dims.size }.sum
    val xmlBytes = metadataXml.map(_.getBytes("UTF-8"))
    val metaPos = dirPos.toInt + 32 + align32(dirUsed)
    val metaUsed = xmlBytes.map(256 + _.length).getOrElse(0)
    val total = metaPos + xmlBytes.map(_ => 32 + align32(metaUsed)).getOrElse(0)

    val out = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    def segmentHeader(pos: Int, id: String, alloc: Int, used: Int): Unit = {
      out.position(pos)
      val idb = id.getBytes("US-ASCII")
      (0 until 16).foreach(i => out.put(if (i < idb.length) idb(i) else 0.toByte))
      out.putLong(alloc.toLong)
      out.putLong(used.toLong)
    }

    segmentHeader(0, "ZISRAWFILE", 512, 512)
    out.putInt(1).putInt(0).putInt(0).putInt(0) // major, minor, reserved x2
    out.position(32 + 52)
    out.putLong(dirPos) // SubBlockDirectoryPosition at data offset 52
    xmlBytes.foreach { _ =>
      out.position(32 + 60)
      out.putLong(metaPos.toLong) // MetadataPosition at data offset 60
    }

    blocks.zipWithIndex.foreach { case (b, i) =>
      val pos = sbPos(i).toInt
      segmentHeader(pos, "ZISRAWSUBBLOCK", align32(sbUsed(i)), sbUsed(i))
      val data = pos + 32
      out.position(data)
      out.putInt(0) // metadataSize
      out.putInt(0) // attachmentSize
      out.putLong(b.data.length.toLong) // dataSize
      out.put(entryBytes(b, sbPos(i)))
      out.position(data + math.max(256, 16 + 32 + 20 * b.dims.size))
      out.put(b.data)
    }

    segmentHeader(dirPos.toInt, "ZISRAWDIRECTORY", align32(dirUsed), dirUsed)
    out.position(dirPos.toInt + 32)
    out.putInt(blocks.size)
    out.position(dirPos.toInt + 32 + 128)
    blocks.zipWithIndex.foreach { case (b, i) => out.put(entryBytes(b, sbPos(i))) }

    xmlBytes.foreach { xml =>
      segmentHeader(metaPos, "ZISRAWMETADATA", align32(metaUsed), metaUsed)
      out.position(metaPos + 32)
      out.putInt(xml.length) // xmlSize
      out.putInt(0) // attachmentSize
      out.position(metaPos + 32 + 256) // 248 reserved bytes then the XML
      out.put(xml)
    }

    java.nio.file.Files.write(java.nio.file.Paths.get(path), out.array())
    sbPos.init
  }

  /** A minimal ZISRAW metadata document carrying Z/Y/X scaling distances
    * (meters), shaped like real Zeiss output. */
  def scalingXml(zMeters: Double, yMeters: Double, xMeters: Double): String =
    s"""<?xml version="1.0"?>
       |<ImageDocument>
       | <Metadata>
       |  <Scaling>
       |   <Items>
       |    <Distance Id="X"><Value>$xMeters</Value><DefaultUnitFormat>µm</DefaultUnitFormat></Distance>
       |    <Distance Id="Y"><Value>$yMeters</Value><DefaultUnitFormat>µm</DefaultUnitFormat></Distance>
       |    <Distance Id="Z"><Value>$zMeters</Value><DefaultUnitFormat>µm</DefaultUnitFormat></Distance>
       |   </Items>
       |  </Scaling>
       | </Metadata>
       |</ImageDocument>""".stripMargin

  /** A dense TCZYX box of [[ChunkTable.voxel]] values as subblock bytes. */
  def voxelBox(dt: Dtype, seed: Long, t: Long, c: Long,
      z0: Long, y0: Long, x0: Long, ez: Int, ey: Int, ex: Int): Array[Byte] = {
    val bytes = new Array[Byte](ez * ey * ex * dt.itemSize)
    var i = 0
    for (z <- 0 until ez; y <- 0 until ey; x <- 0 until ex) {
      dt.write(bytes, i, ChunkTable.voxel(seed, t, c, z0 + z, y0 + y, x0 + x, dt))
      i += 1
    }
    bytes
  }

  /** 1x1x4x32x48 uint16: per Z plane, two Y-mosaic tiles; dimension starts
    * offset (Z+10, Y+200, X+100) to exercise origin normalization. */
  def mosaic(seed: Long): Seq[Block] =
    for (z <- 0 until 4; ty <- 0 until 2) yield Block(
      dims = Seq(
        CziReader.DimEntry("X", 100, 48, 48),
        CziReader.DimEntry("Y", 200 + ty * 16, 16, 16),
        CziReader.DimEntry("Z", 10 + z, 1, 1),
        CziReader.DimEntry("C", 0, 1, 1),
        CziReader.DimEntry("T", 0, 1, 1)),
      data = voxelBox(Dtype.UInt16, seed, 0, 0, z, ty * 16L, 0, 1, 16, 48),
      pixelType = CziReader.PixelGray16)

  /** 1x2x2x8x8 uint8: one subblock per (c, z). */
  def gray8(seed: Long): Seq[Block] =
    for (c <- 0 until 2; z <- 0 until 2) yield Block(
      dims = Seq(
        CziReader.DimEntry("X", 0, 8, 8),
        CziReader.DimEntry("Y", 0, 8, 8),
        CziReader.DimEntry("Z", z, 1, 1),
        CziReader.DimEntry("C", c, 1, 1)),
      data = voxelBox(Dtype.UInt8, seed, 0, c, z, 0, 0, 1, 8, 8),
      pixelType = CziReader.PixelGray8)

  /** 1x1x4x16x24 uint16: one zstd0-compressed subblock per Z plane. */
  def zstd0(seed: Long): Seq[Block] = (0 until 4).map { z =>
    Block(
      dims = Seq(
        CziReader.DimEntry("X", 0, 24, 24),
        CziReader.DimEntry("Y", 0, 16, 16),
        CziReader.DimEntry("Z", z, 1, 1)),
      data = com.github.luben.zstd.Zstd.compress(
        voxelBox(Dtype.UInt16, seed, 0, 0, z, 0, 0, 1, 16, 24), 3),
      pixelType = CziReader.PixelGray16,
      compression = CziReader.CompressionZstd0)
  }

  /** 1x1x2x8x12 uint16 as one zstd1 subblock: a size-1 header, or with
    * `hiLo` a size-3 header and the low-byte plane before the high-byte
    * plane. */
  def zstd1(seed: Long, hiLo: Boolean): Seq[Block] = {
    val raw = voxelBox(Dtype.UInt16, seed, 0, 0, 0, 0, 0, 2, 8, 12)
    val payload =
      if (!hiLo) Array[Byte](1) ++ com.github.luben.zstd.Zstd.compress(raw, 3)
      else {
        val n = raw.length / 2
        val packed = new Array[Byte](raw.length)
        (0 until n).foreach { i =>
          packed(i) = raw(2 * i)
          packed(n + i) = raw(2 * i + 1)
        }
        Array[Byte](3, 1, 1) ++ com.github.luben.zstd.Zstd.compress(packed, 3)
      }
    Seq(Block(
      dims = Seq(
        CziReader.DimEntry("X", 0, 12, 12),
        CziReader.DimEntry("Y", 0, 8, 8),
        CziReader.DimEntry("Z", 0, 2, 2)),
      data = payload, pixelType = CziReader.PixelGray16,
      compression = CziReader.CompressionZstd1))
  }
}
