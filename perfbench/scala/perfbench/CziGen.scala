package perfbench

import graft.zeiss.{ChunkGrid, ChunkTable, CziReader, CziSource, Dtype}

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

/** Streaming writer of seeded Gray16 ZISRAW stacks: one Z plane per
  * subblock, voxels from [[ChunkTable.voxel]]. Segment layout is the one the
  * engine's CZI fixture writes (32-byte-aligned segments, directory
  * position at file-header data offset 52, metadata position at 60, each
  * subblock's directory-entry copy padded to 256 bytes), but every offset is
  * computed up front so the file streams out plane by plane and no stack
  * ever sits in one buffer.
  *
  * Alongside the stack it can write the expected per-level voxel sums of
  * the pyramid — a plain windowed mean (truncating, edge windows average the
  * voxels present) computed here independently of the engine's Spark path.
  */
object CziGen {
  private val Entry = 32 + 20 * 5
  private val SubblockFixed = math.max(256, 16 + Entry)

  private def align32(n: Long): Long = ((n + 31) / 32) * 32

  def write(out: String, seed: Long, nz: Int, ny: Int, nx: Int,
      expected: Option[String]): Unit = {
    val plane = ny.toLong * nx * 2
    val sbUsed = SubblockFixed + plane
    val sbTotal = 32 + align32(sbUsed)
    val first = 32L + 512
    val dirPos = first + nz * sbTotal
    val dirUsed = 128L + nz.toLong * Entry
    val xml = scalingXml.getBytes("UTF-8")
    val metaPos = dirPos + 32 + align32(dirUsed)
    val metaUsed = 256L + xml.length

    val tmp = out + ".part"
    val os = new BufferedOutputStream(new FileOutputStream(tmp), 1 << 22)
    var pos = 0L
    def put(b: Array[Byte]): Unit = { os.write(b); pos += b.length }
    def padTo(p: Long): Unit = {
      require(p >= pos, s"layout overlap at $pos > $p")
      while (pos < p) { val n = math.min(p - pos, 65536L).toInt; put(new Array[Byte](n)) }
    }
    def le(n: Int): ByteBuffer = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    def segHeader(id: String, alloc: Long, used: Long): Unit = {
      val b = le(32)
      val idb = id.getBytes("US-ASCII")
      (0 until 16).foreach(i => b.put(if (i < idb.length) idb(i) else 0.toByte))
      b.putLong(alloc).putLong(used)
      put(b.array())
    }
    def entry(z: Int, filePos: Long): Array[Byte] = {
      val b = le(Entry)
      b.put('D'.toByte).put('V'.toByte)
      b.putInt(CziReader.PixelGray16).putLong(filePos).putInt(0)
      b.putInt(CziReader.CompressionNone)
      b.put(0.toByte).put(0.toByte).putInt(0).putInt(5)
      Seq(("T", 0, 1), ("C", 0, 1), ("Z", z, 1), ("Y", 0, ny), ("X", 0, nx)).foreach {
        case (d, start, size) =>
          b.put(d.charAt(0).toByte).put(0.toByte).put(0.toByte).put(0.toByte)
          b.putInt(start).putInt(size).putFloat(start.toFloat).putInt(size)
      }
      b.array()
    }
    def sbPos(z: Int): Long = first + z * sbTotal

    // file header
    segHeader("ZISRAWFILE", 512, 512)
    val fh = le(512)
    fh.putInt(1).putInt(0).putInt(0).putInt(0)
    fh.position(52); fh.putLong(dirPos); fh.putLong(metaPos)
    put(fh.array())

    // subblocks, planes generated a batch at a time on all cores
    val sums = expected.map(_ => new LevelSums(nz, ny, nx))
    val batch = math.max(1, Runtime.getRuntime.availableProcessors())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(batch)
    try {
      (0 until nz).grouped(batch).foreach { zs =>
        val futs = zs.map(z => pool.submit(() => planeBytes(seed, z, ny, nx)))
        zs.zip(futs).foreach { case (z, f) =>
          val bytes = f.get()
          sums.foreach(_.addPlane(z, bytes))
          padTo(sbPos(z))
          segHeader("ZISRAWSUBBLOCK", align32(sbUsed), sbUsed)
          val head = le(16)
          head.putInt(0).putInt(0).putLong(plane)
          put(head.array())
          put(entry(z, sbPos(z)))
          padTo(sbPos(z) + 32 + SubblockFixed)
          put(bytes)
        }
      }
    } finally pool.shutdown()

    padTo(dirPos)
    segHeader("ZISRAWDIRECTORY", align32(dirUsed), dirUsed)
    val count = le(128); count.putInt(nz); put(count.array())
    (0 until nz).foreach(z => put(entry(z, sbPos(z))))
    padTo(metaPos)
    segHeader("ZISRAWMETADATA", align32(metaUsed), metaUsed)
    val mh = le(256); mh.putInt(xml.length).putInt(0); put(mh.array())
    put(xml)
    padTo(metaPos + 32 + align32(metaUsed))
    os.close()
    Files.move(Paths.get(tmp), Paths.get(out), java.nio.file.StandardCopyOption.REPLACE_EXISTING)

    sums.foreach { s =>
      val levels = s.levels(4).map { case (shape, sum) => Map("shape" -> shape, "sum" -> sum) }
      Files.write(Paths.get(expected.get), Main.json.writeValueAsBytes(Map(
        "shape" -> Seq(nz, ny, nx), "raw_bytes" -> nz.toLong * plane, "levels" -> levels)))
    }
  }

  def planeBytes(seed: Long, z: Int, ny: Int, nx: Int): Array[Byte] = {
    val out = new Array[Byte](ny * nx * 2)
    var i = 0
    var y = 0
    while (y < ny) {
      var x = 0
      while (x < nx) {
        Dtype.UInt16.write(out, i, ChunkTable.voxel(seed, 0, 0, z, y, x, Dtype.UInt16))
        i += 1; x += 1
      }
      y += 1
    }
    out
  }

  /** Level-0 voxels kept as unsigned 16-bit values; each further level is
    * the truncating windowed mean over 2x2x2 windows of the one before. */
  final class LevelSums(nz: Int, ny: Int, nx: Int) {
    private val l0 = new Array[Char](nz * ny * nx)

    def addPlane(z: Int, bytes: Array[Byte]): Unit = {
      val base = z * ny * nx
      var i = 0
      while (i < ny * nx) {
        l0(base + i) = ((bytes(2 * i) & 0xff) | ((bytes(2 * i + 1) & 0xff) << 8)).toChar
        i += 1
      }
    }

    def levels(n: Int): Seq[(Seq[Int], Long)] = {
      var shape = Seq(nz, ny, nx)
      var cur: Int => Int = i => l0(i).toInt
      val out = Seq.newBuilder[(Seq[Int], Long)]
      var lvl = 0
      var go = true
      while (lvl < n && go) {
        val size = shape.product
        var sum = 0L
        var i = 0
        while (i < size) { sum += cur(i); i += 1 }
        out += ((shape, sum))
        val next = shape.map(d => (d + 1) / 2)
        go = next != shape
        if (go) {
          val arr = windowedMean(cur, shape, next)
          cur = i => arr(i)
          shape = next
        }
        lvl += 1
      }
      out.result()
    }

    private def windowedMean(src: Int => Int, s: Seq[Int], d: Seq[Int]): Array[Int] = {
      val Seq(sz, sy, sx) = s
      val Seq(dz, dy, dx) = d
      val out = new Array[Int](dz * dy * dx)
      var i = 0
      var z = 0
      while (z < dz) {
        var y = 0
        while (y < dy) {
          var x = 0
          while (x < dx) {
            var sum = 0L
            var n = 0
            var zz = 2 * z
            while (zz < math.min(2 * z + 2, sz)) {
              var yy = 2 * y
              while (yy < math.min(2 * y + 2, sy)) {
                var xx = 2 * x
                while (xx < math.min(2 * x + 2, sx)) {
                  sum += src((zz * sy + yy) * sx + xx); n += 1; xx += 1
                }
                yy += 1
              }
              zz += 1
            }
            out(i) = (sum / n).toInt
            i += 1; x += 1
          }
          y += 1
        }
        z += 1
      }
      out
    }
  }

  val scalingXml: String =
    """<?xml version="1.0"?>
      |<ImageDocument><Metadata><Scaling><Items>
      |<Distance Id="X"><Value>5E-07</Value></Distance>
      |<Distance Id="Y"><Value>5E-07</Value></Distance>
      |<Distance Id="Z"><Value>1E-06</Value></Distance>
      |</Items></Scaling></Metadata></ImageDocument>""".stripMargin

  /** Self-check: a small generated stack opens with the engine's reader and
    * its chunk table holds exactly the generator's voxels. Prints one line
    * and exits non-zero on a mismatch. */
  def roundTrip(dir: String): Unit = {
    val (nz, ny, nx, seed) = (10, 37, 70, 11L)
    val path = s"$dir/rt.czi"
    write(path, seed, nz, ny, nx, None)
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.local.dir", s"$dir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val info = CziReader.open(spark.sparkContext.hadoopConfiguration, path) match {
      case CziReader.Opened(i) => i
      case other => throw new AssertionError(s"generated stack did not open: $other")
    }
    require(info.shape == Seq(1L, 1L, nz.toLong, ny.toLong, nx.toLong), s"shape ${info.shape}")
    require(info.voxelSizeZyx.contains(Seq(1.0, 0.5, 0.5)), s"voxel size ${info.voxelSizeZyx}")
    val grid = ChunkGrid(info.shape, Seq(4, 16, 32), Dtype.UInt16.zarrName)
    val chunks = CziSource.chunkTable(spark, info, grid).collect()
    require(chunks.length == grid.numChunks, s"${chunks.length} chunks, want ${grid.numChunks}")
    var bad = 0
    chunks.foreach { c =>
      val (ez, ey, ex) = grid.extent(c.zi, c.yi, c.xi)
      var i = 0
      for (z <- 0 until ez; y <- 0 until ey; x <- 0 until ex) {
        val want = ChunkTable.voxel(seed, 0, 0, c.zi * 4L + z, c.yi * 16L + y, c.xi * 32L + x, Dtype.UInt16)
        if (Dtype.UInt16.read(c.data, i) != want) bad += 1
        i += 1
      }
    }
    spark.stop()
    println(s"roundtrip chunks=${chunks.length} mismatches=$bad")
    if (bad != 0) sys.exit(1)
  }
}
