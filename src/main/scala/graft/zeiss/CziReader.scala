package graft.zeiss

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}

/** Minimal ZISRAW (Zeiss CZI) container reader — closes the "real CZI
  * source" gap of SURVEY §2A op 5 for the common uncompressed case. The
  * format is public: Zeiss's ZISRAW specification ("CZI — Image File Format
  * for Microscopy"), independently implemented by github.com/ZEISS/libczi
  * and by the `bioio-czi` reader the reference delegates to
  * (`zeiss_job.py:145-153`).
  *
  * Layout parsed here: a CZI is a sequence of 32-byte-aligned segments,
  * each `[16-byte ASCII id][int64 allocatedSize][int64 usedSize][data]`.
  *  - `ZISRAWFILE` (at offset 0): major/minor/reserved ints, two GUIDs,
  *    filePart, then the subblock-directory file position at data offset 52
  *    and the metadata-segment position at data offset 60.
  *  - `ZISRAWDIRECTORY`: int32 entry count, 124 reserved bytes, then
  *    packed DirectoryEntryDV records.
  *  - DirectoryEntryDV: "DV", int32 pixelType, int64 filePosition,
  *    int32 filePart, int32 compression, 6 reserved bytes, int32
  *    dimensionCount, then 20-byte DimensionEntryDV1 records
  *    (4-char dimension, int32 start, int32 size, float32 startCoordinate,
  *    int32 storedSize).
  *  - `ZISRAWSUBBLOCK`: int32 metadataSize, int32 attachmentSize, int64
  *    dataSize, a copy of the DirectoryEntryDV, padding so the variable
  *    part starts at offset max(256, 16 + entry size), then metadata XML,
  *    then the pixel payload (then attachments).
  *  - `ZISRAWMETADATA`: int32 xmlSize, int32 attachmentSize, 248 reserved
  *    bytes, then the document XML. The voxel size lives at
  *    `Metadata/Scaling/Items/Distance[@Id]/Value` in meters — the field
  *    the reference reads as `physical_pixel_sizes`
  *    (`zeiss_job.py:147-152`).
  *
  * Scope (documented non-goals beyond this): uncompressed, zstd0 and zstd1
  * Gray8/Gray16 subblocks — real Zeiss light-sheet acquisitions are uint16.
  * JPEG-XR subblocks are FORMALLY out of scope (SURVEY §2A op 5, closed
  * r7): the codec is a full ITU-T T.832 implementation and a partial
  * decoder risks silently wrong voxels, so such files classify loudly as
  * [[Unsupported]] (never [[NotCzi]], never synthetic data) — the contract
  * CziReaderSpec pins. Workaround: re-export from Zen as zstd or
  * uncompressed, both fully supported. Mosaics are accepted only when their subblocks tile each
  * (T, C) plane stack disjointly and completely — overlapping-tile
  * acquisitions (common with stage overlap before stitching) are rejected
  * rather than reassembled nondeterministically. [[open]] reports
  * machine-checkable outcomes: [[NotCzi]] for files without the ZISRAWFILE
  * magic (the reference's own tests use empty fixtures,
  * `tests/test_zeiss_job.py:30-32`) and [[Unsupported]] for real CZIs this
  * reader cannot decode — the caller decides whether that is fatal
  * (ZeissJob fails loudly by default).
  */
object CziReader {

  /** One DimensionEntryDV1. */
  final case class DimEntry(dim: String, start: Int, size: Int, storedSize: Int)

  /** One subblock-directory entry: where the payload lives + its extents. */
  final case class SubblockEntry(
      pixelType: Int,
      filePosition: Long,
      compression: Int,
      dims: Seq[DimEntry]) {
    def dim(name: String): Option[DimEntry] = dims.find(_.dim == name)
    def start(name: String): Int = dim(name).map(_.start).getOrElse(0)
    def size(name: String): Int = dim(name).map(_.size).getOrElse(1)
  }

  /** Parsed container: directory entries + the derived 5-D geometry. */
  final case class CziInfo(
      path: String,
      entries: Seq[SubblockEntry],
      dtype: Dtype,
      /** TCZYX extents (max(start+size) - min(start) per dimension). */
      shape: Seq[Long],
      /** Per-dimension minimum start (origin normalization): T,C,Z,Y,X. */
      origin: Seq[Int],
      /** Z,Y,X voxel size in micrometers from the metadata segment's
        * Scaling distances; None when the file carries no scaling. */
      voxelSizeZyx: Option[Seq[Double]] = None)

  /** Outcome of [[open]]. */
  sealed trait OpenResult
  /** A CZI this reader fully supports. */
  final case class Opened(info: CziInfo) extends OpenResult
  /** Not a ZISRAW container at all (no magic / empty / other format). */
  case object NotCzi extends OpenResult
  /** A real ZISRAW container beyond this reader's scope (JPEG-XR,
    * overlapping mosaic, corrupt directory, ...). Callers must not silently
    * substitute data for these — the file holds real voxels. */
  final case class Unsupported(reason: String) extends OpenResult

  private val DimOrder = Seq("T", "C", "Z", "Y", "X")

  val PixelGray8 = 0
  val PixelGray16 = 1
  val CompressionNone = 0
  /** ZISRAW "zstd0": the payload is one raw zstd frame (no extra header).
    * Decompressed size is known from the entry's dimension extents. */
  val CompressionZstd0 = 5
  /** ZISRAW "zstd1": a 1-3 byte header precedes the zstd frame — byte 0 is
    * the header size; when the size is >= 3, byte 1 is the chunk id (0x01)
    * and byte 2's low bit flags hi-lo byte packing (all low bytes of the
    * 16-bit samples stored before all high bytes, for better compression;
    * see ZEISS/libczi `decoder_zstd`). */
  val CompressionZstd1 = 6

  private val Supported = Set(CompressionNone, CompressionZstd0, CompressionZstd1)

  private def pixelDtype(pixelType: Int): Option[Dtype] = pixelType match {
    case PixelGray8 => Some(Dtype.UInt8)
    case PixelGray16 => Some(Dtype.UInt16)
    case _ => None
  }

  private def le(bytes: Array[Byte]): ByteBuffer =
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)

  /** Reads `n` bytes at `pos` through the Hadoop FS API (works for file://
    * and any other configured scheme; executors re-open per task). */
  private def readAt(conf: Configuration, path: String, pos: Long, n: Int): Array[Byte] = {
    val p = new Path(path)
    val in = p.getFileSystem(conf).open(p)
    try {
      val buf = new Array[Byte](n)
      in.readFully(pos, buf)
      buf
    } finally in.close()
  }

  /** Segment header at `pos`: (id, usedSize, dataStart). */
  private def segmentHeader(conf: Configuration, path: String, pos: Long)
      : (String, Long, Long) = {
    val h = readAt(conf, path, pos, 32)
    val id = new String(h, 0, 16, "US-ASCII").takeWhile(_ != '\u0000').trim
    val used = le(h).getLong(24)
    (id, used, pos + 32)
  }

  /** Parses one packed DirectoryEntryDV at `buf[off..]`; returns the entry
    * and its byte length. */
  private def directoryEntry(buf: ByteBuffer, off: Int): (SubblockEntry, Int) = {
    val schema = new String(Array(buf.get(off), buf.get(off + 1)), "US-ASCII")
    require(schema == "DV", s"unsupported directory entry schema '$schema'")
    val pixelType = buf.getInt(off + 2)
    val filePosition = buf.getLong(off + 6)
    val compression = buf.getInt(off + 18)
    val dimCount = buf.getInt(off + 28)
    require(dimCount >= 0 && dimCount <= 16, s"implausible dimensionCount $dimCount")
    val dims = (0 until dimCount).map { i =>
      val o = off + 32 + 20 * i
      val name = new String(
        Array(buf.get(o), buf.get(o + 1), buf.get(o + 2), buf.get(o + 3)),
        "US-ASCII").takeWhile(_ != '\u0000').trim
      DimEntry(name, buf.getInt(o + 4), buf.getInt(o + 8), buf.getInt(o + 16))
    }
    (SubblockEntry(pixelType, filePosition, compression, dims), 32 + 20 * dimCount)
  }

  /** Fails (caught by [[open]] into Unsupported) unless the subblocks tile
    * each (T, C) plane stack disjointly and completely. Overlapping mosaic
    * tiles would otherwise reassemble last-writer-wins in shuffle order —
    * nondeterministic voxels — and coverage gaps would silently zero-fill. */
  private def requireDisjointCover(
      entries: Seq[SubblockEntry], shape: Seq[Long], origin: Seq[Int]): Unit = {
    val planeVoxels = shape(2) * shape(3) * shape(4)
    entries.groupBy(e => (e.start("T"), e.start("C"))).foreach { case ((t, c), es) =>
      // disjointness first (overlap deserves its own diagnosis — a voxel
      // count alone cannot tell overlap from gap). Sorted by Z start so
      // the inner scan early-exits.
      val sorted = es.sortBy(_.start("Z"))
      var i = 0
      while (i < sorted.size) {
        val a = sorted(i)
        val az1 = a.start("Z") + a.size("Z")
        var j = i + 1
        var go = true
        while (j < sorted.size && go) {
          val b = sorted(j)
          if (b.start("Z") >= az1) go = false // later Z starts cannot overlap
          else {
            val overlaps =
              a.start("Y") < b.start("Y") + b.size("Y") &&
                b.start("Y") < a.start("Y") + a.size("Y") &&
                a.start("X") < b.start("X") + b.size("X") &&
                b.start("X") < a.start("X") + a.size("X")
            require(!overlaps,
              s"overlapping subblocks for (T=$t, C=$c) at " +
                s"Z=${b.start("Z")} Y=${b.start("Y")} X=${b.start("X")} — " +
                "overlapping mosaic tiles are unsupported")
            j += 1
          }
        }
        i += 1
      }
      // with disjointness established, count == volume iff full coverage
      val total = es.map(e =>
        e.size("Z").toLong * e.size("Y") * e.size("X")).sum
      require(total == planeVoxels,
        s"subblocks for (T=$t, C=$c) hold $total voxels but the derived " +
          s"shape needs $planeVoxels — mosaic does not cover the stack")
    }
  }

  /** Z,Y,X voxel size in micrometers from the ZISRAWMETADATA segment at
    * `metadataPosition`, or None when absent/unscaled. ZISRAW stores
    * `Scaling/Items/Distance[@Id="X|Y|Z"]/Value` in meters; the reference's
    * `physical_pixel_sizes` surfaces the same values in µm. A missing axis
    * defaults to 1 µm (bioio's convention for Z-less 2-D documents). */
  private def voxelSize(conf: Configuration, path: String, metadataPosition: Long)
      : Option[Seq[Double]] = {
    if (metadataPosition <= 0) return None
    val (id, used, data) = segmentHeader(conf, path, metadataPosition)
    if (id != "ZISRAWMETADATA") return None
    val head = le(readAt(conf, path, data, 8))
    val xmlSize = head.getInt(0)
    if (xmlSize <= 0 || xmlSize > used - 256) return None
    val xml = readAt(conf, path, data + 256, xmlSize)
    val doc = {
      val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
      f.newDocumentBuilder().parse(new java.io.ByteArrayInputStream(xml))
    }
    // scope the search to the image Scaling block — the Scaling element
    // that carries an Items child (real ZEN metadata nests the voxel size
    // as Metadata/Scaling/Items/Distance; other sections can carry Scaling
    // or Distance elements of their own, in either document order, whose
    // Id values must not shadow the voxel size)
    val scalings = doc.getElementsByTagName("Scaling")
    val imageScaling = (0 until scalings.getLength)
      .map(scalings.item(_).asInstanceOf[org.w3c.dom.Element])
      .find(_.getElementsByTagName("Items").getLength > 0)
    val distances = imageScaling match {
      case Some(sc) => sc.getElementsByTagName("Distance")
      case None => return None
    }
    val byAxis = scala.collection.mutable.Map.empty[String, Double]
    (0 until distances.getLength).foreach { i =>
      val el = distances.item(i).asInstanceOf[org.w3c.dom.Element]
      val axis = el.getAttribute("Id")
      val values = el.getElementsByTagName("Value")
      if (values.getLength > 0 && !byAxis.contains(axis)) { // first wins
        val meters = values.item(0).getTextContent.trim.toDouble
        if (meters > 0) byAxis(axis) = meters * 1e6
      }
    }
    if (byAxis.isEmpty) None
    else Some(Seq("Z", "Y", "X").map(byAxis.getOrElse(_, 1.0)))
  }

  /** Parses the container, classifying the outcome: [[Opened]] for a fully
    * supported CZI, [[NotCzi]] for files without the ZISRAWFILE magic,
    * [[Unsupported]] (with a reason) for real CZIs beyond this reader. */
  def open(conf: Configuration, path: String): OpenResult = {
    // NotCzi covers only files that provably AREN'T ZISRAW containers: too
    // short for a header (EOF) or wrong magic. A transient storage error
    // (IOException) must PROPAGATE — mapping it to NotCzi would send a real
    // CZI down the synthetic seam, fabricating voxels on a flaky read.
    val magicOk =
      try {
        val (magic, _, _) = segmentHeader(conf, path, 0L)
        magic == "ZISRAWFILE"
      } catch {
        case _: java.io.EOFException => false // shorter than a header
      }
    if (!magicOk) return NotCzi
    try {
      val fh = le(readAt(conf, path, 32L, 512))
      val directoryPosition = fh.getLong(52)
      val metadataPosition = fh.getLong(60)
      val (dirId, dirUsed, dirData) = segmentHeader(conf, path, directoryPosition)
      require(dirId == "ZISRAWDIRECTORY", s"expected directory segment, got '$dirId'")
      val dir = le(readAt(conf, path, dirData, dirUsed.toInt))
      val count = dir.getInt(0)
      var off = 128
      val entries = (0 until count).map { _ =>
        val (e, len) = directoryEntry(dir, off)
        off += len
        e
      }
      require(entries.nonEmpty, "empty subblock directory")
      val pixelTypes = entries.map(_.pixelType).distinct
      val dtype = pixelTypes match {
        case Seq(pt) => pixelDtype(pt).getOrElse(
          throw new IllegalArgumentException(s"unsupported pixel type $pt"))
        case _ => throw new IllegalArgumentException(
          s"mixed pixel types ${pixelTypes.mkString(",")}")
      }
      entries.find(e => !Supported(e.compression)).foreach(e =>
        throw new IllegalArgumentException(
          s"unsupported compression ${e.compression}" +
            (if (e.compression == 4) " (JPEG-XR)" else "")))
      // each subblock must be a single (T, C) plane stack — CziSource walks
      // its payload as one dense ZYX box per (t, c)
      require(entries.forall(e => e.size("T") == 1 && e.size("C") == 1),
        "subblocks spanning multiple T/C are unsupported")
      // size sanity: extents positive and bounded so a corrupt directory
      // cannot drive giant task-side allocations in `payload`
      require(entries.forall(e => e.dims.forall(d => d.size > 0 && d.size <= (1 << 24))),
        "implausible dimension extents")
      require(entries.forall(_.filePosition > 0), "implausible subblock position")
      val origin = DimOrder.map(d => entries.map(_.start(d)).min)
      val shape = DimOrder.zip(origin).map { case (d, o) =>
        entries.map(e => e.start(d) + e.size(d)).max.toLong - o
      }
      requireDisjointCover(entries, shape, origin)
      // scaling is optional metadata: a malformed XML document must not
      // reject an otherwise-decodable stack — but IO errors (including a
      // truncated segment) flow to the outer classification below instead
      // of silently degrading to the 1 µm default, which would write wrong
      // physical metadata on a flaky read
      val vs = try voxelSize(conf, path, metadataPosition) catch {
        case e: java.io.IOException => throw e
        case scala.util.control.NonFatal(_) => None
      }
      Opened(CziInfo(path, entries, dtype, shape, origin, vs))
    } catch {
      // a TRUNCATED container (EOF mid-parse) is a corrupt real CZI ->
      // Unsupported (loud); any other IO error is environmental and must
      // propagate for retry instead of being blamed on the file
      case e: java.io.EOFException =>
        Unsupported(s"truncated container: ${Option(e.getMessage).getOrElse("EOF")}")
      case e: java.io.IOException => throw e
      case scala.util.control.NonFatal(e) =>
        Unsupported(Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
    }
  }

  /** [[open]] collapsed to an Option — for callers (and specs) that only
    * distinguish decodable from not. */
  def tryOpen(conf: Configuration, path: String): Option[CziInfo] =
    open(conf, path) match {
      case Opened(info) => Some(info)
      case _ => None
    }

  /** Opens `path` for the positional reads of [[rows]]; the caller closes
    * it. One stream serves every subblock a task reads. */
  def openStream(conf: Configuration, path: String): FSDataInputStream = {
    val p = new Path(path)
    p.getFileSystem(conf).open(p)
  }

  /** Reads one subblock's pixel payload, decoded to raw little-endian
    * C-order bytes over the entry's dimension extents (X fastest). */
  def payload(conf: Configuration, path: String, e: SubblockEntry): Array[Byte] = {
    val in = openStream(conf, path)
    try rows(in, e, 0, e.size("Z"), 0, e.size("Y"), 0, e.size("X")) finally in.close()
  }

  /** Subblock `e`'s pixels over its Z planes [z0, z1), rows [y0, y1) and
    * columns [x0, x1) (entry-relative), decoded to raw little-endian
    * C-order bytes. An uncompressed payload is read only over that
    * region: one positional read per Z plane when the columns span the
    * full width, else one per row; a zstd payload is decoded whole, then
    * cut. */
  def rows(in: FSDataInputStream, e: SubblockEntry,
      z0: Int, z1: Int, y0: Int, y1: Int, x0: Int, x1: Int): Array[Byte] = {
    // segment header (32) + subblock fixed part (16) in one read
    val head = new Array[Byte](48)
    in.readFully(e.filePosition, head)
    val id = new String(head, 0, 16, "US-ASCII").takeWhile(_ != '\u0000').trim
    require(id == "ZISRAWSUBBLOCK", s"expected subblock segment, got '$id'")
    val fixed = le(head)
    val metadataSize = fixed.getInt(32)
    val dataSize = fixed.getLong(40)
    val entrySize = 32 + 20 * e.dims.size
    val dataOff = e.filePosition + 32 + math.max(256, 16 + entrySize) + metadataSize
    val itemSize = pixelDtype(e.pixelType).map(_.itemSize).getOrElse(
      throw new IllegalArgumentException(s"pixel type ${e.pixelType}"))
    val rawSize = e.dims.map(_.size.toLong).product * itemSize
    require(rawSize > 0 && rawSize <= Int.MaxValue - 8,
      s"implausible subblock extent ($rawSize raw bytes)")
    require(dataSize > 0 && dataSize <= Int.MaxValue - 8,
      s"implausible dataSize $dataSize")
    val (ey, rowBytes) = (e.size("Y"), e.size("X") * itemSize)
    val fullWidth = x0 == 0 && x1 == e.size("X")
    val (cutRow, colOff) = ((x1 - x0) * itemSize, x0 * itemSize)
    val cutBytes = (y1 - y0) * cutRow
    val out = new Array[Byte]((z1 - z0) * cutBytes)
    e.compression match {
      case CompressionNone =>
        // a corrupt dataSize must fail loudly, not hand the grid a
        // wrong-sized voxel box
        require(dataSize == rawSize,
          s"uncompressed payload $dataSize bytes, extents say $rawSize")
        var z = z0
        while (z < z1) {
          val plane = dataOff + (z.toLong * ey + y0) * rowBytes
          if (fullWidth) in.readFully(plane, out, (z - z0) * cutBytes, cutBytes)
          else (0 until y1 - y0).foreach(y => in.readFully(plane + y.toLong * rowBytes + colOff,
            out, (z - z0) * cutBytes + y * cutRow, cutRow))
          z += 1
        }
        out
      case CompressionZstd0 | CompressionZstd1 =>
        val stored = new Array[Byte](dataSize.toInt)
        in.readFully(dataOff, stored)
        val whole = decodeZstd(stored, e.compression, rawSize.toInt, itemSize)
        if (z0 == 0 && z1 == e.size("Z") && y0 == 0 && y1 == ey && fullWidth) whole
        else {
          for (z <- z0 until z1; y <- y0 until y1) System.arraycopy(whole,
            (z * ey + y) * rowBytes + colOff, out, (z - z0) * cutBytes + (y - y0) * cutRow, cutRow)
          out
        }
      case other =>
        throw new IllegalArgumentException(s"unsupported compression $other")
    }
  }

  private def decodeZstd(stored: Array[Byte], compression: Int,
      rawSize: Int, itemSize: Int): Array[Byte] = {
    def checkedDecompress(frame: Array[Byte]): Array[Byte] = {
      // zstd-jni returns a TRUNCATED array when the frame decodes to fewer
      // bytes than requested — a corrupt frame must fail here, not as an
      // opaque index error later in CziSource's chunk assembly
      val decoded = com.github.luben.zstd.Zstd.decompress(frame, rawSize)
      require(decoded.length == rawSize,
        s"zstd frame decoded to ${decoded.length} bytes, extents say $rawSize")
      decoded
    }
    if (compression == CompressionZstd0) checkedDecompress(stored)
    else {
      val hdrSize = stored(0) & 0xff
      require(hdrSize >= 1 && hdrSize <= stored.length,
        s"implausible zstd1 header size $hdrSize")
      val hiLo = hdrSize >= 3 && {
        require(stored(1) == 1, s"unknown zstd1 chunk id ${stored(1)}")
        (stored(2) & 1) == 1
      }
      val decoded = checkedDecompress(
        java.util.Arrays.copyOfRange(stored, hdrSize, stored.length))
      if (hiLo && itemSize == 2) {
        // planar low-byte/high-byte halves -> interleaved uint16 LE
        val n = decoded.length / 2
        val out = new Array[Byte](decoded.length)
        var i = 0
        while (i < n) {
          out(2 * i) = decoded(i)
          out(2 * i + 1) = decoded(n + i)
          i += 1
        }
        out
      } else decoded
    }
  }
}
