package graft.zeiss

import com.github.luben.zstd.Zstd

/** Minimal Blosc v1 container codec: byte-shuffle filter + zstd, the
  * reference's default chunk compressor (`models.py:52-56`:
  * cname=zstd, clevel=3, shuffle=SHUFFLE; applied per zarr chunk at
  * `compress/czi_to_zarr.py:298-321,545-553`).
  *
  * Frame layout (c-blosc 1.x, format version 2):
  *   byte 0     format version (2)
  *   byte 1     codec format version
  *   byte 2     flags: bit0 = byte-shuffle, bit1 = memcpy, bits 5-7 codec id
  *   byte 3     typesize
  *   bytes 4-7  nbytes (uncompressed), LE u32
  *   bytes 8-11 blocksize, LE u32
  *   bytes 12-15 cbytes (total incl. header), LE u32
  *   then one LE u32 start-offset per block, then per block: LE u32
  *   compressed length + codec payload.
  *
  * We write a single block (blocksize = nbytes — zarr chunks are already the
  * blocking unit, 128^3 * 2 B = 4 MiB) and read any single-block frame back.
  * zstd via the zstd-jni that ships with Spark; the byte-shuffle transpose is
  * ~20 LoC. Conformance is verified by round-trip tests.
  */
object Blosc {

  val FormatVersion: Byte = 2
  val FlagShuffle = 0x1
  val FlagMemcpy = 0x2
  val ZstdCodecId = 4 // bits 5-7 of the flags byte

  /** c-blosc byte-shuffle: gathers byte j of every element together —
    * [e0b0 e0b1 e1b0 e1b1 ...] -> [e0b0 e1b0 ... | e0b1 e1b1 ...]. */
  def shuffle(src: Array[Byte], typeSize: Int): Array[Byte] = {
    if (typeSize <= 1) return src
    val n = src.length / typeSize
    val out = new Array[Byte](src.length)
    if (typeSize == 2) { // uint16 voxels: both byte planes in one pass
      var i = 0
      while (i < n) { out(i) = src(2 * i); out(n + i) = src(2 * i + 1); i += 1 }
    } else {
      var j = 0
      while (j < typeSize) {
        var i = 0
        val base = j * n
        while (i < n) { out(base + i) = src(i * typeSize + j); i += 1 }
        j += 1
      }
    }
    // trailing bytes (length not divisible by typesize) are copied verbatim,
    // matching c-blosc's leftover handling
    var k = n * typeSize
    while (k < src.length) { out(k) = src(k); k += 1 }
    out
  }

  def unshuffle(src: Array[Byte], typeSize: Int): Array[Byte] = {
    if (typeSize <= 1) return src
    val n = src.length / typeSize
    val out = new Array[Byte](src.length)
    if (typeSize == 2) {
      var i = 0
      while (i < n) { out(2 * i) = src(i); out(2 * i + 1) = src(n + i); i += 1 }
    } else {
      var j = 0
      while (j < typeSize) {
        var i = 0
        val base = j * n
        while (i < n) { out(i * typeSize + j) = src(base + i); i += 1 }
        j += 1
      }
    }
    var k = n * typeSize
    while (k < src.length) { out(k) = src(k); k += 1 }
    out
  }

  private def putLE(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte
    b(off + 1) = ((v >> 8) & 0xff).toByte
    b(off + 2) = ((v >> 16) & 0xff).toByte
    b(off + 3) = ((v >> 24) & 0xff).toByte
  }

  private def getLE(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  /** Compress with byte-shuffle + zstd (clevel per the settings; the
    * reference default is 3). Falls back to a memcpy frame when compression
    * would grow the payload (c-blosc does the same). */
  def compress(data: Array[Byte], typeSize: Int, clevel: Int = 3,
      doShuffle: Boolean = true): Array[Byte] = {
    val filtered = if (doShuffle) shuffle(data, typeSize) else data
    val packed = Zstd.compress(filtered, clevel)
    // overhead-aware fallback: compressed frame = 24 B headers + payload,
    // memcpy frame = 16 B + raw — take whichever is smaller overall
    if (24 + packed.length >= 16 + data.length) {
      // c-blosc memcpy frame: header then the raw payload at offset 16
      // (no bstarts), cbytes = nbytes + 16
      val out = new Array[Byte](16 + data.length)
      out(0) = FormatVersion
      out(1) = 1
      out(2) = (FlagMemcpy | (ZstdCodecId << 5)).toByte
      out(3) = (typeSize & 0xff).toByte
      putLE(out, 4, data.length)
      putLE(out, 8, data.length)
      putLE(out, 12, out.length)
      System.arraycopy(data, 0, out, 16, data.length)
      return out
    }
    val payload = packed
    val out = new Array[Byte](16 + 4 + 4 + payload.length)
    out(0) = FormatVersion
    out(1) = 1
    val shuffleFlag = if (doShuffle) FlagShuffle else 0
    out(2) = (shuffleFlag | (ZstdCodecId << 5)).toByte
    out(3) = (typeSize & 0xff).toByte
    putLE(out, 4, data.length)
    putLE(out, 8, data.length) // single block: blocksize = nbytes
    putLE(out, 12, out.length)
    putLE(out, 16, 20) // bstarts[0]: block begins right after this entry
    putLE(out, 20, payload.length)
    System.arraycopy(payload, 0, out, 24, payload.length)
    out
  }

  def decompress(frame: Array[Byte]): Array[Byte] = {
    // explicit bounds checks: a truncated or corrupt chunk file must fail
    // with a diagnosable error, not a raw AIOOBE deep in an executor task
    def corrupt(why: String) =
      throw new java.io.IOException(s"corrupt blosc frame ($why; ${frame.length} B)")
    if (frame.length < 16) corrupt("shorter than header")
    val flags = frame(2) & 0xff
    val typeSize = frame(3) & 0xff
    val nbytes = getLE(frame, 4)
    if (nbytes < 0) corrupt(s"negative nbytes $nbytes")
    if ((flags & FlagMemcpy) != 0) {
      if (frame.length < 16 + nbytes) corrupt(s"memcpy frame needs ${16 + nbytes} B")
      val out = new Array[Byte](nbytes)
      System.arraycopy(frame, 16, out, 0, nbytes)
      return out
    }
    if (frame.length < 24) corrupt("compressed frame shorter than bstarts")
    val blockStart = getLE(frame, 16)
    if (blockStart < 20 || blockStart + 4 > frame.length) corrupt(s"bad bstart $blockStart")
    val blockLen = getLE(frame, blockStart)
    if (blockLen < 0 || blockStart + 4 + blockLen > frame.length)
      corrupt(s"bad block length $blockLen")
    val packed = new Array[Byte](blockLen)
    System.arraycopy(frame, blockStart + 4, packed, 0, blockLen)
    val filtered = Zstd.decompress(packed, nbytes)
    if ((flags & FlagShuffle) != 0) unshuffle(filtered, typeSize) else filtered
  }
}
