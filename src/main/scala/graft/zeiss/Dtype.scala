package graft.zeiss

/** Element dtypes of the chunked 5-D image arrays (SURVEY.md §1.2).
  *
  * The reference supports any numpy int/float dtype, branching on
  * integer-ness for min/max (`compress/czi_to_zarr.py:461-466`); real data is
  * uint16, tests use uint8. Zarr v2 spells dtypes as numpy typestrings
  * ("<u2" = little-endian uint16); voxel payloads are little-endian C-order
  * bytes, matching the zarr chunk layout.
  */
sealed abstract class Dtype(
    val zarrName: String,
    val itemSize: Int,
    val isInteger: Boolean) {

  /** Representable range used for OME channel windows
    * (`compress/czi_to_zarr.py:461-466`: np.iinfo/np.finfo min/max). */
  def minValue: Double
  def maxValue: Double

  /** Read element i of a little-endian C-order payload as Double. */
  def read(bytes: Array[Byte], i: Int): Double

  /** Read element i of an integer dtype's payload exactly. */
  def readInt(bytes: Array[Byte], i: Int): Int =
    throw new UnsupportedOperationException(s"$zarrName is not an integer dtype")

  /** Write Double v into element i, truncating like numpy astype for ints. */
  def write(bytes: Array[Byte], i: Int, v: Double): Unit
}

object Dtype {
  case object UInt8 extends Dtype("|u1", 1, true) {
    def minValue = 0; def maxValue = 255
    override def readInt(b: Array[Byte], i: Int): Int = b(i) & 0xff
    def read(b: Array[Byte], i: Int): Double = readInt(b, i).toDouble
    def write(b: Array[Byte], i: Int, v: Double): Unit = b(i) = v.toInt.toByte
  }
  case object UInt16 extends Dtype("<u2", 2, true) {
    def minValue = 0; def maxValue = 65535
    override def readInt(b: Array[Byte], i: Int): Int =
      (b(2 * i) & 0xff) | ((b(2 * i + 1) & 0xff) << 8)
    def read(b: Array[Byte], i: Int): Double = readInt(b, i).toDouble
    def write(b: Array[Byte], i: Int, v: Double): Unit = {
      val x = v.toInt
      b(2 * i) = (x & 0xff).toByte
      b(2 * i + 1) = ((x >> 8) & 0xff).toByte
    }
  }
  case object Int16 extends Dtype("<i2", 2, true) {
    def minValue = Short.MinValue; def maxValue = Short.MaxValue
    override def readInt(b: Array[Byte], i: Int): Int =
      ((b(2 * i) & 0xff) | (b(2 * i + 1) << 8)).toShort
    def read(b: Array[Byte], i: Int): Double = readInt(b, i).toDouble
    def write(b: Array[Byte], i: Int, v: Double): Unit = {
      val x = v.toInt
      b(2 * i) = (x & 0xff).toByte
      b(2 * i + 1) = ((x >> 8) & 0xff).toByte
    }
  }
  case object Int32 extends Dtype("<i4", 4, true) {
    def minValue = Int.MinValue; def maxValue = Int.MaxValue
    override def readInt(b: Array[Byte], i: Int): Int = {
      val o = 4 * i
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16) |
        ((b(o + 3) & 0xff) << 24)
    }
    def read(b: Array[Byte], i: Int): Double = readInt(b, i).toDouble
    def write(b: Array[Byte], i: Int, v: Double): Unit = {
      val x = v.toLong.toInt; val o = 4 * i
      b(o) = (x & 0xff).toByte; b(o + 1) = ((x >> 8) & 0xff).toByte
      b(o + 2) = ((x >> 16) & 0xff).toByte; b(o + 3) = ((x >> 24) & 0xff).toByte
    }
  }
  case object Float32 extends Dtype("<f4", 4, false) {
    def minValue = Float.MinValue.toDouble; def maxValue = Float.MaxValue.toDouble
    def read(b: Array[Byte], i: Int): Double = {
      val o = 4 * i
      java.lang.Float.intBitsToFloat(
        (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16) |
          ((b(o + 3) & 0xff) << 24)).toDouble
    }
    def write(b: Array[Byte], i: Int, v: Double): Unit = {
      val x = java.lang.Float.floatToIntBits(v.toFloat); val o = 4 * i
      b(o) = (x & 0xff).toByte; b(o + 1) = ((x >> 8) & 0xff).toByte
      b(o + 2) = ((x >> 16) & 0xff).toByte; b(o + 3) = ((x >> 24) & 0xff).toByte
    }
  }
  case object Float64 extends Dtype("<f8", 8, false) {
    def minValue = Double.MinValue; def maxValue = Double.MaxValue
    def read(b: Array[Byte], i: Int): Double = {
      var bits = 0L; var j = 7
      while (j >= 0) { bits = (bits << 8) | (b(8 * i + j) & 0xffL); j -= 1 }
      java.lang.Double.longBitsToDouble(bits)
    }
    def write(b: Array[Byte], i: Int, v: Double): Unit = {
      var bits = java.lang.Double.doubleToLongBits(v)
      var j = 0
      while (j < 8) { b(8 * i + j) = (bits & 0xff).toByte; bits >>>= 8; j += 1 }
    }
  }

  val all: Seq[Dtype] = Seq(UInt8, UInt16, Int16, Int32, Float32, Float64)

  def fromZarr(name: String): Dtype =
    all.find(d => d.zarrName == name || d.zarrName.stripPrefix("|") == name.stripPrefix("<"))
      .getOrElse(throw new IllegalArgumentException(s"unsupported dtype: $name"))
}
