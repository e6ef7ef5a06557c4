package graft.zeiss

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck property suites over the pure kernels (no SparkSession):
  * Blosc round-trips and transposes, windowed means against their double
  * reference, reshape laws, grid coverage, and rechunk split/assemble
  * voxel preservation on arbitrary grids.
  */
object BloscProps extends Properties("Blosc") {

  private val payloads = for {
    ts <- Gen.oneOf(1, 2, 4, 8)
    n <- Gen.choose(0, 2000)
    bytes <- Gen.containerOfN[Array, Byte](n, Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
  } yield (ts, bytes)

  property("shuffle.unshuffle == identity") = forAll(payloads) { case (ts, data) =>
    Blosc.unshuffle(Blosc.shuffle(data, ts), ts).sameElements(data)
  }

  property("compress.decompress == identity at any clevel") =
    forAll(payloads, Gen.choose(1, 9)) { case ((ts, data), lvl) =>
      Blosc.decompress(Blosc.compress(data, ts, lvl)).sameElements(data)
    }

  /** The c-blosc transpose for any typesize, one byte plane per pass. */
  private def transpose(src: Array[Byte], ts: Int): Array[Byte] = {
    val n = src.length / ts
    val out = src.clone()
    for (j <- 0 until ts; i <- 0 until n) out(j * n + i) = src(i * ts + j)
    out
  }

  property("typesize-2 shuffle == the generic transpose, and unshuffle inverts it") =
    forAll(payloads.map(_._2)) { data =>
      val shuffled = Blosc.shuffle(data, 2)
      shuffled.sameElements(transpose(data, 2)) &&
        Blosc.unshuffle(shuffled, 2).sameElements(data)
    }
}

object DownsampleProps extends Properties("Downsample") {

  /** The windowed mean as a double sum, truncated toward zero for
    * integer dtypes: the oracle every kernel must equal byte for byte. */
  private def reference(dt: Dtype, data: Array[Byte], ez: Int, ey: Int, ex: Int,
      f: Seq[Int]): Array[Byte] = {
    val (oz, oy, ox) = ((ez + f(0) - 1) / f(0), (ey + f(1) - 1) / f(1), (ex + f(2) - 1) / f(2))
    val out = new Array[Byte](oz * oy * ox * dt.itemSize)
    for (zo <- 0 until oz; yo <- 0 until oy; xo <- 0 until ox) {
      var sum = 0.0
      var n = 0
      for (z <- zo * f(0) until math.min(ez, zo * f(0) + f(0));
           y <- yo * f(1) until math.min(ey, yo * f(1) + f(1));
           x <- xo * f(2) until math.min(ex, xo * f(2) + f(2))) {
        sum += dt.read(data, (z * ey + y) * ex + x)
        n += 1
      }
      val mean = sum / n
      dt.write(out, (zo * oy + yo) * ox + xo,
        if (dt.isInteger) { if (mean >= 0) math.floor(mean) else math.ceil(mean) } else mean)
    }
    out
  }

  private def payload(dt: Dtype, ez: Int, ey: Int, ex: Int): Gen[Array[Byte]] =
    Gen.containerOfN[Array, Byte](ez * ey * ex * dt.itemSize,
      Gen.chooseNum(Byte.MinValue, Byte.MaxValue))

  // any dtype, ragged extents, factors 1-3
  private val general = for {
    dt <- Gen.oneOf(Dtype.all)
    ext <- Gen.listOfN(3, Gen.choose(1, 9))
    f <- Gen.listOfN(3, Gen.choose(1, 3))
    data <- payload(dt, ext(0), ext(1), ext(2))
  } yield (dt, ext, f, data)

  // the dedicated uint16 2x2x2 loop: even extents
  private val u16x2 = for {
    ext <- Gen.listOfN(3, Gen.choose(1, 6).map(_ * 2))
    data <- payload(Dtype.UInt16, ext(0), ext(1), ext(2))
  } yield (Dtype.UInt16: Dtype, ext, Seq(2, 2, 2), data)

  property("downsampleChunk == the double-mean reference, byte for byte") =
    forAll(Gen.oneOf(general, u16x2)) { case (dt, ext, f, data) =>
      val Seq(ez, ey, ex) = ext
      val grid = ChunkGrid(Seq(1L, 1L, ez.toLong, ey.toLong, ex.toLong), ext, dt.zarrName)
      Downsample.downsampleChunk(grid, f, ImageChunk(0, 0, 0, 0, 0, data)).data
        .sameElements(reference(dt, data, ez, ey, ex, f))
    }
}

object ReshapeProps extends Properties("Reshape") {

  private val shapes = Gen.choose(1, 5).flatMap(r =>
    Gen.listOfN(r, Gen.choose(2L, 64L))) // non-unit dims

  property("extract(pad(s)) == s") = forAll(shapes) { s =>
    Reshape.extractShape(Reshape.padShape(s)) == s
  }

  property("pad yields rank 5 with unit prefix") = forAll(shapes) { s =>
    val p = Reshape.padShape(s)
    p.size == 5 && p.takeRight(s.size) == s && p.dropRight(s.size).forall(_ == 1L)
  }

  property("squeeze removes exactly the unit axes") =
    forAll(Gen.listOfN(5, Gen.oneOf(Gen.const(1L), Gen.choose(2L, 9L)))) { s =>
      Reshape.squeezeShape(s) == (if (s.forall(_ == 1L)) Seq(1L) else s.filter(_ != 1L))
    }
}

object GridProps extends Properties("Grid") {

  private val dims = Gen.zip(Gen.choose(1L, 500L), Gen.choose(1, 64))

  property("blockSlices tile the array exactly") =
    forAll(Gen.listOfN(3, dims)) { spec =>
      val (shape, block) = (spec.map(_._1), spec.map(_._2))
      val slices = Grid.blockSlices(shape, block).toSeq
      val covered = slices.map(_.map(_._2.toLong).product).sum
      covered == shape.product &&
        slices.forall(_.zip(block).forall { case ((_, len), b) => len <= b })
    }

  property("chunkExtent sums to the dim") = forAll(dims) { case (dim, chunk) =>
    (0 until Grid.nChunks(dim, chunk)).map(Grid.chunkExtent(dim, chunk, _).toLong)
      .sum == dim
  }

  property("levelShape never hits zero while factors >= 1") =
    forAll(Gen.listOfN(3, Gen.choose(1L, 1000L)), Gen.choose(0, 6)) { (s, lvl) =>
      Grid.levelShape(s, Seq(2L, 2L, 2L), lvl).forall(_ >= 1L)
    }
}

object RechunkProps extends Properties("Rechunk") {

  // pure split/assemble over a single-stack grid, no Spark: every voxel of
  // every source chunk must land at its exact target position
  private val cases = for {
    nz <- Gen.choose(1L, 24L); ny <- Gen.choose(1L, 24L); nx <- Gen.choose(1L, 24L)
    sc <- Gen.listOfN(3, Gen.choose(1, 9))
    dc <- Gen.listOfN(3, Gen.choose(1, 9))
  } yield (Seq(1L, 1L, nz, ny, nx), sc, dc)

  property("split+assemble preserves every voxel") = forAll(cases) {
    case (shape, sc, dc) =>
      val src = ChunkGrid(shape, sc.zip(shape.drop(2)).map {
        case (c, d) => math.min(c.toLong, d).toInt
      }, "<u2")
      val dst = ChunkGrid(shape, dc.zip(shape.drop(2)).map {
        case (c, d) => math.min(c.toLong, d).toInt
      }, "<u2")
      val frags = (for {
        zi <- 0 until src.nz; yi <- 0 until src.ny; xi <- 0 until src.nx
      } yield ChunkTable.syntheticChunk(src, 7, 0, 0, zi, yi, xi))
        .iterator.flatMap(ch => Rechunk.split(src, dst, ch)).toSeq
      val assembled = frags.groupBy(f => (f.zi, f.yi, f.xi)).map { case ((zi, yi, xi), fs) =>
        (zi, yi, xi) -> Rechunk.assemble(dst, 0, 0, zi, yi, xi, fs.iterator)
      }
      val dt = dst.dtype
      assembled.forall { case ((zi, yi, xi), ch) =>
        val (ez, ey, ex) = dst.extent(zi, yi, xi)
        (0 until ez * ey * ex).forall { i =>
          val z = i / (ey * ex); val y = (i / ex) % ey; val x = i % ex
          dt.read(ch.data, i) == ChunkTable.voxel(7, 0, 0,
            zi.toLong * dst.chunk(0) + z, yi.toLong * dst.chunk(1) + y,
            xi.toLong * dst.chunk(2) + x, dt)
        }
      }
  }
}
