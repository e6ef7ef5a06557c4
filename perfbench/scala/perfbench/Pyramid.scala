package perfbench

import graft.zeiss._
import org.apache.hadoop.fs.Path
import org.apache.spark.storage.StorageLevel

import java.io.File

/** `pyramid`: `ZeissJob.runJob` over a directory holding one seeded real
  * CZI stack, with the reference defaults (128^3 chunks, 4 levels, Blosc
  * zstd clevel 3 with byte shuffle). One unit = one conversion. */
object Pyramid {

  val WarmConversions = 3
  /** Timed conversions at least, so every run's median is over as many. */
  val MinConversions = 4

  def settings(in: String, out: String): ZeissJobSettings =
    ZeissJobSettings(inputSource = in, outputDirectory = out)

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L) else f.length

  def run(ctx: Ctx): Unit = {
    val in = ctx.str("stack_dir")
    val warmIn = ctx.str("warm_dir")
    val stack = new File(in).listFiles.filter(_.getName.endsWith(".czi")).head.getPath
    val expected = Main.json.readTree(new File(ctx.str("expected")))
    val rawBytes = expected.get("raw_bytes").asLong

    // set-up: fresh session, header read, one small conversion (JIT)
    (0 until Stats.Setups).foreach { i =>
      val t0 = System.nanoTime()
      val spark = ctx.newSession()
      CziReader.open(spark.sparkContext.hadoopConfiguration, stack)
      ZeissJob.runJob(spark, settings(warmIn, s"${ctx.work}/warm-$i"))
      ctx.setupS += ctx.elapsedSince(t0)
    }
    ctx.phase("setup")
    val spark = ctx.spark

    val out = s"${ctx.work}/out"
    // warm-up, untimed: full-size conversions until the JIT has settled
    // (a conversion's CPU time still falls by a third over the first three)
    (0 until WarmConversions).foreach { i =>
      ZeissJob.runJob(spark, settings(in, s"$out/warm-$i"))
      deleteDir(s"$out/warm-$i")
      ctx.settle()
    }
    ctx.phase("warm")
    val t0 = System.nanoTime()
    var n = 0
    var lastOut = ""
    while (n < MinConversions || ctx.elapsedSince(t0) < ctx.seconds) {
      val traced = ctx.trace && n % 2 == 0
      val dir = s"$out/$n"
      ctx.attempted += 1
      try {
        val (_, ms) = ctx.timed(ctx.span("ZeissJob.runJob", traced) {
          ZeissJob.runJob(spark, settings(in, dir))
        })
        ctx.ops += (("convert", "convert", ms, traced))
        ctx.units += ((ms / 1000.0, traced))
        if (lastOut.nonEmpty) deleteDir(lastOut)
        lastOut = dir
      } catch { case scala.util.control.NonFatal(e) => ctx.fail(s"conversion $n", e) }
      ctx.settle()
      n += 1
    }
    ctx.sampleHeap()
    ctx.phase("measure")
    val walls = ctx.units.filterNot(_._2).map(_._1).toSeq
    ctx.layers("ZeissJob.gib_per_min") =
      rawBytes / math.pow(1024, 3) / (Stats.median(if (walls.nonEmpty) walls else ctx.units.map(_._1).toSeq) / 60.0)
    if (lastOut.nonEmpty) {
      val group = new File(lastOut).listFiles.filter(_.getName.endsWith(".ome.zarr")).head
      ctx.layers("zarr.stored_ratio") = dirBytes(group).toDouble / rawBytes
      check(ctx, group.getPath, expected)
    }

    ctx.phase("check")
    if (ctx.trace) {
      ctx.sparkLayers(ctx.units.count(_._2), Set("ZeissJob.runJob"))
      val jobSpans = Trace.allSpans.filter(_.name == "ZeissJob.runJob")
      ctx.layers("ZeissJob.driver_gap_s") = Stats.median(jobSpans.map(Trace.driverGapS))
      staged(ctx, stack, s"${ctx.work}/staged")
    }
  }

  private def deleteDir(p: String): Unit = {
    val path = new Path(p)
    path.getFileSystem(new org.apache.hadoop.conf.Configuration()).delete(path, true)
  }

  /** Output check: per-level voxel sums against the generator's windowed
    * means, and each level's `.zarray` shape and chunks. A failure marks the
    * checked conversion failed. */
  def check(ctx: Ctx, group: String, expected: com.fasterxml.jackson.databind.JsonNode): Unit = {
    val spark = ctx.spark
    val levels = expected.get("levels")
    val problems = Seq.newBuilder[String]
    val attrs = Main.json.readTree(new File(s"$group/.zattrs"))
    val datasets = attrs.findValue("datasets")
    if (datasets == null || datasets.size != levels.size)
      problems += s".zattrs lists ${Option(datasets).map(_.size).getOrElse(0)} datasets, want ${levels.size}"
    (0 until levels.size).foreach { l =>
      val want = levels.get(l)
      val shape = (0 until 3).map(i => want.get("shape").get(i).asLong)
      try {
        val za = Main.json.readTree(new File(s"$group/$l/.zarray"))
        val gotShape = (0 until 5).map(i => za.get("shape").get(i).asLong)
        val gotChunks = (0 until 5).map(i => za.get("chunks").get(i).asLong)
        if (gotShape != Seq(1L, 1L) ++ shape) problems += s"level $l shape $gotShape"
        val wantChunks = Seq(1L, 1L) ++ shape.map(d => math.min(128L, d))
        if (gotChunks != wantChunks) problems += s"level $l chunks $gotChunks, want $wantChunks"
        val (grid, ds) = ZarrIO.readLevel(spark, group, l)
        val g = grid
        import spark.implicits._
        val sum = Trace.untraced(spark.sparkContext)(ds.map { c =>
          var s = 0L
          var i = 0
          val n = c.data.length / 2
          while (i < n) { s += g.dtype.read(c.data, i).toLong; i += 1 }
          s
        }.reduce(_ + _))
        if (sum != want.get("sum").asLong) problems += s"level $l voxel sum $sum, want ${want.get("sum").asLong}"
      } catch { case scala.util.control.NonFatal(e) => problems += s"level $l unreadable: $e" }
    }
    val p = problems.result()
    if (p.nonEmpty) {
      ctx.failed += 1
      ctx.errors ++= p
    }
  }

  /** Traced only: the conversion replayed stage by stage through the same
    * public functions `writeStack` composes, each stage persisted so its
    * own time and shuffle bytes can be read off its span; plus
    * single-threaded kernel rates on sampled level-0 chunks. */
  def staged(ctx: Ctx, stack: String, group: String): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val s = settings("", group)
    def stage[A](name: String)(body: => A): (A, Trace.Span) = {
      val a = Trace.span(sc, name)(body)
      (a, Trace.allSpans.filter(_.name == name).last)
    }
    val (info, openSpan) = stage("CziReader.open") {
      CziReader.open(sc.hadoopConfiguration, stack) match {
        case CziReader.Opened(i) => i
        case other => throw new IllegalStateException(s"stack did not open: $other")
      }
    }
    ctx.layers("CziReader.open_ms") = openSpan.wallS * 1000
    val grid = ChunkGrid(info.shape, s.chunkSize.zipWithIndex.map { case (c, i) =>
      math.min(c.toLong, info.shape(2 + i)).toInt }, info.dtype.zarrName)
    val (src, srcSpan) = stage("CziSource") {
      val d = CziSource.chunkTable(spark, info, grid).persist(StorageLevel.MEMORY_AND_DISK)
      d.foreach(_ => ())
      d
    }
    ctx.drainBus()
    ctx.layers("CziSource.s") = srcSpan.wallS
    ctx.layers("CziSource.shuffle_mb") = Trace.costTree(srcSpan.id).shuffleBytes / 1e6

    // kernel rates, single-threaded, on sampled level-0 chunks
    val sample = src.limit(4).collect()
    kernels(ctx, grid, sample)

    val (_, w0) = stage("ZarrIO.write.l0")(ZarrIO.writeLevel(spark, src, grid, group, 0, s))
    ctx.layers("ZarrIO.write_s.l0") = w0.wallS
    src.unpersist()
    var lvl = 1
    while (lvl < s.downsampleLevels) {
      val ((prevGrid, prev), r) = stage(s"ZarrIO.read.l${lvl - 1}") {
        val (g, d) = ZarrIO.readLevel(spark, group, lvl - 1)
        val p = d.persist(StorageLevel.MEMORY_AND_DISK)
        p.foreach(_ => ())
        (g, p)
      }
      ctx.layers(s"ZarrIO.read_s.l${lvl - 1}") = r.wallS
      val ((lg, ds), d) = stage(s"Downsample.l$lvl") {
        val (g, out) = Downsample.level(spark, prev, prevGrid, s.scaleFactor, s.chunkSize)
        val p = out.persist(StorageLevel.MEMORY_AND_DISK)
        p.foreach(_ => ())
        (g, p)
      }
      ctx.drainBus()
      ctx.layers(s"Downsample.s.l$lvl") = d.wallS
      ctx.layers(s"Rechunk.shuffle_mb.l$lvl") = Trace.costTree(d.id).shuffleBytes / 1e6
      val (_, w) = stage(s"ZarrIO.write.l$lvl")(ZarrIO.writeLevel(spark, ds, lg, group, lvl, s))
      ctx.layers(s"ZarrIO.write_s.l$lvl") = w.wallS
      prev.unpersist(); ds.unpersist()
      lvl += 1
    }
    ctx.layers("ZarrIO.write_mb") = dirBytes(new File(group)) / 1e6
  }

  private def kernels(ctx: Ctx, grid: ChunkGrid, sample: Array[ImageChunk]): Unit = {
    val item = grid.dtype.itemSize
    val full = sample.map(_.data)
    val rawMiB = full.map(_.length).sum / 1048576.0
    def rate(body: => Unit): Double = {
      val t0 = System.nanoTime()
      var reps = 0
      while (reps < 2 || System.nanoTime() - t0 < 5e8) { body; reps += 1 }
      reps / ((System.nanoTime() - t0) / 1e9)
    }
    var frames: Array[Array[Byte]] = Array.empty
    ctx.layers("Blosc.compress_mib_s") = rawMiB * rate {
      frames = full.map(b => Blosc.compress(b, item, 3, true))
    }
    ctx.layers("Blosc.decompress_mib_s") = rawMiB * rate(frames.foreach(Blosc.decompress))
    ctx.layers("Blosc.ratio") = full.map(_.length).sum.toDouble / frames.map(_.length).sum
    val mvox = full.map(_.length / item).sum / 1e6
    ctx.layers("Downsample.kernel_mvox_s") = mvox * rate {
      sample.foreach(c => Downsample.downsampleChunk(grid, Seq(2, 2, 2), c))
    }
  }
}
