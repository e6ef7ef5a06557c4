package graft.zeiss

import graft.TestSpark
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `writeStack`'s one-job level chain against the read-back composition it
  * replaced: level 0 written with `writeLevel`, then each later level read
  * back with `readLevel`, downsampled with `Downsample.level` and written
  * with `writeLevel`. The reference's level 0 is the synthetic source, whose
  * voxels the CZI fixtures hold too, so the CZI cases also check the
  * shuffle-free ingest. Every stored file — chunks, `.zarray`, `.zattrs`,
  * `.zgroup` — and every per-level count must match exactly.
  */
class LevelChainSpec extends AnyFunSuite {

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Every file under `dir`, by relative path. */
  private def files(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.filter(java.nio.file.Files.isRegularFile(_)).toArray.toSeq.map { p =>
      val path = p.asInstanceOf[java.nio.file.Path]
      root.relativize(path).toString ->
        java.nio.file.Files.readAllBytes(path).toSeq
    }.toMap
    finally walk.close()
  }

  /** The read-back composition's pyramid of the synthetic stack `seed`,
    * written where `writeStack` would put `stackName`'s. */
  private def reference(spark: SparkSession, settings: ZeissJobSettings,
      stackName: String, shape: Seq[Long], voxelSize: Seq[Double],
      dtype: Dtype, seed: Long): Seq[Long] = {
    val imageName = ZeissJob.renameStack(stackName)
    val groupDir = s"${settings.outputDirectory}/$imageName.ome.zarr"
    val writeChunk = settings.chunkSize.zipWithIndex.map { case (c, i) =>
      math.min(c.toLong, shape(2 + i)).toInt
    }
    val grid = ChunkGrid(shape, writeChunk, dtype.zarrName)
    val factors = settings.scaleFactor.map(_.toLong)
    val nLevels = (0 until settings.downsampleLevels).takeWhile { l =>
      l == 0 || Grid.levelShape(shape.drop(2), factors, l) !=
        Grid.levelShape(shape.drop(2), factors, l - 1)
    }.size
    ZarrIO.writeGroupMeta(spark, groupDir, OmeMetadata.zattrs(imageName, shape,
      nLevels, settings.scaleFactor, voxelSize, writeChunk, dtype, None))
    val level0 = ZarrIO.writeLevel(spark, ChunkTable.synthetic(spark, grid, seed),
      grid, groupDir, 0, settings)
    level0 +: (1 until nLevels).map { lvl =>
      val (g, prev) = ZarrIO.readLevel(spark, groupDir, lvl - 1)
      val (lg, ds) = Downsample.level(spark, prev, g, settings.scaleFactor, settings.chunkSize)
      ZarrIO.writeLevel(spark, ds, lg, groupDir, lvl, settings)
    }
  }

  private def settings(out: String, chunk: Seq[Int], levels: Int) =
    ZeissJobSettings(inputSource = "/nonexistent", outputDirectory = out,
      chunkSize = chunk, downsampleLevels = levels)

  private def assertSameStores(want: String, got: String, wantCounts: Seq[Long],
      gotCounts: Seq[Long]): Unit = {
    assert(gotCounts == wantCounts, "per-level chunk counts")
    val (a, b) = (files(want), files(got))
    assert(b.keySet == a.keySet, "stored file set")
    a.foreach { case (name, bytes) => assert(b(name) == bytes, s"$name differs") }
  }

  private def assertSyntheticIdentity(shape: Seq[Long], chunk: Seq[Int], levels: Int,
      seed: Long, blockTargetMb: Option[Long]): Unit = {
    val spark = TestSpark.spark
    val (want, got) = (tempDir("graft-chain-ref"), tempDir("graft-chain"))
    val voxelSize = Seq(1.0, 0.5, 0.5)
    val wantCounts = reference(spark, settings(want, chunk, levels), "demo(7).czi",
      shape, voxelSize, Dtype.UInt16, seed)
    val gotCounts = ZeissJob.writeStack(spark, settings(got, chunk, levels), "demo(7).czi",
      headerOverride = Some((shape, voxelSize, seed)), blockTargetMb = blockTargetMb)
    assertSameStores(want, got, wantCounts, gotCounts)
  }

  test("synthetic ragged stack: the level chain writes the read-back pyramid byte for byte") {
    assertSyntheticIdentity(Seq(1L, 1L, 34L, 24L, 18L), Seq(16, 16, 16), 3, 123L, None)
  }

  test("blockTargetMb: blocked level 0, then the chain, writes the same bytes") {
    val shape = Seq(1L, 1L, 64L, 48L, 400L)
    val block = Grid.blockShape(shape.drop(2), Seq(16, 16, 16), 2, targetSizeMb = 1L)
    assert(Grid.blockSlices(shape.drop(2), block).size > 1, "one block only")
    assertSyntheticIdentity(shape, Seq(16, 16, 16), 3, 77L, Some(1L))
  }

  /** A CZI fixture converted by `writeStack` against the reference, once
    * with the default box split and once with boxes cut down to single
    * blocks (single chunks where the level-1 step is not fused), so Y- and
    * X-split boxes and partial subblock reads are all covered. */
  private def assertCziIdentity(name: String, blocks: Seq[CziFixture.Block],
      seed: Long, chunk: Seq[Int], levels: Int): Unit = {
    val path = s"${tempDir("graft-chain-czi")}/$name.czi"
    CziFixture.write(path, blocks)
    val info = CziReader.tryOpen(TestSpark.spark.sparkContext.hadoopConfiguration, path).get
    val want = tempDir("graft-chain-czi-ref")
    val wantCounts = reference(TestSpark.spark, settings(want, chunk, levels), s"$name.czi",
      info.shape, Seq(1.0, 1.0, 1.0), info.dtype, seed)
    val small = TestSpark.spark.newSession()
    small.conf.set("spark.sql.files.maxPartitionBytes", "1")
    small.conf.set("spark.sql.files.openCostInBytes", "1")
    Seq(TestSpark.spark, small).foreach { spark =>
      val got = tempDir("graft-chain-czi-out")
      val gotCounts = ZeissJob.writeStack(spark, settings(got, chunk, levels), path)
      assertSameStores(want, got, wantCounts, gotCounts)
    }
  }

  test("CZI mosaic: shuffle-free ingest and the chain write the reference bytes") {
    assertCziIdentity("mosaic", CziFixture.mosaic(9L), 9L, Seq(2, 16, 16), 3)
  }

  test("CZI multi-channel Gray8: the chain writes the reference bytes") {
    assertCziIdentity("gray8", CziFixture.gray8(3L), 3L, Seq(2, 4, 4), 2)
  }

  test("CZI zstd0 and zstd1 stacks: the chain writes the reference bytes") {
    assertCziIdentity("zstd0", CziFixture.zstd0(21L), 21L, Seq(2, 8, 8), 3)
    assertCziIdentity("zstd1", CziFixture.zstd1(33L, hiLo = true), 33L, Seq(2, 4, 4), 2)
  }

  test("CZI with odd chunk counts per axis: one block per box, the chain writes the reference bytes") {
    // 4x32x48 on (4, 12, 10) chunks: 1 x 3 x 5 chunks, so the last 2x2x2
    // block along Y and X is cut short by the array's end
    assertCziIdentity("mosaic-odd", CziFixture.mosaic(5L), 5L, Seq(4, 12, 10), 3)
    val grid = ChunkGrid(Seq(1L, 1L, 4L, 32L, 48L), Seq(4, 12, 10), Dtype.UInt16.zarrName)
    val boxes = CziSource.plan(CziFixture.mosaic(5L).map(b =>
      CziReader.SubblockEntry(CziReader.PixelGray16, 0L, 0, b.dims)), Seq(0, 0, 10, 200, 100),
      grid, split = 1L, block = Seq(2, 2, 2))
    assert(boxes.map(b => (b.zi0, b.zi1, b.yi0, b.yi1, b.xi0, b.xi1)).toSet ==
      (for (yb <- 0 until 2; xb <- 0 until 3)
        yield (0, 1, 2 * yb, math.min(3, 2 * yb + 2), 2 * xb, math.min(5, 2 * xb + 2))).toSet)
  }

  /** Stages that wrote shuffle output, of the jobs `body` runs. A marker
    * job after `body` drains the listener queue: its end arrives after
    * every earlier event. */
  private def shuffleStages(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"level-chain-${System.nanoTime()}"
    val mine = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val markerJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      private def groupOf(p: java.util.Properties) =
        Option(p).map(_.getProperty("spark.jobGroup.id")).orNull
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (groupOf(e.properties) == group) mine.add(e.stageInfo.stageId)
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (mine.contains(e.stageInfo.stageId) &&
            e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten > 0)
          stages.incrementAndGet()
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (groupOf(e.properties) == s"$group-marker") markerJob.set(e.jobId)
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get) drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "level chain")
      body
      sc.setJobGroup(s"$group-marker", "listener drain")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener never drained")
      stages.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("the level-1 step of a block-aligned CZI source runs no shuffle") {
    val spark = TestSpark.spark
    val path = s"${tempDir("graft-chain-czi")}/fused.czi"
    CziFixture.write(path, CziFixture.mosaic(9L))
    def convert(chunk: Seq[Int]): Int = shuffleStages(spark) {
      ZeissJob.writeStack(spark, settings(tempDir("graft-chain-fused"), chunk, 2), path)
    }
    // 2-chunk-deep Z chunks hold whole windows: level 0 -> 1 inside each task
    assert(convert(Seq(2, 16, 16)) == 0)
    // 3-deep ones do not: the step aligns and rechunks through shuffles
    assert(convert(Seq(3, 16, 16)) > 0)
  }

  test("LevelCounts: a duplicate attempt's report is counted once") {
    val driver = new LevelCounts
    def attempt(reports: ((Int, Int), Long)*): LevelCounts = {
      val task = new LevelCounts
      reports.foreach(task.add)
      task
    }
    driver.merge(attempt(((0, 0), 4L)))
    driver.merge(attempt(((0, 1), 3L), ((1, 0), 2L)))
    driver.merge(attempt(((0, 0), 4L))) // partition 0 of level 0, re-run
    assert(driver.level(0) == 7L && driver.level(1) == 2L && driver.level(2) == 0L)
  }

  test("writeThrough re-executed over the same partitions keeps exact counts") {
    val spark = TestSpark.spark
    val out = tempDir("graft-chain-rerun")
    val grid = ChunkGrid(Seq(1L, 1L, 16L, 16L, 24L), Seq(8, 8, 8), Dtype.UInt16.zarrName)
    val counts = LevelCounts(spark, "rerun")
    val written = ZarrIO.writeThrough(spark, ChunkTable.synthetic(spark, grid, 5L),
      grid, out, 0, settings(out, grid.chunk, 1), counts, ZarrIO.broadcastConf(spark)).rdd
    // two actions run every write task twice — a LongAccumulator would
    // report 2 x 12 chunks
    written.count()
    written.count()
    assert(counts.level(0) == grid.numChunks)
    assert(new java.io.File(s"$out/0/0/0").list().length == 2)
  }
}
