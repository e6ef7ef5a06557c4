package graft.zeiss

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}

/** The compression job driver — `ZeissCompressionJob.run_job`
  * (`zeiss_job.py:222-241`) re-expressed for Spark's execution model.
  *
  * Pipeline per SURVEY §3.1: glob stacks -> deterministic sort -> regex
  * rename -> per stack: load straight onto the write grid (CZI boxes, or
  * the synthetic stand-in), then one chain of write level -> windowed-mean
  * -> rechunk per level, executed by a single action. The reference
  * writes each level and reads it back before the next
  * (`czi_to_zarr.py:522-557`) so level-N graphs don't compound; here the
  * rechunk's shuffle boundary cuts the lineage instead, and voxel bytes
  * never make the file round-trip. A CZI source read in block-aligned
  * boxes computes level 1 inside its read tasks, so its first shuffle is
  * level 2's, over 1/64 of the array's bytes.
  *
  * The reference's static round-robin partitioning across SLURM nodes
  * (ops 3-4) dissolves inside one Spark app — the scheduler owns placement
  * (SURVEY §3.2) — but `partitionList` is kept (and unit-tested) for
  * multi-app parity: when `numOfPartitions > 1`, this driver processes only
  * its assigned partition exactly like one SLURM task.
  *
  * CLI entry note (`zeiss_job.py:245-260`): the reference's own CLI
  * constructs the wrong class and cannot run (SURVEY §2A op 27); this main
  * implements the *working* path's semantics (scripts/example.py).
  */
object ZeissJob {

  /** Round-robin dealing, `partition_list` (`zeiss_job.py:33-44`). */
  def partitionList[A](items: Seq[A], numPartitions: Int): Seq[Seq[A]] = {
    val parts = Vector.fill(numPartitions)(Vector.newBuilder[A])
    items.zipWithIndex.foreach { case (item, i) => parts(i % numPartitions) += item }
    parts.map(_.result())
  }

  /** `name(N).czi` -> `name_N`, else `name_0` (`zeiss_job.py:129-143`). */
  def renameStack(stackName: String): String = {
    val re = raw"(.+)\((\d+)\)\.czi".r
    stackName match {
      case re(base, n) => s"${base}_$n"
      case other => s"${other.stripSuffix(".czi")}_0"
    }
  }

  /** Glob + deterministic sort (`zeiss_job.py:46-62`: "Important to sort
    * paths so every node computes the same list"). */
  def listStacks(spark: SparkSession, inputSource: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(inputSource)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return Seq.empty
    val st = fs.globStatus(new Path(dir, "*.czi"))
    Option(st).getOrElse(Array.empty)
      .filter(_.isFile)
      .map(_.getPath.toString)
      .sorted // sort by full path string, matching sort(key=str)
      .toSeq
  }

  /** Synthetic stack header (shape + voxel size) derived deterministically
    * from the stack name — the stand-in for the CZI header read
    * (`zeiss_job.py:145-153`). Small default so smoke runs are fast;
    * override via settings-scale env if needed. */
  def syntheticHeader(stackPath: String): (Seq[Long], Seq[Double], Long) = {
    val seed = scala.util.hashing.MurmurHash3.stringHash(
      new Path(stackPath).getName).toLong & 0xffffffffL
    val shape = Seq(1L, 1L, 64L, 96L, 128L) // T, C, Z, Y, X
    val voxelSize = Seq(1.0, 0.5, 0.5) // Z, Y, X micrometers
    (shape, voxelSize, seed)
  }

  /** Convert one stack to an OME-Zarr pyramid. Returns per-level chunk
    * counts. Mirrors `czi_stack_zarr_writer` (`czi_to_zarr.py:389-562`).
    *
    * Source seam (op 5): a stack that parses as a real supported CZI is
    * read through [[CziReader]]/[[CziSource]] (shape + dtype from the
    * subblock directory, voxel size from the metadata segment's Scaling
    * distances — the header read of `zeiss_job.py:145-153`). A file
    * without the ZISRAWFILE magic — including the empty fixtures the
    * reference's own tests use — falls back to the deterministic synthetic
    * source. A REAL CZI the reader cannot decode (JPEG-XR, overlapping
    * mosaic, corrupt) fails loudly: silently substituting synthetic voxels
    * under the real stack's name would be a data-integrity hazard. The
    * old fallback survives behind `syntheticFallbackForUnsupported`. */
  def writeStack(spark: SparkSession, settings: ZeissJobSettings,
      stackPath: String,
      headerOverride: Option[(Seq[Long], Seq[Double], Long)] = None,
      blockTargetMb: Option[Long] = None): Seq[Long] = {
    val czi: Option[CziReader.CziInfo] =
      if (headerOverride.isDefined) None
      else CziReader.open(spark.sparkContext.hadoopConfiguration, stackPath) match {
        case CziReader.Opened(info) => Some(info)
        case CziReader.NotCzi => None
        case CziReader.Unsupported(reason) =>
          if (settings.syntheticFallbackForUnsupported) {
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"$stackPath is an unsupported CZI ($reason); writing SYNTHETIC " +
                "voxels because synthetic_fallback_for_unsupported=true")
            None
          } else throw new UnsupportedCziException(stackPath, reason)
      }
    val (shape, voxelSize, seed) = headerOverride.getOrElse(
      czi.map(i => (i.shape, i.voxelSizeZyx.getOrElse(Seq(1.0, 1.0, 1.0)), 0L))
        .getOrElse(syntheticHeader(stackPath)))
    val imageName = renameStack(new Path(stackPath).getName)
    val groupDir = s"${settings.outputDirectory}/$imageName.ome.zarr"

    val writeChunk = settings.chunkSize.zipWithIndex.map { case (c, i) =>
      math.min(c.toLong, shape(2 + i)).toInt
    }
    val srcGrid = ChunkGrid(shape, writeChunk,
      czi.map(_.dtype.zarrName).getOrElse(Dtype.UInt16.zarrName))

    // levels actually producible: stop once the shape no longer shrinks
    // (every dim at 1 -> further levels would be identical 1-voxel copies;
    // the reference's multiscale likewise yields <= n_lvls levels)
    val factors = settings.scaleFactor.map(_.toLong)
    val nLevels = (0 until settings.downsampleLevels).takeWhile { lvl =>
      lvl == 0 || Grid.levelShape(shape.drop(2), factors, lvl) !=
        Grid.levelShape(shape.drop(2), factors, lvl - 1)
    }.size

    // A CZI source whose write chunks hold whole downsample windows is read
    // in boxes of whole factor blocks: every level-1 chunk's sources then
    // share one task, and the level 0->1 step runs inside it, unshuffled.
    val fused = czi.isDefined && nLevels > 1 &&
      writeChunk.zip(settings.scaleFactor).forall { case (c, f) => c % f == 0 }
    val conf = ZarrIO.broadcastConf(spark)
    def level0Source() = czi.map(i => CziSource.chunkTable(spark, i, srcGrid,
        if (fused) settings.scaleFactor else Seq(1, 1, 1), conf))
      .getOrElse(ChunkTable.synthetic(spark, srcGrid, seed))

    // optional op-15 stats pass: one extra scan of the (lazily regenerated)
    // source computes exact percentile display ranges before any write —
    // the same stats-before-data ordering the reference's rejected
    // `da.percentile` call sat in (`czi_to_zarr.py:461-481`)
    val displayRange: Option[(Double, Double)] =
      if (settings.computeDisplayRange)
        Some(DisplayRange.window(spark, level0Source(), srcGrid.dtype))
      else None

    ZarrIO.writeGroupMeta(spark, groupDir,
      OmeMetadata.zattrs(imageName, shape, nLevels, settings.scaleFactor,
        voxelSize, writeChunk, srcGrid.dtype, displayRange))

    // Levels first..n-2 are written as they stream past on the way to the
    // next level's downsample; the last level's write is the one action.
    // Each level adds one stage behind its rechunk shuffle, except a fused
    // level 1, which stays in level 0's tasks.
    val counts = LevelCounts(spark, s"zarr-chunks-$imageName")
    def chain(first: Int, grid: ChunkGrid, ds: Dataset[ImageChunk]): Seq[Long] = {
      val (lastGrid, lastDs) = (first until nLevels - 1).foldLeft((grid, ds)) {
        case ((g, d), lvl) =>
          val step = if (fused && lvl == 0) Downsample.levelInPartitions _ else Downsample.level _
          step(spark, ZarrIO.writeThrough(spark, d, g, groupDir, lvl, settings, counts, conf), g,
            settings.scaleFactor, settings.chunkSize)
      }
      val last = ZarrIO.writeLevel(spark, lastDs, lastGrid, groupDir, nLevels - 1, settings, conf)
      (first until nLevels - 1).map(counts.level) :+ last
    }
    try blockTargetMb match {
      // For arrays far beyond cluster memory, blockTargetMb bounds in-flight
      // state by writing level 0 as grid-aligned super-blocks (op 19's
      // BlockedArrayWriter, zarr_writer.py:188-213: "reduce the scheduling
      // burden for massive (terabyte-scale) arrays"), each one bounded
      // Spark job; the chain then starts from level 0 read back, its one
      // unavoidable read. The grid-pruned blocks are a synthetic-source
      // capability (`keep` prunes before generation); a real CZI streams.
      case Some(mb) if czi.isEmpty =>
        val block = Grid.blockShape(shape.drop(2), writeChunk,
          srcGrid.dtype.itemSize, targetSizeMb = mb)
        // block shape is a chunk multiple by construction (expand_chunks
        // doubles the chunk), so each slice holds whole chunks
        val level0 = Grid.blockSlices(shape.drop(2), block).map { slice =>
          val Seq((z0, zl), (y0, yl), (x0, xl)) = slice
          val (cz, cy, cx) = (writeChunk(0), writeChunk(1), writeChunk(2))
          val sub = ChunkTable.synthetic(spark, srcGrid, seed,
            keep = (_, _, zi, yi, xi) =>
              zi.toLong * cz >= z0 && zi.toLong * cz < z0 + zl &&
                yi.toLong * cy >= y0 && yi.toLong * cy < y0 + yl &&
                xi.toLong * cx >= x0 && xi.toLong * cx < x0 + xl)
          ZarrIO.writeLevel(spark, sub, srcGrid, groupDir, 0, settings, conf)
        }.sum
        if (nLevels == 1) Seq(level0)
        else {
          val (g0, l0) = ZarrIO.readLevel(spark, groupDir, 0)
          val (g1, l1) = Downsample.level(spark, l0, g0, settings.scaleFactor, settings.chunkSize)
          level0 +: chain(1, g1, l1)
        }
      case _ => chain(0, srcGrid, level0Source())
    } finally conf.destroy() // every job that reads it has run
  }

  /** `run_job` (`zeiss_job.py:222-241`). */
  def runJob(spark: SparkSession, settings: ZeissJobSettings): JobResponse = {
    val t0 = System.nanoTime()
    if (settings.uploadDerivatives) uploadDerivativesFolder(spark, settings)
    val all = listStacks(spark, settings.inputSource)
    val mine = partitionList(all, settings.numOfPartitions)(settings.partitionToProcess)
    def processOne(stack: String): Unit = {
      writeStack(spark, settings, stack)
      settings.s3Location.foreach { s3 =>
        // replaced subprocess `aws s3 sync` (utils.py:138-168): the zarr
        // writer already targets any Hadoop-supported scheme directly, so a
        // distinct local->s3 sync pass only exists for parity and is a
        // straight recursive copy when outputs were written locally.
        val name = s"${renameStack(new Path(stack).getName)}.ome.zarr"
        syncDir(spark, s"${settings.outputDirectory}/$name", s"$s3/$name")
        if (settings.deleteAfterSync) {
          // op 25: local cleanup after successful upload (zeiss_job.py:196-200)
          val local = new Path(s"${settings.outputDirectory}/$name")
          local.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(local, true)
        }
      }
    }
    if (settings.stackParallelism <= 1) mine.foreach(processOne)
    else {
      // concurrent per-stack Spark jobs from a bounded driver pool; the
      // scheduler interleaves their stages across executors. Every stack
      // runs to completion (or its own failure) before runJob returns —
      // fail-fast would leave sibling writes in flight and their errors
      // unreported — then the first failure propagates.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(settings.stackParallelism)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val outcomes = scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(mine.map(st =>
            scala.concurrent.Future(scala.util.Try(processOne(st))))),
          scala.concurrent.duration.Duration.Inf)
        outcomes.collect { case scala.util.Failure(e) => e } match {
          case Seq() => ()
          case first +: rest =>
            rest.foreach(first.addSuppressed)
            throw first
        }
      } finally pool.shutdown()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    JobResponse(200, f"Job finished in $secs%.2f sec. Stacks: ${mine.size}")
  }

  /** op 26 — `_upload_derivatives_folder` (`zeiss_job.py:202-220`): raises
    * when the folder is missing, uploads only when s3Location is set. */
  def uploadDerivativesFolder(spark: SparkSession, settings: ZeissJobSettings): Unit = {
    val derivatives = new Path(settings.inputSource, "derivatives")
    val fs = derivatives.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(derivatives))
      throw new java.io.FileNotFoundException(s"$derivatives does not exist.")
    settings.s3Location.foreach { s3 =>
      syncDir(spark, derivatives.toString, s"$s3/derivatives")
    }
  }

  /** Recursive copy between Hadoop filesystems (local->s3a parity path).
    * Replace semantics: an existing destination is removed first —
    * FileUtil.copy would otherwise NEST the source inside it on re-runs,
    * leaving a corrupt store layout with stale top-level sidecars. */
  def syncDir(spark: SparkSession, from: String, to: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val srcFs = new Path(from).getFileSystem(conf)
    val dstFs = new Path(to).getFileSystem(conf)
    if (dstFs.exists(new Path(to))) dstFs.delete(new Path(to), true)
    org.apache.hadoop.fs.FileUtil.copy(
      srcFs, new Path(from), dstFs, new Path(to), false, true, conf)
  }

  def main(args: Array[String]): Unit = {
    val settings = args.toList match {
      case "--job-settings" :: json :: Nil => ZeissJobSettings.fromJson(json)
      case "--config-file" :: path :: Nil => ZeissJobSettings.fromConfigFile(path)
      case Nil => ZeissJobSettings.fromEnv()
      case other => throw new IllegalArgumentException(s"unrecognized args: $other")
    }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // CziSource sizes its boxes by defaultParallelism; match the shuffles
    spark.conf.set("spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism.toLong)
    spark.sparkContext.setLogLevel("WARN")
    val resp = runJob(spark, settings)
    println(s"""{"status_code":${resp.statusCode},"message":"${resp.message}"}""")
    spark.stop()
  }
}
