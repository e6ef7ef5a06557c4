package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Dev-only: run named queries (comma-separated) once each (after warm
  * passes over the whole list) with a listener that prints, per query, the
  * Spark job count, the summed job wall-clock, the summed inter-job gaps
  * (driver-side work: planning, manifest IO, stream trigger scheduling),
  * summed task time, GC time, shuffle volume, and the codegen compiles and
  * Janino milliseconds it paid — the local-mode substitute for the Spark
  * UI's Jobs page (the bench box runs with the UI off). Warm passes run the
  * whole list in order, so a profiled query sees the codegen cache a
  * repeated pass over the list leaves it.
  *
  * Usage: `ProfileOne <q1,q2,...|all> [sfDir] [warmPasses] [key=value ...]`
  * (`all`: every query of [[graft.SparkEntry.allDefs]], the verification mix)
  */
object ProfileOne {
  private case class JobRow(id: Int, submitted: Long, var desc: String,
    var completed: Long = 0L, var taskTime: Long = 0L, var gcTime: Long = 0L,
    var shuffleRead: Long = 0L, var shuffleWrite: Long = 0L,
    var tasks: Int = 0)

  def main(args: Array[String]): Unit = {
    val names =
      if (args(0) == "all") graft.SparkEntry.allDefs.map(_.name)
      else args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val warmReps =
      if (args.length > 2 && !args(2).contains("=")) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.drop(2).filter(_.contains("=")).foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    }

    val rows = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    @volatile var recording = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (recording) {
          val d = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(e.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse(if (sys.env.contains("PROFILE_JOB_PROPS"))
              Option(e.properties).map(p => {
                import scala.jdk.CollectionConverters._
                p.stringPropertyNames().asScala.toSeq.sorted
                  .map(k => s"$k=${p.getProperty(k).take(40)}")
                  .mkString("; ")
              }).getOrElse("")
            else "")
          rows.put(e.jobId, JobRow(e.jobId, e.time, d))
          e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(rows.get(e.jobId)).foreach(_.completed = e.time)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (recording && sys.env.contains("PROFILE_STAGE_SITES")) {
          val j = stageToJob.get(e.stageInfo.stageId)
          Option(rows.get(j)).filter(_.desc.isEmpty).foreach { r =>
            r.synchronized {
              r.desc = e.stageInfo.details.linesIterator
                .filterNot(l => l.contains("org.apache.spark.")
                  || l.contains("java.") || l.contains("scala.concurrent"))
                .take(3).mkString(" <- ")
            }
          }
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val j = stageToJob.get(e.stageId)
        Option(rows.get(j)).foreach { r =>
          r.synchronized {
            r.tasks += 1
            if (e.taskMetrics != null) {
              r.taskTime += e.taskMetrics.executorRunTime
              r.gcTime += e.taskMetrics.jvmGCTime
              r.shuffleRead += e.taskMetrics.shuffleReadMetrics.totalBytesRead
              r.shuffleWrite += e.taskMetrics.shuffleWriteMetrics.bytesWritten
            }
          }
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    def run(name: String): Unit =
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    // codegen cache misses and Janino time since the last call: a query
    // that recompiles on every pass shows its plan mix outgrowing
    // spark.sql.codegen.cache.maxEntries
    var (compiles0, compileNs0) = (0L, 0L)
    def codegen(): String = {
      val (c, ns) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      val out = f"compiles=${c - compiles0} compileMs=${(ns - compileNs0) / 1e6}%.0f"
      compiles0 = c; compileNs0 = ns
      out
    }
    (1 to warmReps).foreach { i =>
      names.foreach { name =>
        codegen()
        val t0 = System.nanoTime()
        run(name)
        println(f"[profile] $name warm rep$i: ${(System.nanoTime() - t0) / 1e9}%.2f s ${codegen()}")
      }
    }
    names.foreach { name =>
      rows.clear(); stageToJob.clear()
      codegen()
      recording = true
      val t0 = System.nanoTime()
      run(name)
      val wall = (System.nanoTime() - t0) / 1e9
      recording = false
      val compiled = codegen()
      Thread.sleep(500) // let the listener bus drain
      import scala.jdk.CollectionConverters._
      val all = rows.values.asScala.toSeq.sortBy(_.submitted)
      if (sys.env.contains("PROFILE_JOBS")) {
        var pe = if (all.nonEmpty) all.head.submitted else 0L
        all.foreach { r =>
          val gap = math.max(0L, r.submitted - pe)
          println(f"[job] ${r.id}%4d gap=${gap}%5dms " +
            f"dur=${math.max(0L, r.completed - r.submitted)}%5dms " +
            f"tasks=${r.tasks}%3d task=${r.taskTime}%6dms " +
            f"shufW=${r.shuffleWrite / 1024}%6dKB ${r.desc.take(
              sys.env.get("PROFILE_DESC_LEN").map(_.toInt).getOrElse(110))}")
          pe = math.max(pe, r.completed)
        }
      }
      var prevEnd = if (all.nonEmpty) all.head.submitted else 0L
      var gapTotal = 0L; var jobTotal = 0L
      all.foreach { r =>
        gapTotal += math.max(0L, r.submitted - prevEnd)
        jobTotal += math.max(0L, r.completed - r.submitted)
        prevEnd = math.max(prevEnd, r.completed)
      }
      val task = all.map(_.taskTime).sum / 1000.0
      val gc = all.map(_.gcTime).sum / 1000.0
      val sr = all.map(_.shuffleRead).sum / 1024 / 1024
      val sw = all.map(_.shuffleWrite).sum / 1024 / 1024
      println(f"[profile] $name wall=$wall%.2f s jobs=${all.size} " +
        f"jobWall=${jobTotal / 1000.0}%.2f s gaps=${gapTotal / 1000.0}%.2f s " +
        f"task=$task%.1f s gc=$gc%.1f s shufR=${sr}MB shufW=${sw}MB $compiled")
    }
    spark.stop()
  }
}
