package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark run inside the JVM. Reads a JSON config written by
  * `run.py`, runs the named workload, and writes raw samples (set-up times,
  * per-operation latencies, per-unit walls, per-layer numbers, check
  * outcomes) as JSON for `run.py` to summarize.
  *
  * Usage: `perfbench.Main <config.json>`; `perfbench.Main gen-czi <out.czi>
  * <expected.json|-> <seed> <z> <y> <x>` writes a seeded stack.
  */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    args.toList match {
      case "gen-czi" :: out :: expected :: seed :: z :: y :: x :: Nil =>
        CziGen.write(out, seed.toLong, z.toInt, y.toInt, x.toInt,
          if (expected == "-") None else Some(expected))
      case "roundtrip-czi" :: dir :: Nil => CziGen.roundTrip(dir)
      case cfgPath :: Nil =>
        // halt, not exit: Spark's non-daemon threads must not keep a failed
        // run alive, and a finished run's results are already on disk
        // (run.py removes the run's scratch space, Spark's local dir included)
        try {
          val ctx = new Ctx(json.readTree(Files.readAllBytes(Paths.get(cfgPath))))
          ctx.phase("jvm_start")
          ctx.cfg.get("workload").asText match {
            case "pyramid" => Pyramid.run(ctx)
            case "queries" => Queries.run(ctx)
            case other => throw new IllegalArgumentException(s"unknown workload $other")
          }
          ctx.finish()
        } catch {
          case e: Throwable =>
            e.printStackTrace()
            Runtime.getRuntime.halt(1)
        }
        Runtime.getRuntime.halt(0)
      case _ =>
        System.err.println("usage: perfbench.Main <config.json>")
        sys.exit(2)
    }
    sys.exit(0)
  }
}

/** Run state shared by the workloads. */
final class Ctx(val cfg: JsonNode) {
  val workload: String = cfg.get("workload").asText
  val seed: Long = cfg.get("seed").asLong
  val seconds: Double = cfg.get("seconds").asDouble
  val trace: Boolean = cfg.get("trace").asBoolean
  val cpus: Int = cfg.get("cpus").asInt
  val work: String = cfg.get("work").asText
  val data: String = cfg.get("data").asText
  def str(k: String): String = cfg.get(k).asText
  Trace.runId = s"$workload-$seed"

  val setupS = mutable.ArrayBuffer[Double]()
  /** (operation name, kind, latency ms, traced unit?) */
  val ops = mutable.ArrayBuffer[(String, String, Double, Boolean)]()
  /** (unit wall seconds, traced?) — a unit is one pass / round / conversion. */
  val units = mutable.ArrayBuffer[(Double, Boolean)]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val extra = mutable.LinkedHashMap[String, Any]()
  val errors = mutable.ArrayBuffer[String]()
  /** Wall seconds per run phase, for the details line. */
  val phases = mutable.LinkedHashMap[String, Double]()
  private var phaseStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** Closes the current phase (the first one starts with the JVM). */
  def phase(name: String): Unit = {
    val now = System.currentTimeMillis()
    phases(name) = (now - phaseStartMs) / 1000.0
    phaseStartMs = now
  }
  var attempted = 0
  var failed = 0

  /** Live heap after the timed units, after full collections (MB). */
  var heapLiveMb = 0.0

  private var session: SparkSession = _
  def spark: SparkSession = session

  /** Stops any current session and builds a fresh one (one set-up step). */
  def newSession(): SparkSession = {
    if (session != null) {
      session.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    session = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", (cpus * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    if (trace) session.sparkContext.addSparkListener(new Trace.Listener)
    session
  }

  /** Untimed, between units: a full collection, after which Spark's
    * ContextCleaner drops the last unit's shuffle files and broadcasts. Each
    * unit then starts from the same heap state, and shuffle files are
    * deleted before the kernel writes them back to disk. */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(100)
  }

  /** Records the heap the timed units left live. */
  def sampleHeap(): Unit = {
    // the second collection runs after Spark's ContextCleaner has released
    // what the first found unreachable (broadcasts, shuffles, cached blocks)
    settle()
    Thread.sleep(100)
    System.gc()
    heapLiveMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  def elapsedSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  /** Opens a span when tracing, else runs `body` plainly. */
  def span[A](name: String, on: Boolean = true)(body: => A): A =
    if (trace && on) Trace.span(spark.sparkContext, name)(body) else body

  def drainBus(): Unit = if (session != null) org.apache.spark.PerfbenchBus.drain(session.sparkContext)

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    errors += s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
  }

  /** Spark costs of traced spans, per unit, plus unattributed work. */
  def sparkLayers(tracedUnits: Int, rootNames: Set[String]): Unit = {
    drainBus()
    val n = math.max(1, tracedUnits).toDouble
    val roots = Trace.allSpans.filter(s => rootNames(s.name))
    val all = roots.map(r => Trace.costTree(r.id))
    layers("spark.jobs") = all.map(_.jobs).sum / n
    layers("spark.task_s") = all.map(_.taskMs).sum / 1000.0 / n
    layers("spark.gc_s") = all.map(_.gcMs).sum / 1000.0 / n
    layers("spark.shuffle_mb") = all.map(_.shuffleBytes).sum / 1e6 / n
    layers("spark.spill_mb") = all.map(_.spillBytes).sum / 1e6 / n
    layers("spark.driver_gap_s") = roots.map(Trace.driverGapS).sum / n
    layers("spark.unattributed_task_s") = Trace.unattributedIn(roots).taskMs / 1000.0 / n
    val (tr, un) = units.partition(_._2)
    if (tr.nonEmpty && un.nonEmpty)
      layers("trace.overhead_s") = Stats.median(tr.map(_._1).toSeq) - Stats.median(un.map(_._1).toSeq)
  }

  def finish(): Unit = {
    phase("finish")
    val rss = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    val out = Map(
      "setup_s" -> setupS.toList,
      "ops" -> ops.map { case (n, k, ms, t) => Map("name" -> n, "kind" -> k, "ms" -> ms, "traced" -> t) }.toList,
      "units" -> units.map { case (s, t) => Map("s" -> s, "traced" -> t) }.toList,
      "heap_live_mb" -> heapLiveMb,
      "layers" -> layers.toMap,
      "extra" -> extra.toMap,
      "errors" -> errors.toList,
      "attempted" -> attempted,
      "failed" -> failed,
      "peak_rss_mb" -> rss,
      "phases_s" -> phases.toMap)
    Files.write(Paths.get(str("result")), Main.json.writeValueAsBytes(out))
    if (trace) Files.write(Paths.get(s"$work/trace.json"), Main.json.writeValueAsBytes(Trace.toJson))
  }
}

object Stats {
  /** Set-up repetitions per run; `setup_s` is their median. */
  val Setups = 5

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
