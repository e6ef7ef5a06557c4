package perfbench

import graft.streaming.IngestIndex
import org.apache.hadoop.fs.{FileSystem, Path}

import java.io.File

/** The store layers: a seeded stream of SQL statements against one graft
  * table, run by a traced `queries` run after its passes, so that
  * `GraftSql` and `IngestIndex` are measured per verb. Each round loads a
  * fresh table from the seed table, then runs the whole stream; every round
  * replays the same stream, so every round ends in the same state. */
object Store {
  val Table = "bench_store"
  val Writes = Set("merge", "update", "delete")
  /** Traced rounds after the untimed warm round. */
  val Rounds = 2

  final case class Stmt(kind: String, sql: String, src: Option[String])

  def run(ctx: Ctx): Unit = {
    val data = ctx.str("store_data")
    val streamJson = Main.json.readTree(new File(s"$data/stream.json"))
    val stream = (0 until streamJson.size).map { i =>
      val s = streamJson.get(i)
      Stmt(s.get("kind").asText, s.get("sql").asText,
        Option(s.get("src")).filter(!_.isNull).map(p => s"$data/${p.asText}"))
    }
    val checkAfter = ctx.cfg.get("store_check_after_write").asInt
    val dump = ctx.str("store_dump")
    val spark = ctx.spark
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(s"$data/base.parquet").createOrReplaceTempView("bench_base")

    var lastLoc = ""
    val manifestMs = scala.collection.mutable.ArrayBuffer[Double]()
    val touched = scala.collection.mutable.ArrayBuffer[Double]()
    var grownBytes = 0L
    var srcBytes = 0L
    // round 0 warms the JVM on the whole stream and is not recorded
    (0 to Rounds).foreach { round =>
      val traced = round > 0
      val loc = s"${ctx.work}/store/$round"
      spark.sql(ctx.str("store_ddl").replace("{location}", loc))
      spark.sql(s"INSERT INTO $Table SELECT * FROM bench_base")
      val versions = scala.collection.mutable.ArrayBuffer(IngestIndex.latestVersion(fs, loc).get)
      stream.foreach { st =>
        if (traced) ctx.attempted += 1
        try {
          st.src.foreach(p => spark.read.parquet(p).createOrReplaceTempView("bench_src"))
          val text = resolve(st.sql, versions.toSeq)
          val before = if (traced && Writes(st.kind)) files(new File(loc)) else Map.empty[String, Long]
          val (_, ms) = ctx.timed(ctx.span(s"GraftSql.${st.kind}", traced) {
            val df = spark.sql(text)
            if (!Writes(st.kind)) df.collect()
          })
          if (traced) ctx.ops += ((st.kind, st.kind, ms, traced))
          if (Writes(st.kind)) {
            val (v, mms) = ctx.timed {
              val v = IngestIndex.latestVersion(fs, loc).get
              IngestIndex.readManifest(fs, loc, v)
              v
            }
            versions += v
            if (traced) {
              manifestMs += mms
              val after = files(new File(loc))
              val added = after.keySet -- before.keySet
              touched += added.flatMap(f => Option(new File(f).getParentFile)
                .filter(_.getName.startsWith("bkt=")).map(_.getPath)).size
              if (st.kind == "merge") {
                grownBytes += added.toSeq.map(after).sum
                srcBytes += st.src.map(p => Pyramid.dirBytes(new File(p))).getOrElse(0L)
              }
            }
          }
        } catch { case scala.util.control.NonFatal(e) => if (traced) ctx.fail(s"store round $round ${st.kind}", e) }
      }
      if (round == Rounds) {
        // final round: dump the table and one snapshot for the replay check
        try {
          spark.sql(s"SELECT * FROM $Table").write.mode("overwrite").parquet(s"$dump/final.parquet")
          spark.sql(s"SELECT * FROM $Table VERSION AS OF ${versions(checkAfter)}")
            .write.mode("overwrite").parquet(s"$dump/snapshot.parquet")
        } catch { case scala.util.control.NonFatal(e) => ctx.errors += s"store dump: $e" }
        layersOf(ctx, loc, versions.toSeq)
      }
      graft.operators.GraftSql.unregisterTable(Table)
      if (lastLoc.nonEmpty) fs.delete(new Path(lastLoc), true)
      lastLoc = loc
    }

    Seq("merge", "update", "delete", "point", "scan", "travel", "changes").foreach { k =>
      val ms = ctx.ops.filter(o => o._2 == k && o._4).map(_._3).toSeq
      ctx.layers(s"GraftSql.${k}_ms") = Stats.median(ms)
    }
    ctx.layers("IngestIndex.manifest_ms") = Stats.median(manifestMs.toSeq)
    ctx.layers("IngestIndex.buckets_touched") = Stats.median(touched.toSeq)
    ctx.layers("IngestIndex.write_amp") = if (srcBytes > 0) grownBytes.toDouble / srcBytes else 0.0
  }

  /** `{v:k}` names the table version that write number `k` produced
    * (`k = 0` is the load). */
  def resolve(sql: String, versions: Seq[Long]): String =
    "\\{v:(\\d+)\\}".r.replaceAllIn(sql, m => versions(m.group(1).toInt).toString)

  private def files(dir: File): Map[String, Long] =
    if (dir.isDirectory) Option(dir.listFiles).toSeq.flatten.flatMap(f =>
      if (f.isDirectory) files(f) else Seq(f.getPath -> f.length)).toMap
    else Map.empty

  /** End-of-round store shape: versions, size, compactions, and stored
    * bytes per live logical byte. */
  private def layersOf(ctx: Ctx, loc: String, versions: Seq[Long]): Unit = {
    val all = files(new File(loc))
    val bytes = all.values.sum
    val live = ctx.spark.sql(
      s"SELECT COUNT(*) * 44 + COALESCE(SUM(LENGTH(flag)), 0) FROM $Table").head().getLong(0)
    ctx.layers("store.stored_ratio") = bytes.toDouble / live
    ctx.layers("IngestIndex.versions") = versions.last.toDouble
    ctx.layers("IngestIndex.dir_mb") = bytes / 1e6
    // manifest folds (full bases after the first) plus compaction epochs
    val manifests = all.keys.filter(_.endsWith("/manifest")).toSeq
    val bases = manifests.count { m =>
      val src = scala.io.Source.fromFile(m)
      try !src.getLines().nextOption().exists(_.startsWith("#delta")) finally src.close()
    }
    val epochs = all.keys.map(k => new File(loc).toPath.relativize(new File(k).toPath).getName(0).toString)
      .count(_.startsWith("v-"))
    ctx.layers("IngestIndex.compactions") = (math.max(0, bases - 1) + epochs).toDouble
  }
}
