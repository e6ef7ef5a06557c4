package perfbench

import graft.QueryDef
import org.apache.spark.sql.functions.{col, expr, split}

/** `queries`: a fixed panel of declared queries (one per query module) run
  * pass after pass over seeded tables, each pass in the seeded order
  * `run.py` lists for it.
  * One operation = `QueryDef.run` (eager rig work and planning) plus the
  * `noop` materialization; one unit = one pass. */
object Queries {

  /** Timed passes at least. The first one still runs slower than later
    * ones, and a query's median over three passes is not moved by one slow
    * pass. */
  val MinPasses = 3

  /** Module membership, straight from each module's `defs` list. */
  val modules: Seq[(String, Seq[QueryDef])] = Seq(
    "Relational" -> graft.queries.Relational.defs,
    "LlmOps" -> graft.queries.LlmOps.defs,
    "Stats" -> graft.queries.Stats.defs,
    "TextSearch" -> graft.queries.TextSearch.defs,
    "Retrieval" -> graft.queries.Retrieval.defs,
    "Curation" -> graft.queries.Curation.defs,
    "Profiling" -> graft.queries.Profiling.defs,
    "VectorStats" -> graft.queries.VectorStats.defs,
    "ZarrPipeline" -> graft.queries.ZarrPipeline.defs,
    "StreamingDemo" -> graft.queries.StreamingDemo.defs,
    "SimJoin" -> graft.queries.SimJoin.defs,
    "Layout" -> graft.queries.Layout.defs,
    "Pq" -> graft.queries.Pq.defs,
    "VectorIngest" -> graft.queries.VectorIngest.defs,
    "MergeOps" -> graft.queries.MergeOps.defs)

  def run(ctx: Ctx): Unit = {
    val dir = ctx.data
    val panel: Seq[String] = (0 until ctx.cfg.get("panel").size).map(i => ctx.cfg.get("panel").get(i).asText)
    val defs = modules.flatMap(_._2).map(d => d.name -> d).toMap
    val moduleOf = modules.flatMap { case (m, ds) => ds.map(_.name -> m) }.toMap
    require(defs.keySet == graft.SparkEntry.allDefs.map(_.name).toSet,
      "module lists and SparkEntry.allDefs disagree")
    panel.foreach(n => require(defs.contains(n), s"panel query $n is not declared"))

    // set-up: fresh session, every table's footer, one small query
    (0 until Stats.Setups).foreach { _ =>
      val t0 = System.nanoTime()
      val spark = ctx.newSession()
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "documents", "embeddings").foreach(t => spark.read.parquet(s"$dir/$t.parquet").schema)
      graft.Q.events(spark, dir).schema
      defs("q20_topk").run(spark, dir).write.format("noop").mode("overwrite").save()
      ctx.setupS += ctx.elapsedSince(t0)
    }
    ctx.phase("setup")
    val spark = ctx.spark

    // warm pass (JIT and lazy rig staging) doubles as the output dump the
    // oracle check reads; it is not timed
    val dump = ctx.str("dump")
    val oracle = scala.collection.mutable.LinkedHashMap[String, String]()
    panel.foreach { n =>
      try {
        Trace.untraced(spark.sparkContext) {
          defs(n).run(spark, dir).write.mode("overwrite").parquet(s"$dump/$n.parquet")
        }
        defs(n).oracle.foreach(sql => oracle(n) = sql)
      } catch { case scala.util.control.NonFatal(e) => ctx.errors += s"$n dump: $e" }
    }
    ctx.settle()
    ctx.phase("warm")
    ctx.extra("oracle_sql") = oracle.toMap

    val t0 = System.nanoTime()
    var pass = 0
    while (pass < MinPasses || ctx.elapsedSince(t0) < ctx.seconds) {
      val traced = ctx.trace && pass % 2 == 0
      val orders = ctx.cfg.get("orders").get(pass % ctx.cfg.get("orders").size)
      val order = (0 until orders.size).map(i => orders.get(i).asText)
      val p0 = System.nanoTime()
      order.foreach { n =>
        ctx.attempted += 1
        val m = moduleOf(n)
        try {
          val (df, runMs) = ctx.timed(ctx.span(s"queries.$m.run", traced)(defs(n).run(spark, dir)))
          val (_, execMs) = ctx.timed(ctx.span(s"queries.$m.exec", traced) {
            df.write.format("noop").mode("overwrite").save()
          })
          ctx.ops += ((n, "query", runMs + execMs, traced))
        } catch { case scala.util.control.NonFatal(e) => ctx.fail(n, e) }
      }
      ctx.units += ((ctx.elapsedSince(p0), traced))
      ctx.settle()
      pass += 1
    }

    ctx.sampleHeap()
    ctx.phase("measure")
    if (ctx.trace) {
      val names = modules.map(_._1).flatMap(m => Seq(s"queries.$m.run", s"queries.$m.exec")).toSet
      ctx.sparkLayers(ctx.units.count(_._2), names)
      val n = math.max(1, ctx.units.count(_._2)).toDouble
      val spans = Trace.allSpans
      modules.map(_._1).foreach { m =>
        val run = spans.filter(_.name == s"queries.$m.run")
        val exec = spans.filter(_.name == s"queries.$m.exec")
        ctx.layers(s"queries.$m.run_s") = run.map(_.wallS).sum / n
        ctx.layers(s"queries.$m.exec_s") = exec.map(_.wallS).sum / n
        ctx.layers(s"queries.$m.jobs") = (run ++ exec).map(s => Trace.costTree(s.id).jobs).sum / n
        ctx.layers(s"queries.$m.driver_gap_s") = (run ++ exec).map(Trace.driverGapS).sum / n
      }
      kernels(ctx, dir)
      Store.run(ctx)
    }
  }

  /** Row rates of the engine's codegen kernels over the seeded corpus,
    * replicated so each timing covers enough rows. */
  private def kernels(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    graft.functions.GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .crossJoin(spark.range(40).toDF("rep")).withColumn("toks", split(col("text"), " "))
      .cache()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .crossJoin(spark.range(40).toDF("rep")).cache()
    val nDocs = Trace.untraced(spark.sparkContext)(docs.count())
    val nEmb = Trace.untraced(spark.sparkContext)(emb.count())
    val vocab = Trace.untraced(spark.sparkContext) {
      spark.read.parquet(s"$dir/documents.parquet")
        .selectExpr("explode(split(text, ' ')) AS w").groupBy("w").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    }
    val merges = graft.functions.BpeCodec.formatMerges(graft.functions.BpeCodec.train(vocab, 20))
    val probe = (0 until 64).map(i => f"${math.sin(i + 1.0)}%.6f").mkString("array(", ", ", ")")
    def krows(name: String, rows: Long)(df: => org.apache.spark.sql.DataFrame): Unit = {
      Trace.untraced(spark.sparkContext)(df.write.format("noop").mode("overwrite").save())
      val samples = (0 until 3).map { _ =>
        val (_, ms) = ctx.timed(Trace.span(spark.sparkContext, s"functions.$name") {
          df.write.format("noop").mode("overwrite").save()
        })
        rows / ms
      }
      ctx.layers(s"functions.${name}_krows_s") = Stats.median(samples)
    }
    krows("minhash_sig", nDocs)(docs.select(expr("minhash_sig(toks, 12)")))
    krows("simhash32", nDocs)(docs.select(expr("simhash32(toks)")))
    krows("bpe_encode", nDocs)(docs.select(expr(s"bpe_encode(toks, '$merges')")))
    krows("hyperplane_bucket", nEmb)(emb.select(expr("hyperplane_bucket(embedding, 16)")))
    krows("cosine_sim", nEmb)(emb.select(expr(s"cosine_sim(embedding, CAST($probe AS ARRAY<FLOAT>))")))
    docs.unpersist(); emb.unpersist()
  }
}
