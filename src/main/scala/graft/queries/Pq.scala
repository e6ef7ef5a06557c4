package graft.queries

import graft.{Q, QueryDef}
import graft.Q._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Q108: PRODUCT QUANTIZATION ANN (Jégou et al., "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011) — the compressed-domain
  * member completing the vector-search family: q32 brute force, q41
  * LSH buckets, q48/q62 IVF cells, q54 scalar int8 — and now PQ, the
  * FAISS-style codec that makes billion-vector search fit in memory:
  * each 64-dim float vector compresses to 8 four-bit codes (256 bytes
  * -> 8 nibbles, a 64x reduction) and queries scan CODES, not vectors.
  *
  * Layout: 8 subspaces x 8 dims; per subspace a 16-centroid codebook
  * trained like q48's coarse quantizer (seeds = the first 16 vectors'
  * sub-slices, one deterministic Lloyd refinement step). A vector's
  * code in subspace m = argmin_c dist^2(sub_m(v), codebook[m][c]).
  * Search is ADC (asymmetric distance computation): the query builds an
  * 8x16 lookup table of sub-distances ONCE, every database vector's
  * approximate distance is then 8 table lookups + 7 adds — no float
  * vector is touched until the final exact re-rank of the top-32 ADC
  * candidates.
  *
  * Scale shape: training touches the corpus twice (assign + the
  * per-(subspace, centroid, coordinate) refine aggregate, output
  * bounded by 8*16*8 = 1024 rows); the codebooks and LUT ride as PLAN
  * LITERALS (q80's literal-centroid pattern — the expression form of a
  * broadcast model), so encode + ADC scoring is ONE projection over the
  * vector scan: no join, no shuffle, candidates via
  * TakeOrderedAndProject. Only the 32 candidates ever carry their float
  * embeddings to the re-rank.
  *
  * Determinism (the oracle contract): every distance is an EXPLICIT
  * left-associated 8-term sum — written out term by term in the DuckDB
  * SQL and folded in the same order by Spark's `aggregate` — over
  * float->double-exact inputs, so the doubles are bit-identical across
  * engines before the f4/f6 floor rounding is applied; argmins tie-break
  * on centroid id; the ADC sum runs in DECIMAL(18,4) and the centroid
  * averages over DECIMAL(18,8) sums (both exact and
  * association-order-free — the VectorStats mechanism), so the whole
  * chain is bit-stable under any partitioning, not just across engines.
  */
object Pq {

  val SubSpaces = 8
  val SubDim = 8
  private val ms = 0 until SubSpaces
  val CodebookK = 16
  val AdcCandidates = 32
  val TopK = 10

  /** Lloyd refinement steps per codebook training. The loop is general
    * (each step one corpus pass, a 1024-row-bounded exact-decimal
    * aggregate, bit-stable under any partitioning) and the oracle's
    * training CTEs are GENERATED from this constant so the two engines
    * can never drift — but the default stays 1 BY MEASUREMENT: at
    * T=2/3 recall@10 REGRESSED on this corpus (q108 0.6->0.3 at sf0.01
    * under T=3; the f4-rounded tie-broken argmin over near-uniform
    * unit vectors migrates mass to low cids and empties clusters) —
    * see BENCH_NOTES_r13. */
  val TrainIters = 1

  private val dec4 = DecimalType(18, 4)

  /** f4's scale-6 sibling for codebook coordinates (quantization cells
    * are ~1e-2 wide; 1e-6 rounding is far below the cell structure). */
  private def f6(c: Column): Column =
    (floor(c * 1000000 + lit(0.5)) / 1000000.0).cast(DoubleType)
  private def F6(x: String): String =
    s"CAST(FLOOR(($x) * 1000000 + 0.5) / 1000000.0 AS DOUBLE)"

  /** Driver twins of Q.f4 / the left-fold distance — same IEEE ops in
    * the same order, so LUT entries computed here are bit-identical to
    * what the engines would compute. */
  private def f4s(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000.0
  private def distScala(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { val t = a(i) - b(i); acc = acc + t * t; i += 1 }
    acc
  }

  /** dist^2 of a bound sub-vector column against a literal centroid:
    * zip_with then a LEFT fold — ((0 + t1) + t2)... — matching the
    * explicit left-associated term chain in the oracle SQL. */
  private def distTo(sv: Column, c: Seq[Double]): Column =
    aggregate(zip_with(sv, array(c.map(lit): _*), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)

  /** The oracle-side twin: an explicit left-associated 8-term chain. */
  private def DIST(a: String, b: String): String =
    (1 to SubDim).map(i => s"($a[$i]-$b[$i])*($a[$i]-$b[$i])")
      .mkString(" + ")

  /** embeddings with NULLs dropped (the q48 guard), widened to double
    * once so both engines run identical arithmetic; the raw float array
    * rides along for the exact re-rank. */
  private def dvecs(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings").filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("e"))

  /** Trained codebooks: per subspace m, the surviving (cid, centroid)
    * rows sorted by cid (a seed whose cluster emptied — possible when
    * two seed sub-vectors are identical and the lower cid wins both —
    * simply drops out, in both engines). 1024 driver rows max.
    *
    * MEMOIZED per (context, partitioning, dir) like the IVF index —
    * q108 and q109 share one training run per session (the codec is
    * trained once and reused, PQ's whole point); content is
    * decimal-exact so caching cannot change results, and the partition
    * count keys the entry so the invariance law still retrains. */
  private val bookCache = new java.util.concurrent.ConcurrentHashMap[
    String, IndexedSeq[IndexedSeq[(Int, IndexedSeq[Double])]]]()

  /** Spec observability + test hook for the persisted-codebook
    * lifecycle (the TextSearch.ivfBuilds pattern). */
  private[graft] val bookBuilds = new java.util.concurrent.atomic.AtomicLong
  private[graft] val bookLoads = new java.util.concurrent.atomic.AtomicLong
  private[graft] def clearBookCache(): Unit = bookCache.clear()

  private[graft] def trainCodebooks(s: SparkSession, d: String)
      : IndexedSeq[IndexedSeq[(Int, IndexedSeq[Double])]] =
    memoBooks(s, d, "raw",
      () => trainOn(dvecs(s, d).select(col("vec_id"), col("e"))))

  /** Residual codebooks (q109b): trained on cell residuals instead of
    * raw vectors — residuals are small-magnitude, so the same 8x16 code
    * budget quantizes them much more finely (the FAISS IndexIVFPQ
    * design). Memoized beside the raw books. */
  private[graft] def trainResidualBooks(s: SparkSession, d: String)
      : IndexedSeq[IndexedSeq[(Int, IndexedSeq[Double])]] =
    memoBooks(s, d, "res",
      () => trainOn(residuals(s, d).select(col("vec_id"), col("e"))))

  /** Session memo + optional disk persistence (`spark.graft.ann
    * .indexDir`, the TextSearch scheme): books live beside the IVF index
    * as a tiny (m, cid, pos, v) parquet with a row-count meta marker —
    * load-or-build, guarded against corpus regeneration, byte-exact
    * either way (f6-rounded doubles roundtrip parquet exactly). */
  private def memoBooks(s: SparkSession, d: String, kind: String,
      build: () => IndexedSeq[IndexedSeq[(Int, IndexedSeq[Double])]])
      : IndexedSeq[IndexedSeq[(Int, IndexedSeq[Double])]] = {
    val appId = s.sparkContext.applicationId
    val parts = s.conf.get("spark.sql.shuffle.partitions", "?")
    bookCache.keySet.removeIf(k => !k.startsWith(s"$appId:"))
    bookCache.computeIfAbsent(s"$appId:$parts:$kind:$d", _ => {
      val root = s.conf.get("spark.graft.ann.indexDir", "")
      val loaded = if (root.isEmpty) None else loadBooks(s, root, d, kind)
      loaded.getOrElse {
        bookBuilds.incrementAndGet()
        val books = build()
        if (root.nonEmpty) saveBooks(s, root, d, kind, books)
        books
      }
    })
  }

  private def bookBase(s: SparkSession, root: String, d: String,
      kind: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"$root/$digest/books_$kind"
  }

  private def loadBooks(s: SparkSession, root: String, d: String,
      kind: String): Option[IndexedSeq[IndexedSeq[(Int, IndexedSeq[Double])]]] = {
    val base = bookBase(s, root, d, kind)
    val meta = new org.apache.hadoop.fs.Path(s"$base/meta")
    val fs = meta.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(meta)) return None
    val in = fs.open(meta)
    val stored = try scala.io.Source.fromInputStream(in, "UTF-8")
      .mkString.trim finally in.close()
    // row count AND content fingerprint: a regenerated corpus at the
    // same scale factor must rebuild, not serve stale codebooks
    val n = dvecs(s, d).count()
    if (stored != s"$n ${TextSearch.corpusFingerprint(s, d)}") return None
    bookLoads.incrementAndGet()
    val rows = s.read.parquet(s"$base/data").collect()
    val byM = rows.groupBy(_.getInt(0))
    Some(IndexedSeq.tabulate(SubSpaces) { m =>
      byM.getOrElse(m, Array.empty).groupBy(_.getInt(1)).toIndexedSeq
        .sortBy(_._1)
        .map { case (cid, rs) =>
          cid -> rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toIndexedSeq
        }
    })
  }

  private def saveBooks(s: SparkSession, root: String, d: String,
      kind: String,
      books: IndexedSeq[IndexedSeq[(Int, IndexedSeq[Double])]]): Unit = {
    val base = bookBase(s, root, d, kind)
    val sp = s
    import sp.implicits._
    val rows = for {
      (cents, m) <- books.zipWithIndex
      (cid, ce) <- cents
      (v, pos) <- ce.zipWithIndex
    } yield (m, cid, pos, v)
    rows.toDF("m", "cid", "pos", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/data")
    val meta = new org.apache.hadoop.fs.Path(s"$base/meta")
    val fs = meta.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(meta, true)
    try out.write(s"${dvecs(s, d).count()} ${
        TextSearch.corpusFingerprint(s, d)}\n".getBytes("UTF-8"))
    finally out.close()
  }

  private def trainOn(ed: DataFrame)
      : IndexedSeq[IndexedSeq[(Int, IndexedSeq[Double])]] = {
    val seeds = ed.filter(col("vec_id") < CodebookK)
      .orderBy("vec_id").select(col("vec_id"), col("e")).collect()
      .map(r => r.getLong(0).toInt -> r.getSeq[Double](1).toIndexedSeq)
    val books0 = IndexedSeq.tabulate(SubSpaces) { m =>
      seeds.map { case (vid, v) =>
        vid -> v.slice(m * SubDim, m * SubDim + SubDim)
      }.toIndexedSeq
    }
    // TrainIters Lloyd steps, each one corpus pass (assign as a literal
    // projection, refine as a bounded groupBy) — a centroid whose
    // cluster empties simply drops out, in both engines
    (1 to TrainIters).foldLeft(books0)((b, _) => refineStep(ed, b))
  }

  /** One Lloyd step: assign every (row, subspace) to its nearest current
    * centroid (plan-literal distances, f4-rounded, cid tie-break), then
    * recompute centroids as exact-decimal means, f6-rounded. */
  private def refineStep(ed: DataFrame,
      books: IndexedSeq[IndexedSeq[(Int, IndexedSeq[Double])]])
      : IndexedSeq[IndexedSeq[(Int, IndexedSeq[Double])]] = {
    val assigned = literalDistances(
        ed.select(col("vec_id"), col("e")).select(col("*") +: subVectors: _*), books)
      .select(col("*") +: ms.map(m =>
        element_at(array(books(m).map(x => lit(x._1)): _*), codePos(m)).as(s"c0_$m")): _*)
    val refined = assigned.select(col("vec_id"),
        explode(array((0 until SubSpaces).map(m => struct(
          lit(m).as("m"), col(s"c0_$m").as("cid"),
          col(s"sv_$m").as("sv"))): _*)).as("z"))
      .select(col("z.m").as("m"), col("z.cid").as("cid"),
        posexplode(col("z.sv")).as(Seq("pos", "v")))
      .groupBy("m", "cid", "pos")
      // exact decimal sum then one double division: association-order-free
      // (the VectorStats dec8 mechanism), so codebooks are bit-identical
      // under any partitioning — q108 rides the partition-invariance law
      .agg(f6(sum(col("v").cast(DecimalType(18, 8))).cast(DoubleType)
        / count(lit(1))).as("cv"))
      .collect()
    val byM = refined.groupBy(_.getInt(0))
    IndexedSeq.tabulate(SubSpaces) { m =>
      byM.getOrElse(m, Array.empty).groupBy(_.getInt(1)).toIndexedSeq
        .sortBy(_._1)
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toIndexedSeq
        }
    }
  }

  /** The query's ADC lookup table (engine-twin arithmetic). */
  private[graft] def lutFor(books: IndexedSeq[IndexedSeq[(Int, IndexedSeq[Double])]],
      qe: IndexedSeq[Double]): IndexedSeq[IndexedSeq[Double]] =
    IndexedSeq.tabulate(SubSpaces) { m =>
      books(m).map { case (_, ce) =>
        f4s(distScala(qe.slice(m * SubDim, m * SubDim + SubDim), ce))
      }
    }

  /** Encode + ADC-score `df` (must carry the double array `e`) in one
    * literal projection: per subspace, argmin against the codebook picks
    * the code position and the LUT entry at that position is the ADC
    * term; the 8 terms sum in exact DECIMAL(18,4) into `adc_dist`. */
  private[graft] def adcScored(df: DataFrame,
      books: IndexedSeq[IndexedSeq[(Int, IndexedSeq[Double])]],
      lut: IndexedSeq[IndexedSeq[Double]]): DataFrame = {
    withAdcDist(literalDistances(df.select(col("*") +: subVectors: _*), books)
      .select(col("*") +: ms.map(m => element_at(array(lut(m).map(lit): _*), codePos(m))
        .as(s"t_$m")): _*))
  }

  /** `sv_m`: subspace m's slice of `e`. Each per-subspace family of
    * columns below is added in ONE projection: a `withColumn` per column
    * re-analyzes the growing plan every time. */
  private def subVectors: Seq[Column] =
    ms.map(m => slice(col("e"), m * SubDim + 1, SubDim).as(s"sv_$m"))

  /** Adds `pd_m`: the f4 distances of `sv_m` to every centroid of book m. */
  private def literalDistances(df: DataFrame,
      books: IndexedSeq[IndexedSeq[(Int, IndexedSeq[Double])]]): DataFrame =
    df.select(col("*") +: ms.map(m => array(books(m).map { case (_, ce) =>
      f4(distTo(col(s"sv_$m"), ce)) }: _*).as(s"pd_$m")): _*)

  /** 1-based position of subspace m's nearest centroid (first minimum). */
  private def codePos(m: Int): Column =
    expr(s"array_position(pd_$m, array_min(pd_$m))").cast(IntegerType)

  /** Adds `adc_dist`: the `t_m` terms summed in exact DECIMAL(18,4). */
  private def withAdcDist(scored: DataFrame): DataFrame =
    scored.withColumn("adc_dist",
      ms.map(m => col(s"t_$m").cast(dec4)).reduce(_ + _).cast(DoubleType))

  /** Conf gate for [[adcScoredBroadcast]]: carry the codebooks + LUT as
    * ONE broadcast model row instead of plan literals. At the test-scale
    * 8x16 model the literal form codegens fine (and stays the default);
    * at production sizes (16 subspaces x 256 centroids, the FAISS
    * standard) literal arrays bloat every generated projection, while
    * the broadcast row ships the model once per executor and the
    * projection's codegen size is model-independent. */
  private[graft] def useBroadcastModel(s: SparkSession): Boolean =
    s.conf.get("spark.graft.pq.broadcastModel", "false").toBoolean

  /** [[adcScored]]'s broadcast-model twin: the model rides as a single
    * broadcast row (m -> centroid coords, m -> LUT terms) cross-joined
    * into the scan — a BroadcastNestedLoopJoin of one row, NOT a
    * shuffle — and the per-subspace encode/score runs over the joined
    * array columns via transform/zip_with/aggregate with the IDENTICAL
    * IEEE op order, f4 floors and first-min tie-break as the literal
    * form, so the two are row-identical (PqSpec twin law). The residual
    * path's per-probed-cell LUT CASE (q109b) stays literal — its LUT
    * count is probe-bounded, not model-sized. */
  private[graft] def adcScoredBroadcast(s: SparkSession, df: DataFrame,
      books: IndexedSeq[IndexedSeq[(Int, IndexedSeq[Double])]],
      lut: IndexedSeq[IndexedSeq[Double]]): DataFrame = {
    val schema = StructType(Seq(
      StructField("bk_ce",
        ArrayType(ArrayType(ArrayType(DoubleType)))),
      StructField("bk_lut", ArrayType(ArrayType(DoubleType)))))
    val row = org.apache.spark.sql.Row(
      books.map(_.map(_._2.toSeq).toSeq).toSeq,
      lut.map(_.toSeq).toSeq)
    val model = s.createDataFrame(
      java.util.Collections.singletonList(row), schema)
    val joined = df.crossJoin(
      graft.BroadcastBounds.bounded("pq-model")(model))
    withAdcDist(joined.select(col("*") +: subVectors: _*)
      .select(col("*") +: ms.map(m => transform(element_at(col("bk_ce"), m + 1),
        ce => f4(aggregate(zip_with(col(s"sv_$m"), ce,
          (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc2, x) => acc2 + x))).as(s"pd_$m")): _*)
      .select(col("*") +: ms.map(m =>
        element_at(element_at(col("bk_lut"), m + 1), codePos(m)).as(s"t_$m")): _*))
      .drop("bk_ce", "bk_lut")
  }

  /** The regime-gated scorer both search paths share. */
  private def adcScoredGated(s: SparkSession, df: DataFrame,
      books: IndexedSeq[IndexedSeq[(Int, IndexedSeq[Double])]],
      lut: IndexedSeq[IndexedSeq[Double]]): DataFrame =
    if (useBroadcastModel(s)) adcScoredBroadcast(s, df, books, lut)
    else adcScored(df, books, lut)

  /** The literal/broadcast twin pair over the full corpus minus the
    * query vector — the PqSpec equality + plan surface. */
  private[graft] def adcTwinFrames(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.register(s)
    val ed = dvecs(s, d)
    val books = trainCodebooks(s, d)
    val qe = ed.filter(col("vec_id") === 0).select(col("e"))
      .head.getSeq[Double](0).toIndexedSeq
    val base = ed.filter(col("vec_id") =!= 0)
    val lut = lutFor(books, qe)
    (adcScored(base, books, lut).select("vec_id", "adc_dist"),
      adcScoredBroadcast(s, base, books, lut)
        .select("vec_id", "adc_dist"))
  }

  /** The exact cosine re-rank of an ADC candidate frame (vec_id,
    * embedding, adc_dist [+ extras]): top-TopK by true similarity. */
  private def reranked(s: SparkSession, d: String, cand: DataFrame,
      extra: Seq[String] = Seq.empty): DataFrame = {
    val qrow = t(s, d, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    cand.crossJoin(graft.BroadcastBounds.bounded("single-query-probe")(qrow))
      .select((Seq(col("vec_id")) ++ extra.map(col) ++ Seq(col("adc_dist"),
        f4(expr("cosine_sim(embedding, qe)")).as("exact_cos"))): _*)
      .orderBy(col("exact_cos").desc, col("vec_id"))
      .limit(TopK)
  }

  /** The full q108 search: train, encode + ADC-score in one projection,
    * exact-re-rank the top candidates. */
  private[graft] def search(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val ed = dvecs(s, d)
    val books = trainCodebooks(s, d)
    val qe = ed.filter(col("vec_id") === 0).select(col("e"))
      .head.getSeq[Double](0).toIndexedSeq
    val cand = adcScoredGated(s, ed.filter(col("vec_id") =!= 0), books,
        lutFor(books, qe))
      .select(col("vec_id"), col("embedding"), col("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(AdcCandidates)
    reranked(s, d, cand)
  }

  /** Q109: the IVF-PQ composition (FAISS IndexIVFPQ's architecture,
    * minus residual encoding — codes are global, documented below):
    * q48's coarse quantizer routes the query to its IvfProbes nearest
    * cells, and ONLY vectors homed in those cells are ADC-scored. q108
    * scans every code (fine at memory scale, 8 bytes/vector, but still
    * O(n) per query); q109's per-query work is O(probes * n / cells) —
    * at sqrt(n) cells and 10^10 vectors, ~4 of ~10^5 cells = a 25,000x
    * smaller scan, the geometry that makes billion-scale ANN serve.
    * In production the code table is partitioned by cell id, so the
    * probe filter IS partition pruning; here it is a pushed filter over
    * the one materialized IVF assignment (the q62 index shape).
    *
    * Global (non-residual) codes trade ~recall for a single codebook
    * shared by every cell — the IVFFlat+PQ variant; residual encoding
    * would subtract each cell centroid before quantizing (per-cell
    * distance tables), a documented extension, not a correctness gap.
    * PqSpec pins cell containment and recall against exact brute force.
    */
  private[graft] def ivfPqSearch(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val ed = dvecs(s, d)
    // the ONE memoized IVF index every cell-probing consumer shares
    // (q48/q62/q68/q97/q103 and this query) — built once per session,
    // the vector-store lifecycle
    val idx = TextSearch.ivfIndexed(s, d).df
    val probed = idx.filter(col("vec_id") === 0)
      .select("cid").collect().map(_.getLong(0)).sorted
    val cand0 = idx.filter(col("rn") === 1 && col("vec_id") =!= 0 &&
        col("cid").isin(probed: _*))
      .select(col("vec_id"), col("cid"))
      .join(ed, "vec_id")
    val books = trainCodebooks(s, d)
    val qe = ed.filter(col("vec_id") === 0).select(col("e"))
      .head.getSeq[Double](0).toIndexedSeq
    val cand = adcScoredGated(s, cand0, books, lutFor(books, qe))
      .select(col("vec_id"), col("cid"), col("embedding"), col("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(AdcCandidates)
    reranked(s, d, cand, extra = Seq("cid"))
  }

  /** Every vector's cell residual: (vec_id, cid = home cell, embedding,
    * e = double(v) - double(float(centroid))) off the ONE memoized IVF
    * index — the arithmetic both engines run verbatim (centroids are
    * 1e-6-rounded floats in both, so the subtraction is double-exact). */
  private[graft] def residuals(s: SparkSession, d: String): DataFrame = {
    val idx = TextSearch.ivfIndexed(s, d)
    val home = idx.df.filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"))
    dvecs(s, d)
      .join(home, "vec_id")
      .join(graft.BroadcastBounds.bounded("ivf-centroids")(idx.cents),
        "cid")
      .withColumn("e", zip_with(col("e"), col("ce"),
        (a, b) => a - b.cast(DoubleType)))
      .select(col("vec_id"), col("cid"), col("embedding"), col("e"))
  }

  /** [[adcScored]] with PER-CELL lookup tables: the code assignment is
    * identical (argmin over the residual codebooks), but the ADC term for
    * a candidate comes from ITS home cell's LUT — the cell chain is a
    * codegen'd CASE over the <= IvfProbes probed cells, still one
    * shuffle-free projection. */
  private[graft] def adcScoredPerCell(df: DataFrame,
      books: IndexedSeq[IndexedSeq[(Int, IndexedSeq[Double])]],
      luts: Seq[(Long, IndexedSeq[IndexedSeq[Double]])]): DataFrame = {
    def term(m: Int): Column = {
      def el(lut: IndexedSeq[IndexedSeq[Double]]): Column =
        element_at(array(lut(m).map(lit): _*), codePos(m))
      luts.tail.foldLeft(when(col("cid") === luts.head._1, el(luts.head._2))) {
        case (acc, (cid, lut)) => acc.when(col("cid") === cid, el(lut))
      }.as(s"t_$m")
    }
    withAdcDist(literalDistances(df.select(col("*") +: subVectors: _*), books)
      .select(col("*") +: ms.map(term): _*))
  }

  /** Q109b: IVF-PQ with RESIDUAL encoding — the full FAISS IndexIVFPQ:
    * each vector quantizes (v - centroid(cell(v))) with codebooks trained
    * on residuals, and the query builds one distance table PER PROBED
    * CELL from its own per-cell residual. Same probe budget as q109;
    * PqSpec pins recall strictly above the global-code variant. */
  private[graft] def ivfPqResidualSearch(s: SparkSession, d: String)
      : DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val idx = TextSearch.ivfIndexed(s, d)
    val books = trainResidualBooks(s, d)
    val probed = idx.df.filter(col("vec_id") === 0)
      .select("cid").collect().map(_.getLong(0)).sorted
    // probed-cell centroids: <= IvfProbes driver rows (the LUT inputs)
    val centOf = idx.cents.filter(col("cid").isin(probed: _*))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toIndexedSeq).toMap
    val qe = dvecs(s, d).filter(col("vec_id") === 0).select(col("e"))
      .head.getSeq[Double](0).toIndexedSeq
    val luts = probed.toIndexedSeq.map { cid =>
      val qr = qe.zip(centOf(cid)).map { case (a, b) => a - b }
      cid -> lutFor(books, qr)
    }
    val cand0 = residuals(s, d)
      .filter(col("vec_id") =!= 0 && col("cid").isin(probed: _*))
    val cand = adcScoredPerCell(cand0, books, luts)
      .select(col("vec_id"), col("cid"), col("embedding"), col("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(AdcCandidates)
    reranked(s, d, cand, extra = Seq("cid"))
  }

  /** Oracle-side training chain, GENERATED from [[TrainIters]]:
    * `${p}ref0` = the seed codebooks (from `${p}seeds(m, idCol, sc)`),
    * then per Lloyd step the assignment / exact-decimal-mean / re-list
    * CTEs, ending at [[finalRef]] — the codebook table the code
    * assignment and LUT join. Mirrors [[trainOn]] step for step. */
  private def TRAIN_CTES(p: String, subs: String, idCol: String): String = {
    val seeds = s"${p}ref0 AS (SELECT m, $idCol, sc AS ce FROM ${p}seeds)"
    val iters = (1 to TrainIters).map { i =>
      s"""${p}asn$i AS (SELECT vec_id, m, $idCol FROM (
         |    SELECT s.vec_id, s.m, r.$idCol,
         |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY ${F4(DIST("s.sv", "r.ce"))}, r.$idCol) AS rn
         |    FROM $subs s JOIN ${p}ref${i - 1} r ON r.m = s.m) x
         |  WHERE rn = 1),
         |${p}pcs$i AS (SELECT a.m, a.$idCol,
         |    unnest(generate_series(1, $SubDim)) AS pos, unnest(s.sv) AS v
         |  FROM ${p}asn$i a
         |  JOIN $subs s ON s.vec_id = a.vec_id AND s.m = a.m),
         |${p}mn$i AS (SELECT m, $idCol, pos,
         |    ${F6("CAST(SUM(CAST(v AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*)")}
         |      AS cv
         |  FROM ${p}pcs$i GROUP BY m, $idCol, pos),
         |${p}ref$i AS (SELECT m, $idCol, list(cv ORDER BY pos) AS ce
         |  FROM ${p}mn$i GROUP BY m, $idCol)""".stripMargin
    }
    (seeds +: iters).mkString(",\n")
  }
  private def finalRef(p: String): String = s"${p}ref$TrainIters"

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q108_pq_ann",
      (s, d) => search(s, d),
      Some(s"""WITH env AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
             |    FROM embeddings WHERE embedding IS NOT NULL),
             |ms AS (SELECT UNNEST(generate_series(0, ${SubSpaces - 1})) AS m),
             |subs AS (SELECT vec_id, m,
             |    e[m*$SubDim+1 : m*$SubDim+$SubDim] AS sv
             |  FROM env CROSS JOIN ms),
             |seeds AS (SELECT m, vec_id AS cid, sv AS sc FROM subs
             |  WHERE vec_id < $CodebookK),
             |${TRAIN_CTES("", "subs", "cid")},
             |codes AS (SELECT vec_id, m, cid FROM (
             |    SELECT s.vec_id, s.m, r.cid,
             |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
             |        ORDER BY ${F4(DIST("s.sv", "r.ce"))}, r.cid) AS rn
             |    FROM subs s JOIN ${finalRef("")} r ON r.m = s.m) x
             |  WHERE rn = 1),
             |qs AS (SELECT m, sv FROM subs WHERE vec_id = 0),
             |lut AS (SELECT r.m, r.cid, ${F4(DIST("q.sv", "r.ce"))} AS qd
             |  FROM ${finalRef("")} r JOIN qs q ON q.m = r.m),
             |adc AS (SELECT c.vec_id,
             |    CAST(SUM(CAST(l.qd AS DECIMAL(18,4))) AS DOUBLE) AS adc_dist
             |  FROM codes c JOIN lut l ON l.m = c.m AND l.cid = c.cid
             |  WHERE c.vec_id <> 0 GROUP BY c.vec_id),
             |cand AS (SELECT vec_id, adc_dist FROM adc
             |  ORDER BY adc_dist, vec_id LIMIT $AdcCandidates),
             |qv AS (SELECT e FROM env WHERE vec_id = 0)
             |SELECT c.vec_id AS vec_id, c.adc_dist AS adc_dist,
             |  ${F4("list_cosine_similarity(e.e, (SELECT e FROM qv))")}
             |    AS exact_cos
             |FROM cand c JOIN env e ON e.vec_id = c.vec_id
             |ORDER BY exact_cos DESC, vec_id LIMIT $TopK""".stripMargin)),

    QueryDef("q109_ivf_pq_ann",
      (s, d) => ivfPqSearch(s, d),
      Some(s"""WITH ${TextSearch.IVF_CELLS_SQL},
             |probed AS (SELECT cid FROM assigned
             |  WHERE vec_id = 0 AND rn <= ${TextSearch.IvfProbes}),
             |candv AS (SELECT c.vec_id, c.cid FROM cells c
             |  JOIN probed p USING (cid) WHERE c.vec_id <> 0),
             |penv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
             |  FROM env),
             |pms AS (SELECT UNNEST(generate_series(0, ${SubSpaces - 1})) AS m),
             |psubs AS (SELECT vec_id, m,
             |    e[m*$SubDim+1 : m*$SubDim+$SubDim] AS sv
             |  FROM penv CROSS JOIN pms),
             |pseeds AS (SELECT m, vec_id AS pcid, sv AS sc FROM psubs
             |  WHERE vec_id < $CodebookK),
             |${TRAIN_CTES("p", "psubs", "pcid")},
             |pcodes AS (SELECT vec_id, m, pcid FROM (
             |    SELECT s.vec_id, s.m, r.pcid,
             |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
             |        ORDER BY ${F4(DIST("s.sv", "r.ce"))}, r.pcid) AS rn
             |    FROM psubs s JOIN ${finalRef("p")} r ON r.m = s.m) x
             |  WHERE rn = 1),
             |pqs AS (SELECT m, sv FROM psubs WHERE vec_id = 0),
             |plut AS (SELECT r.m, r.pcid, ${F4(DIST("q.sv", "r.ce"))} AS qd
             |  FROM ${finalRef("p")} r JOIN pqs q ON q.m = r.m),
             |padc AS (SELECT c.vec_id,
             |    CAST(SUM(CAST(l.qd AS DECIMAL(18,4))) AS DOUBLE) AS adc_dist
             |  FROM pcodes c
             |  JOIN plut l ON l.m = c.m AND l.pcid = c.pcid
             |  JOIN candv cv ON cv.vec_id = c.vec_id
             |  GROUP BY c.vec_id),
             |pcand AS (SELECT a.vec_id, cv.cid, a.adc_dist
             |  FROM padc a JOIN candv cv USING (vec_id)
             |  ORDER BY adc_dist, vec_id LIMIT $AdcCandidates),
             |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM env
             |  WHERE vec_id = 0)
             |SELECT p.vec_id AS vec_id, p.cid AS cid, p.adc_dist AS adc_dist,
             |  ${F4("list_cosine_similarity(e.e, (SELECT e FROM qv))")}
             |    AS exact_cos
             |FROM pcand p JOIN penv e USING (vec_id)
             |ORDER BY exact_cos DESC, vec_id LIMIT $TopK""".stripMargin)),

    QueryDef("q109b_ivf_pq_residual",
      (s, d) => ivfPqResidualSearch(s, d),
      Some(s"""WITH ${TextSearch.IVF_CELLS_SQL},
             |refd AS (SELECT cid, CAST(ce AS DOUBLE[]) AS cv FROM refined),
             |rvenv AS (SELECT c.vec_id, c.cid,
             |    CAST(c.embedding AS DOUBLE[]) AS ev, r.cv
             |  FROM cells c JOIN refd r USING (cid)),
             |rv AS (SELECT vec_id, cid,
             |    list_transform(generate_series(1, len(ev)),
             |      i -> ev[i] - cv[i]) AS e
             |  FROM rvenv),
             |pms AS (SELECT UNNEST(generate_series(0, ${SubSpaces - 1})) AS m),
             |psubs AS (SELECT vec_id, cid, m,
             |    e[m*$SubDim+1 : m*$SubDim+$SubDim] AS sv
             |  FROM rv CROSS JOIN pms),
             |pseeds AS (SELECT m, vec_id AS pcid, sv AS sc FROM psubs
             |  WHERE vec_id < $CodebookK),
             |${TRAIN_CTES("p", "psubs", "pcid")},
             |pcodes AS (SELECT vec_id, m, pcid FROM (
             |    SELECT s.vec_id, s.m, r.pcid,
             |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
             |        ORDER BY ${F4(DIST("s.sv", "r.ce"))}, r.pcid) AS rn
             |    FROM psubs s JOIN ${finalRef("p")} r ON r.m = s.m) x
             |  WHERE rn = 1),
             |probedq AS (SELECT cid FROM assigned
             |  WHERE vec_id = 0 AND rn <= ${TextSearch.IvfProbes}),
             |qvv AS (SELECT CAST(embedding AS DOUBLE[]) AS ev FROM env
             |  WHERE vec_id = 0),
             |qres AS (SELECT p.cid,
             |    list_transform(generate_series(1, len(q.ev)),
             |      i -> q.ev[i] - r.cv[i]) AS e
             |  FROM probedq p JOIN refd r USING (cid) CROSS JOIN qvv q),
             |qsubs AS (SELECT cid, m, e[m*$SubDim+1 : m*$SubDim+$SubDim] AS sv
             |  FROM qres CROSS JOIN pms),
             |plut AS (SELECT q.cid, r.m, r.pcid,
             |    ${F4(DIST("q.sv", "r.ce"))} AS qd
             |  FROM ${finalRef("p")} r JOIN qsubs q ON q.m = r.m),
             |candv AS (SELECT vec_id, cid FROM cells
             |  WHERE vec_id <> 0 AND cid IN (SELECT cid FROM probedq)),
             |padc AS (SELECT c.vec_id, cv.cid,
             |    CAST(SUM(CAST(l.qd AS DECIMAL(18,4))) AS DOUBLE) AS adc_dist
             |  FROM pcodes c JOIN candv cv USING (vec_id)
             |  JOIN plut l ON l.cid = cv.cid AND l.m = c.m
             |    AND l.pcid = c.pcid
             |  GROUP BY c.vec_id, cv.cid),
             |pcand AS (SELECT vec_id, cid, adc_dist FROM padc
             |  ORDER BY adc_dist, vec_id LIMIT $AdcCandidates)
             |SELECT p.vec_id AS vec_id, p.cid AS cid, p.adc_dist AS adc_dist,
             |  ${F4("list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), (SELECT ev FROM qvv))")}
             |    AS exact_cos
             |FROM pcand p JOIN env e USING (vec_id)
             |ORDER BY exact_cos DESC, vec_id LIMIT $TopK""".stripMargin)))
}
