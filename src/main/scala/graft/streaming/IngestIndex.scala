package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Bucketed, manifest-tracked, GC'd, SELF-SPLITTING storage for q104's
  * persistent ingest index (and q86's keyed state table, q114's vector
  * index) — the fix for the r12 verdict's one scale-killer: the old
  * layout rewrote EVERY index table per micro-batch (write IO
  * O(distinct corpus), version dirs accumulating O(batches x index)).
  *
  * Layout: each table is hash-bucketed on its key into write partitions
  * (`partitionBy("bkt")` on write — a directory per bucket). A
  * micro-batch's merge REWRITES ONLY the buckets its keys fall in: the
  * version dir `v(k+1)` holds just those buckets' new data plus a
  * `manifest` file mapping EVERY live bucket to the version whose copy
  * is current (untouched buckets keep pointing at older versions — the
  * Delta/Iceberg add-file idea with the bucket as the file group).
  * Per-batch write IO is therefore O(touched buckets' data), not
  * O(index); a key-skewed trigger touches few buckets and pays for few.
  *
  * BUCKET SPLITTING (r14): per-trigger write IO stays BATCH-proportional
  * only while the BUCKET BYTE SIZE is held to a fixed target — bucket
  * COUNT must grow with the index (the Delta/Iceberg file model). The
  * key space is extendible-hash partitioned: a bucket `b` at generation
  * `g` covers keys with `hash mod B0*2^g == b`; when its live bytes
  * reach [[splitBytes]] the NEXT merge that touches it writes its data
  * (plus the batch delta) as the two gen-(g+1) children `b` and
  * `b + B0*2^g` instead — no extra IO beyond the rewrite that batch was
  * paying anyway, and the manifest absorbs the mixed generations (each
  * entry records its bucket's gen). The split decision reads only
  * manifest-v(k) state (the PREVIOUS live size), so a replayed trigger
  * makes the same choice — replay stays byte-identical.
  *
  * Key-to-bucket assignment under mixed generations ([[bucketCol]]):
  * try the FINEST modulus first — for each live generation g (finest to
  * coarsest), candidate `pmod(hash, B0*2^g)`; the first candidate that
  * is a live gen-g bucket id wins, else fall through to gen 0. Because
  * the live bucket set is split-tree-closed (children fully replace
  * their parent) the covers partition the key space, and a candidate
  * matching a gen-g id always IS the covering bucket: a match at gen g
  * means `hash ≡ id (mod B0*2^g)`, which is exactly that bucket's
  * cover. One codegen'd expression (a few pmods + IN lists), shared by
  * writes, probe pruning and merge pruning, so they can never disagree.
  *
  * Reads go through the manifest: group live buckets by source version,
  * scan each `v{src}/{table}` with `bkt IN (...)` — a partition filter
  * that prunes untouched bucket DIRECTORIES at the file listing — and
  * union. A probe that only needs the batch's own key buckets passes
  * `wanted` and reads a bounded slice of the index.
  *
  * GC: after `v(k+1)` commits, any version dir older than `v(k)` that no
  * bucket of manifests `v(k)` OR `v(k+1)` references is deleted — v(k)
  * stays readable because a crash before the stream checkpoint commits
  * replays batch k against it (the foreachBatch exactly-once recipe, now
  * with bounded storage: live bytes = one copy of each bucket, live
  * version dirs <= buckets + 2, independent of stream age).
  *
  * Replay safety: batch k always READS through manifest `v(k)` and
  * OVERWRITES `v(k+1)` (data + manifest) at deterministic paths, so a
  * replayed trigger rebuilds byte-identical state — the merge never reads
  * its own partial output.
  */
object IngestIndex {

  /** The q104 index's three tables. */
  val Tables: Seq[String] = Seq("fp", "band", "sig")

  /** One live bucket: the version holding its current copy and its
    * generation in the split tree (gen g ⇒ the bucket covers keys with
    * `hash mod B0*2^g == id`; gen 0 ids are the base buckets). */
  case class Bkt(ver: Long, gen: Int)

  /** Sentinel version for a LIVE-BUT-EMPTY split bucket (a gen>0 child
    * all of whose keys landed in its sibling, or one a delete emptied).
    * Such buckets MUST keep their manifest entry: [[bucketCol]]'s
    * covering argument requires the live set to be split-tree-closed —
    * dropping an empty child would route its cover's keys back to the
    * BASE id at gen 0, and re-splitting that recreated base would reuse
    * the still-live sibling's id and orphan its data (the r14 review's
    * reproduced data-loss sequence). Gen-0 empties may still drop: their
    * fallback IS themselves, so closure is unaffected. Readers skip
    * sentinel entries (no dir exists for this version). */
  val EmptyVer: Long = Long.MinValue

  /** BASE write-partition count B0. Test-scale 16. Growth beyond B0 is
    * [[splitBytes]]-driven splitting, not this knob. */
  def numBuckets(spark: SparkSession): Int =
    spark.conf.get("spark.graft.ingest.indexBuckets", "16").toInt

  /** Live-byte threshold at which a bucket splits into its two
    * next-generation children on the next merge that touches it. The
    * production default (128 MB) keeps per-trigger write IO bounded by
    * ~touched-keys x 128 MB regardless of index size; specs shrink it
    * to exercise multi-generation splits at test scale. */
  def splitBytes(spark: SparkSession): Long =
    spark.conf.get("spark.graft.ingest.splitBytes",
      (128L * 1024 * 1024).toString).toLong

  /** Live version-dir count above which [[maybeCompact]] folds the tail
    * (0 disables). GC already bounds dirs to <= live buckets + 2; this
    * bounds them to a constant on high-bucket-count stores. */
  def autoCompactVersions(spark: SparkSession): Int =
    spark.conf.get("spark.graft.ingest.autoCompactVersions", "64").toInt

  /** The split generation of each live bucket that has one (ids absent
    * are unsplit gen-0 buckets) — the topology [[bucketCol]] needs. */
  def gensOf(m: Manifest, table: String): Map[Int, Int] =
    m.getOrElse(table, Map.empty[Int, Bkt])
      .collect { case (b, e) if e.gen > 0 => b -> e.gen }

  /** The key column(s) of each store table — the bucket hash input, the
    * MERGE key, and the deletion-vector join key, from ONE registry so
    * they can never disagree. Built-in table names are compile-time;
    * SQL-created tables (r18, `CREATE TABLE ... USING graft`) register
    * through [[registerKeyCols]]. */
  def keyColsFor(table: String): Seq[String] = table match {
    case "fp" => Seq("fp")
    case "band" => Seq("b", "bv")
    case "sig" => Seq("doc_id")
    case "state" => Seq("user_id")
    case "vec" => Seq("vec_id")
    case "view" => Seq("nation")
    case "dim" => Seq("mk")
    // a deletion-vector side table is keyed by ITS BASE TABLE's key, so
    // a tombstone and the row it hides always share a bucket formula
    case dv if dv.endsWith(DvSuffix) => keyColsFor(dv.stripSuffix(DvSuffix))
    case other => Option(dynamicKeyCols.get(other)).getOrElse(
      throw new IllegalArgumentException(
        s"unknown ingest-index table: $other"))
  }

  /** Built-in table names whose keys are compile-time facts above —
    * dynamic registration must never shadow them. */
  private val BuiltinTables =
    Set("fp", "band", "sig", "state", "vec", "view", "dim")

  private val dynamicKeyCols =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  /** Register a SQL-created table's key columns (r18). Idempotent for
    * equal keys; refuses to shadow a built-in name or REBIND a live
    * name to different keys — every reader/writer of a table must use
    * one bucket formula, or probes and layouts silently disagree. */
  def registerKeyCols(table: String, keys: Seq[String]): Unit = {
    require(keys.nonEmpty, s"table '$table' needs at least one key column")
    require(!BuiltinTables(table) && !table.endsWith(DvSuffix),
      s"'$table' is a built-in store table name (or a DV suffix) — " +
        "SQL-created tables must use a fresh name")
    val prev = dynamicKeyCols.putIfAbsent(table, keys)
    require(prev == null || prev == keys,
      s"table '$table' is already registered with keys " +
        s"(${Option(prev).getOrElse(Nil).mkString(", ")}) — cannot " +
        s"rebind to (${keys.mkString(", ")}) in one process")
  }

  def unregisterKeyCols(table: String): Unit = {
    dynamicKeyCols.remove(table)
    ()
  }

  private def hashFor(table: String): Column =
    xxhash64(keyColsFor(table).map(col): _*)

  /** Manifest-table suffix of a base table's DELETION VECTOR side table
    * (`state` -> `state__dv`). */
  val DvSuffix = "__dv"

  /** The DV side table of `table`. */
  def dvTable(table: String): String = table + DvSuffix

  /** The bucket of each table's key under topology (`n` base buckets,
    * `gens` = split buckets' generations) — ONE formula shared by
    * writes, probe pruning and merge pruning, so they can never
    * disagree. Finest-modulus-first: see the object doc for why the
    * first per-generation match is always the covering bucket. */
  def bucketCol(table: String, n: Int,
      gens: Map[Int, Int] = Map.empty): Column = {
    val h = hashFor(table)
    val base = pmod(h, lit(n.toLong)).cast(IntegerType)
    if (gens.isEmpty) base
    else {
      val cands = gens.groupBy(_._2).toSeq.sortBy(-_._1)
        .map { case (g, ids) =>
          val c = pmod(h, lit(n.toLong << g)).cast(IntegerType)
          when(c.isInCollection(ids.keys.toSeq), c)
        }
      coalesce(cands :+ base: _*)
    }
  }

  /** Split-bucket-id count above which [[assignBucket]] switches from the
    * plan-literal [[bucketCol]] expression to the broadcast topology map.
    * The literal form inlines every gen>0 id into the plan (InSet lists):
    * fine to ~10^5 ids, but at 10^6+ live split buckets (a ~100 TB store
    * at the 128 MB bucket target) the per-trigger plan payload and
    * codegen size grow with the STORE — the broadcast form ships the ids
    * once per executor as ordinary join data instead (the broadcast-ADC
    * pattern applied to the store topology). Default is high enough that
    * every test-scale store keeps the literal plan. */
  def topologyBroadcastMinIds(spark: SparkSession): Int =
    spark.conf.get("spark.graft.ingest.topologyBroadcastMinIds",
      "65536").toInt

  /** `df` plus its `bkt` bucket assignment under the topology — SAME
    * assignment law as [[bucketCol]] (finest-modulus-first, fall through
    * to gen 0), representation chosen by topology size: small topologies
    * inline the id lists (one codegen'd expression, zero joins); past
    * [[topologyBroadcastMinIds]] split ids, each live generation's id
    * set rides as a BROADCAST hash join on the candidate modulus — one
    * bounded join per live generation (generation count grows as
    * log2(store growth), so a handful even at extreme scale), plan
    * payload independent of bucket count. `IngestIndexSpec` pins
    * literal == broadcast row for row. */
  def assignBucket(df: DataFrame, table: String, n: Int,
      gens: Map[Int, Int] = Map.empty): DataFrame = {
    val spark = df.sparkSession
    if (gens.size < topologyBroadcastMinIds(spark))
      df.withColumn("bkt", bucketCol(table, n, gens))
    else {
      import spark.implicits._
      val byGen = gens.groupBy(_._2).toSeq.sortBy(-_._1) // finest first
      var out = df.withColumn("__h", hashFor(table))
      val arms = byGen.map { case (g, ids) =>
        val name = s"__t$g"
        val cand = pmod(col("__h"), lit(n.toLong << g)).cast(IntegerType)
        val idsDf = ids.keys.toSeq.toDF(name)
        out = out.join(
          graft.BroadcastBounds.bounded("store-topology")(idsDf),
          cand === col(name), "left")
        when(col(name).isNotNull, col(name))
      }
      val base = pmod(col("__h"), lit(n.toLong)).cast(IntegerType)
      out.withColumn("bkt", coalesce(arms :+ base: _*))
        .drop("__h" +: byGen.map { case (g, _) => s"__t$g" }: _*)
    }
  }

  /** table -> (bucket id -> its live [[Bkt]] entry). */
  type Manifest = Map[String, Map[Int, Bkt]]

  private def manifestPath(stateDir: String, v: Long) =
    new Path(s"$stateDir/v$v/manifest")

  /** DELTA MANIFESTS (r16) — the r15 verdict's remaining O(buckets)
    * driver term: the manifest used to be one text file with a line per
    * LIVE bucket, fully rewritten every trigger, so at the projected
    * 10^6 buckets (a ~100 TB store at the 128 MB bucket target) the
    * driver parsed AND rewrote tens of MB of text per micro-batch. The
    * Iceberg manifest-list idea, applied to this layout: a commit whose
    * diff against its parent manifest is small writes a DELTA file —
    * only the touched buckets' entries plus `-` tombstones for dropped
    * ones, headed by `#delta <parentVersion> <depth>` — and every
    * [[DefaultManifestFoldEvery]] commits (or whenever the diff stops
    * being smaller than the full map) the chain FOLDS into a full base.
    * Per-trigger driver WRITE IO is O(touched buckets); resolution walks
    * the chain once and is memoized per (dir, version, mtime, length)
    * in-process, so steady-state READ IO is O(new delta) per trigger
    * too — the base is parsed once per fold epoch per JVM.
    *
    * Contracts preserved exactly:
    *   - REPLAY: parent choice is "latest version below v with a
    *     manifest", deterministic under replay (the replayed trigger
    *     sees the same committed set below v), and the diff of the same
    *     map against the same parent serializes to the same sorted
    *     bytes.
    *   - GC: a delta is only readable while its chain lives, so [[gc]]
    *     protects every retained manifest's TRANSITIVE chain parents
    *     (the `chain` field below) exactly like referenced data dirs.
    *   - FORMAT COMPAT: base files are byte-identical to the pre-r16
    *     format; stores written by older rounds read back unchanged.
    *
    * Single-writer per store (the existing contract): the memo cache
    * assumes manifests only change through this object's writers —
    * [[writeManifest]] and [[gc]] update/invalidate it in-process. */
  val DefaultManifestFoldEvery: Int = 8

  /** A resolved manifest: the overlaid map, its delta depth (0 = base),
    * every version whose manifest file participates in the chain
    * (v itself plus transitive parents) — what GC must keep alive — and
    * the commit's OPERATION tag (r17: DESCRIBE HISTORY provenance; old
    * manifests without a `#op` header read back as "commit"). */
  private[streaming] case class Resolved(m: Manifest, depth: Int,
      chain: Set[Long], op: String)

  /** Leading bytes of the manifest file stored alongside the memo entry
    * (r17, advisor fix): (mtime, length) alone cannot distinguish a
    * compaction repoint observed by an OUT-OF-BAND reader JVM on a
    * filesystem with coarse mtime granularity when the lengths happen to
    * coincide — the rewrite changes every data reference (and the `#op`
    * tag), so the first bytes always differ. Validating the prefix costs
    * one small read per resolution, negligible against the parse it
    * saves on the (large) base. */
  private val MemoPrefixBytes = 128

  private val MemoMaxEntries = 4096

  /** (dir, v) -> (manifest mtime, length, content prefix, resolved) —
    * stat+prefix-validated so a replay's byte-identical rewrite (new
    * mtime) just re-reads, and a compaction's repoint (new content) can
    * never serve stale, even cross-JVM.
    *
    * Memory: a delta's resolved map is built with persistent-map `+`/`-`
    * on its parent's, so chain entries SHARE structure — a store's memo
    * footprint is O(one base + the retained deltas), not O(versions ×
    * buckets). Eviction is LRU per entry (r17, was a global clear): a
    * hot production store's resolutions survive any number of cold
    * per-query temp stores churning through the cache; [[gc]] still
    * evicts deleted versions' entries eagerly. */
  private val manifestMemo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String,
        (Long, Long, Array[Byte], Resolved)](256, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String,
            (Long, Long, Array[Byte], Resolved)]): Boolean =
        size() > MemoMaxEntries
    })

  /** Whether (dir, v) currently has a live memo entry — spec
    * observability for the LRU law; never used by the engine itself. */
  private[streaming] def memoCached(stateDir: String, v: Long): Boolean =
    manifestMemo.containsKey(memoKey(stateDir, v))

  private def memoKey(stateDir: String, v: Long) = s"$stateDir#v$v"

  /** Parquet-schema memo for VERSION DIRS, which are immutable once their
    * manifest commits (replayed triggers rewrite byte-identical content —
    * the exactly-once contract). Without it every `spark.read.parquet` of
    * a version dir runs a one-task schema-inference job: a changes scan
    * over a 4-commit store paid ~13 such jobs per consumer batch (~25 ms
    * job + ~50-100 ms scheduling gap each — measured in q144, guide §1).
    * LRU-bounded like the manifest memo; keys are dir paths, so renames
    * and compaction epochs (new paths) can never serve stale schemas. */
  private val schemaMemo = new graft.SchemaMemo(MemoMaxEntries)

  /** Read an immutable version dir with its memoized schema. */
  private def readVersionDir(spark: SparkSession, path: String): DataFrame =
    schemaMemo.read(spark, path, key = path)

  private def prefixOf(bytes: Array[Byte]): Array[Byte] =
    bytes.take(MemoPrefixBytes)

  /** Resolve version `v`'s manifest through its delta chain; None when
    * no manifest file exists at `v`. */
  private[streaming] def resolveManifest(fs: FileSystem, stateDir: String,
      v: Long): Option[Resolved] = {
    val p = manifestPath(stateDir, v)
    if (!fs.exists(p)) return None
    val st = fs.getFileStatus(p)
    val k = memoKey(stateDir, v)
    val hit = manifestMemo.get(k)
    if (hit != null && hit._1 == st.getModificationTime
      && hit._2 == st.getLen) {
      // the prefix probe exists for OBJECT STORES whose mtime is too
      // coarse to distinguish an out-of-band repoint that preserved
      // (mtime, length) — there it costs one small GET per resolution,
      // negligible against the base parse it saves. On the local scheme
      // mtime is millisecond-precise and every rewrite runs Spark jobs
      // apart, so (mtime, length) already invalidates correctly —
      // probing would pay an open+read on EVERY steady-state hit for
      // nothing (r17 advisor finding). HDFS mtime is ms-precise too.
      if (fs.getScheme == "file" || fs.getScheme == "hdfs")
        return Some(hit._4)
      // stat matched — confirm the content prefix before serving (an
      // out-of-band repoint can preserve (mtime, length) on a coarse
      // filesystem; it cannot preserve the leading bytes)
      val want = math.min(hit._2, MemoPrefixBytes.toLong).toInt
      val buf = new Array[Byte](want)
      val in = fs.open(p)
      try in.readFully(0L, buf) finally in.close()
      if (java.util.Arrays.equals(buf, hit._3)) return Some(hit._4)
    }
    val in = fs.open(p)
    val raw = try {
      val bos = new java.io.ByteArrayOutputStream()
      val b = new Array[Byte](8192)
      var n = in.read(b)
      while (n >= 0) { bos.write(b, 0, n); n = in.read(b) }
      bos.toByteArray
    } finally in.close()
    val text = new String(raw, "UTF-8")
    val all = text.linesIterator.filter(_.nonEmpty).toSeq
    // `#op <tag>` (r17): commit provenance for DESCRIBE HISTORY. Old
    // manifests carry no tag and read back as "commit"; the tag line is
    // part of the committed bytes, so a replayed trigger (same verb)
    // rewrites it identically.
    val op = all.headOption.filter(_.startsWith("#op\t"))
      .map(_.stripPrefix("#op\t")).getOrElse(DefaultOp)
    val lines = all.filterNot(_.startsWith("#op\t"))
    val res = lines.headOption match {
      case Some(h) if h.startsWith("#delta\t") =>
        val (parent, depth) = h.split('\t') match {
          case Array(_, pv, d) => (pv.toLong, d.toInt)
          case _ => throw new IllegalStateException(
            s"torn delta-manifest header in $p: '$h'")
        }
        // writers only ever chain DOWNWARD (parent = latest committed
        // below v), so any other reference is corruption — and the
        // strict descent makes the recursion provably terminate (no
        // cycle can survive a corrupt header pointing upward/at itself)
        if (parent >= v) throw new IllegalStateException(
          s"corrupt delta-manifest header in $p: parent v$parent does " +
            s"not precede v$v")
        val base = resolveManifest(fs, stateDir, parent).getOrElse(
          throw new IllegalStateException(
            s"torn manifest chain under $stateDir: v$v's delta " +
              s"references missing parent manifest v$parent (was its " +
              "version dir deleted outside gc?)"))
        var m = base.m
        lines.tail.foreach { line =>
          line.split('\t') match {
            case Array(t, b, "-") =>
              val nb = m.getOrElse(t, Map.empty[Int, Bkt]) - b.toInt
              m = if (nb.isEmpty) m - t else m + (t -> nb)
            case Array(t, b, ver, gen) =>
              m += t -> (m.getOrElse(t, Map.empty[Int, Bkt])
                + (b.toInt -> Bkt(ver.toLong, gen.toInt)))
            case _ => throw new IllegalStateException(
              s"torn delta-manifest line in $p: '$line'")
          }
        }
        Resolved(m, depth, base.chain + v, op)
      case _ =>
        val m = lines.map { line =>
          line.split('\t') match {
            case Array(t, b, ver, gen) =>
              (t, b.toInt, Bkt(ver.toLong, gen.toInt))
            case Array(t, b, ver) => (t, b.toInt, Bkt(ver.toLong, 0))
            case _ => throw new IllegalStateException(
              s"torn manifest line in $p: '$line'")
          }
        }.groupBy(_._1)
          .map { case (t, rows) => t -> rows.map(r => r._2 -> r._3).toMap }
        Resolved(m, 0, Set(v), op)
    }
    manifestMemo.put(k,
      (st.getModificationTime, st.getLen, prefixOf(raw), res))
    Some(res)
  }

  /** The operation tag legacy (pre-r17) manifests read back as. */
  val DefaultOp = "commit"

  /** This JVM's process token, embedded in manifest staging names so the
    * orphan sweep can distinguish its own in-flight files from a rival
    * process's (r18, advisor fix). */
  private val jvmToken = s"p${ProcessHandle.current().pid()}"

  /** The manifest committed at version `v`; empty when none exists (the
    * batch-0 probe against an empty index). */
  def readManifest(fs: FileSystem, stateDir: String, v: Long): Manifest =
    resolveManifest(fs, stateDir, v).map(_.m).getOrElse(Map.empty)

  private def baseLines(m: Manifest): Seq[String] =
    for {
      (t, bkts) <- m.toSeq.sortBy(_._1)
      (b, e) <- bkts.toSeq.sortBy(_._1)
    } yield s"$t\t$b\t${e.ver}\t${e.gen}"

  /** Strip the `#op` header for conflict-equality comparison: the
    * provenance tag is metadata about the commit, not the commit — a
    * replay by r17+ code of a trigger originally committed by pre-tag
    * code must still read as byte-equivalent. */
  private def sansOp(text: String): String =
    text.linesIterator.filterNot(_.startsWith("#op\t")).mkString("\n")

  /** STRIPED in-process commit locks: same-JVM committers racing one
    * (store, version) fully serialize through the adjudication, so the
    * cross-process CAS below is only ever exercised by genuinely
    * separate writers. A fixed stripe count (vs a per-key map) bounds
    * the footprint by construction — two distinct stores sharing a
    * stripe merely over-serialize, never mis-serialize. */
  private val commitLocks = Array.fill(64)(new Object)
  private def commitLock(key: String): Object =
    commitLocks(math.floorMod(key.hashCode, commitLocks.length))

  /** Commit version `v`'s manifest (deterministic content: sorted
    * lines, so a replayed trigger rewrites byte-identical bytes) — as a
    * DELTA against the latest committed manifest below `v` when the
    * chain policy allows (see the delta-manifest doc above), else as a
    * full base. `foldEvery` <= 1 forces a base every commit (the pre-r16
    * behavior). `op` is the commit's operation tag (r17), surfaced by
    * [[describeHistory]] — part of the committed bytes, so a replayed
    * trigger (same verb) rewrites it identically.
    *
    * TRUE CAS CONCURRENCY (r17; r16 was check-then-act): the commit
    * primitive for a NOT-YET-COMMITTED version is atomic
    * fail-if-destination-exists — a hard link on the local scheme
    * (link(2) returns EEXIST atomically in the kernel) and
    * rename-without-OVERWRITE elsewhere — so two genuinely concurrent
    * writers racing a first commit cannot both win: exactly one lands,
    * the loser falls into the adjudication below. Same-JVM racers
    * additionally serialize on a per-(store, version) monitor.
    * Adjudication (the failure/overwrite path): byte-equal content
    * (modulo the op tag) is a replay and re-commits idempotently via
    * rename-with-OVERWRITE (refreshing the mtime, which can only EXTEND
    * wall-clock retention); [[compact]]'s repoint declares itself via
    * `repoint = true`; a replayed trigger overwriting a crashed
    * compaction's repointed manifest is recognized by the repoint's
    * all-negative-epoch signature; anything else throws — Delta's
    * version-conflict semantics: the loser's data dirs would be
    * referenced by nothing and its commit silently lost. */
  def writeManifest(fs: FileSystem, stateDir: String, v: Long,
      m: Manifest, foldEvery: Int = DefaultManifestFoldEvery,
      repoint: Boolean = false, op: String = DefaultOp): Unit = {
    require(!op.contains('\n') && !op.contains('\t'),
      s"manifest op tag must be a plain token: '$op'")
    val full = baseLines(m)
    val lines: Seq[String] =
      if (foldEvery <= 1) full
      else {
        val root = new Path(stateDir)
        val parent: Option[(Long, Resolved)] =
          if (!fs.exists(root)) None
          else fs.listStatus(root).map(_.getPath.getName)
            .filter(_.matches("v-?\\d+")).map(_.drop(1).toLong)
            .filter(_ < v).sorted(Ordering[Long].reverse).iterator
            .flatMap(p => resolveManifest(fs, stateDir, p).map(p -> _))
            .nextOption()
        parent match {
          case Some((pv, pr)) if pr.depth + 1 < foldEvery =>
            val ups = for {
              (t, bkts) <- m.toSeq.sortBy(_._1)
              (b, e) <- bkts.toSeq.sortBy(_._1)
              if !pr.m.get(t).flatMap(_.get(b)).contains(e)
            } yield s"$t\t$b\t${e.ver}\t${e.gen}"
            val tombs = for {
              (t, bkts) <- pr.m.toSeq.sortBy(_._1)
              (b, _) <- bkts.toSeq.sortBy(_._1)
              if !m.get(t).exists(_.contains(b))
            } yield s"$t\t$b\t-"
            val delta = ups ++ tombs
            if (delta.size >= full.size) full
            else s"#delta\t$pv\t${pr.depth + 1}" +: delta
          case _ => full
        }
      }
    val bytes = ((s"#op\t$op" +: lines).mkString("\n") + "\n")
      .getBytes("UTF-8")
    val p = manifestPath(stateDir, v)

    // loser/overwrite-path adjudication — throws on a genuine conflict;
    // otherwise returns the bytes the overwrite must install. On a
    // replay (content equal modulo the op tag) the COMMITTED op tag is
    // carried forward (r17 advisor finding: installing the replayer's
    // own tag — e.g. the default 'commit' from a generic re-driver —
    // would silently relabel a 'merge' commit's DESCRIBE HISTORY
    // provenance; the committed version's operation is a fact about the
    // original commit, not about whoever replays it).
    def adjudicate(): Array[Byte] = {
      if (repoint) return bytes
      val in = fs.open(p)
      val existing = try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString
      finally in.close()
      if (sansOp(existing) != sansOp(new String(bytes, "UTF-8"))) {
        // one legitimate different-content overwrite exists WITHOUT the
        // repoint flag: a crash landed between compact's repoint of the
        // top manifest and the stream checkpoint commit, and the
        // replayed trigger is rewriting its original (pre-compact)
        // manifest — compact's documented recovery path ("the epoch dies
        // at the next GC"). The repointed manifest has an unmistakable
        // signature: every data reference is a negative epoch version
        // (or the EmptyVer sentinel). Anything else is a genuine race.
        val overCompaction = scala.util.Try(
          resolveManifest(fs, stateDir, v).exists(
            _.m.values.forall(_.values.forall(_.ver < 0))))
          .getOrElse(false)
        if (!overCompaction)
          throw new IllegalStateException(
            s"concurrent-writer conflict on $p: version v$v is already " +
              "committed with different content — a second writer raced " +
              "this commit (the store is single-writer per directory), " +
              "or a replay diverged from the original trigger; refusing " +
              "to silently overwrite the committed version")
        bytes // replay over a crashed compaction: install the original
      } else {
        // carry only an ACTUAL committed tag forward; a legacy untagged
        // manifest takes the replayer's tag (the r17 upgrade path: the
        // replaying trigger knows its verb, pre-tag bytes recorded none)
        existing.linesIterator
          .find(_.startsWith("#op\t")).map(_.stripPrefix("#op\t")) match {
          case Some(exOp) if exOp != op =>
            ((s"#op\t$exOp" +: lines).mkString("\n") + "\n")
              .getBytes("UTF-8")
          case _ => bytes
        }
      }
    }

    // atomic overwrite commit: RENAME WITH OVERWRITE (FileContext
    // semantics — POSIX rename on the local fs). A crash mid-write can
    // never leave a torn OR missing manifest (the r16 review caught the
    // delete-then-rename variant: its crash window left a committed
    // version with NO manifest, which readManifest reads as an EMPTY
    // store — silent data loss on the next commit + gc).
    def renameOverwrite(tmp: Path): Unit =
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          fs.getUri, fs.getConf)
        fc.rename(fc.makeQualified(tmp), fc.makeQualified(p),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      } catch {
        // a scheme with no AbstractFileSystem binding (r19 advisor:
        // getFileContext throws UnsupportedFileSystemException, an
        // IOException — the exact no-binding case) degrades to the
        // delete->rename pair, accepting that store's own non-atomic
        // window rather than making every commit there impossible
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          if (fs.exists(p)) fs.delete(p, false)
          if (!fs.rename(tmp, p)) throw new IllegalStateException(
            s"manifest rename failed for $p (no FileContext binding, " +
              "and the FileSystem fallback rename returned false)")
        case e: Exception => throw new IllegalStateException(
          s"manifest rename failed for $p", e)
      }

    // atomic CAS commit of a first write: returns false when the
    // destination already exists (this writer lost the race). Local
    // scheme: link(2) — kernel-atomic fail-if-exists; elsewhere:
    // rename-without-OVERWRITE (atomic where the store provides it,
    // e.g. HDFS; best-effort narrow window on stores that don't).
    def casRename(tmp: Path): Boolean =
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          fs.getUri, fs.getConf)
        fc.rename(fc.makeQualified(tmp), fc.makeQualified(p),
          org.apache.hadoop.fs.Options.Rename.NONE)
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        // no FileContext binding for this scheme (r19 advisor): emulate
        // fail-if-exists through the FileSystem API — a narrower
        // guarantee (check+rename, not kernel-CAS), the same best-effort
        // window the comment above already accepts for such stores
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          !fs.exists(p) && fs.rename(tmp, p)
        case _: java.io.IOException
            if scala.util.Try(fs.exists(p)).getOrElse(false) => false
      }
    def casCommit(tmp: Path): Boolean =
      if (fs.getScheme == "file") {
        val src = java.nio.file.Paths.get(
          fs.makeQualified(tmp).toUri.getPath)
        val dst = java.nio.file.Paths.get(
          fs.makeQualified(p).toUri.getPath)
        try { java.nio.file.Files.createLink(dst, src); true }
        catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          // a local mount without hard-link support degrades to the
          // rename-without-OVERWRITE primitive (still fail-if-exists,
          // just not kernel-CAS) rather than failing the commit
          case _: UnsupportedOperationException => casRename(tmp)
          case _: java.nio.file.FileSystemException => casRename(tmp)
        }
      } else casRename(tmp)

    commitLock(memoKey(stateDir, v)).synchronized {
      // unique temp sibling per attempt: two racing writers must never
      // clobber each other's staging bytes before the CAS decides. The
      // name leads with this JVM's process token so the orphan sweep
      // below can tell its own staging from a rival's.
      val tmp = new Path(s"$stateDir/v$v/.manifest.tmp.$jvmToken." +
        s"${Thread.currentThread().getId}.${System.nanoTime()}")
      def stage(b: Array[Byte]): Unit = {
        val out = fs.create(tmp, true)
        try out.write(b)
        finally out.close()
      }
      try {
        if (fs.exists(p)) { stage(adjudicate()); renameOverwrite(tmp) }
        else {
          stage(bytes)
          if (!casCommit(tmp)) {
            // lost a cross-process race: the rival's commit is now the
            // committed content — adjudicate against it (replay passes
            // and re-commits idempotently, carrying the committed op
            // tag forward; divergence throws)
            stage(adjudicate()); renameOverwrite(tmp)
          }
        }
      } finally fs.delete(tmp, false)
      // reclaim CRASH-ORPHANED temp manifests (review fix: the unique
      // tmp names no longer self-overwrite on retry like the old fixed
      // name did, so a committer that died mid-write leaks its file
      // until the version dir itself dies — which never happens for the
      // TOP version). Scoped (r17 advisor finding): only RIVAL
      // processes' tmps are swept — this JVM's own in-flight staging
      // (another thread's, under a different stripe) is never eligible
      // however old — and the age gate is an hour: a cross-process
      // committer stalled longer than that between staging and its
      // rename has lost its liveness claim (the same assumption every
      // lease-less janitor makes; a swept straggler fails LOUDLY with
      // 'manifest rename failed', never silently corrupts).
      try {
        val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
        fs.listStatus(new Path(s"$stateDir/v$v"))
          .filter(st => st.getPath.getName.startsWith(".manifest.tmp.")
            && !st.getPath.getName.startsWith(s".manifest.tmp.$jvmToken.")
            && st.getModificationTime < cutoff)
          .foreach(st => fs.delete(st.getPath, false))
      } catch { case _: java.io.IOException => () }
      // refresh the memo under the new file stat so the next trigger's
      // read is a cache hit (steady-state read IO O(delta))
      manifestMemo.remove(memoKey(stateDir, v))
      resolveManifest(fs, stateDir, v)
    }
    ()
  }

  /** Read `table` through manifest `m`: all live buckets, or just
    * `wanted`. `empty` supplies the shape when nothing qualifies (a
    * batch-shaped frame limited to 0). The returned frame carries the
    * `bkt` partition column.
    *
    * SCHEMA EVOLUTION (r14): the per-version unions allow missing
    * columns — a batch that ADDS a payload column (the lakehouse
    * mergeSchema contract) rewrites only its touched buckets under the
    * new schema; buckets last written pre-evolution read back with NULL
    * in the new column, which is exactly the column's value for keys the
    * evolving batches never touched. Column order: oldest version's
    * columns first, later additions appended (versions are read in
    * sorted order), so the output schema is deterministic.
    *
    * Evolution supports column ADDITION ONLY (r15, declared): a column
    * whose TYPE differs across live versions (int widened to long, a
    * decimal precision bump) fails LOUDLY here with the column and both
    * types named — silent unionByName coercion would quietly rewrite
    * stored decimals/ints under whichever type Spark picks, and the two
    * engines of the oracle gate need not agree on it. The supported
    * migration is rewrite-under-the-new-type: [[compact]] the store
    * after a combine that casts, so every live bucket carries one
    * schema. */
  def readTable(spark: SparkSession, stateDir: String, m: Manifest,
      table: String, wanted: Option[Set[Int]], empty: DataFrame)
      : DataFrame = {
    val live = m.getOrElse(table, Map.empty[Int, Bkt])
      .filter { case (b, e) =>
        e.ver != EmptyVer && wanted.forall(_.contains(b)) }
    if (live.isEmpty) empty
    else live.groupBy(_._2.ver).toSeq.sortBy(_._1).map { case (ver, bkts) =>
      readVersionDir(spark, s"$stateDir/v$ver/$table")
        .filter(col("bkt").isin(bkts.keys.toSeq: _*))
    }.reduce { (a, b) =>
      val at = a.schema.fields.map(f => f.name -> f.dataType).toMap
      b.schema.fields.foreach { f =>
        // nullability-normalized comparison (r16, advisor fix): two live
        // versions differing only in nested nullability of the same
        // logical type (an array element's containsNull flipped by a
        // writer) union losslessly — only a LOGICAL type change is the
        // unsupported in-place widening
        at.get(f.name)
          .filter(t => normalizeNullable(t) != normalizeNullable(f.dataType))
          .foreach { t =>
            throw new IllegalStateException(
              s"schema evolution of table '$table' supports column " +
                s"ADDITION only: column '${f.name}' changes type from $t " +
                s"to ${f.dataType} across live versions — rewrite the " +
                "store under the new type (cast in a combine, then " +
                "compact) instead of widening in place")
          }
      }
      a.unionByName(b, allowMissingColumns = true)
    }
  }

  /** `dt` with every nested nullability flag forced true and field
    * metadata dropped — the equality domain of the schema-evolution
    * guard above (logical types only). */
  private def normalizeNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f => StructField(
        f.name, normalizeNullable(f.dataType), nullable = true)))
      case a: ArrayType =>
        ArrayType(normalizeNullable(a.elementType), containsNull = true)
      case m: MapType => MapType(normalizeNullable(m.keyType),
        normalizeNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** Latest committed version in `stateDir` (the highest v<k> dir holding
    * a manifest), if any — how an out-of-band reader finds "current". */
  def latestVersion(fs: FileSystem, stateDir: String): Option[Long] = {
    val root = new Path(stateDir)
    if (!fs.exists(root)) return None
    val vs = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong)
      .filter(v => fs.exists(manifestPath(stateDir, v)))
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Latest committed version, probing UPWARD from a version the caller
    * already knows is committed — versions are consecutive integers that
    * only grow (`next = top + 1`; RESTORE rolls back by committing a NEW
    * higher version, gc evicts only old ones), so the current top is
    * found by probing `from+1, from+2, ...` until the first absent
    * manifest. A per-trigger poller (the `graft-cdc` source) pays ONE
    * existence check on an unchanged store instead of [[latestVersion]]'s
    * O(retained versions) directory listing — the r19 verdict's
    * per-trigger driver-cost note (Delta's `_last_checkpoint` pointer
    * serves the same purpose; a probe needs no extra write per commit). */
  def latestVersionAbove(fs: FileSystem, stateDir: String,
      from: Long): Long = {
    var top = from
    while (fs.exists(manifestPath(stateDir, top + 1))) top += 1
    top
  }

  /** RENAME support (r20, the r19 verdict's task #6): rewrite a store's
    * INNER table name in place — every retained manifest's table field
    * (base lines, delta lines and tombstones; the DV side table follows
    * its base) and every version dir's `<table>`/`<table>__dv` data
    * subdirectory. A rename is a METADATA MOVE: no data file is read or
    * rewritten, and each manifest's mtime is RESTORED after its rewrite
    * (timestamp travel, the gc wall-clock window and DESCRIBE HISTORY
    * all read commit instants from manifest mtimes — a rename must not
    * shift history into "now"). Cost: O(retained versions) small text
    * rewrites + directory renames.
    *
    * Caller contract (the single-writer discipline, same as gc): no
    * concurrent reader or writer during the move; the caller owns the
    * meta file, the key registry, and the store-directory rename. NOT
    * crash-atomic across files — an interrupted rename is repaired by
    * re-running it (each step is idempotent: already-renamed dirs and
    * already-rewritten manifests no longer match `oldTable`). */
  def renameStoreTable(fs: FileSystem, stateDir: String,
      oldTable: String, newTable: String): Unit = {
    require(oldTable != newTable && newTable.nonEmpty,
      s"renameStoreTable: need distinct non-empty names, got " +
        s"'$oldTable' -> '$newTable'")
    val root = new Path(stateDir)
    if (!fs.exists(root)) return
    val oldDv = dvTable(oldTable)
    val newDv = dvTable(newTable)
    val vdirs = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.matches("v\\d+"))
    vdirs.foreach { vd =>
      Seq(oldTable -> newTable, oldDv -> newDv).foreach { case (o, n) =>
        val od = new Path(vd, o)
        if (fs.exists(od)) {
          require(fs.rename(od, new Path(vd, n)),
            s"renameStoreTable: could not move $od")
        }
      }
      val mp = new Path(vd, "manifest")
      if (fs.exists(mp)) {
        val st = fs.getFileStatus(mp)
        val in = fs.open(mp)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString finally in.close()
        def swap(t: String): String =
          if (t == oldTable) newTable
          else if (t == oldDv) newDv
          else t
        val out = text.linesIterator.filter(_.nonEmpty).map { line =>
          if (line.startsWith("#")) line
          else line.split('\t') match {
            case f if f.length >= 3 =>
              require(f(0) != newTable && f(0) != newDv,
                s"renameStoreTable: '$newTable' already exists in " +
                  s"manifest $mp — the store hosts a table by the " +
                  "target name")
              (swap(f(0)) +: f.tail.toSeq).mkString("\t")
            case _ => line
          }
        }.mkString("\n") + "\n"
        if (out != text) {
          // tmp + overwrite-rename: the manifest is never absent or
          // torn mid-rewrite (the writeMeta discipline)
          val tmp = new Path(vd, s".manifest.rename.${System.nanoTime()}")
          val os = fs.create(tmp, true)
          try os.write(out.getBytes("UTF-8")) finally os.close()
          try org.apache.hadoop.fs.FileContext
            .getFileContext(mp.toUri, fs.getConf)
            .rename(tmp, mp, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
          catch {
            case _: UnsupportedOperationException |
                _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
              fs.delete(mp, false)
              require(fs.rename(tmp, mp),
                s"renameStoreTable: could not install $mp")
          }
          // restore the commit instant: rename must not move history
          fs.setTimes(mp, st.getModificationTime, -1)
        }
      }
      // drop this version's memo entry: the store's resolution cache
      // must never serve the pre-rename map for a post-rename path
      // recreated later at the same location
      manifestMemo.remove(memoKey(stateDir, vd.getName.drop(1).toLong))
    }
  }

  /** TIMESTAMP-TRAVEL resolution (r18): the newest committed version whose
    * manifest mtime is <= `tsMillis` — Delta's timestamp-travel rule with
    * the manifest file's mtime as the commit timestamp (the SAME input
    * the wall-clock gc window and [[describeHistory]] already use, so the
    * three surfaces can never disagree about when a version "happened").
    * A replayed trigger refreshes its version's mtime, which can only
    * move the version LATER in timestamp space — the same direction
    * replay moves retention (extend, never shrink), so a timestamp that
    * resolved to v before a replay resolves to v or an ancestor after,
    * never to a version the caller had not yet seen. Fails loudly naming
    * the readable range when `tsMillis` predates every retained commit
    * (the [[tableAt]] eviction contract, in time space). */
  def versionAt(fs: FileSystem, stateDir: String, tsMillis: Long): Long = {
    val root = new Path(stateDir)
    require(fs.exists(root), s"no committed index version under $stateDir")
    val vs = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong)
      .filter(v => fs.exists(manifestPath(stateDir, v)))
      .map(v => v ->
        fs.getFileStatus(manifestPath(stateDir, v)).getModificationTime)
    require(vs.nonEmpty, s"no committed index version under $stateDir")
    val ok = vs.filter(_._2 <= tsMillis)
    require(ok.nonEmpty,
      s"TIMESTAMP AS OF $tsMillis precedes every retained commit under " +
        s"$stateDir (earliest manifest mtime: ${vs.map(_._2).min}; GC " +
        "may have evicted older snapshots — raise the retain window)")
    ok.map(_._1).max
  }

  /** Current contents of `table` at the latest committed version — the
    * "query the state mid-stream" surface, and how specs inspect final
    * state now that a version dir holds only the buckets its batch
    * touched (reading `v<k>/<table>` directly would see a SLICE).
    *
    * DELETION VECTORS COMPOSE (r16): every read verb — this one,
    * [[tableAt]], [[pointGet]] — applies the manifest's `__dv` side
    * table automatically, so a snapshot or point lookup can never serve
    * rows the store has already deleted (the r15 gap: DV application
    * was opt-in per call site). `raw = true` is the debugging escape
    * hatch that reads the base table with tombstoned rows visible. */
  def currentTable(spark: SparkSession, stateDir: String,
      table: String, raw: Boolean = false): DataFrame = {
    val fs = new Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = latestVersion(fs, stateDir).getOrElse(
      throw new IllegalStateException(
        s"no committed index version under $stateDir"))
    val m = readManifest(fs, stateDir, v)
    require(m.contains(table),
      s"table $table absent from manifest v$v under $stateDir")
    if (raw)
      readTable(spark, stateDir, m, table, None,
        spark.emptyDataFrame).drop("bkt")
    else readWithDv(spark, stateDir, m, table, keyColsFor(table))
  }

  /** TIME-TRAVEL read: `table` exactly as it stood when manifest version
    * `v` committed (batch k-1's merge commits `v(k)`, so `tableAt(.., k)`
    * = the state the stream's batch k probed). Only versions inside the
    * [[gc]] retention window are readable — an evicted snapshot fails
    * LOUDLY here rather than returning a partial union of whatever dirs
    * survived. At scale this is the Delta/Iceberg `VERSION AS OF` surface:
    * the manifest is the snapshot, the bucket dirs are its data files,
    * and reading an old version costs the same pruned scan as reading the
    * current one. */
  def tableAt(spark: SparkSession, stateDir: String, table: String,
      v: Long, raw: Boolean = false): DataFrame = {
    val fs = new Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = readManifest(fs, stateDir, v)
    require(m.contains(table),
      s"no readable snapshot of '$table' at version v$v under $stateDir " +
        "— the version was never committed or GC evicted it past the " +
        "retention window (raise the gc retain parameter to keep more)")
    // the snapshot's DV is part of the snapshot: a time-travel read must
    // hide exactly the rows that were deleted AS OF v, so the existence
    // check covers the DV side table's data versions too
    val tables = table +: m.get(dvTable(table)).map(_ => dvTable(table)).toSeq
    val missing = tables.flatMap(t => m(t).values.map(e => t -> e.ver)).toSet
      .filterNot(_._2 == EmptyVer) // sentinel = live-but-empty, no dir
      .filterNot { case (t, ver) =>
        fs.exists(new Path(s"$stateDir/v$ver/$t")) }
    require(missing.isEmpty,
      s"snapshot v$v of '$table' references GC'd data versions " +
        s"${missing.toSeq.sorted.mkString(",")} — retention was lowered " +
        "after the snapshot committed")
    if (raw)
      readTable(spark, stateDir, m, table, None,
        spark.emptyDataFrame).drop("bkt")
    else readWithDv(spark, stateDir, m, table, keyColsFor(table))
  }

  /** POINT LOOKUP (GET): the current rows of `keys` read through ONLY
    * the buckets those keys cover — the manifest maps key -> bucket ->
    * (version dir, partition filter), so the scan lists a bounded set of
    * bucket directories however large the store is: the O(keys) read
    * path of a key-value store, on the same layout the streams maintain.
    * `keyed` must be a tiny frame holding the probe keys in the table's
    * key column(s); its bucket assignment uses the SAME [[bucketCol]]
    * formula as every write, so probe and layout can never disagree. */
  def pointGet(spark: SparkSession, stateDir: String, table: String,
      keyed: DataFrame, raw: Boolean = false): DataFrame = {
    val fs = new Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = latestVersion(fs, stateDir).getOrElse(
      throw new IllegalStateException(
        s"no committed index version under $stateDir"))
    val m = readManifest(fs, stateDir, v)
    require(m.contains(table),
      s"table $table absent from manifest v$v under $stateDir")
    val n = numBuckets(spark)
    val gens = gensOf(m, table)
    val wanted = assignBucket(keyed, table, n, gens)
      .select("bkt").distinct().collect().map(_.getInt(0)).toSet
    // table-shaped empty frame for the no-covered-bucket case (keys that
    // hash to buckets holding nothing): schema from the full manifest
    // read, rows from nowhere (limit 0 prunes at planning)
    val shape = readTable(spark, stateDir, m, table, None,
      keyed.limit(0)).limit(0)
    val base = readTable(spark, stateDir, m, table, Some(wanted), shape)
      .drop("bkt")
      .join(graft.BroadcastBounds.bounded("point-get-keys")(keyed),
        keyed.columns.toSeq, "left_semi")
    // the DV composes with the GET (r16): tombstones for the probe keys
    // live in the DV table's covering buckets of those same keys (shared
    // key registry), so the vector read is bucket-pruned to the probe
    // too — the lookup stays O(probe keys) with or without a vector.
    // raw short-circuits BEFORE dvSlice (review finding: the slice's
    // probe-bucket assignment runs a driver-side collect — a Spark job
    // a raw debug read must not pay only to discard)
    if (raw) base
    else dvSlice(spark, stateDir, m, table, Some(keyed)) match {
      case Some(dv) => base.join(dv, keyColsFor(table), "left_anti")
      case None => base
    }
  }

  /** DELETION VECTORS (r15) — the Delta/Iceberg soft-delete surface, the
    * missing cost point between q114c's eager delete and a full rewrite:
    * eager delete REWRITES every touched bucket (write IO = those
    * buckets' full bytes) even to hide one row; a DV delete instead
    * COMMITS ONLY THE TOMBSTONE KEYS into a `<table>__dv` side table
    * riding the same manifest/version machinery — write IO O(tombstone
    * bytes), whatever the hidden rows' buckets weigh. Readers apply the
    * vector as a keyed ANTI-JOIN whose build side is the (tiny) DV —
    * AQE broadcasts it, so the read costs one pass over the data plus a
    * per-row hash probe (Delta applies DVs per file; the broadcast
    * anti-join is the same O(scan + |dv|) shape without per-file
    * sidecar plumbing). [[materializeDeletes]] is the OPTIMIZE step:
    * apply the accumulated vector through the eager touched-bucket
    * merge once, then clear it — amortizing many cheap deletes into one
    * rewrite, which is exactly why the format feature exists. */

  /** Commit a DV delete: union `tombstones` (key rows of `table`) into
    * the DV side table under `v(next)` — O(tombstones) IO, the base
    * table untouched. Returns the updated manifest (caller writes it). */
  def deleteWithDv(spark: SparkSession, stateDir: String, m: Manifest,
      table: String, next: Long, tombstones: DataFrame): Manifest =
    m + (dvTable(table) -> mergeCommit(spark, stateDir, m, dvTable(table),
      next, tombstones,
      (cur, d) => cur.unionByName(d).distinct()))

  /** The DV side table's rows relevant to a read of `table` through `m`
    * — None when there is no vector to apply (no manifest entry, an
    * empty vector, or a base table with no live data: anti-joining the
    * empty zero-column read would fail to RESOLVE the key columns — the
    * r15 review finding — and there is nothing for a vector to hide).
    * `probe` (when set) bucket-prunes the vector read to the probe
    * keys' covering DV buckets — the point-GET path. */
  private def dvSlice(spark: SparkSession, stateDir: String, m: Manifest,
      table: String, probe: Option[DataFrame] = None): Option[DataFrame] = {
    if (!m.get(dvTable(table)).exists(_.exists(_._2.ver != EmptyVer))
      || !m.get(table).exists(_.exists(_._2.ver != EmptyVer))) None
    else {
      val wanted = probe.map { k =>
        assignBucket(k, dvTable(table), numBuckets(spark),
          gensOf(m, dvTable(table)))
          .select("bkt").distinct().collect().map(_.getInt(0)).toSet
      }
      // DV-shaped empty frame: a probe whose covering DV buckets hold no
      // tombstones must still anti-join cleanly (resolvable key columns)
      val shape = readTable(spark, stateDir, m, dvTable(table), None,
        null).limit(0)
      Some(readTable(spark, stateDir, m, dvTable(table), wanted, shape)
        .drop("bkt"))
    }
  }

  /** `table`'s current rows with the deletion vector APPLIED: the base
    * read minus rows whose key appears in the DV side table. No DV in
    * the manifest => the plain read (zero extra plan nodes). */
  def readWithDv(spark: SparkSession, stateDir: String, m: Manifest,
      table: String, keyCols: Seq[String]): DataFrame = {
    val base = readTable(spark, stateDir, m, table, None,
      spark.emptyDataFrame).drop("bkt")
    dvSlice(spark, stateDir, m, table) match {
      case Some(dv) => base.join(dv, keyCols, "left_anti")
      case None => base
    }
  }

  /** Materialize the accumulated deletions (the OPTIMIZE step): apply
    * the DV through the eager touched-bucket merge — ONLY buckets
    * holding tombstoned keys rewrite, q114c's shape — and drop the DV
    * from the manifest. Commits `v(next)`; returns the new manifest. */
  def materializeDeletes(spark: SparkSession, stateDir: String,
      m: Manifest, table: String, next: Long,
      keyCols: Seq[String]): Manifest = {
    if (!m.get(dvTable(table)).exists(_.nonEmpty)) return m - dvTable(table)
    val dvKeys = readTable(spark, stateDir, m, dvTable(table), None,
      spark.emptyDataFrame).drop("bkt").select(keyCols.map(col): _*)
    val cleaned = mergeCommit(spark, stateDir, m, table, next, dvKeys,
      (cur, d) => cur.join(d, keyCols, "left_anti"), composeDv = true)
    m - dvTable(table) + (table -> cleaned)
  }

  /** DV-COMPOSED MERGE (r17, advisor fix): [[mergeCommit]] semantics on
    * a table that may carry a LIVE deletion vector. Two obligations the
    * raw merge cannot meet:
    *   1. the combine must see the POST-DELETE slice (a tombstoned row
    *      must not feed the merge arithmetic or be resurrected into the
    *      rewritten bucket), so `cur` is read through the vector — the
    *      same broadcast anti-join every read verb applies;
    *   2. tombstones whose keys fall in the REWRITTEN buckets are now
    *      stale (the hidden rows are physically gone; a NOT-MATCHED
    *      re-insert of such a key is a legitimately NEW row Delta's
    *      file-scoped DVs would never hide) — they are dropped from the
    *      DV side table under the same version, O(stale tombstones) IO.
    * Tombstones in UNTOUCHED buckets stay: their rows are still
    * physically present. Returns the FULL updated manifest (base entry
    * plus the updated-or-dropped DV entry). A table with no live vector
    * degrades to exactly [[mergeCommit]] (zero extra jobs). */
  def mergeCommitDv(spark: SparkSession, stateDir: String, m: Manifest,
      table: String, next: Long, delta: DataFrame,
      combine: (DataFrame, DataFrame) => DataFrame,
      planName: Option[String] = None,
      touchedKnown: Option[Set[Int]] = None): Manifest = {
    val dvLive = m.get(dvTable(table)).exists(_.exists(_._2.ver != EmptyVer))
    if (!dvLive)
      return m + (table -> mergeCommit(spark, stateDir, m, table, next,
        delta, combine, planName, touchedKnown))
    val keyCols = keyColsFor(table)
    val n = numBuckets(spark)
    val gens = gensOf(m, table)
    // the batch's touched buckets, computed once and shared by the base
    // commit and the stale-tombstone detection (same assignment law)
    val touched = touchedKnown.getOrElse(
      assignBucket(delta, table, n, gens)
        .select("bkt").distinct().collect().map(_.getInt(0)).toSet)
    // the DV wrapper hides the combine's class from mergeCommit's
    // BY-SOURCE guard — re-assert the full-target pairing here, same law
    combine match {
      case mi: graft.operators.MergeInto if mi.requiresFullTarget =>
        val liveData = m.getOrElse(table, Map.empty[Int, Bkt])
          .collect { case (b, e) if e.ver != EmptyVer => b }.toSet
        require(liveData.subsetOf(touched),
          s"MERGE INTO '$table' has NOT MATCHED BY SOURCE clauses and " +
            "must see every live target row: commit it with a " +
            "full-target touched set — unseen buckets: " +
            s"${(liveData -- touched).toSeq.sorted.take(8).mkString(",")}")
      case _ => ()
    }
    // an empty batch rewrites nothing — no slice read, no tombstone to
    // invalidate, the manifest is unchanged (checked AFTER the BY-SOURCE
    // guard: an empty-source full-sync merge must still name its error)
    if (touched.isEmpty) return m
    val dvAll = readTable(spark, stateDir, m, dvTable(table), None,
      spark.emptyDataFrame).drop("bkt")
    val dvB = graft.BroadcastBounds.bounded("merge-dv-slice")(dvAll)
    val composed: (DataFrame, DataFrame) => DataFrame =
      (cur, d) => combine(cur.join(dvB, keyCols, "left_anti"), d)
    val baseMap = mergeCommit(spark, stateDir, m, table, next, delta,
      composed, planName, Some(touched), composeDv = true)
    // tombstones covering REWRITTEN base buckets are stale — assignment
    // under the PRE-SPLIT base topology, the space `touched` lives in
    // (keys of split children map to the parent id there)
    val stale = assignBucket(dvAll, table, n, gens)
      .filter(col("bkt").isInCollection(touched.toSeq))
      .drop("bkt").select(keyCols.map(col): _*)
    val nm = m + (table -> baseMap)
    if (stale.isEmpty) nm
    else {
      val dvMap = mergeCommit(spark, stateDir, nm, dvTable(table), next,
        stale, (cur, d) => cur.join(d, keyCols, "left_anti"))
      // a fully-emptied vector drops its manifest entry; all-sentinel
      // (gen>0 live-but-empty) maps stay for split-tree closure — every
      // read verb already skips sentinel entries
      if (dvMap.isEmpty) nm - dvTable(table)
      else nm + (dvTable(table) -> dvMap)
    }
  }

  /** RESTORE (r16, q134) — Delta's `RESTORE TABLE ... VERSION AS OF`: roll
    * the store back to snapshot `v` by committing a NEW version `next`
    * whose manifest is `v`'s — ZERO data copied or moved (the restored
    * commit REFERENCES the old version dirs; the bucketed layout makes a
    * table-wide rollback a one-file metadata write at any store size).
    * History is preserved: the rolled-back versions stay readable inside
    * the retention window (`tableAt` of the damaged version still works),
    * and because the restore is an ordinary commit, gc keeps the
    * referenced data dirs alive exactly like any other manifest's.
    * Fails loudly when `v` was never committed or its data was GC'd —
    * the same eviction contract as [[tableAt]]. Returns the restored
    * manifest. */
  def restore(fs: FileSystem, stateDir: String, v: Long,
      next: Long): Manifest = {
    val r = resolveManifest(fs, stateDir, v).getOrElse(
      throw new IllegalArgumentException(
        s"cannot RESTORE to v$v under $stateDir: the version was never " +
          "committed or GC evicted its manifest past the retention " +
          "window (raise the gc retain parameter to keep more)"))
    val missing = r.m.toSeq.flatMap { case (t, bkts) =>
      bkts.values.map(_.ver).filterNot(_ == EmptyVer)
        .filterNot(ver => fs.exists(new Path(s"$stateDir/v$ver/$t")))
        .map(t -> _)
    }.toSet
    require(missing.isEmpty,
      s"cannot RESTORE to v$v: it references GC'd data versions " +
        s"${missing.toSeq.sorted.mkString(",")} — retention was lowered " +
        "after the snapshot committed")
    writeManifest(fs, stateDir, next, r.m, op = s"restore(v$v)")
    r.m
  }

  /** STORE-NATIVE CHANGE DATA FEED (r18) — Delta's `table_changes`
    * computed from the store's OWN version layout, no feed artifact
    * required (the q120/q130 CDF family is a streaming SINK the writer
    * maintains; this verb answers "what changed between v1 and v2"
    * retroactively for ANY retained range). One row per changed row per
    * commit with `_change_type` in {insert, update_preimage,
    * update_postimage, delete} and `_commit_version`.
    *
    * Cost geometry (the reason this is not snapshot-diffing): for each
    * step v-1 → v, the manifests name exactly which bucket entries
    * differ — the pre/post reads are RESTRICTED to those buckets, so a
    * step costs O(buckets the commit touched), never O(table). Rows in
    * rewritten buckets that did not change cancel in the row-level
    * EXCEPT. A deletion-vector-only commit (zero base buckets written)
    * contributes its hidden rows as deletes: the changed tombstone
    * keys' covering BASE buckets are computed per side under that
    * side's own split topology (the DV table splits independently), so
    * visibility changes surface even when no data file moved.
    *
    * Schema evolution composes: the pre slice null-fills columns the
    * post schema added (reading old data under the new schema — the
    * same contract as every other read verb). Retention applies: a
    * step whose version dirs were GC'd fails loudly like [[tableAt]].
    *
    * PLAN-SIZE BOUND (r19, the r18 verdict's scale note): the plan has
    * one Union branch per version step, so a months-long range on a
    * high-frequency store would stress the driver/analyzer before any
    * data is read (Delta reads a stored feed instead). The cost is
    * plan size, never IO — per-step IO stays pinned — so the caller's
    * remedy is CHUNKING: consume [(from, from+K], (from+K, from+2K],
    * ...] as separate calls (the streaming `graft-cdc` source does
    * exactly this with `maxVersionsPerTrigger`, one bounded call per
    * micro-batch). A range wider than 512 steps throws a named error
    * pointing there rather than silently building a degenerate plan.
    */
  /** Widest version range one [[changesBetween]] call will plan — the
    * named-cap boundary the streaming source's offers clamp to, so an
    * offered micro-batch can never exceed what getBatch can compute. */
  val MaxChangeSteps: Long = 512L

  def changesBetween(spark: SparkSession, stateDir: String, table: String,
      fromV: Long, toV: Long): DataFrame = {
    require(toV - fromV <= MaxChangeSteps,
      s"changesBetween($fromV, $toV): ${toV - fromV} version steps " +
        "build one Union branch each — beyond 512 the PLAN (not the " +
        "IO) degenerates; chunk the range into consecutive calls, or " +
        "consume it through the graft-cdc streaming source with " +
        "maxVersionsPerTrigger")
    require(toV > fromV && fromV >= 0,
      s"changesBetween($fromV, $toV): need 0 <= from < to")
    val fs = new Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // GC'd ranges fail LOUDLY like tableAt — readManifest's empty-map
    // default would otherwise silently misread an evicted step as "the
    // table appeared from nothing" (every live row an insert)
    def manifestAt(v: Long): Manifest =
      if (v == 0) Map.empty
      else resolveManifest(fs, stateDir, v).map(_.m).getOrElse(
        throw new IllegalArgumentException(
          s"changesBetween($fromV, $toV) under $stateDir: version v$v " +
            "was never committed or GC evicted its manifest past the " +
            "retention window — DESCRIBE HISTORY lists the readable " +
            "range"))
    val steps = ((fromV + 1) to toV).map { v =>
      changesAt(spark, stateDir, table, manifestAt(v - 1),
        manifestAt(v), v)
    }
    // steps straddling a schema-evolution commit carry different
    // payload widths — pre-evolution change rows null-fill the added
    // columns, the same read-old-under-new contract as readTable
    steps.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Bucket ids whose entry differs between two manifest table maps —
    * the commit's own footprint, read straight from metadata. */
  private def entryDiff(a: Map[Int, Bkt], b: Map[Int, Bkt]): Set[Int] =
    (a.keySet ++ b.keySet).filter(k => a.get(k) != b.get(k))

  /** The change rows of ONE commit step (mPrev -> mCur at version v). */
  private def changesAt(spark: SparkSession, stateDir: String,
      table: String, mPrev: Manifest, mCur: Manifest, v: Long)
      : DataFrame = {
    val keyCols = keyColsFor(table)
    val n = numBuckets(spark)
    val dataDiff = entryDiff(
      mPrev.getOrElse(table, Map.empty[Int, Bkt]),
      mCur.getOrElse(table, Map.empty[Int, Bkt]))
    val dvDiff = entryDiff(
      mPrev.getOrElse(dvTable(table), Map.empty[Int, Bkt]),
      mCur.getOrElse(dvTable(table), Map.empty[Int, Bkt]))
    // keys whose VISIBILITY may have changed (tombstones added/removed
    // at v): their covering base buckets, assigned per side under that
    // side's own topology — a tiny job over metadata-sized DV rows
    def dvKeys(m: Manifest): Option[DataFrame] =
      if (dvDiff.isEmpty || !m.contains(dvTable(table))) None
      else {
        // an ALL-SENTINEL vector (split children left live-but-empty,
        // EmptyVer entries) holds no tombstones — and reads as the
        // shapeless empty frame, so the key projection must not run
        val full = readTable(spark, stateDir, m, dvTable(table), None,
          spark.emptyDataFrame)
        if (full.columns.isEmpty) None
        else Some(readTable(spark, stateDir, m, dvTable(table),
          Some(dvDiff), full.limit(0)).drop("bkt")
          .select(keyCols.map(col): _*))
      }
    val dvTouched: Map[Manifest, Set[Int]] =
      if (dvDiff.isEmpty) Map.empty
      else {
        val keys = (dvKeys(mPrev), dvKeys(mCur)) match {
          case (Some(a), Some(b)) => Some(a.unionByName(b).distinct())
          case (a, b) => a.orElse(b)
        }
        keys match {
          case None => Map.empty
          case Some(k) => Seq(mPrev, mCur).map { m =>
            m -> assignBucket(k, table, n, gensOf(m, table))
              .select("bkt").distinct().collect().map(_.getInt(0)).toSet
          }.toMap
        }
      }
    // one side's visible rows, restricted to the step's footprint: the
    // base read over the changed buckets, the FULL (tombstone-sized,
    // broadcast) vector applied
    def slice(m: Manifest, wanted: Set[Int], shape: DataFrame)
        : DataFrame = {
      if (wanted.isEmpty || !m.contains(table)) return shape.limit(0)
      val base = readTable(spark, stateDir, m, table, Some(wanted),
        shape.limit(0)).drop("bkt")
      if (!m.get(dvTable(table)).exists(_.exists(_._2.ver != EmptyVer)))
        base
      else base.join(
        graft.BroadcastBounds.bounded("cdc-dv")(
          readTable(spark, stateDir, m, dvTable(table), None,
            spark.emptyDataFrame).drop("bkt")
            .select(keyCols.map(col): _*)),
        keyCols, "left_anti")
    }
    // the step's row shape: the post side when it has live buckets,
    // else the PRE side (a truncate/full-erasure commit leaves no post
    // entry — its rows must still surface as deletes, review fix); a
    // step where NEITHER side holds the table contributes nothing
    val postLive = mCur.get(table).exists(_.exists(_._2.ver != EmptyVer))
    val preLive = mPrev.get(table).exists(_.exists(_._2.ver != EmptyVer))
    if (!postLive && !preLive)
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.LongType, nullable = false))))
    val shapeM = if (postLive) mCur else mPrev
    val postShape = readTable(spark, stateDir, shapeM, table, None,
      spark.emptyDataFrame).drop("bkt").limit(0)
    val post = slice(mCur,
      dataDiff ++ dvTouched.getOrElse(mCur, Set.empty), postShape)
    val pre0 = slice(mPrev,
      dataDiff ++ dvTouched.getOrElse(mPrev, Set.empty), postShape)
    val pre = pre0.select(post.columns.map { c =>
      if (pre0.columns.contains(c)) col(c)
      else lit(null).cast(postShape.schema(c).dataType).as(c)
    }.toSeq: _*)
    // ONE-PASS classification (r20 optimization round). The r19 shape was
    // EXCEPT-then-join-then-4-branch-union: two whole-row EXCEPTs (each a
    // full-width shuffle + anti-join of both slices) feeding a full-outer
    // join that the 4 union branches then RE-EXECUTED — only the exchanges
    // were reused across branches, the join itself ran four times per
    // step. With key-unique snapshots (the store's PRIMARY KEY invariant,
    // enforced at every commit entry point and fuzz-pinned), whole-row set
    // difference is equivalent to a key-level comparison: a key in both
    // sides with a null-safe-equal payload is unchanged, anything else is
    // insert / delete / update. So: ONE null-safe full-outer join on the
    // keys, then ONE pass that emits 0, 1 or 2 change rows per key via a
    // generator — per step this removes both EXCEPT shuffles and three of
    // the four join executions. Join keys compare with <=> so an
    // all-null-key row (unique under the PK window guard) still pairs up
    // instead of surfacing as a phantom delete+insert.
    val payload = post.columns.toSeq
      .filterNot(c => keyCols.exists(_.equalsIgnoreCase(c)))
    val preR = pre.select((keyCols.map(c => col(c).as(s"__pk_$c")) ++
      payload.map(c => col(c).as(s"__pre_$c")) :+
      lit(true).as("__pre")).toSeq: _*)
    val postR = post.withColumn("__post", lit(true))
    val joinCond = keyCols.map(c => col(c) <=> col(s"__pk_$c"))
      .reduce(_ && _)
    val j = postR.join(preR, joinCond, "full_outer")
    val differs =
      if (payload.isEmpty) lit(false)
      else payload.map(c => !(col(c) <=> col(s"__pre_$c"))).reduce(_ || _)
    def img(kind: String, fromPre: Boolean) =
      struct((payload.map { c =>
        (if (fromPre) col(s"__pre_$c") else col(c)).as(c) } :+
        lit(kind).as("_change_type")).toSeq: _*)
    // explode(null) emits no row — unchanged keys vanish here, exactly
    // where the old EXCEPT pair cancelled them
    val changeRows =
      when(col("__post").isNotNull && col("__pre").isNull,
        array(img("insert", fromPre = false)))
      .when(col("__pre").isNotNull && col("__post").isNull,
        array(img("delete", fromPre = true)))
      .when(differs,
        array(img("update_preimage", fromPre = true),
          img("update_postimage", fromPre = false)))
    val keyOut = keyCols.map(c => coalesce(col(c), col(s"__pk_$c")).as(c))
    j.select((keyOut :+ explode(changeRows).as("__chg")).toSeq: _*)
      .select((keyCols.map(col) ++
        payload.map(c => col("__chg").getField(c).as(c)) :+
        col("__chg").getField("_change_type").as("_change_type") :+
        lit(v).as("_commit_version")).toSeq: _*)
  }

  /** One DESCRIBE HISTORY row: a committed version, its OPERATION tag
    * (r17 — what the commit was: merge / delete-dv / restore / compact /
    * ...; pre-r17 manifests read "commit"), its manifest's delta depth
    * (0 = full base), table count, live data-bearing bucket count, and
    * the manifest file's mtime (the wall-clock retention input). */
  case class HistoryRow(version: Long, operation: String, deltaDepth: Int,
      tables: Int, liveBuckets: Int, manifestMtime: Long)

  /** DESCRIBE HISTORY (r16; operation provenance r17): every committed
    * (still-retained) version of the store, newest first — the Delta ops
    * surface for "what happened to this table", now naming the operation
    * like Delta's history does. Metadata-only: one memoized manifest
    * resolution per version, zero data IO; at a production store the
    * cost is the retained-version count, not the data. */
  def describeHistory(fs: FileSystem, stateDir: String): Seq[HistoryRow] = {
    val root = new Path(stateDir)
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).map(_.getPath.getName)
      .filter(_.matches("v-?\\d+")).map(_.drop(1).toLong).sorted.reverse
      .flatMap { v =>
        resolveManifest(fs, stateDir, v).map { r =>
          HistoryRow(v, r.op, r.depth, r.m.size,
            r.m.values.map(_.count(_._2.ver != EmptyVer)).sum,
            fs.getFileStatus(manifestPath(stateDir, v)).getModificationTime)
        }
      }.toSeq
  }

  /** Live bytes of bucket `b`'s current copy (0 when the referenced dir
    * was never materialized — a split child that received no rows).
    * `private[graft]` (r20): DESCRIBE DETAIL sums it per live bucket. */
  private[graft] def liveBytes(fs: FileSystem, stateDir: String, table: String,
      b: Int, ver: Long): Long = {
    val p = new Path(s"$stateDir/v$ver/$table/bkt=$b")
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Merge a keyed batch delta into `table` and commit it under
    * `v(next)`: read ONLY the buckets the batch touches through manifest
    * `m`, combine, write those buckets (partitionBy keeps one directory
    * per bucket) — splitting any touched bucket whose live bytes have
    * reached [[splitBytes]] into its two next-generation children as
    * part of the same write. Returns the table's FULL updated bucket
    * map (the manifest entry to commit: untouched buckets keep their
    * old entries, written buckets point at `next` with their — possibly
    * bumped — generation). `combine` sees (currentSlice, batchDelta)
    * and must return a frame with the table's key + payload columns;
    * the bucket column is (re)derived after, under the post-split
    * topology. `planName`, when set, records the merge write's
    * ACTUALLY-executed plan under that name in [[StreamPlans]]. */
  def mergeCommit(spark: SparkSession, stateDir: String, m: Manifest,
      table: String, next: Long, delta: DataFrame,
      combine: (DataFrame, DataFrame) => DataFrame,
      planName: Option[String] = None,
      touchedKnown: Option[Set[Int]] = None,
      composeDv: Boolean = false): Map[Int, Bkt] = {
    // LIVE-DV GUARD (r17, advisor fix): a merge that reads its slice RAW
    // while a deletion vector is live would (a) resurrect tombstoned
    // rows into the rewritten buckets and (b) leave the key-scoped DV
    // suppressing legitimately re-inserted keys — unlike Delta, whose
    // file-scoped DVs never hide newly written files. The composing
    // entry point is [[mergeCommitDv]] (which reads through the vector
    // and invalidates tombstones for rewritten buckets);
    // [[materializeDeletes]] is the one caller that composes by hand.
    require(composeDv || table.endsWith(DvSuffix) ||
      !m.get(dvTable(table)).exists(_.exists(_._2.ver != EmptyVer)),
      s"mergeCommit on '$table' with a LIVE deletion vector: the raw " +
        "slice read would resurrect tombstoned rows — commit through " +
        "mergeCommitDv (DV-composed merge) or materializeDeletes first")
    val n = numBuckets(spark)
    val gens = gensOf(m, table)
    val entries = m.getOrElse(table, Map.empty[Int, Bkt])
    val keyed = assignBucket(delta, table, n, gens)
    // job labels (guide §1.5): thread-local, so concurrent commits from
    // a pool stay correctly attributed
    val sc = spark.sparkContext
    sc.setJobDescription(s"mergeCommit:$table:v$next:probe")
    val touched = touchedKnown.getOrElse(keyed.select("bkt").distinct()
      .collect().map(_.getInt(0)).toSet)
    // a MERGE with NOT MATCHED BY SOURCE clauses acts on target rows the
    // batch does NOT carry — running it against only the batch's touched
    // buckets silently yields partial-sync semantics (rows in untouched
    // buckets are never seen by the BY SOURCE arms). Enforce the pairing
    // AT THE STORE ENTRY POINT instead of by doc comment (r15 advisor):
    // such merges must pass a touched set covering every live data bucket
    // (MergeOps.commitFullSync's contract).
    combine match {
      case mi: graft.operators.MergeInto if mi.requiresFullTarget =>
        val liveData = entries.collect {
          case (b, e) if e.ver != EmptyVer => b }.toSet
        require(liveData.subsetOf(touched),
          s"MERGE INTO '$table' has NOT MATCHED BY SOURCE clauses and " +
            "must see every live target row: commit it with a " +
            "full-target touched set (commitFullSync), not the batch's " +
            s"touched buckets — unseen buckets: " +
            s"${(liveData -- touched).toSeq.sorted.take(8).mkString(",")}")
      case _ => ()
    }
    if (touched.isEmpty) return entries
    val fs = new Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // split decision from manifest-v(k) state ONLY (the previous live
    // size), so a replayed trigger decides identically
    val thr = splitBytes(spark)
    val splitting: Map[Int, Int] = touched.iterator.flatMap { b =>
      entries.get(b).filter(e =>
          liveBytes(fs, stateDir, table, b, e.ver) >= thr)
        .map(e => b -> e.gen)
    }.toMap
    val wGens = gens ++ splitting.iterator.flatMap { case (b, g) =>
      Seq(b -> (g + 1), (b + (n << g)) -> (g + 1))
    }
    val writeTouched: Set[Int] = touched.flatMap { b =>
      splitting.get(b) match {
        case Some(g) => Seq(b, b + (n << g))
        case None => Seq(b)
      }
    }
    val cur = readTable(spark, stateDir, m, table, Some(touched),
      keyed.limit(0)).drop("bkt")
    // ONE file per touched bucket per version: repartition on the bucket
    // key collapses the post-combine shuffle partitions into <= touched
    // writer tasks — without it every shuffle partition writes a sliver
    // into every bucket dir (touched x partitions files, the small-file
    // problem q110 exists to undo)
    val merged = assignBucket(combine(cur, delta), table, n, wGens)
      .repartition(math.max(1, writeTouched.size), col("bkt"))
    val path = s"$stateDir/v$next/$table"
    sc.setJobDescription(s"mergeCommit:$table:v$next:write")
    planName match {
      case Some(name) => StreamPlans.recordPlan(name,
        org.apache.spark.sql.execution.GraftWrite
          .parquetCaptured(merged, path, Seq("bkt")))
      case None =>
        merged.write.mode("overwrite").partitionBy("bkt").parquet(path)
    }
    sc.setJobDescription(null)
    // a write-touched bucket with no materialized dir holds nothing (a
    // split child all of whose keys landed in its sibling, or a bucket
    // a delete emptied). A gen-0 empty DROPS its entry (absent base =
    // empty; its cover's fallback is itself, so closure holds). A gen>0
    // empty KEEPS a sentinel [[EmptyVer]] entry: dropping it would break
    // the split-tree closure bucketCol's covering argument needs — see
    // the EmptyVer scaladoc for the reproduced data-loss sequence.
    val pathP = new Path(path)
    val written: Set[Int] =
      if (!fs.exists(pathP)) Set.empty
      else fs.listStatus(pathP).map(_.getPath.getName)
        .filter(_.startsWith("bkt=")).map(_.drop(4).toInt).toSet
    (entries -- writeTouched) ++ writeTouched.iterator.flatMap { b =>
      val g = wGens.getOrElse(b, 0)
      if (written(b)) Some(b -> Bkt(next, g))
      else if (g > 0) Some(b -> Bkt(EmptyVer, g))
      else None
    }
  }

  /** INCREMENTAL STATS MANIFEST (r17, carried r15 stretch #8): per-bucket
    * (min, max, count) statistics maintained COMMIT BY COMMIT on the live
    * streaming store — the Delta add-file-stats idea on the bucketed
    * layout, where q118/q124's file manifest had to be rebuilt by a full
    * OPTIMIZE pass. After a [[mergeCommit]] writes its touched buckets
    * under `v(next)`, [[writeBucketStats]] records one stats row per
    * WRITTEN bucket (min/max of each stats column + row count) as
    * `v(next)/<table>.stats` — stats IO is O(touched buckets' data),
    * which the commit just paid anyway, never O(store). A reader
    * assembles the LIVE stats view exactly like the data itself: each
    * live bucket's stats row comes from the version dir its manifest
    * entry points at ([[bucketStats]]); [[metadataCount]] then answers
    * COUNT(*)-under-predicate queries from stats alone for buckets whose
    * ranges prove containment, scanning only straddling buckets.
    *
    * Hash-layout honesty: buckets are KEY-HASH partitions, so per-bucket
    * min/max of a payload column spans most of the global range — range
    * predicates prune buckets only when genuinely selective thresholds
    * clear a bucket's max (and the FULL-range count is always
    * metadata-only, Delta's numRecords fast path). Range-heavy workloads
    * cluster with q107/q118's z-order layout instead; this surface is
    * the LIVE-store complement, not a replacement. */

  /** Record per-bucket stats of `table`'s buckets written under
    * `v(next)`: one row per bucket dir with `<c>__min`/`<c>__max` per
    * stats column, `<c>__sum` per sum column (r18 — the Delta
    * per-file-sums extension [[metadataAggregate]] composes; sums keep
    * the column's Spark SUM type, so decimal sums stay exact), plus
    * `cnt`. No-op when the version wrote no buckets. Deterministic
    * content at deterministic paths — replay-safe like the data write
    * it describes. */
  def writeBucketStats(spark: SparkSession, stateDir: String,
      table: String, next: Long, statsCols: Seq[String],
      sumCols: Seq[String] = Nil): Unit = {
    val path = s"$stateDir/v$next/$table"
    val fs = new Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(path))) return
    val aggs = statsCols.flatMap(c => Seq(
      min(col(c)).as(s"${c}__min"), max(col(c)).as(s"${c}__max"))) ++
      sumCols.map(c => sum(col(c)).as(s"${c}__sum")) :+
      count(lit(1)).as("cnt")
    readVersionDir(spark, path)
      .groupBy(col("bkt"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$stateDir/v$next/$table.stats")
  }

  /** The LIVE stats view of `table` through manifest `m`: one row per
    * live data-bearing bucket, sourced from the version its manifest
    * entry references (the same resolution law as [[readTable]]). None
    * when no live bucket carries stats (a store that never recorded
    * them). Buckets whose version predates stats recording are absent —
    * callers treat absence as "must scan". */
  def bucketStats(spark: SparkSession, stateDir: String, m: Manifest,
      table: String): Option[DataFrame] = {
    val fs = new Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = m.getOrElse(table, Map.empty[Int, Bkt])
      .filter(_._2.ver != EmptyVer)
    val byVer = live.groupBy(_._2.ver).toSeq.sortBy(_._1)
      .filter { case (ver, _) =>
        fs.exists(new Path(s"$stateDir/v$ver/$table.stats")) }
    if (byVer.isEmpty) None
    else Some(byVer.map { case (ver, bkts) =>
      readVersionDir(spark, s"$stateDir/v$ver/$table.stats")
        .filter(col("bkt").isin(bkts.keys.toSeq: _*))
    // allowMissingColumns (r18): a store that started recording sum
    // columns mid-life unions older sum-less stats as NULL — readers
    // treat a NULL sum as "must scan", never as zero
    }.reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  /** METADATA-ONLY COUNT on the live store (r17, q124b): COUNT(*) under
    * closed-open interval predicates `boxes` (col -> [lo, hi) in double
    * space), answered from [[bucketStats]] for every bucket whose stats
    * prove FULL containment, scanning only straddling buckets (with the
    * exact residual filter). Returns (count, bucketsMetaCounted,
    * bucketsScanned, bucketsTotal). Buckets without stats rows scan.
    *
    * DELETION VECTORS COMPOSE here too (r17 review fix — the same class
    * of hole the mergeCommit guard closed): stats rows describe the
    * bucket AS WRITTEN, so a bucket that may hold tombstoned rows must
    * not be metadata-counted. The tombstones' covering buckets (the
    * shared key formula — O(tombstones) to compute) are forced into the
    * SCAN set, and the scan reads through the vector like every other
    * read verb; DV-free buckets keep the pure-metadata fast path. */
  /** The stats-row predicate "this bucket INTERSECTS the boxes" (may
    * hold qualifying rows); empty boxes = full range = always true. */
  private def boxInter(boxes: Seq[(String, Double, Double)]): Column =
    if (boxes.isEmpty) lit(true)
    else boxes.map { case (c, lo, hi) =>
      col(s"${c}__max").cast(org.apache.spark.sql.types.DoubleType) >= lo &&
        col(s"${c}__min").cast(org.apache.spark.sql.types.DoubleType) < hi
    }.reduce(_ && _)

  /** The stats-row predicate "this bucket is FULLY CONTAINED in the
    * boxes" (every row qualifies — stats alone answer for it). */
  private def boxFull(boxes: Seq[(String, Double, Double)]): Column =
    if (boxes.isEmpty) lit(true)
    else boxes.map { case (c, lo, hi) =>
      col(s"${c}__min").cast(org.apache.spark.sql.types.DoubleType) >= lo &&
        col(s"${c}__max").cast(org.apache.spark.sql.types.DoubleType) < hi
    }.reduce(_ && _)

  /** The exact residual row filter of `boxes` over `df`, with the
    * widened raw-typed superset guard on integral columns so the scan
    * still skips row groups (the CAST hides the attribute from parquet
    * stats). Empty boxes = no filter. */
  private def boxResidual(df: DataFrame,
      boxes: Seq[(String, Double, Double)]): DataFrame =
    if (boxes.isEmpty) df
    else df.filter(boxes.map { case (c, lo, hi) =>
      import org.apache.spark.sql.types._
      val exact = col(c).cast(DoubleType) >= lo &&
        col(c).cast(DoubleType) < hi
      df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          col(c) >= lit(math.floor(lo).toLong) &&
            col(c) < lit(math.ceil(hi).toLong) && exact
        case _ => exact
      }
    }.reduce(_ && _))

  def metadataCount(spark: SparkSession, stateDir: String, m: Manifest,
      table: String, boxes: Seq[(String, Double, Double)])
      : (Long, Long, Long, Long) = {
    val live = m.getOrElse(table, Map.empty[Int, Bkt])
      .filter(_._2.ver != EmptyVer)
    // live-DV composition: dvBuckets cannot be metadata-counted (their
    // written cnt includes hidden rows); the scan applies the vector
    val keyCols = keyColsFor(table)
    val dv: Option[DataFrame] = dvSlice(spark, stateDir, m, table)
    val dvBuckets: Set[Int] = dv.map { d =>
      assignBucket(d.select(keyCols.map(col): _*), table,
        numBuckets(spark), gensOf(m, table))
        .select("bkt").distinct().collect().map(_.getInt(0)).toSet
    }.getOrElse(Set.empty)
    val stats = bucketStats(spark, stateDir, m, table)
    val rows = stats.map { st =>
      st.filter(boxInter(boxes))
        .select(col("bkt"), col("cnt"), boxFull(boxes).as("full"))
        .collect()
    }.getOrElse(Array.empty)
    val metaCnt = rows.filter(r =>
      r.getBoolean(2) && !dvBuckets(r.getInt(0))).map(_.getLong(1)).sum
    val metaBkts = rows.count(r =>
      r.getBoolean(2) && !dvBuckets(r.getInt(0))).toLong
    // scan: straddling buckets + any live bucket with no stats row that
    // might intersect (no stats row after the inter-filter means either
    // pruned or stat-less — stat-less buckets are those absent from the
    // FULL stats view, conservatively scanned) + buckets a live DV may
    // hide rows in (their stats overcount)
    val statAll = stats.map(_.select("bkt").collect()
      .map(_.getInt(0)).toSet).getOrElse(Set.empty)
    val scanBkts = rows.filter(r =>
        !r.getBoolean(2) || dvBuckets(r.getInt(0)))
      .map(_.getInt(0)).toSet ++
      (live.keySet -- statAll)
    val scanned =
      if (scanBkts.isEmpty) 0L
      else {
        val base = readTable(spark, stateDir, m, table, Some(scanBkts),
          spark.emptyDataFrame).drop("bkt")
        // the scan half reads like every other verb: vector applied
        val df = dv match {
          case Some(d) => base.join(d, keyCols, "left_anti")
          case None => base
        }
        boxResidual(df, boxes).count()
      }
    (metaCnt + scanned, metaBkts, scanBkts.size.toLong,
      live.size.toLong)
  }

  /** METADATA-ONLY MIN/MAX/SUM on the live store (r18, q124c) — the
    * Delta stats-query path beyond COUNT: under interval predicates
    * `boxes`, the aggregate of each requested column composes from
    *   - the per-bucket stats rows of every FULLY-CONTAINED bucket
    *     (min of mins / max of maxes / sum of sums — ZERO data IO; sums
    *     ride the stats in their exact Spark SUM type, so decimal sums
    *     compose exactly), and
    *   - an exact residual-filtered scan of only the STRADDLING buckets
    *     (plus buckets without usable stats, plus any bucket a live
    *     deletion vector may hide rows in — the same DV composition as
    *     [[metadataCount]]).
    * The full-range query (empty or always-true boxes) on a DV-free
    * fully-statted store therefore answers MIN/MAX/SUM/COUNT with zero
    * data buckets scanned. A bucket whose stats predate sum recording
    * (NULL `<c>__sum`) scans — NULL never reads as zero.
    *
    * Returns (one-row DataFrame with `<c>__min`/`<c>__max` per
    * `minMaxCols`, `<c>__sum` per `sumCols`, and `cnt`;
    * bucketsMetaCounted, bucketsScanned, bucketsTotal). The driver-side
    * work is one stats collect — O(live buckets) METADATA, the same
    * budget every manifest operation already has. */
  def metadataAggregate(spark: SparkSession, stateDir: String,
      m: Manifest, table: String, boxes: Seq[(String, Double, Double)],
      minMaxCols: Seq[String], sumCols: Seq[String])
      : (DataFrame, Long, Long, Long) = {
    val live = m.getOrElse(table, Map.empty[Int, Bkt])
      .filter(_._2.ver != EmptyVer)
    val keyCols = keyColsFor(table)
    val dv: Option[DataFrame] = dvSlice(spark, stateDir, m, table)
    val dvBuckets: Set[Int] = dv.map { d =>
      assignBucket(d.select(keyCols.map(col): _*), table,
        numBuckets(spark), gensOf(m, table))
        .select("bkt").distinct().collect().map(_.getInt(0)).toSet
    }.getOrElse(Set.empty)
    // a bucket is metadata-answerable only when its stats row carries
    // every column this aggregate needs (box columns for containment,
    // min/max/sum contributions), all non-NULL
    val needStats = (boxes.map(_._1) ++ minMaxCols).distinct
      .flatMap(c => Seq(s"${c}__min", s"${c}__max")) ++
      sumCols.map(c => s"${c}__sum")
    val stats = bucketStats(spark, stateDir, m, table)
      .filter(st => needStats.forall(st.columns.contains))
    val statsOk = needStats.map(col(_).isNotNull)
      .foldLeft(lit(true))(_ && _)
    val rows = stats.map { st =>
      st.filter(boxInter(boxes))
        .select(col("bkt"), (boxFull(boxes) && statsOk).as("full"))
        .collect()
    }.getOrElse(Array.empty)
    val metaBkts = rows.filter(r =>
      r.getBoolean(1) && !dvBuckets(r.getInt(0))).map(_.getInt(0)).toSet
    val statAll = stats.map(_.select("bkt").collect()
      .map(_.getInt(0)).toSet).getOrElse(Set.empty)
    val scanBkts = rows.filter(r =>
        !r.getBoolean(1) || dvBuckets(r.getInt(0)))
      .map(_.getInt(0)).toSet ++ (live.keySet -- statAll)
    val outMinMax = minMaxCols.flatMap(c => Seq(s"${c}__min", s"${c}__max"))
    val outSums = sumCols.map(c => s"${c}__sum")
    val outCols = outMinMax ++ outSums :+ "cnt"
    // per-bucket metadata contributions (reads only the tiny stats
    // files) ...
    val metaDf: Option[DataFrame] =
      if (metaBkts.isEmpty) None
      else stats.map(_.filter(col("bkt").isInCollection(metaBkts.toSeq))
        .select(outCols.map(col): _*))
    // ... plus ONE aggregated contribution row from the residual scan
    // of the straddlers (shape from the full read so an empty scan set
    // still resolves the columns)
    val scanDf: DataFrame = {
      val shape = readTable(spark, stateDir, m, table, None,
        spark.emptyDataFrame).drop("bkt").limit(0)
      val base =
        if (scanBkts.isEmpty) shape
        else readTable(spark, stateDir, m, table, Some(scanBkts), shape)
          .drop("bkt")
      val read = dv match {
        case Some(d) if scanBkts.nonEmpty =>
          base.join(d, keyCols, "left_anti")
        case _ => base
      }
      val aggs = minMaxCols.flatMap(c => Seq(
        min(col(c)).as(s"${c}__min"), max(col(c)).as(s"${c}__max"))) ++
        sumCols.map(c => sum(col(c)).as(s"${c}__sum")) :+
        count(lit(1)).as("cnt")
      boxResidual(read, boxes).agg(aggs.head, aggs.tail: _*)
    }
    val parts = metaDf.toSeq :+ scanDf
    val union = parts.reduce(_.unionByName(_))
    val finalAggs = minMaxCols.flatMap(c => Seq(
      min(col(s"${c}__min")).as(s"${c}__min"),
      max(col(s"${c}__max")).as(s"${c}__max"))) ++
      sumCols.map(c => sum(col(s"${c}__sum")).as(s"${c}__sum")) :+
      sum(col("cnt")).as("cnt")
    (union.agg(finalAggs.head, finalAggs.tail: _*),
      metaBkts.size.toLong, scanBkts.size.toLong, live.size.toLong)
  }

  /** OPTIMISTIC COMMIT RETRY (r18) — the Delta commit loop: a full store
    * transaction (resolve top → DV-composed merge at top+1 → manifest
    * commit) that, on losing a version race to a rival writer, REBASES
    * instead of failing: re-read the new top, re-run the combine against
    * it, commit at the next version — bounded by `maxAttempts`. Rebase
    * is only legal when the rival's write footprint is DISJOINT from
    * ours: the conflict check compares each manifest's (table, bucket)
    * diff against the shared parent, Delta's file-level conflict
    * adjudication with the bucket as the file group. Overlapping
    * footprints throw the named conflict — the rival rewrote buckets
    * this transaction's combine already read, so a rebase would need
    * the merge re-run anyway and the caller must decide.
    *
    * Concurrency domains, honestly stated:
    *   - SAME-JVM committers on one store FULLY SERIALIZE here (one
    *     per-store transaction monitor around read-merge-commit): both
    *     land at successive versions and the content equals sequential
    *     execution — racing the DATA write would be unsafe (each
    *     version's table dir is a whole-dir overwrite, deterministic
    *     paths being the replay contract), so serialization, not
    *     adjudication, is the correct same-process tool.
    *   - CROSS-PROCESS rivals are decided by the manifest CAS; the
    *     loser lands here, checks footprint disjointness and rebases.
    *     The data-dir caveat is unchanged from the store's single-
    *     writer contract: two processes writing the SAME next version's
    *     table dir concurrently can clobber each other's files before
    *     the CAS decides (Delta avoids this with per-commit unique file
    *     names; this store's deterministic paths are what make replay
    *     byte-identical) — the retry loop removes the WASTED WORK of a
    *     sequential-divergence loss, not that contract.
    * Returns the committed version. */
  def commitRetry(spark: SparkSession, stateDir: String, table: String,
      delta: DataFrame, combine: (DataFrame, DataFrame) => DataFrame,
      op: String = DefaultOp, maxAttempts: Int = 3): Long = {
    val fs = new Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    txLock(stateDir).synchronized {
      var attempt = 0
      while (true) {
        attempt += 1
        val m = latestVersion(fs, stateDir)
          .map(readManifest(fs, stateDir, _)).getOrElse(Map.empty)
        val next = latestVersion(fs, stateDir).getOrElse(0L) + 1
        val nm = mergeCommitDv(spark, stateDir, m, table, next, delta,
          combine)
        commitRetryTestHook(next)
        try {
          writeManifest(fs, stateDir, next, nm, op = op)
          return next
        } catch {
          case e: IllegalStateException
              if e.getMessage.contains("concurrent-writer conflict") =>
            if (attempt >= maxAttempts) throw e
            val rival = readManifest(fs, stateDir, next)
            val overlap = conflictingBuckets(m, nm, rival)
            if (overlap.nonEmpty) throw new IllegalStateException(
              s"commit conflict on $stateDir v$next: a rival writer's " +
                s"footprint overlaps this transaction's (shared " +
                s"buckets: ${overlap.toSeq.sortBy(b => (b._1, b._2))
                  .take(8).mkString(", ")}) — the combine read state " +
                "the rival rewrote; re-run the transaction", e)
            // disjoint: loop — re-read the new top (the rival's commit)
            // and re-run the merge against it at the next version
        }
      }
      throw new IllegalStateException("unreachable")
    }
  }

  /** Test-only interleaving hook: invoked between a [[commitRetry]]
    * attempt's merge and its manifest commit, so a spec can land a
    * rival commit deterministically inside the race window. */
  private[streaming] var commitRetryTestHook: Long => Unit = _ => ()

  /** The (table, bucket) cells where BOTH `ours` and `rival` diverge
    * from the shared `parent` — the footprint overlap that forbids a
    * rebase. A cell changed by only one side composes; a cell changed
    * by both (including drops) conflicts. */
  private[streaming] def conflictingBuckets(parent: Manifest,
      ours: Manifest, rival: Manifest): Set[(String, Int)] = {
    def diff(m: Manifest): Set[(String, Int)] = {
      val tables = m.keySet ++ parent.keySet
      tables.flatMap { t =>
        val pm = parent.getOrElse(t, Map.empty[Int, Bkt])
        val mm = m.getOrElse(t, Map.empty[Int, Bkt])
        (pm.keySet ++ mm.keySet).collect {
          case b if pm.get(b) != mm.get(b) => t -> b
        }
      }
    }
    diff(ours) intersect diff(rival)
  }

  /** Per-store transaction monitors for [[commitRetry]] — striped like
    * [[commitLocks]], keyed by store dir alone (the whole transaction
    * spans versions). */
  private val txLocks = Array.fill(64)(new Object)
  private def txLock(stateDir: String): Object =
    txLocks(math.floorMod(stateDir.hashCode, txLocks.length))

  /** Fold the version tail: rewrite EVERY live bucket of every table
    * into one consolidated COMPACTION EPOCH, repoint the manifest AT THE
    * CURRENT TOP VERSION at it, and GC the now-unreferenced tail. Safe
    * offline OR between triggers right after batch (top-1) committed
    * `v(top)`: GC keeps manifest v(top-1)'s references (and the dir
    * itself), so a crash before the stream checkpoint lands still
    * replays batch top-1 against intact state — the replayed trigger
    * simply overwrites the repointed manifest and the epoch dies at the
    * next GC. One read + one write of the live data, occasionally,
    * batch-independent.
    *
    * Epoch dirs use NEGATIVE version numbers (`v-1`, `v-2`, ...) so they
    * can never collide with the stream's batchId-derived versions — the
    * resumption contract (batch k probes manifest `v(k)`, writes
    * `v(k+1)`) survives compaction untouched: the next batch still reads
    * manifest `v(top)`, which now points every bucket at the epoch dir.
    * Crash-safe ordering: epoch data fully written BEFORE the one-file
    * manifest overwrite commits it; the old tail is deleted only after.
    * Returns the repointed manifest.
    *
    * `retain`/`retainMillis` MUST match the stream's own gc retention
    * (the time-travel window, count-based AND wall-clock): compaction's
    * GC uses the same rule, so a store run with `retain = 8` snapshots
    * or a wall-clock window keeps them readable through a compaction
    * instead of silently evicting them down to the crash-replay
    * minimum (the half-plumbed variant of the r14 advisor bug — caught
    * by the r15 review pass). */
  def compact(spark: SparkSession, stateDir: String, top: Long,
      retain: Int = 2, retainMillis: Long = 0L): Manifest = {
    val fs = new Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = readManifest(fs, stateDir, top)
    val existing = fs.listStatus(new Path(stateDir))
      .map(_.getPath.getName).filter(_.matches("v-?\\d+"))
      .map(_.drop(1).toLong)
    val epoch = math.min(0L, existing.minOption.getOrElse(0L)) - 1
    val nm: Manifest = m.map { case (table, bkts) =>
      // sentinel (live-but-empty split) entries hold no data: they keep
      // their EmptyVer pointer through compaction — repointing them at
      // the epoch dir would be a dangling reference if every bucket of
      // the table were empty (nothing to write)
      val withData = bkts.filter(_._2.ver != EmptyVer)
      if (withData.isEmpty) table -> bkts
      else {
        readTable(spark, stateDir, m, table, None, null)
          .repartition(math.max(1, withData.size), col("bkt"))
          .write.mode("overwrite").partitionBy("bkt")
          .parquet(s"$stateDir/v$epoch/$table")
        table -> bkts.map { case (b, e) =>
          b -> (if (e.ver == EmptyVer) e else Bkt(epoch, e.gen)) }
      }
    }
    // repoint = the one legitimate different-content rewrite of a
    // committed version (see writeManifest's concurrency contract)
    writeManifest(fs, stateDir, top, nm, repoint = true, op = "compact")
    // prev = top - 1: the PREVIOUS manifest's references (and dir) are
    // the crash-replay fallback for the batch that committed v(top) —
    // deleting them here would strand a resume whose checkpoint commit
    // had not landed before compaction ran
    gc(fs, stateDir, top - 1, top, retain, retainMillis)
    nm
  }

  /** Post-commit hook for streams: fold the tail when the live
    * version-dir count exceeds [[autoCompactVersions]]. Called right
    * after batch k commits `v(top)` — crash-safe per [[compact]]'s
    * contract. Pass the stream's own gc `retain` so auto-compaction
    * honors the same time-travel window (a store run with retain=8
    * must not have its retained snapshots evicted mid-stream by the
    * compaction default). Returns whether a compaction ran. */
  def maybeCompact(spark: SparkSession, stateDir: String,
      top: Long, retain: Int = 2, retainMillis: Long = 0L): Boolean = {
    val maxV = autoCompactVersions(spark)
    if (maxV <= 0) return false
    val fs = new Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new Path(stateDir)
    if (!fs.exists(root)) return false
    val count = fs.listStatus(root).map(_.getPath.getName)
      .count(_.matches("v-?\\d+"))
    if (count <= maxV) false
    else { compact(spark, stateDir, top, retain, retainMillis); true }
  }

  /** Delete version dirs that no RETAINED manifest references. The newest
    * `retain` manifests (ending at `next`, always including `prev`) stay
    * fully replayable — their referenced data dirs and their own dirs
    * survive. The default 2 = {prev, next} is the crash-replay minimum
    * (prev survives so a crash before the stream checkpoint lands can
    * replay the batch that committed `next`); a larger `retain` is the
    * TIME-TRAVEL window — `tableAt` can read any still-retained version
    * (the Delta/Iceberg snapshot-retention model).
    *
    * `retainMillis` > 0 adds a WALL-CLOCK window (r15): every version
    * whose manifest file's mtime is younger than the window is also
    * retained fully replayable — the production "7 days of VERSION AS
    * OF" policy (Delta's `delta.deletedFileRetentionDuration`). The
    * mtime is FILE METADATA, so replay stays byte-identical (a stamp in
    * the manifest content would not); a replayed trigger refreshes the
    * mtime, which can only EXTEND retention, never shrink it. The
    * count-based floor stays as the crash-replay minimum either way.
    * Returns the deleted versions (spec observability). */
  def gc(fs: FileSystem, stateDir: String, prev: Long,
      next: Long, retain: Int = 2, retainMillis: Long = 0L,
      dryRun: Boolean = false): Seq[Long] = {
    val root = new Path(stateDir)
    if (!fs.exists(root)) return Nil
    val countProtect =
      ((next - math.max(retain, 2) + 1) to next).toSet + prev + next
    val ageProtect: Set[Long] =
      if (retainMillis <= 0L) Set.empty
      else {
        val cutoff = System.currentTimeMillis() - retainMillis
        fs.listStatus(root).map(_.getPath.getName)
          .filter(_.matches("v-?\\d+")).map(_.drop(1).toLong)
          .filter { v =>
            val mp = manifestPath(stateDir, v)
            fs.exists(mp) &&
              fs.getFileStatus(mp).getModificationTime >= cutoff
          }.toSet
      }
    val protect = countProtect ++ ageProtect
    // a protected version must stay fully READABLE: its data-dir
    // references survive, and (r16, delta manifests) so does every
    // manifest file in its delta CHAIN — deleting a chain parent's dir
    // would tear the resolution of a retained snapshot
    val resolved = protect.toSeq.sorted
      .flatMap(v => resolveManifest(fs, stateDir, v))
    val referenced =
      resolved.flatMap(_.m.values).flatMap(_.values.map(_.ver)).toSet ++
        resolved.flatMap(_.chain).toSet ++ protect
    // v-?: compaction epoch dirs (negative versions) are GC'd by the
    // same reference rule once a later epoch supersedes them. No floor
    // term (r16, advisor fix): with a wall-clock window the oldest
    // age-protected version used to shield every younger unreferenced
    // dir from reclamation (dead required v < protect.min) — referenced
    // ∪ protect IS the full live set, anything else is dead wherever it
    // sits in the version order.
    val dead = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.matches("v-?\\d+")).map(_.drop(1).toLong)
      .filter(v => !referenced.contains(v))
      .sorted.toSeq
    // DRY RUN (r20, Delta's audit spelling): report the reclaimable
    // set from the identical reference computation, delete nothing
    if (!dryRun) dead.foreach { v =>
      fs.delete(new Path(s"$stateDir/v$v"), true)
      manifestMemo.remove(memoKey(stateDir, v))
    }
    dead
  }
}
