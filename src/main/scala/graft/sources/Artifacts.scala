package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Build-once-serve-many index artifacts (dedup cluster labels, IVF
  * centroids) persisted as CATALOG TABLES, not JVM caches: the artifact
  * must outlive the process that built it — a deployment builds the
  * label/centroid table in one job and every later session serves reads
  * from the warehouse.
  *
  * Registration is EXTERNAL (files written to the warehouse location,
  * then `CREATE TABLE ... USING parquet LOCATION`), deliberately not a
  * managed `saveAsTable`: this environment's catalog is in-memory per
  * session (SURVEY §7.1 — no persistent metastore jars), so the catalog
  * ENTRY dies with the session while the files persist. Dropping a
  * managed table would delete the artifact with the entry; the external
  * form lets a cold session (or cold JVM) find the files and re-register
  * instead of rebuilding — which is the whole point of persisting.
  *
  * Table names carry (corpus-dir hash, read tables' content fingerprint,
  * defining-plan digest) — see [[Artifacts.keyFor]]: a different corpus
  * or a changed derivation can never serve a stale artifact — it simply
  * misses and rebuilds under a new name.
  */
object Artifacts {
  val Db = "graft_artifacts"

  private def qualified(table: String) = s"`$Db`.`$table`"

  def location(spark: SparkSession, table: String): Path =
    new Path(s"${spark.conf.get("spark.sql.warehouse.dir")}/$Db.db/$table")

  /** Serve `table` from the catalog; on a catalog miss re-register the
    * existing warehouse files, and only if those are absent too run
    * `build` and persist its result. The served frame is always the
    * parquet table — cold and warm reads are byte-identical.
    *
    * The miss path is serialized per JVM (parallel test suites — or any
    * two threads constructing plans over the same corpus — must not race
    * one build), and registration is IF-NOT-EXISTS so losing a race to
    * another session over the shared in-memory catalog stays benign. */
  def servePersisted(spark: SparkSession, table: String)(build: => DataFrame): DataFrame =
    servePersistedBy(spark, table) { stage =>
      build.write.mode(SaveMode.Overwrite).parquet(stage.toString)
    }

  /** [[servePersisted]] generalized to a FILE-LEVEL build: `buildInto`
    * populates the staging directory itself — the incremental-append
    * refresh path composes a new artifact generation as hard links to
    * the previous generation's immutable part files plus freshly written
    * batch-derived files (the snapshot-manifest idiom), paying O(batch)
    * compute and O(files) metadata instead of re-encoding the whole
    * artifact. Locking/staging/registration semantics are identical. */
  private[graft] def servePersistedBy(spark: SparkSession, table: String)(
      buildInto: Path => Unit): DataFrame = {
    if (!spark.catalog.tableExists(s"$Db.$table")) buildLock.synchronized {
      if (!spark.catalog.tableExists(s"$Db.$table")) {
        Ingest.ensureDatabase(spark, Db)
        val loc = location(spark, table)
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        ensureBuilt(fs, loc)(buildInto)
        spark.sql(s"CREATE TABLE IF NOT EXISTS ${qualified(table)} USING parquet " +
          s"LOCATION '${fs.makeQualified(loc).toString}'")
        epochs.incrementAndGet()
      }
    }
    spark.table(qualified(table))
  }

  /** Link every DATA file of artifact directory `src` into `dst` under a
    * `prev_` prefix added once (collision-proof against the fresh `part-*`
    * files, which carry their write's job id, so chained links stay unique).
    * Local filesystems hard-link (O(1) per file, zero bytes moved);
    * other schemes fall back to a byte copy. `_SUCCESS`, locks, and
    * checksum sidecars are skipped — the staging write provides its own
    * `_SUCCESS`. Returns the number of files linked. */
  private[graft] def linkDataFilesInto(fs: org.apache.hadoop.fs.FileSystem,
      src: Path, dst: Path): Int = {
    var n = 0
    fs.listStatus(src).foreach { st =>
      val name = st.getPath.getName
      if (st.isFile && !name.startsWith(".") && !name.startsWith("_")) {
        val target = new Path(dst, if (name.startsWith("prev_")) name else s"prev_$name")
        if (fs.getScheme == "file")
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.Paths.get(st.getPath.toUri.getPath))
        else
          org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs, target,
            false, fs.getConf)
        n += 1
      }
    }
    n
  }

  /** Count of artifact builds this JVM actually EXECUTED (lock winner
    * ran the build body — catalog hits, file re-registrations, and lock
    * losers don't count). Bench snapshots it around the prebuild pass:
    * `prebuild_builds: 0` is the visible proof that a content-unchanged
    * corpus served every family instead of rebuilding (prebuild_s alone
    * can't show it — it includes one serve-pass of every query). */
  private val buildsExecuted = new java.util.concurrent.atomic.AtomicLong
  def buildCount: Long = buildsExecuted.get()

  /** Artifact epoch: moves on every change to what an artifact table
    * name resolves to — a build, a catalog registration, the drop of a
    * catalog entry or of files ([[sweepStale]]'s deletions included).
    * A reused query plan ([[PlanCache]]) holds the artifact relations
    * its construction resolved, so a plan recorded at another epoch is
    * constructed again. */
  private val epochs = new java.util.concurrent.atomic.AtomicLong
  def epoch: Long = epochs.get()

  private object buildLock
  /** A builder that holds the lock longer than this is presumed dead
    * (crashed JVM left its lock file behind); waiters break the lock. */
  private val StaleLockMs = 30L * 60 * 1000
  private val LockWaitMs  = 60L * 60 * 1000

  /** Cross-PROCESS exclusive build of the artifact files at `loc`.
    *
    * The per-JVM `buildLock` above serializes threads; two concurrent
    * JVMs (sbt test alongside Bench) previously could both miss and both
    * `Overwrite` into `loc`, each deleting the other's in-progress files
    * — and a reader registered on the half-written directory could serve
    * a partial artifact. Protocol here:
    *   1. `_SUCCESS` present → a COMPLETE prior write exists; serve it.
    *   2. Otherwise take a create-exclusive `<loc>.lock` file (atomic on
    *      local FS and HDFS). The winner builds into a private staging
    *      dir, deletes any crashed-build partial at `loc`, and RENAMES
    *      staging into place — readers only ever see absent-or-complete.
    *   3. Losers poll for the winner's `_SUCCESS`, breaking locks whose
    *      mtime says the holder died. The duplicate-work race (two
    *      sessions building the same 172 s sf1 artifact) is gone: the
    *      loser waits instead of rebuilding. */
  private[graft] def ensureBuilt(fs: org.apache.hadoop.fs.FileSystem, loc: Path)(
      buildInto: Path => Unit): Unit = {
    val success = new Path(loc, "_SUCCESS")
    if (fs.exists(success)) return
    fs.mkdirs(loc.getParent)
    val lock = new Path(loc.getParent, loc.getName + ".lock")
    val deadline = System.currentTimeMillis() + LockWaitMs
    // create-exclusive: Hadoop's LOCAL create(overwrite=false) is a
    // non-atomic exists-then-create (two racers can both "win"), so on
    // file:// the lock is taken with File.createNewFile (O_CREAT|O_EXCL,
    // atomic); on HDFS-like schemes create(false) is atomic server-side.
    def tryAcquire(): Boolean =
      if (fs.getScheme == "file")
        try new java.io.File(lock.toUri.getPath).createNewFile()
        catch { case _: java.io.IOException => false }
      else
        try { fs.create(lock, false).close(); true }
        catch { case _: java.io.IOException => false }
    while (!fs.exists(success)) {
      val acquired = tryAcquire()
      if (acquired) {
        try {
          if (!fs.exists(success)) {
            val stage = new Path(loc.getParent,
              loc.getName + "_stage_" + java.util.UUID.randomUUID().toString.take(8))
            try {
              buildInto(stage)
              buildsExecuted.incrementAndGet()
              epochs.incrementAndGet()
              if (fs.exists(loc)) fs.delete(loc, true) // crashed-build partial
              if (!fs.rename(stage, loc))
                throw new java.io.IOException(s"rename $stage -> $loc failed")
            } finally if (fs.exists(stage)) fs.delete(stage, true)
          }
        } finally fs.delete(lock, false)
        return
      }
      // lock held elsewhere: wait for its _SUCCESS, breaking stale locks
      val stale =
        try fs.getFileStatus(lock).getModificationTime < System.currentTimeMillis() - StaleLockMs
        catch { case _: java.io.IOException => false } // holder just released
      if (stale) fs.delete(lock, false) else Thread.sleep(100)
      if (System.currentTimeMillis() > deadline)
        throw new java.io.IOException(s"timed out waiting for artifact build lock $lock")
    }
  }

  /** Drop catalog entry AND files — force a truly cold rebuild. */
  def dropArtifact(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${qualified(table)}")
    val loc = location(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    epochs.incrementAndGet()
  }

  /** Drop only the catalog ENTRY, keeping the files — simulates a fresh
    * session/JVM against an already-built warehouse (test hook). */
  def dropEntry(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${qualified(table)}")
    epochs.incrementAndGet()
  }

  /** Artifact table names are `<kind>_<dirhash10>_<fp8>_<plan8>`; the
    * (fp, plan) suffix is one corpus GENERATION of the (kind, dir)
    * family. */
  private val GenerationName = "^(.+_[0-9a-f]{10})_[0-9a-f]{8}_[0-9a-f]{8}$".r

  /** GC superseded artifact generations (r16 verdict task 6):
    * [[servePersisted]] writes a new `<kind>_<key>` table per corpus
    * state and nothing ever removed the old ones — every corpus rewrite
    * left a full artifact generation behind in the warehouse, forever.
    * Keeps the newest `keep` generations per (kind, corpus-dir) group by
    * artifact-directory mtime and deletes the rest (files + catalog
    * entry); also clears crashed-build `_stage_` leftovers older than
    * the stale-lock horizon. `keep` ≥ 1 always retains the generation a
    * live session is serving (it is the newest of its group); keeping 2
    * tolerates one in-flight corpus swap. Returns the number of
    * generations deleted. */
  def sweepStale(spark: SparkSession, keep: Int = 2): Int = {
    require(keep >= 1, "sweepStale must keep at least the live generation")
    val dbDir = new Path(s"${spark.conf.get("spark.sql.warehouse.dir")}/$Db.db")
    val fs = dbDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dbDir)) return 0
    val now = System.currentTimeMillis()
    var swept = 0
    val children = fs.listStatus(dbDir)
    children.foreach { st => // crashed-build staging dirs: never registered
      if (st.isDirectory && st.getPath.getName.contains("_stage_") &&
          st.getModificationTime < now - StaleLockMs) {
        fs.delete(st.getPath, true); swept += 1; epochs.incrementAndGet()
      }
    }
    children.filter(st => st.isDirectory && !st.getPath.getName.contains("_stage_"))
      .flatMap { st =>
        st.getPath.getName match {
          case GenerationName(group) => Some((group, st))
          case _ => None
        }
      }
      .groupBy(_._1).values.foreach { gen =>
        gen.sortBy(-_._2.getModificationTime).drop(keep).foreach { case (_, st) =>
          dropArtifact(spark, st.getPath.getName); swept += 1
        }
      }
    swept
  }

  /** Deterministic table-name key of a family that reads `tables` of the
    * corpus at `dir`: `<dir digest>_<content fingerprint>_<plan digest>`,
    * the defining-plan construction MEMOIZED per (kind, dir, content).
    *
    * CONTENT key. The fingerprint covers exactly the declared `tables`
    * ([[tablesFingerprint]]): the warehouse outlives the JVM, so a read
    * table rewritten in place with DIFFERENT data must miss and rebuild,
    * not silently serve the old corpus's artifact; a byte-identical
    * regeneration (same seed, fresh mtimes) keeps the key, so artifacts
    * survive the regenerate-from-seed workflow (r16 verdict task 3); and
    * a change to a table the family does not read leaves the key — and
    * the served artifact — alone (an orders append no longer rebuilds
    * the documents families, a documents append the orders statistics:
    * 530 s / 4,447 CPU-s at sf10full when they were keyed on the whole
    * dir). ArtifactFamilySpec pins that each defining plan scans only
    * its declared tables.
    *
    * CANONICALIZED plan. The plan digest hashes the canonicalized plan's
    * string form, NOT `semanticHash()` — canonicalized expression ids
    * print as stable ordinals (#0, #1, …) while `ExprId.hashCode` mixes
    * in `NamedExpression.jvmId`, a per-JVM random UUID, which would give
    * every fresh JVM a different key and silently defeat cross-JVM
    * artifact reuse (observed: five labels_* tables for one corpus).
    * Within one JVM the code is fixed, so (kind, dir, content) fully
    * determines the defining plan and the memo is exact; constructing,
    * analyzing and canonicalizing it ran once per query before (r14: a
    * diffuse ~0.1-0.8 s per artifact-served row at sf0.1, PERF.md 14c).
    * `kind` must be unique per family — two families may share one
    * defining plan (labels and edges both key on the edge derivation)
    * and still need their own memo rows; only the latest fingerprint per
    * (kind, dir) is kept.
    *
    * SPREAD. The defining plan also embeds the spread decision
    * (Scale.spreadIfNarrow's Repartition), which is memoized on the
    * content of the files it read ([[ContentMemo.over]]), so the plan
    * hashed here is the one a fresh JVM reading this content builds. */
  def keyFor(spark: SparkSession, dir: String, kind: String, tables: Seq[String])(
      defining: => DataFrame): String = {
    val fp = tablesFingerprint(spark, dir, tables)
    keyMemo.at(kind, dir, fp)(keyOf(dir, fp, defining))
  }

  /** [[keyFor]] without its memo: the key a fresh JVM mints
    * for `defining` over this content. */
  private[graft] def key(spark: SparkSession, dir: String, tables: Seq[String],
      defining: DataFrame): String =
    keyOf(dir, tablesFingerprint(spark, dir, tables), defining)

  private def keyOf(dir: String, fp: String, defining: DataFrame): String =
    s"${md5hex(dir).take(10)}_${fp.take(8)}_" +
      md5hex(defining.queryExecution.analyzed.canonicalized.toString).take(8)

  /** (kind, dir) → derived key at the latest content fingerprint. */
  private val keyMemo = new ContentMemo[String]

  /** CONTENT fingerprint of `dir`'s `tables`: md5 over the sorted
    * recursive file listing of (path, length, per-file content digest)
    * of each `dir/<table>.parquet` entry (a single file or a directory of
    * part files). Missing tables contribute nothing — the absence is
    * visible because the fingerprint then matches no state that had the
    * table.
    *
    * Until r16 this hashed (path, length, mtime) — which made the key
    * strictly TIME-keyed: regenerating a corpus from the same seed
    * (byte-identical values, fresh mtimes — the documented
    * tools/gen_sf_local.py workflow, and what the driver does to
    * /root/testdata between rounds) minted a new fingerprint and every
    * persisted artifact family rebuilt from scratch (r16 gate:
    * prebuild_s 1,658.9 s at sf10full on data identical to what the
    * artifacts were built from). Content keys close that: identical
    * bytes ⇒ identical key ⇒ the serve architecture actually serves
    * across corpus regenerations, sessions, and JVMs.
    *
    * The per-file digest reads the file's HEAD and TAIL windows (64 KiB
    * each; whole file when smaller), not the full bytes: for parquet the
    * tail window covers the footer — row-group offsets, sizes, and
    * column min/max stats — so any data change that survives identical
    * (path, length) still moves the digest. Cost scales with FILE COUNT
    * (two ranged reads per file), not byte volume — at 100 TB this is
    * the same O(footers) a planner's schema merge already pays, and
    * nothing like re-reading the corpus. Per JVM each (path, len, mtime)
    * digests ONCE ([[fileDigestMemo]]); steady-state calls are a pure
    * metadata walk exactly as before, with mtime serving as the memo's
    * cheap validity check rather than as the identity itself.
    *
    * Also keys every construct-time probe memo ([[ContentMemo]]): memo
    * hits are valid precisely while the CONTENT is unchanged, so content
    * keys make those memos survive an in-place same-bytes rewrite too —
    * which is correct, where the mtime key's forced miss was merely
    * safe. */
  def tablesFingerprint(spark: SparkSession, dir: String, tables: Seq[String]): String = {
    val fp = fingerprintOf(spark, tables.sorted.map(t => new Path(dir, s"$t.parquet")))
    reading.value.foreach(_ += ((dir, tables.sorted, fp)))
    fp
  }

  /** A fingerprint [[tablesFingerprint]] took: (dir, sorted tables, fp). */
  private[graft] type Read = (String, Seq[String], String)

  /** `body`'s value and every fingerprint [[tablesFingerprint]] took on
    * this thread while it ran: the corpus content a construction read,
    * through [[graft.Tables.load]], a family key or a probe memo. An
    * enclosing call sees the reads too. */
  private[graft] def readsDuring[A](body: => A): (A, Set[Read]) = {
    val seen = scala.collection.mutable.Set.empty[Read]
    val a = reading.withValue(Some(seen))(body)
    reading.value.foreach(_ ++= seen)
    (a, seen.toSet)
  }

  private val reading =
    new scala.util.DynamicVariable[Option[scala.collection.mutable.Set[Read]]](None)

  /** The content fingerprint of the files under `roots`, in order (see
    * [[tablesFingerprint]]); unrecorded. */
  private[sources] def fingerprintOf(spark: SparkSession, roots: Seq[Path]): String = {
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    roots.foreach { root =>
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def visit(st: org.apache.hadoop.fs.FileStatus): Unit =
        if (st.isDirectory)
          fs.listStatus(st.getPath).sortBy(_.getPath.getName).foreach(visit)
        else if (!st.getPath.getName.startsWith(".")) { // ignore CRC sidecars
          val path = st.getPath.toUri.getPath
          val mtime = st.getModificationTime
          val dig =
            if (mtime > System.currentTimeMillis() - RacyMs) headTailDigest(fs, st.getPath, st.getLen)
            else fileDigestMemo.getOrElseUpdate((path, st.getLen, mtime),
              headTailDigest(fs, st.getPath, st.getLen))
          entries += s"$path|${st.getLen}|$dig"
        }
      if (fs.exists(root)) visit(fs.getFileStatus(root))
    }
    md5hex(entries.mkString("\n"))
  }

  /** (path, len, mtime) → content digest. Unbounded in principle but in
    * practice one row per corpus file per observed state — corpus counts
    * here are tens of files, and a 1000-file deployment corpus is still
    * only 1000 small tuples per JVM. */
  private val fileDigestMemo =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Long), String]

  /** A file modified less than this long ago is digested on every call
    * and never memoized: it can still be rewritten inside the same mtime
    * tick (same path, length and mtime, new bytes), which the memo key
    * cannot tell apart. Covers filesystems with 1 s mtime granularity. */
  private val RacyMs = 2000L

  private val DigestWindow = 64 * 1024

  /** md5 over head (first 64 KiB) + tail of the file — whole file when
    * ≤128 KiB. The tail is what matters for parquet (footer metadata:
    * offsets + stats); the head catches header-side formats
    * (CSV/JSON-lines). Length is hashed separately by the caller, so the
    * windows only need to distinguish same-length rewrites.
    *
    * The tail window is FOOTER-AWARE (r17 verdict): a fixed 64 KiB tail
    * left the middle of a parquet footer LARGER than the window (wide
    * schemas / many row groups at sf100+) outside the digest, so a
    * same-length interior rewrite beyond both windows could serve stale.
    * When the file ends with the parquet magic, the 4 bytes before it
    * carry the footer length; the tail window widens to cover the whole
    * footer (+8 trailer bytes), so every row-group's min/max stats land
    * inside the digest — any data change that survives identical
    * (path, length) moves some stat or offset in the footer. A bogus
    * trailer length (corrupt file) clamps to the remaining bytes. */
  private[sources] def headTailDigest(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      len: Long): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](2 * DigestWindow)
      def readFully(pos: Long, n: Int): Unit = {
        in.seek(pos)
        var off = 0
        while (off < n) {
          val r = in.read(buf, off, n - off)
          if (r < 0) throw new java.io.EOFException(s"$p truncated under digest")
          off += r
        }
      }
      def digestAt(pos: Long, n: Int): Unit = { readFully(pos, n); md.update(buf, 0, n) }
      // digest a tail range in window-sized chunks (footers can be MBs;
      // never allocate footer-sized buffers)
      def digestRange(pos: Long, n: Long): Unit = {
        var at = pos; var left = n
        while (left > 0) {
          val chunk = math.min(left, buf.length.toLong).toInt
          digestAt(at, chunk); at += chunk; left -= chunk
        }
      }
      if (len <= 2L * DigestWindow) digestAt(0, len.toInt)
      else {
        digestAt(0, DigestWindow)
        // parquet trailer: [4-byte LE footer length]["PAR1"]
        readFully(len - 8, 8)
        val isParquet = buf(4) == 'P' && buf(5) == 'A' && buf(6) == 'R' && buf(7) == '1'
        val footerLen =
          if (!isParquet) 0L
          else ((buf(0) & 0xffL) | ((buf(1) & 0xffL) << 8) |
            ((buf(2) & 0xffL) << 16) | ((buf(3) & 0xffL) << 24))
        val tailLen = math.min(len - DigestWindow, // never re-read past the head window
          math.max(DigestWindow.toLong, footerLen + 8))
        digestRange(len - tailLen, tailLen)
      }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}

/** A value derived from immutable input, held per `(name, dir)` only
  * while that input's content fingerprint is unchanged. A changed
  * fingerprint recomputes and REPLACES the row, so regenerating a
  * corpus in place many times over one driver lifetime keeps one row
  * per key instead of one per state.
  *
  * This is the one construct-time memo, and it is how a query's
  * construction stays free of Spark jobs on a warm corpus: every value
  * the plan needs from immutable input is probed once per content state
  * and then read from here. Its users:
  *   - [[graft.Tables]]: each table's parquet schema and row count;
  *   - `CartAnalytics.orderDateRange`: the order-date bounds;
  *   - `TextAnalysis`: t07's stratum quota;
  *   - `Similarity.servedCents`: the served centroid rows;
  *   - [[Artifacts.keyFor]]: each artifact family's table-name key;
  *   - [[graft.plans.Scale]]: the spread decision and the skew probe,
  *     and `Curation`'s max-id probe, through [[over]].
  * Content keys, not paths or mtimes: a table rewritten in place with
  * different bytes is a new state and re-probes; a byte-identical
  * rewrite keeps its value. Two threads missing at once both compute
  * the same value; the later write wins harmlessly. */
final class ContentMemo[A] {
  private val rows = scala.collection.concurrent.TrieMap.empty[(String, String), (String, A)]

  /** The value for `(name, dir)` at content state `fp`, computed on a miss. */
  def at(name: String, dir: String, fp: String)(compute: => A): A =
    rows.get((name, dir)) match {
      case Some((f, v)) if f == fp => v
      case _ =>
        val v = compute
        rows.put((name, dir), (fp, v))
        v
    }

  /** [[at]] keyed on the content of `dir`'s `tables`
    * ([[Artifacts.tablesFingerprint]]). */
  def apply(spark: SparkSession, dir: String, name: String, tables: Seq[String])(
      compute: => A): A =
    at(name, dir, Artifacts.tablesFingerprint(spark, dir, tables))(compute)

  /** [[at]] keyed on the files `df` reads: one row per `name` and sorted
    * set of file-relation roots in `df`'s analyzed plan, valid while
    * those roots' content fingerprint is unchanged. `name` must carry
    * whatever else the value depends on (the skew and max-id probes put
    * the plan's semantic hash in it). A frame that reads no files (local
    * rows, a checkpoint) computes on every call. Not recorded in
    * [[Artifacts.readsDuring]]: the tables a construction loads are
    * recorded already, and recording the roots again would make every
    * [[PlanCache]] hit fingerprint them once more. */
  def over(df: DataFrame, name: String)(compute: => A): A = {
    val roots = df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _                   => Nil
      }
    }.flatten.distinct.sorted
    if (roots.isEmpty) compute
    else at(name, roots.mkString("\n"),
      Artifacts.fingerprintOf(df.sparkSession, roots.map(new Path(_))))(compute)
  }
}
