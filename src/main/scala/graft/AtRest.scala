package graft

import org.apache.spark.sql.SparkSession

/** Locations for MATERIALIZED INDEX relations ("at rest"): a production
  * pipeline builds its derived indexes — near-dup pair sets, minhash
  * signatures, ANN cell assignments — once, writes them to columnar
  * storage, and lets every consumer scan the index instead of recomputing
  * the derivation (the shape behind q_dedup_pairs_at_rest /
  * q_sim_ivf_at_rest and their incremental refresh twins).
  *
  * The root is session-configurable (`graft.atrest.dir`; default
  * `target/graft-atrest` under the working directory — a disposable build
  * artifact, never the read-only data dir). Each index path embeds a
  * FINGERPRINT of (a) its source table's parquet parts (name/length/
  * mtime), so a regenerated corpus at the same path can never serve a
  * stale index, and (b) the index's DERIVATION-PARAMETER string (shingle
  * width, band geometry, jaccard threshold, quantizer config, on-disk
  * layout…), so changing a pipeline constant invalidates its indexes
  * automatically instead of relying on someone remembering to bump the
  * shared code [[Version]].
  *
  * Build invariant: a generation is written — and [[gcStale]] run —
  * only when its fingerprint directory is not [[isBuilt]] ([[buildOnce]]);
  * every other call serves the generation already on disk. The params
  * string is the content contract: two calls that resolve to the same
  * directory must be able to serve each other's bytes.
  */
object AtRest {
  /** Bump to invalidate every at-rest index after a cross-cutting
    * pipeline change not captured by an index's own params string. */
  val Version = 1

  /** BUILD-EVENT log: every at-rest write calls [[gcStale]] after it
    * succeeds, so recording the index family there gives an exact "was
    * any index BUILT (vs read) in this window" signal. Bench drains it
    * per timed rep — a query whose slow rep coincides with a build event
    * is paying index construction, not its own plan. */
  private val buildLog = new java.util.concurrent.ConcurrentLinkedQueue[String]
  private[graft] def drainBuildEvents(): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var e = buildLog.poll()
    while (e != null) { out += e; e = buildLog.poll() }
    out.toSeq
  }

  def root(s: SparkSession): String =
    s.conf.getOption("graft.atrest.dir").getOrElse(
      new java.io.File(sys.props.getOrElse("user.dir", "."), "target/graft-atrest")
        .getAbsolutePath)

  /** Index directory for (source dir, index name, source table,
    * derivation params). `params` names every constant the index content
    * depends on — it is hashed into the directory fingerprint, so two
    * indexes derived differently can never alias.
    *
    * The generation name is `<srcTag>_<fp>`: an 8-hex tag of the SOURCE
    * DIRECTORY alone, then the full content fingerprint. [[gcStale]]
    * scopes its "one live generation per family" invariant to the
    * srcTag, so indexes of DIFFERENT corpora coexist — without this, a
    * verify pass at one scale factor GC'd the bench tier's generations
    * and the first bench query per family paid a rebuild inside a timed
    * rep (the round-9..11 bench-oscillation mechanism, caught by the
    * round-12 built-in-rep flags). In production (one corpus) the
    * behavior is unchanged. */
  def dir(s: SparkSession, d: String, name: String, srcTable: String,
          params: String = ""): java.io.File = {
    val src = new java.io.File(d, s"$srcTable.parquet")
    val parts: Seq[java.io.File] =
      if (src.isDirectory)
        Option(src.listFiles()).map(_.toSeq.sortBy(_.getName)).getOrElse(Nil)
      else Seq(src)
    val sig = parts.map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString("|")
    def md5hex(v: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val srcTag = md5hex(d).take(8)
    val fp = md5hex(s"$d|$sig|$params").take(16)
    val rootDir = new java.io.File(root(s))
    recordSource(rootDir, srcTag, d)
    new java.io.File(rootDir, s"${name}_v$Version/${srcTag}_$fp")
  }

  /** tag → source-directory registry under `<root>/_srcmap/<tag>`, so
    * [[gcStale]] can also collect generations of DEAD sources (a source
    * directory that no longer exists can never be requested again — the
    * same can-never-alias logic as the content fingerprint). Written
    * once per (root, tag) via atomic tmp+rename: a concurrent reader
    * sees either no mapping (conservative keep) or the full path, never
    * a torn write that could make a LIVE source look dead. An 8-hex tag
    * collision between two live sources only merges their GC scopes —
    * worst case an over-eager GC forces a rebuild, never a wrong read,
    * because resolution always goes through the full fingerprint.
    *
    * BEST-EFFORT: [[dir]] is otherwise a pure path resolver, and a
    * serve-only consumer may resolve against a read-only index tree —
    * a failed mapping write is swallowed (the tag stays unmapped, which
    * [[sourceDead]] treats as live, i.e. conservative keep; gcStale
    * could not run on such a tree anyway, since builds can't either). */
  private val srcMapSeen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def recordSource(rootDir: java.io.File, tag: String, srcPath: String): Unit =
    if (srcMapSeen.add(s"${rootDir.getPath}/$tag"))
      try {
        val mapDir = new java.io.File(rootDir, "_srcmap")
        val f = new java.io.File(mapDir, tag)
        if (!f.isFile) {
          mapDir.mkdirs()
          val tmp = new java.io.File(mapDir, s"$tag.tmp-${java.util.UUID.randomUUID()}")
          java.nio.file.Files.write(tmp.toPath, srcPath.getBytes("UTF-8"))
          // a lost rename race means another writer landed the identical
          // content — either way drop the leftover tmp
          tmp.renameTo(f)
          tmp.delete()
        }
      } catch { case _: java.io.IOException => () }

  /** True iff generation-dir name `n` carries a source tag whose
    * registered source directory is gone. Unmapped tags are treated as
    * LIVE (conservative — the mapping write is part of [[dir]], so every
    * resolvable generation has one). A source that is merely TEMPORARILY
    * unreachable (an unmounted remote tree) is indistinguishable from a
    * deleted one and its generations would be GC'd by a build running
    * during the outage — an accepted tradeoff: the cost is a rebuild on
    * the source's return (fingerprint resolution makes a wrong read
    * impossible), and the alternative (never collecting dead sources)
    * leaks a full generation set per vanished corpus forever. */
  private def sourceDead(rootDir: java.io.File, n: String): Boolean = {
    val m = new java.io.File(new java.io.File(rootDir, "_srcmap"), n.takeWhile(_ != '_'))
    m.isFile && {
      // an UNREADABLE mapping is treated as live (conservative keep),
      // matching recordSource's best-effort contract — an IOException
      // here would otherwise propagate out of gcStale and fail the
      // build job AFTER its write already succeeded
      try {
        val p = new String(java.nio.file.Files.readAllBytes(m.toPath), "UTF-8")
        !new java.io.File(p).exists()
      } catch { case _: java.io.IOException => false }
    }
  }

  /** The one "built" test, for generations and tick trees alike: a
    * generation carries Spark's `_SUCCESS` marker at its root, a tick
    * tree has a committed tick ([[committedTicks]]). The root marker is
    * checked first, so a generation is never listed. Also the
    * crash-recovery read barrier: a maintenance swap that died between
    * its two renames is healed before the check. */
  def isBuilt(dir: java.io.File): Boolean = {
    restoreCrashedSwap(dir)
    marked(dir) || commitState(dir).nonEmpty
  }

  /** The single build-if-absent primitive: when any of `dirs` is not
    * [[isBuilt]], run `write` (which must build every one of them), then
    * [[gcStale]] each; otherwise do nothing. Double-checked under one
    * JVM monitor per directory (taken in canonical-path order, so
    * builders of overlapping directory sets cannot deadlock): concurrent
    * callers of one generation wait for the first builder and then
    * serve its output, while builds of unrelated generations proceed in
    * parallel. */
  def buildOnce(dirs: java.io.File*)(write: => Unit): Unit = {
    def built = dirs.forall(isBuilt)
    def locked(keys: List[String]): Unit = keys match {
      case k :: rest => buildMonitors.computeIfAbsent(k, _ => new Object).synchronized(locked(rest))
      case Nil => if (!built) { write; dirs.foreach(gcStale) }
    }
    if (!built) locked(dirs.map(f => monitorKey(f.getPath)).distinct.sorted.toList)
  }
  private val buildMonitors = new java.util.concurrent.ConcurrentHashMap[String, Object]

  /** Hive-partitioned write that stays READABLE when the relation is
    * EMPTY: `partitionBy` of zero rows emits no data files at all, and a
    * later read of the directory fails schema inference — so an empty
    * corpus (a fresh tenant, a filtered-out day) would break every index
    * consumer. Fall back to a plain empty write (one schema-carrying
    * part file, the partition column kept as an ordinary column);
    * pruning is meaningless at zero rows and correctness is identical.
    *
    * r18 (guide §1.2 — don't compute things twice): the emptiness test
    * used to be an up-front `df.isEmpty`, a whole extra Spark job that
    * re-ran the input pipeline's shuffle map side (for the IVF index
    * builds, a second corpus-wide assignment pass) before every write.
    * Emptiness is now read off the DIRECTORY after the one real write —
    * a partitioned write that produced rows always leaves `col=value`
    * partition dirs, so their absence IS the empty case, detected for
    * the cost of a local listing; only then does the (trivially cheap,
    * zero-row) plain rewrite run. EmptyCorpusSpec pins the fallback. */
  def writePartitioned(df: org.apache.spark.sql.DataFrame, partCol: String,
      dir: String): Unit = {
    df.write.partitionBy(partCol).mode("overwrite").parquet(dir)
    val wrotePartitions = Option(new java.io.File(dir).listFiles())
      .exists(_.exists(f => f.isDirectory && f.getName.contains("=")))
    if (!wrotePartitions) df.write.mode("overwrite").parquet(dir)
  }

  /** TICK TREES. A streaming maintenance sink (graft.streaming.StreamOps)
    * keeps its output as a tick tree: one Hive partition `batch_id=<id>`
    * per foreachBatch id. Sinks, readers and folds go through the four
    * parts of this contract, so they all agree on which ticks exist:
    *
    *  - Write ([[writeTick]]): one tick per id, in overwrite mode, under
    *    `batch_id=<id>`. foreachBatch is at-least-once; a replayed batch
    *    rewrites its own tick instead of appending a second copy (and a
    *    crash mid-batch is healed by the same rewrite).
    *  - Committed set ([[committedTicks]], [[committedTickDirs]]): tick
    *    `k` is committed iff `batch_id=k` carries its own `_SUCCESS`;
    *    nothing else commits a tick, and a tree root carries no marker.
    *    A torn tick (no marker) is invisible to every reader and fold,
    *    and the fold that rewrites the tree drops it; its batch replays.
    *    A swap that died between its renames is healed first.
    *  - Relation ([[ticksRelation]], [[committedRelation]]): ticks read as
    *    one relation with `batch_id` dropped. A tick that reads its own
    *    tree excludes its own id, so a replay sees exactly the state its
    *    first attempt saw.
    *  - Fence ([[foldable]]): a fold never takes the newest committed
    *    tick. Its checkpoint may not have committed, so it may still
    *    replay, and the replay exclusion only works while its rows live
    *    under their own id. A tick with a successor can no longer replay
    *    (its checkpoint committed before the successor started).
    *
    * Folds must run between ticks, never concurrent with a tick write to
    * the same tree (see [[compactTicks]]). */
  private val Marker = "_SUCCESS"
  private val TickCol = "batch_id"
  private val TickPrefix = s"$TickCol="
  private def marked(d: java.io.File): Boolean = new java.io.File(d, Marker).isFile
  private def tickDir(dir: String, id: Long) = new java.io.File(dir, s"$TickPrefix$id")
  private def tickDirs(d: java.io.File): Seq[(Long, java.io.File)] =
    Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.getName.startsWith(TickPrefix) && f.isDirectory)
      .map(f => (f.getName.stripPrefix(TickPrefix).toLong, f))
      .sortBy(_._1)

  /** Write `df` as tick `id` of the tree at `dir`, replacing any earlier
    * attempt of the same id. */
  def writeTick(df: org.apache.spark.sql.DataFrame, dir: String, id: Long,
      partitionBy: String*): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
      .parquet(tickDir(dir, id).getPath)
  }

  /** The committed ticks of `d`, ascending — the one committed-set
    * definition; a missing directory has none. */
  private def commitState(d: java.io.File): Seq[(Long, java.io.File)] = {
    restoreCrashedSwap(d)
    tickDirs(d).filter { case (_, f) => marked(f) }
  }

  /** Ids of the committed ticks of `dir`, ascending. */
  private[graft] def committedTicks(dir: String): Seq[Long] =
    commitState(new java.io.File(dir)).map(_._1)

  /** The committed ticks of `dir` as directories. A consumer of a tree
    * that is also maintained (read-then-delete) reads exactly this set,
    * or the serving view and the maintenance pass diverge on a tick
    * that never commits. */
  private[graft] def committedTickDirs(dir: String): Seq[java.io.File] =
    commitState(new java.io.File(dir)).map(_._2)

  /** The ticks `ids` (committed, non-empty) of `dir` as one relation,
    * `batch_id` dropped. Each tick is named explicitly, so one deleted
    * before the read fails it instead of silently vanishing. */
  private[graft] def ticksRelation(s: SparkSession, dir: String,
      ids: Seq[Long]): org.apache.spark.sql.DataFrame =
    s.read.option("basePath", dir).parquet(ids.map(tickDir(dir, _).getPath): _*)
      .drop(TickCol)

  /** Every committed tick of `dir` except `except` (the tick being
    * written, on a replay) as one relation; None when there is none. */
  private[graft] def committedRelation(s: SparkSession, dir: String,
      except: Option[Long] = None): Option[org.apache.spark.sql.DataFrame] = {
    val ids = committedTicks(dir).filterNot(except.contains)
    if (ids.isEmpty) None else Some(ticksRelation(s, dir, ids))
  }

  /** The replay fence: of committed tick ids (ascending), those a fold
    * may take — all but the newest. */
  private[graft] def foldable(ids: Seq[Long]): Seq[Long] = ids.dropRight(1)

  /** Delete every tick of `dir` with id ≤ `through`, committed or not —
    * for a fold that absorbed them (a tick at or below a folded id has a
    * successor, so it can no longer replay). */
  private[graft] def dropTicks(dir: String, through: Long): Unit =
    tickDirs(new java.io.File(dir)).foreach { case (id, f) =>
      if (id <= through) deleteRecursively(f)
    }

  /** Crash recovery for the maintenance swap: the two-rename sequence
    * (`dir → dir.compact-old`, then `dir.compact-tmp → dir`) is not
    * atomic — a process death between the renames leaves NO live index
    * directory, only the `.compact-old` backup (and possibly a completed
    * `.compact-tmp`). Every read/maintenance entry point calls this
    * first: if the live dir is absent but the backup exists, prefer the
    * finished rewrite (tmp with its _SUCCESS marker — the compaction DID
    * complete, only the swap died), else restore the backup. A tick-tree
    * rewrite ([[compactTicks]]) carries no root marker, so its backup is
    * always restored: the pre-compaction tree is fully committed, and
    * the fold simply runs again.
    *
    * A crash in the OTHER window — after the second rename succeeded
    * but before the backup cleanup — leaves a stale `.compact-old`
    * BESIDE a live dir; that backup is provably dead (the live dir is
    * the newer generation) and is removed here, or the next swap's
    * rename-aside would land on a non-empty directory and wedge every
    * maintenance op with IOException until manual cleanup.
    *
    * Same-JVM healers are serialized (`synchronized` — read predicates
    * like [[isBuilt]] may race from concurrent query threads), and a
    * lost cross-process rename race is treated as success as long as
    * SOMEONE restored the live dir. Idempotent and a no-op in the
    * common path (one existence check). */
  private[graft] def restoreCrashedSwap(dir: java.io.File): Unit = synchronized {
    val bak = new java.io.File(dir.getPath + ".compact-old")
    if (dir.exists()) {
      if (bak.exists()) deleteRecursively(bak) // stale post-swap backup
      return
    }
    if (!bak.exists()) return
    val tmp = new java.io.File(dir.getPath + ".compact-tmp")
    if (marked(tmp) && tmp.renameTo(dir)) {
      deleteRecursively(bak)
    } else if (bak.renameTo(dir) || dir.exists()) {
      // restored the backup — or a concurrent healer beat us to either
      // rename, which is equally a healthy outcome
      deleteRecursively(tmp)
    } else {
      throw new java.io.IOException(s"restoreCrashedSwap: cannot restore $dir")
    }
  }

  /** CROSS-PROCESS maintenance mutex for one index directory: an
    * exclusive `java.nio` FileLock on a stable sibling file
    * (`<dir>.maintlock` — stable because the index dir itself is renamed
    * during a swap), held for a maintenance op's whole
    * read-rewrite-swap-cleanup cycle. Two maintenance processes on the
    * same index can otherwise interleave a whole REWRITE, not just a
    * rename: a compact that snapshots the index, loses the CPU while an
    * applyTombstones purges rows AND spends its tombstone ticks, then
    * swaps its pre-purge snapshot back in, has silently resurrected
    * purged rows with the tombstones already deleted — a lost legal
    * takedown that no amount of rename-healing can repair (the
    * CrossProcessAtRestSpec scenario). The two-rename healer logic below
    * still handles crashes and lock-free READER heals; this lock is
    * about serializing whole rewrite cycles.
    *
    * Same-JVM callers serialize on an interned per-path monitor FIRST —
    * `FileChannel.lock` throws `OverlappingFileLockException` on an
    * intra-JVM overlap rather than blocking, so the JVM-level mutex is
    * load-bearing, not an optimization.
    *
    * Scale note: `FileLock` is advisory and single-filesystem — exactly
    * right for the local/driver-side maintenance this repo runs, and for
    * one maintenance owner per index on a cluster (the deployment
    * contract: maintenance jobs are scheduled per-index, and this lock
    * is the same-host belt to that scheduler's suspenders). On an object
    * store with no rename or lock primitive, maintenance ownership must
    * come from the scheduler alone. */
  private val maintMonitors = new java.util.concurrent.ConcurrentHashMap[String, Object]
  /** Monitor key: CANONICAL path, not absolute — two aliases of the same
    * directory (a symlink, a `..` segment) must serialize on ONE monitor
    * or the second same-JVM locker hits the kernel lock under a
    * different key and dies on OverlappingFileLockException instead of
    * blocking (r14 ADVICE). Canonicalization of a not-yet-existing
    * index dir resolves through its existing parents, which is exactly
    * the alias class that matters; IOException falls back to absolute. */
  private def monitorKey(dirPath: String): String = {
    val f = new java.io.File(dirPath)
    try f.getCanonicalPath catch { case _: java.io.IOException => f.getAbsolutePath }
  }
  /** Test-only hook (MaintLockRaceSpec): invoked with the lock file
    * between channel-open and `lock()`, i.e. inside the exact window
    * where [[tryUnlinkLock]] can legitimately win a tryLock on our
    * not-yet-locked inode and unlink it. Null (one static check) in
    * production. */
  @volatile private[graft] var maintLockRaceHook: java.io.File => Unit = null
  /** Acquisitions that detected an unlinked-under-us inode and retried
    * (observability for the race spec; monotonic). */
  private[graft] val maintLockRetries = new java.util.concurrent.atomic.AtomicLong
  /** Canonical lock-file paths this JVM currently holds a maintenance
    * lock on. POSIX record locks have the close-releases-all trap (the
    * `FileLock` javadoc warning): if ANY fd this process opened on the
    * file is closed, the kernel drops ALL of the process's locks on it —
    * so a same-JVM [[tryUnlinkLock]] probe merely OPENING and CLOSING a
    * held lock file would silently release the owner's cross-process
    * lock while the JVM still believes it holds it. The registry lets
    * the GC sweep recognize a live same-JVM owner WITHOUT opening the
    * file. (Empirically real: a readAllBytes-based verification of this
    * very lock dropped it mid-compact and two processes interleaved
    * swaps — caught by CrossProcessAtRestSpec while building r16.) */
  private val heldLockPaths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def statKey(p: java.nio.file.Path): Object =
    try java.nio.file.Files.readAttributes(
      p, classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey
    catch { case _: java.io.IOException => null } // missing ⇒ unverifiable ⇒ retry

  private[graft] def withMaintenanceLock[T](dirPath: String)(body: => T): T = {
    val mon = maintMonitors.computeIfAbsent(monitorKey(dirPath), _ => new Object)
    mon.synchronized {
      val lockFile = new java.io.File(dirPath + ".maintlock")
      Option(lockFile.getParentFile).foreach(_.mkdirs())
      val canonLock = monitorKey(lockFile.getPath)
      // Unlink-under-lock closure (r15 ADVICE, medium): between our
      // channel-open and lock() — a window that includes the whole
      // BLOCKING wait when another process holds the lock — a
      // concurrent gcStale/tryUnlinkLock can win a tryLock on this
      // not-yet-locked inode and unlink it; we would then hold a lock
      // on a dead inode while a fresh locker creates and locks a NEW
      // file at the same path — two simultaneous maintenance owners.
      // Verify by fileKey (stat only — NEVER a second open: see
      // [[heldLockPaths]] for why an open+close here would drop our own
      // lock): stat the path right after open and again under the held
      // lock; equal keys prove the path still names the inode we
      // locked, because our open fd pins the inode so its (dev,ino) key
      // cannot be reused by a successor file. On mismatch/missing,
      // release and re-acquire on whatever file now lives at the path.
      // Residual window: a delete+recreate landing entirely between the
      // open syscall and the first stat (straight-line nanoseconds, no
      // blocking) could alias keyOpen to the successor — the documented
      // blocked-wait hazard is closed, the ns-scale one is accepted.
      var out: Option[T] = None
      while (out.isEmpty) {
        val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val keyOpen = statKey(lockFile.toPath)
          val hook = maintLockRaceHook
          if (hook != null) hook(lockFile)
          val l = ch.lock() // blocks until the other PROCESS releases
          try {
            val keyLocked = statKey(lockFile.toPath)
            if (keyOpen != null && keyOpen == keyLocked) {
              heldLockPaths.add(canonLock)
              try out = Some(body)
              finally heldLockPaths.remove(canonLock)
            } else maintLockRetries.incrementAndGet() // unlinked under us; retry
          } finally l.release()
        } finally ch.close()
      }
      out.get
    }
  }

  /** The shared two-rename swap with rollback on a failed second rename;
    * crashes between the renames are healed by [[restoreCrashedSwap]].
    *
    * Runs under the SAME monitor as [[restoreCrashedSwap]] — without it,
    * a reader's isBuilt between the two renames could complete the swap
    * itself (tmp carries _SUCCESS), making the writer's second rename
    * AND its rollback both fail on an already-healthy index (the
    * round-11 ADVICE race). The Spark rewrite stays outside the lock;
    * only the cheap renames serialize. Cross-PROCESS healers can still
    * interleave, so a failed rollback with the live dir present is
    * treated as success: SOMEONE restored a serving index (either our
    * tmp promoted — the compaction took effect — or the backup
    * restored — the pre-compaction index serves and the idempotent
    * maintenance pass simply re-runs later).
    *
    * Returns TRUE iff the new content (tmp) is known to be the live
    * directory. A rollback — or the ambiguous lost-race outcome where a
    * cross-process healer restored SOMETHING — returns FALSE, and
    * callers with a destructive post-swap step (deleting the inputs the
    * rewrite consumed: [[applyTombstones]]'s tombstone tree,
    * StreamOps.mvFoldTicks' folded ticks) MUST skip it on FALSE — the
    * old content is (or may be) still serving, so those inputs are
    * still needed by the next maintenance pass. FALSE when the fold
    * actually landed is safe for both callers: tombstones re-apply as
    * an idempotent anti-join, and folded-but-unGC'd ticks are excluded
    * by the generation's own high-water mark. */
  /** Test-only crash injection (CrossProcessAtRestSpec's crash cases):
    * a JVM launched with `-Dgraft.chaos.halt=<point>` is hard-killed —
    * `Runtime.halt`, no shutdown hooks, no finally blocks, the closest
    * in-process stand-in for `kill -9` / an OOM-kill — the first time
    * execution reaches that named point. Read ONCE at class load, so
    * in every non-chaos JVM the per-swap cost is one static null
    * check; the property cannot be set after startup, which is the
    * point — production JVMs never halt here. */
  private val chaosHaltAt: String = System.getProperty("graft.chaos.halt")
  @inline private def chaosPoint(p: String): Unit =
    if (chaosHaltAt != null && chaosHaltAt == p) {
      System.err.println(s"CHAOS_HALT at $p"); Runtime.getRuntime.halt(42)
    }

  private[graft] def swapInPlace(dirPath: String, tmpPath: String, op: String): Boolean = synchronized {
    val old = new java.io.File(dirPath)
    val bak = new java.io.File(dirPath + ".compact-old")
    val tmp = new java.io.File(tmpPath)
    // defense in depth for the post-swap crash window (see
    // restoreCrashedSwap): a stale backup beside a live dir would make
    // the rename-aside below fail onto a non-empty directory
    if (old.exists() && bak.exists()) deleteRecursively(bak)
    if (!old.renameTo(bak))
      throw new java.io.IOException(s"$op: cannot move $dirPath aside")
    // THE window restoreCrashedSwap's comment block documents: the live
    // dir is gone (renamed aside), the new content sits in tmp with its
    // _SUCCESS, and a process dying RIGHT HERE leaves no serving index
    // until a survivor heals (promote tmp — it is complete — and drop
    // the backup). The spec kills a worker at exactly this point.
    chaosPoint("between-renames")
    if (!tmp.renameTo(old)) {
      if (!bak.renameTo(old) && !old.exists())
        throw new java.io.IOException(s"$op: cannot swap $tmpPath into place")
      // the live dir exists (rolled back here, or a cross-process healer
      // restored it) — healthy either way; drop whichever of tmp/bak
      // remains so the next maintenance pass starts clean
      if (tmp.exists()) deleteRecursively(tmp)
      if (bak.exists()) deleteRecursively(bak)
      false
    } else {
      // the post-swap window: new content live, stale backup beside it —
      // a crash here must be healed by the stale-backup branch of
      // restoreCrashedSwap (also spec-killed)
      chaosPoint("after-swap")
      deleteRecursively(bak)
      true
    }
  }

  /** Garbage-collect STALE fingerprints of one index family: a sibling
    * of `keep` under the same `<name>_v<Version>` parent that shares
    * `keep`'s SOURCE TAG is a build against a prior corpus-content or
    * params generation that can no longer be requested (the fingerprint
    * embeds source mtimes + params, and [[dir]] always resolves to the
    * current generation), so it is dead weight — at 100 TB an un-GC'd
    * index tree grows by a full index per corpus refresh. Generations
    * of OTHER sources (different srcTag — e.g. another scale factor in
    * the dev loop) are live for their own consumers and are KEPT —
    * unless the `_srcmap` registry shows their source directory is GONE
    * (a deleted temp corpus, a retired tenant): those can never be
    * requested again and would otherwise accumulate one dead generation
    * set per vanished source. Legacy-format names (no `_` separator)
    * are always stale. Returns the number of stale generations removed.
    * Called by the build jobs after a successful write, so the
    * invariant is "at most one live generation per (index family,
    * EXISTING source)". */
  def gcStale(keep: java.io.File): Int = {
    buildLog.add(keep.getParentFile.getName)
    val parent = keep.getParentFile
    val rootDir = parent.getParentFile
    val tag = keep.getName.takeWhile(_ != '_')
    val stale = Option(parent.listFiles())
      .map(_.toSeq.filter(f => f.isDirectory && f.getName != keep.getName &&
        (f.getName.startsWith(tag + "_") || !f.getName.contains("_") ||
          sourceDead(rootDir, f.getName))))
      .getOrElse(Nil)
    stale.foreach { f =>
      deleteRecursively(f)
      // the generation's maintenance-lock sibling ([[withMaintenanceLock]])
      // dies with it, or the family directory accumulates one dead lock
      // file per corpus refresh forever. A stale generation can never be
      // resolved by [[dir]] again so no FUTURE locker exists — but a
      // maintenance pass that resolved it BEFORE the refresh may still
      // hold the lock file open; unlinking under it would leave two
      // processes each "holding" different inodes of the same path
      // (r14 ADVICE). Unlink only after winning a non-blocking tryLock
      // on the file — a held lock means a live owner.
      tryUnlinkLock(new java.io.File(f.getPath + ".maintlock"))
    }
    // ORPHAN lock files: a lock skipped above because its owner was
    // still live loses its directory this pass, so no later pass would
    // match it through the directory scan — sweep `.maintlock` files
    // whose generation directory is gone, under the same tryLock guard
    // (the owner has released by then, or it stays for the next pass).
    Option(parent.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (f.isFile && f.getName.endsWith(".maintlock") &&
          !new java.io.File(parent, f.getName.stripSuffix(".maintlock")).isDirectory)
        tryUnlinkLock(f)
    }
    stale.size
  }

  /** Unlink a maintenance-lock file ONLY after winning a non-blocking
    * tryLock on it: a held lock (or a same-JVM overlap, which tryLock
    * reports as an exception) means a live owner whose inode must not
    * be pulled out from under it; a racing deleter is equally a reason
    * to leave it for the next pass. A lock held by THIS JVM is detected
    * through [[heldLockPaths]] BEFORE any open: merely opening and
    * closing the probe channel would drop the owner's POSIX lock at the
    * kernel (close-releases-all; the same-JVM tryLock's
    * OverlappingFileLockException path still reached `ch.close()`), so
    * the pre-guard is load-bearing, not an optimization. */
  private def tryUnlinkLock(lockFile: java.io.File): Unit =
    if (!heldLockPaths.contains(monitorKey(lockFile.getPath)) && lockFile.exists()) {
      try {
        val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val l = ch.tryLock()
          if (l != null) { try lockFile.delete() finally l.release() }
        } finally ch.close()
      } catch { case _: Exception => () }
    }

  /** COMPACTION for streaming-appended index fragments: a foreachBatch
    * maintenance sink appends one parquet fragment set per tick
    * (StreamOps.pairIndexRefreshSink), so after days of minutes-cadence
    * ticks the index is a small-files problem — thousands of KB-sized
    * parts, each a task + a NameNode entry at cluster scale. Compaction
    * rewrites the relation as `numFiles` sorted parts (sorting by the
    * index key makes the rewritten parts range-clustered, so min/max
    * parquet stats prune reads), atomically swaps it in place via
    * rename, and leaves content byte-identical (AtRestSpec proves
    * exceptAll-equality both ways and the bounded file count). */
  def compact(s: SparkSession, dir: String, sortCols: Seq[String], numFiles: Int = 4): Unit =
    withMaintenanceLock(dir) {
      restoreCrashedSwap(new java.io.File(dir))
      val tmp = dir + ".compact-tmp"
      import org.apache.spark.sql.functions.col
      s.read.parquet(dir)
        .repartition(numFiles)
        .sortWithinPartitions(sortCols.map(col): _*)
        .write.mode("overwrite").parquet(tmp)
      swapInPlace(dir, tmp, "compact") // rollback needs no cleanup: old content serves
      ()
    }

  /** Compaction for the STREAMING tick trees (pairIndexRefreshSink,
    * ivfDeltaSink, annQuerySink, driftMonitorSink): folds the committed
    * ticks into ONE `batch_id=-1` history partition of `numFiles`
    * key-sorted files, preserving the Hive layout so later ticks keep
    * appending their own positive-id subdirectories and readers see one
    * consistent partitioned relation throughout. Data columns are
    * byte-identical before/after; only the batch_id provenance of
    * compacted history collapses to -1 (AtRestSpec proves both). The
    * newest committed tick is fenced (see the tick-tree contract above)
    * and re-copied under its own id; it folds on the NEXT pass. Both
    * ticks of the rewrite are written with [[writeTick]], so each
    * carries its own marker; a torn tick is not carried into it, and a
    * stale `.compact-tmp` of an aborted pass is deleted first.
    *
    * SCHEDULING CAVEAT — the fence addresses replay, NOT write
    * concurrency: run this between ticks, never concurrent with an
    * in-flight foreachBatch write to the same tree. A brand-new tick
    * landing during the rewrite/swap window is invisible to the initial
    * listing — it is either read into the rewrite and filtered out of
    * tmp, or written into the renamed-away directory and deleted with
    * the backup: lost data either way. */
  def compactTicks(s: SparkSession, dir: String, sortCols: Seq[String], numFiles: Int = 4): Unit = withMaintenanceLock(dir) {
    import org.apache.spark.sql.functions.col
    val (history, positive) = committedTicks(dir).partition(_ < 0)
    val fold = foldable(positive)
    if (fold.isEmpty) return
    val newest = positive.last
    val tmp = dir + ".compact-tmp"
    deleteRecursively(new java.io.File(tmp))
    // the rewrite is SELF-CONTAINED (folded history + the fenced tick
    // under its own id, re-copied): tmp alone is always a complete
    // index, so the only dangerous window is the two-rename swap, where
    // restoreCrashedSwap restores the fully committed backup
    writeTick(ticksRelation(s, dir, history ++ fold)
      .repartition(numFiles)
      .sortWithinPartitions(sortCols.map(col): _*), tmp, -1L)
    writeTick(ticksRelation(s, dir, Seq(newest)), tmp, newest)
    swapInPlace(dir, tmp, "compactTicks") // rollback-safe: tmp was self-contained
    ()
  }

  /** Fold a tombstone tree (takedownSink's `batch_id=<id>` partitions
    * of doc_id rows) into an index PHYSICALLY: rewrite `indexDir`
    * without any row whose `keyCols` hit the tombstone set (atomic
    * swap, same contract as [[compact]]), then clear the APPLIED ticks
    * — after this, raw index reads equal the serving view and those
    * tombstones are spent. Run on the maintenance cadence; serving
    * correctness never depends on it ([[graft.operators.Dedup
    * .pairsAtRestServing]] applies tombstones logically until then).
    *
    * The committed tick set is ENUMERATED FIRST (every tick commits by
    * its own marker, in a compacted tree too) and both the read and the
    * post-swap delete are scoped to exactly those tick dirs: deleting
    * the whole tree would silently discard a takedown tick that landed
    * DURING the rewrite — a dropped legal takedown, the one loss this
    * lifecycle exists to make impossible. A tick that arrives
    * mid-rewrite simply survives to the next maintenance pass (and the
    * logical serving path already honors it immediately). No replay
    * fence is needed, unlike [[compactTicks]]: re-applying a replayed
    * tombstone tick is an idempotent anti-join, not a double-count. */
  def applyTombstones(s: SparkSession, indexDir: String, tombDir: String,
      keyCols: Seq[String]): Unit = withMaintenanceLock(indexDir) {
    import org.apache.spark.sql.functions.{broadcast, col}
    // the SAME committed-tick set the logical serving read applies
    // (Dedup.pairsAtRestServing) — reading a different set would leave
    // raw and serving permanently divergent on a never-committed tick
    val ticks = committedTickDirs(tombDir)
    if (ticks.isEmpty) return
    restoreCrashedSwap(new java.io.File(indexDir))
    val t = s.read.parquet(ticks.map(_.getAbsolutePath): _*)
      .select("doc_id").distinct()
    val tmp = indexDir + ".compact-tmp"
    val idx = s.read.parquet(indexDir)
    keyCols.foldLeft(idx) { (df, k) =>
        df.join(broadcast(t.withColumnRenamed("doc_id", k)), Seq(k), "left_anti")
      }
      // USING-joins move the join column first — restore the index's
      // own column order so the physical rewrite never changes the
      // on-disk schema a positional raw reader sees
      .select(idx.columns.map(col): _*)
      .write.mode("overwrite").parquet(tmp)
    // the applied ticks are the rewrite's INPUT: clear them only if the
    // purged index actually went live — on a rollback the un-purged
    // index still serves and the tombstones must survive for the
    // logical serving path and the next maintenance pass
    if (swapInPlace(indexDir, tmp, "applyTombstones")) ticks.foreach(deleteRecursively)
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }
}
