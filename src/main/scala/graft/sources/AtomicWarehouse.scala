package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{array, coalesce, col, collect_set, count, explode, expr, lit, slice, sort_array, struct, sum, when, filter => arrFilter}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.util.sketch.BloomFilter

import graft.sources.Manifest._

/** Transactional warehouse — the one storage implementation of
  * [[Warehouse]]: all-or-nothing visibility for any group of table writes,
  * the capability the reference gets from SQL Server transactions around
  * its staging→merge→ledger batch (`core/etl_orchestrator.py:168-189`).
  * A minimal manifest-commit table format (the Delta/Iceberg "pointer
  * commit" idea) over plain parquet files.
  *
  * Mechanics:
  *   - Every write in a transaction is STAGED: data files land under
  *     `root/txstage/<txid>/`, invisible to every reader.
  *   - Commit moves the staged files into their table directories (under
  *     unique names) and then publishes ONE manifest — a TSV of
  *     `add table file` / `truncate table` lines — by atomic rename into
  *     `root/_txlog/v<n>.tsv`. The rename is the single point of
  *     visibility: readers resolve a table to the file set obtained by
  *     folding all committed manifests in version order, so a crash
  *     anywhere before the rename leaves every table at its prior
  *     snapshot, across ALL tables in the transaction.
  *   - `truncate` entries apply by table prefix, so `delete("staging/x")`
  *     hides `staging/x/Provider` like a directory delete would.
  *   - Reads inside a transaction see the transaction's own staged writes
  *     (read-your-own-writes) — EP1's merge chain requires it (each merge
  *     reads the dim the previous merge replaced). Unsupported only for
  *     staged PARTITIONED appends (no caller needs it; loud error).
  *   - Tables never written through a manifest (raw `df.write` into
  *     `wh.path(...)`, e.g. CSV artifacts, ScaleProbe's hand-laid indexes,
  *     or a root laid down by plain directory writes) fall back to reading
  *     the directory's data files — manifest history takes over the first
  *     time a table is written through this class, adopting those files.
  *
  * Non-goals, documented honestly: single-writer (concurrent committers
  * are detected by the losing rename and retried, but writer isolation is
  * not serializable-snapshot); `exists` answers from the manifest for a
  * table with manifest history (a committed `delete` makes it absent even
  * before its files are vacuumed) and stays PHYSICAL only for raw paths
  * such as CSV artifact directories; orphan
  * data files from a crashed transaction are invisible garbage until
  * [[vacuum]] removes them; every commit adds one small manifest file —
  * the log auto-folds into one snapshot manifest once it exceeds
  * `logFoldEvery` commits (and on [[vacuum]]), and reads fold a given log
  * version once (cached), so per-batch manifest work on an always-on
  * stream stays flat. A crash BETWEEN the file
  * moves and the manifest rename can strand moved files in the table
  * directory — invisible to manifest readers, visible to raw-path readers
  * (the same class of reader the contract already excludes).
  *
  * Cited shape: Delta Lake's `_delta_log` JSON actions and Iceberg's
  * snapshot manifests (public formats); this is the smallest
  * rename-atomic subset that gives multi-table batches.
  */
object AtomicWarehouse {
  /** One commit lock per warehouse log, JVM-wide. On the local FileSystems a
    * version-rename race between two INSTANCES is a silent overwrite (POSIX
    * rename(2) semantics), and in a local[...] deployment every racing
    * instance lives in this JVM — so the JVM-wide lock is exactly the
    * serialization the backend fails to provide. Keyed by the QUALIFIED log
    * URI so `/a/wh` and `file:/a/wh` share one lock.
    */
  private val publishLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Every file under `dir`, depth-first in listing order, as (path
    * relative to `dir`, status); entries whose name fails `keep` are
    * skipped, and a skipped directory is never descended into. Walks with
    * `listStatus`, not `listFiles`: the located statuses `listFiles` builds
    * load file permissions, which the local FS cannot do for a path under
    * another scheme (GraftBlobFileSystem's `graftblob:` — "URI scheme is
    * not file").
    */
  private[graft] def listTree(fs: FileSystem, dir: Path,
      keep: String => Boolean = _ => true): Seq[(String, FileStatus)] = {
    val b = ArrayBuffer[(String, FileStatus)]()
    def walk(d: Path, rel: String): Unit = fs.listStatus(d).foreach { st =>
      val name = st.getPath.getName
      if (keep(name)) {
        if (st.isDirectory) walk(st.getPath, s"$rel$name/") else b += ((rel + name, st))
      }
    }
    walk(dir, "")
    b.toSeq
  }

  /** One table's readable data files with each file's deletion-vector
    * entry (rel file → DV JSON, absent when the file has none) and its
    * column mapping, all as of ONE folded log state
    * ([[AtomicWarehouse.fileSet]]).
    */
  private[graft] final case class FileSet(files: Seq[String], dvs: Map[String, String],
      colMap: Map[String, String])
}

class AtomicWarehouse(spark0: SparkSession, root0: String,
    val logFoldEvery: Int = 64,
    val vacuumGraceMs: Long = 3600000L,
    val recordStats: Boolean = true)
    extends Warehouse(spark0, root0) {

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val logDir = new Path(s"$root/_txlog")
  // NOT dot- or underscore-prefixed: read-your-own-writes reads staged
  // files through Spark, whose hidden-file filter silently drops paths
  // under `.`/`_` directories — a dot-named stage dir reads as EMPTY
  private val stageRoot = new Path(s"$root/txstage")

  // ---- manifest log -------------------------------------------------------

  /** Committed manifests in version order. Ordinary commits are `vN.tsv`,
    * snapshots `vN.snap.tsv` — the distinct name makes "latest snapshot"
    * computable from one listing, which the whole concurrency story leans
    * on: a POSIX readdir can MISS entries created or deleted DURING the
    * iteration (observed: a fold racing a commit listed a partial log,
    * folded a stale snapshot, and the resulting resurrected manifest pointed
    * at vacuumed files), but entries untouched for the whole iteration are
    * always listed — so by (a) never deleting at-or-above-snapshot manifests
    * and (b) deleting below-snapshot ones only after a grace window
    * ([[vacuum]]), every lister is guaranteed a view containing the latest
    * snapshot and its whole tail, which is exactly the self-contained state.
    */
  private def commitFiles(): Seq[Path] = {
    if (!fs.exists(logDir)) return Nil
    fs.listStatus(logDir).toSeq.map(_.getPath)
      .filter(p => p.getName.matches("v\\d{8}(\\.snap)?\\.tsv"))
      .sortBy(versionOf)
  }

  private def versionOf(p: Path): Int = p.getName.slice(1, 9).toInt

  private def isSnapshot(p: Path): Boolean = p.getName.endsWith(".snap.tsv")

  /** Index of the latest snapshot in `cfs` (-1 when none): the fold origin —
    * everything before it is subsumed by construction (the snapshot was
    * CAS-published at its inputs' version + 1, so no manifest can exist
    * between its last input and itself).
    */
  private def latestSnapshotIdx(cfs: Seq[Path]): Int = cfs.lastIndexWhere(isSnapshot)

  /** Manifest files actually opened and read by this instance — the cost the
    * fold cache + auto-fold exist to bound; specs assert it stays flat
    * per micro-batch on an always-on stream.
    */
  private[graft] val manifestReads = new java.util.concurrent.atomic.AtomicLong(0)

  // Manifest CONTENT cache: manifests are immutable once published (vacuum
  // deletes, never rewrites; snapshot names are distinct), so a bounded
  // LRU of parsed lines turns the streaming sources' per-trigger backlog
  // walks — which revisit the same window manifests every micro-batch —
  // into memory hits instead of O(backlog) small FS reads per trigger.
  // Budget-bounded (~32 MB of line chars): a giant snapshot cannot pin the
  // driver heap. `manifestReads` counts real FS opens only.
  private val manifestCache =
    new java.util.LinkedHashMap[String, Seq[String]](64, 0.75f, true)
  private var manifestCacheBytes = 0L
  private val manifestCacheBudget = 32L * 1024 * 1024
  private def linesBytes(lines: Seq[String]): Long =
    lines.iterator.map(_.length.toLong + 48L).sum

  private def readLines(p: Path): Seq[String] = {
    val key = p.getName
    manifestCache.synchronized {
      val hit = manifestCache.get(key)
      if (hit != null) return hit
    }
    manifestReads.incrementAndGet()
    val in = fs.open(p)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    finally in.close()
    manifestCache.synchronized {
      if (manifestCache.put(key, lines) == null)
        manifestCacheBytes += linesBytes(lines)
      val it = manifestCache.entrySet().iterator()
      while (manifestCacheBytes > manifestCacheBudget && it.hasNext) {
        val eldest = it.next()
        manifestCacheBytes -= linesBytes(eldest.getValue)
        it.remove()
      }
    }
    lines
  }

  /** One manifest's actions, parsed by the codec from the cached lines. */
  private def readActions(p: Path): Iterator[Action] =
    readLines(p).iterator.map(Manifest.parse(_, p.toString))

  /** A fold races concurrent folds from OTHER instances: their snapshot
    * publish happens BEFORE they delete the superseded manifests, so when a
    * listed manifest vanishes mid-read a fresh listing is guaranteed
    * self-contained — re-list and retry instead of crashing the reader.
    */
  private def retryOnVanishedManifest[T](f: => T): T = {
    var attempts = 0
    while (true) {
      try return f
      catch {
        case e: java.io.FileNotFoundException =>
          attempts += 1
          if (attempts >= 50) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** One-pass fold CACHE, keyed by the latest manifest name: an always-on
    * stream commits one manifest per micro-batch and reads ≥3 tables per
    * batch, so an uncached fold re-reads the whole log several times per
    * batch — per-batch driver cost growing with batches since the last
    * snapshot. With the cache a given log version is folded ONCE (any
    * instance noticing a new version refolds); per-read work is one
    * `listStatus` + a map lookup. [[commit]]'s auto-fold bounds the refold
    * cost itself.
    *
    * Refolds are single-flight: callers meeting the same new version (the
    * concurrent staging threads of one transaction) wait for ONE fold under
    * `foldLock` instead of each reading the new manifests, so a version is
    * read and folded once per instance. A cache hit takes no lock.
    */
  @volatile private var foldCache: (String, LogState) = ("", LogState.empty)
  private val foldLock = new Object

  private def foldedState(): LogState = retryOnVanishedManifest {
    val all = commitFiles()
    // fold from the latest snapshot onward: pre-snapshot manifests are
    // subsumed (see latestSnapshotIdx) and may linger until vacuumed —
    // reading them would make per-read cost grow with the vacuum backlog
    val cfs = all.drop(latestSnapshotIdx(all).max(0))
    def cachedHead: Option[LogState] =
      Some(foldCache).collect { case (name, st) if name == cfs.last.getName => st }
    if (cfs.isEmpty) LogState.empty
    else cachedHead.getOrElse(foldLock.synchronized(cachedHead.getOrElse(foldFrom(cfs))))
  }

  /** The log manifests `cfs`, folded in order by the codec ([[Manifest.fold]]). */
  private def foldFrom(cfs: Seq[Path], updateCache: Boolean = true): LogState = {
    val st = Manifest.fold(cfs.iterator.flatMap(readActions))
    if (updateCache) foldCache = (cfs.last.getName, st)
    st
  }

  /** Manifest-visible file count for a table (-1 when the table has no
    * manifest history) — observability for maintenance tooling: the physical
    * directory also holds superseded files inside their vacuum grace window.
    */
  private[graft] def visibleFileCount(table: String): Int =
    visibleFiles(table).map(_.size).getOrElse(-1)

  /** Returns None when the table has no manifest history at all (legacy/raw
    * directory — caller falls back to the directory listing), Some(files)
    * otherwise (possibly empty after a truncate).
    */
  private def visibleFiles(table: String, st: LogState = foldedState()): Option[Seq[String]] = {
    val touched = st.adds.contains(table) ||
      st.truncated.exists(t => table == t || table.startsWith(t + "/"))
    if (touched) Some(st.adds.getOrElse(table, Vector.empty)) else None
  }

  // one commit lock per log DIRECTORY, JVM-wide: see the companion scaladoc
  private lazy val publishLock: Object = AtomicWarehouse.publishLocks
    .computeIfAbsent(fs.makeQualified(logDir).toString, _ => new Object)

  /** Try to publish one manifest at EXACTLY `version`: write to a dot-temp
    * in `_txlog`, then rename. Returns false when that version is already
    * taken — the caller decides whether to renumber (ordinary commit) or
    * recompute (snapshot: its content is only valid against the log it was
    * folded from, so landing it at a later version would erase the racing
    * commit's rows).
    *
    * Same-JVM racers (every instance a local[...] deployment can have)
    * serialize on the JVM-wide per-log lock, which makes the exists→rename
    * window exclusive: POSIX rename(2) — what the local FileSystems
    * delegate to — silently OVERWRITES an existing destination, and
    * without the lock two commits publishing the same version lose one
    * manifest while both report success (observed: 8 racing appends, 7
    * manifests, every future green).
    *
    * Cross-PROCESS racers (two `sbt runMain` sessions against one warehouse —
    * exactly the deployment `tools/Maintain` invites) can't see the JVM lock,
    * so on a `file:` log the exists→rename window additionally takes an
    * O_EXCL claim file: `Files.createFile` on `v<N>.lock` beside the manifest
    * is atomic create-or-fail on POSIX, making two JVMs publishing version N
    * serialize the way two threads already do. Claims older than 60 s are a
    * crashed claimant's leftovers and get broken. Non-`file:` backends skip
    * the claim and must provide the HDFS-style contract instead: atomic
    * rename that fails (returns false) on an existing destination.
    */
  private def publishAt(lines: Seq[Action], version: Int,
      snapshot: Boolean = false): Boolean =
    publishLock.synchronized(publishAtCrossProcess(lines.map(Manifest.render), version, snapshot))

  /** True when ANY manifest occupies the version slot. An exists() is a
    * point stat — reliable even while the directory is being concurrently
    * mutated, unlike a listing — so probing slots forward from a listing's
    * max can never be fooled into landing a publish BELOW a manifest the
    * listing happened to miss.
    */
  private def slotTaken(version: Int): Boolean =
    fs.exists(new Path(logDir, f"v$version%08d.tsv")) ||
      fs.exists(new Path(logDir, f"v$version%08d.snap.tsv"))

  /** Test seam: runs right after a version claim is created — specs use it to
    * simulate a claimant stalled past the staleness window (claim broken and
    * reclaimed by a new owner mid-publish).
    */
  private[graft] var postClaimHook: () => Unit = () => ()

  /** The cross-process publish path WITHOUT the JVM-wide lock — what a second
    * JVM racing this one actually executes. Production callers go through
    * [[publishAt]]; specs race this seam directly to prove two "JVMs" can
    * never both land version N.
    */
  private[graft] def publishAtCrossProcess(lines: Seq[String], version: Int,
      snapshot: Boolean = false): Boolean = {
    fs.mkdirs(logDir)
    val dest = new Path(logDir,
      if (snapshot) f"v$version%08d.snap.tsv" else f"v$version%08d.tsv")
    val qualifiedLog = fs.makeQualified(logDir)
    // Fencing token: the claim FILE alone can't protect a claimant stalled
    // past the 60 s staleness window — its claim gets broken, a new owner
    // claims and publishes, and the resumed staller's rename would OVERWRITE
    // the new owner's manifest (POSIX rename replaces the destination) while
    // its cleanup deletes the owner's lock, reopening the double-publish the
    // claim exists to prevent. A unique token written into the lock, re-read
    // immediately before the publish and before the cleanup delete, catches
    // the resumed staller early; the PUBLISH ITSELF is then non-replacing on
    // local FS (hard-link + EEXIST below), so even a staller that loses the
    // claim in the re-read→publish gap FAILS instead of clobbering — the
    // token is an early exit, not the safety argument.
    val token = java.util.UUID.randomUUID().toString
    val claim: Option[java.nio.file.Path] =
      if (qualifiedLog.toUri.getScheme != "file") None
      else {
        val lock = java.nio.file.Paths.get(qualifiedLog.toUri.getPath, f"v$version%08d.lock")
        try {
          java.nio.file.Files.write(lock, token.getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW)
          Some(lock)
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            // another process is publishing this version (or crashed doing
            // so): break only demonstrably stale claims, else lose the race
            val stale = try {
              java.nio.file.Files.getLastModifiedTime(lock).toMillis <
                System.currentTimeMillis() - 60000
            } catch { case _: java.io.IOException => false }
            if (stale) java.nio.file.Files.deleteIfExists(lock)
            return false
          case _: java.io.IOException => return false
        }
      }
    def ownsClaim: Boolean = claim.forall { l =>
      try new String(java.nio.file.Files.readAllBytes(l), "UTF-8") == token
      catch { case _: java.io.IOException => false }
    }
    claim.foreach(_ => postClaimHook())
    try {
      if (slotTaken(version)) return false
      val tmp = new Path(logDir, s".tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      // the commit wall-clock rides the manifest itself (first line), so
      // TIMESTAMP AS OF survives a warehouse copy/rsync that resets mtimes
      val stamped = Manifest.render(Ts(System.currentTimeMillis())) +: lines
      try out.write((stamped.mkString("\n") + "\n").getBytes("UTF-8")) finally out.close()
      if (!ownsClaim) { fs.delete(tmp, true); return false } // fenced: claim broken mid-stall
      if (claim.isDefined) {
        // local FS: land the manifest with a HARD LINK — atomic
        // fail-on-existing-destination (EEXIST), unlike rename(2) which
        // silently replaces. This closes the residual TOCTOU between the
        // ownsClaim re-read and the publish: a racer fenced in that gap gets
        // an exception here, never a clobbered manifest. (createLink
        // unsupported → fall back to rename: such filesystems are outside
        // the `file:` claim path's POSIX assumptions anyway.)
        val tmpP = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath)
        val destP = java.nio.file.Paths.get(fs.makeQualified(dest).toUri.getPath)
        try { java.nio.file.Files.createLink(destP, tmpP); fs.delete(tmp, false); true }
        catch {
          case _: UnsupportedOperationException =>
            if (fs.rename(tmp, dest)) true else { fs.delete(tmp, true); false }
          case _: java.nio.file.FileAlreadyExistsException =>
            fs.delete(tmp, false); false // lost the race: slot already published
          case _: java.io.IOException =>
            fs.delete(tmp, false); false
        }
      } else if (fs.rename(tmp, dest)) true
      else { fs.delete(tmp, true); false }
    } finally claim.foreach { l =>
      // delete only OUR claim: after a broken claim this lock belongs to the
      // new owner, and deleting it would reopen the very double-publish
      // window the claim closes
      if (ownsClaim) java.nio.file.Files.deleteIfExists(l)
    }
  }

  /** First free version slot: listing max + 1, then exists-probed FORWARD
    * past any manifests the listing missed (a readdir racing concurrent
    * creates may omit them). Freed slots only ever exist BELOW the latest
    * snapshot — vacuum's manifest GC never touches the snapshot or its
    * tail — so walking up from a listed max can skip but never undershoot.
    */
  private def nextVersion(): Int = {
    var v = commitFiles().lastOption.map(versionOf(_) + 1).getOrElse(1)
    while (slotTaken(v)) v += 1
    v
  }

  /** Publish one manifest at the next free version. A losing attempt
    * (concurrent committer) re-reads the log and retries with the next
    * number — safe for ordinary commits, whose lines are valid at ANY
    * version; snapshots go through [[foldLogToSnapshot]]'s CAS instead.
    *
    * `precondition` is re-evaluated under the publish lock immediately
    * before every attempt (so it always sees the freshest log, including a
    * racing commit that just beat this one): returning false aborts the
    * commit with `ConcurrentModificationException` — the optimistic-
    * concurrency check read-modify-write transactions (compaction) need to
    * not silently truncate away a concurrent append.
    */
  private def publish(actions: Seq[Action], precondition: () => Boolean = () => true): Unit = {
    val lines = actions.map(Manifest.render)
    var attempts = 0
    while (attempts < 50) {
      val landed = publishLock.synchronized {
        // CAS, not append-anywhere: pin this attempt at the first slot free
        // BEFORE the precondition reads the log. Any cross-process commit
        // landing after the precondition passed must take this same slot
        // (slot probing is monotone and freed slots only exist below the
        // latest snapshot), so it either makes this publish fail — full
        // retry with a fresh precondition — or it came strictly later.
        // Choosing the slot AFTER the precondition (the old order) let an
        // unseen cross-process commit land between the two, and a
        // conflict-checked truncate+add published one slot above it erased
        // the append (lost update) — the JVM-wide lock can't see it.
        val v = nextVersion()
        if (!precondition())
          throw new java.util.ConcurrentModificationException(
            "commit precondition failed: a table changed since this transaction read it")
        publishAtCrossProcess(lines, v)
      }
      if (landed) return
      attempts += 1
      // a lost attempt can mean another PROCESS holds the version claim
      // mid-write (nextVersion() won't advance until its rename lands) —
      // back off briefly instead of burning all 50 attempts in microseconds
      Thread.sleep(attempts.min(20).toLong)
    }
    throw new java.io.IOException("could not publish txlog manifest after 50 attempts")
  }

  /** Fold the log's live tail (latest snapshot + later commits) into one
    * self-contained snapshot manifest. CAS semantics: the snapshot lands only
    * at the version it was computed against + 1; a racing commit aborts the
    * attempt (returns false) rather than landing a stale snapshot whose
    * leading truncates would erase the racing commit's rows — and a listing
    * that MISSED a racing commit targets that commit's own slot, so the
    * claim/exists probe turns the miss into the same harmless abort.
    *
    * The superseded manifests are NOT deleted here: concurrent listers may
    * be mid-readdir, and entries deleted during an iteration are allowed to
    * vanish from it — a lister could then fold a partial log. They are
    * garbage below the new snapshot, left for [[vacuum]]'s manifest GC
    * (grace-windowed, like data files). Readers never pay for them:
    * [[foldedState]] starts at the latest snapshot.
    */
  private def foldLogToSnapshot(): Boolean = synchronized {
    val all = commitFiles()
    val old = all.drop(latestSnapshotIdx(all).max(0))
    if (old.size <= 1) return true
    // the snapshot IS the fold's state, rendered: whatever the live fold
    // keeps, the snapshot keeps, and whatever it drops stays dropped
    val st =
      try foldFrom(old, updateCache = false)
      catch {
        // a listed manifest aged out of the grace window and was GC'd
        // mid-read; this attempt is stale anyway — a lost CAS, recompute
        case _: java.io.FileNotFoundException => return false
      }
    publishAt(Snapshot +: Manifest.render(st), versionOf(old.last) + 1, snapshot = true)
  }

  // ---- staged transaction state -------------------------------------------

  /** One optimistic-concurrency check, evaluated under the publish lock
    * right before the commit lands; a failing pin aborts the commit with
    * `ConcurrentModificationException` (staged files become vacuumable
    * garbage, never visible). `files` is the table's file set as the
    * transaction read it and `dvs` their deletion-vector entries then (a
    * file absent from `dvs` had none).
    *   - `present`: every pinned file is still visible with its DV entry
    *     unchanged — a rewrite folding those files' rows and tombstones
    *     must not resurrect rows a racing rewrite or DV delete removed;
    *     racing APPENDS stay free.
    *   - `noGrowth`: no visible file beyond the pinned set — a truncating
    *     rewrite must not erase a racing append (lost update), and a parent
    *     delete pins its FK children so a racing child insert aborts it.
    * Both together pin the exact file set. Files of THIS transaction
    * (`tx-<txid>-` leaves) never count as growth: by precondition time the
    * staged files have already moved into the table directories, where a
    * raw (no-manifest-history) table's physical listing sees them.
    */
  private case class Pin(table: String, files: Seq[String],
      dvs: Map[String, String], present: Boolean, noGrowth: Boolean)

  /** Pin `files` as read in `st`: still visible with unchanged DV entries
    * at publish, and (`noGrowth`) nothing else visible beside them.
    */
  private def pinFiles(st: LogState, table: String, files: Seq[String],
      noGrowth: Boolean = false): Pin =
    Pin(table, files, files.flatMap(f => st.dvs.get((table, f)).map(f -> _)).toMap,
      present = true, noGrowth)

  /** FK RESTRICT race closer for a parent whose rows may leave: each
    * referencing child's current file set, pinned against growth, so a
    * child insert racing the publish aborts the commit instead of
    * orphaning itself (child deletes stay free). Taken BEFORE the refusal
    * probe (pin-then-probe): a child insert landing in the probe-to-publish
    * window must abort this commit, not be blessed by a post-race snapshot.
    */
  private def childPins(table: String): Seq[Pin] =
    referencingFks(table).map(_._1).distinct.map(c =>
      Pin(c, committedOrPhysical(c).sorted, Map.empty, present = false, noGrowth = true))

  /** One staged write: `truncate` optionally first (replace/delete), then
    * the staged files to add. `stageDir` is where the data files currently
    * sit; relative subpaths are preserved on move (partition dirs). `pins`
    * may name OTHER tables (FK freeze pins across parent and child).
    */
  private case class Staged(table: String, truncate: Boolean,
      stageDir: Option[Path], partitioned: Boolean,
      schemaJson: Option[String] = None,
      removes: Seq[String] = Nil,
      extraLines: Seq[Action] = Nil,
      pins: Seq[Pin] = Nil)

  private class Tx {
    val txid: String = java.util.UUID.randomUUID().toString
    val entries = new ArrayBuffer[Staged]() // guarded by Tx.this
    var seq = 0
    def nextStageDir(): Path = { seq += 1; new Path(stageRoot, s"$txid/$seq") }
  }

  // Spark writes _SUCCESS and dot-CRCs alongside data; only data files
  // enter the manifest
  private def stagedDataFiles(dir: Path): Seq[String] =
    if (!fs.exists(dir)) Nil
    else AtomicWarehouse.listTree(fs, dir, n => !n.startsWith("_") && !n.startsWith("."))
      .map(_._1)

  /** A table's current readable file set: manifest-resolved once the table
    * has history, physical directory contents before (raw/legacy tables —
    * the first manifest write ADOPTS those files so no rows vanish when a
    * directory-laid table starts being written transactionally).
    */
  private def committedOrPhysical(table: String, st: LogState = foldedState()): Seq[String] =
    visibleFiles(table, st).getOrElse(
      // raw/legacy fallback skips tx- leaves like adoption does: such a
      // file is either a racing commit's moved-but-unpublished staging
      // (must not be visible before its manifest) or an ABORTED commit's
      // garbage awaiting vacuum (must never be visible)
      stagedDataFiles(new Path(path(table)))
        .filterNot(_.split('/').last.startsWith("tx-")))

  /** The in-transaction view handed to `atomically`'s body: writes stage,
    * reads see the transaction's own staged state first. A nested
    * `atomically` joins the ambient transaction.
    */
  private class TxView(tx: Tx) extends Warehouse(spark0, root0) {
    private def stage(table: String, truncate: Boolean, partitioned: Boolean,
        write: Option[Path => Unit], schemaOf: Option[StructType] = None,
        removes: Seq[String] = Nil, extraLines: Seq[Action] = Nil,
        pins: Seq[Pin] = Nil): Unit = {
      val dirOpt = write.map { w =>
        val d = tx.synchronized(tx.nextStageDir())
        Warehouse.withRetry()(w(d))
        d
      }
      // the written schema rides the manifest (one compact-JSON line) so
      // history stays self-describing across add-column evolution — a tab
      // or newline inside a field name would corrupt the TSV, so refuse.
      // NULLABILITY only ever WIDENS on a non-truncating write: a batch of
      // non-null literals (a SQL INSERT VALUES) must not re-record a
      // nullable column as required — older files missing the column (or
      // holding nulls) can't satisfy required, and the vectorized reader
      // refuses the scan ("Required column is missing in data file").
      val recordSchema = schemaOf.map { sch =>
        if (truncate) sch
        else currentSchema(table) match {
          case None => sch
          case Some(prior) =>
            val hadFiles = committedOrPhysical(table).nonEmpty
            StructType(sch.fields.map { f =>
              val p = prior.fields.find(_.name == f.name)
              val mustNull = p.map(pf => pf.nullable && !f.nullable)
                .getOrElse(hadFiles && !f.nullable) // new column over old files
              if (mustNull) f.copy(nullable = true) else f
            })
        }
      }
      val json = recordSchema.map(_.json)
      json.foreach(j => require(!j.contains('\t') && !j.contains('\n'),
        s"schema JSON for $table contains TSV control characters"))
      tx.synchronized(tx.entries +=
        Staged(table, truncate, dirOpt, partitioned, json, removes, extraLines, pins))
    }

    /** Stage raw manifest lines (deletion-vector commits, stream high-water
      * `txn` lines, `cdfnoop` markers) under the given pins.
      */
    private[sources] def manifestLines(table: String, lines: Seq[Action],
        pins: Seq[Pin] = Nil): Unit =
      stage(table, truncate = false, partitioned = false, None,
        extraLines = lines, pins = pins)

    /** Conflict-checked replace for read-modify-write maintenance
      * ([[AtomicWarehouse.compact]]): `pin` holds the exact file set (and DV
      * state) the caller read; the commit aborts with
      * `ConcurrentModificationException` if it changed — a racing append
      * landing mid-compaction would otherwise be truncated away by the
      * rewrite (lost update).
      */
    private[sources] def replaceExpecting(table: String, df: DataFrame, pin: Pin): Unit =
      stage(table, truncate = true, partitioned = false,
        Some(d => toPhysicalDf(table, df).write.mode(SaveMode.Overwrite).parquet(d.toString)),
        schemaOf = Some(df.schema), pins = Seq(pin))

    /** Copy-on-write file rewrite for row-level DML and tail maintenance:
      * un-reference exactly `removedFiles` (single-file `remove` lines, no
      * truncate semantics) and add `df`'s files in the same commit. The
      * removed files are pinned as read in `st` — a racing compaction or
      * replace that rewrote them, or a DV delete on them, aborts this commit
      * (the rewrite would resurrect rows already folded elsewhere); racing
      * APPENDS are untouched and unaffected.
      */
    private[sources] def rewriteExcluding(table: String, removedFiles: Seq[String],
        df: DataFrame, st: LogState, validate: Boolean = true,
        pins: Seq[Pin] = Nil): Unit = {
      // DML post-images must satisfy the invariants (an UPDATE can set a
      // violating value); surviving rows re-prove for free within the
      // rewrite-sized batch. Row-preserving maintenance (compaction,
      // recluster — the cdfnoop family) passes validate=false: its rows
      // were proven when they entered, and re-proving would make every
      // OPTIMIZE pay a table-fraction-sized scan it doesn't owe.
      val parentPins = if (validate) {
        enforceConstraints(table, df)
        val pins = fkCheck(table, df)
        enforceUniques(table, df, removedFiles, truncating = false)
        pins
      } else Nil
      stage(table, truncate = false, partitioned = false,
        Some(d => toPhysicalDf(table, df).write.mode(SaveMode.Overwrite).parquet(d.toString)),
        schemaOf = Some(df.schema), removes = removedFiles,
        pins = pinFiles(st, table, removedFiles) +: (pins ++ parentPins))
    }

    // a child batch probes its STAGED parent when the same tx wrote it
    // (read-your-own-writes), the committed point-probe path otherwise.
    // Returns freeze pins over each COMMITTED parent probed. PIN BEFORE
    // PROBE (the deleteWhereDvAll/clusteredRewrite ordering): the snapshot
    // must be at-or-older than any state the probe validated, so a parent
    // rewrite or DV delete landing anywhere in the snapshot-to-publish
    // window aborts this commit — snapshotting AFTER the probe would bless
    // post-race state the probe never checked (parent appends — key
    // additions — pass the pin freely either way). Staged parents need no
    // pin: they commit IN this transaction.
    private def fkCheck(table: String, df: DataFrame): Seq[Pin] = {
      val stagedTables = tx.synchronized(tx.entries.map(_.table).toSet)
      def isStaged(p: String): Boolean =
        stagedTables.exists(t => p == t || p.startsWith(t + "/"))
      val st = foldedState()
      val prePins: Map[String, Pin] =
        foreignKeysOf(table).values.map(_._2).toSeq.distinct
          .filterNot(isStaged)
          .map(p => p -> pinFiles(st, p, committedOrPhysical(p).sorted)).toMap
      val probedCommitted = scala.collection.mutable.LinkedHashSet[String]()
      enforceForeignKeys(table, df, (p, s) => {
        if (isStaged(p)) Some(read(p, s))
        else { probedCommitted += p; None }
      })
      probedCommitted.toSeq.flatMap(prePins.get)
    }

    // truncating away a referenced parent's rows would orphan every child
    // reference at once — RESTRICT applies to the whole-table ops too. The
    // child counts as empty when its metadata PROVES zero live rows
    // (describe subtracts DV tombstones exactly), so a child emptied by
    // deletion vectors frees its parent without waiting for compaction;
    // unknown (-1: stats gaps) stays a conservative refusal.
    private def fkRefuseTruncate(table: String, op: String): Unit =
      referencingFks(table).foreach { case (child, name, cCols, pCols) =>
        val childEmpty = committedOrPhysical(child).isEmpty ||
          describe(child).rows == 0L
        if (!childEmpty) throw new IllegalArgumentException(
          s"FOREIGN KEY '$name' ($child.(${cCols.mkString(",")}) -> " +
            s"$table.(${pCols.mkString(",")})) RESTRICTs " +
            s"$op of $table while the child holds rows; delete the child " +
            "first or dropForeignKey")
      }

    override def append(table: String, df: DataFrame): Unit = {
      enforceConstraints(table, df)
      val parentPins = fkCheck(table, df)
      enforceUniques(table, df, Nil, truncating = false)
      stage(table, truncate = false, partitioned = false,
        Some(d => toPhysicalDf(table, df).write.mode(SaveMode.Overwrite).parquet(d.toString)),
        schemaOf = Some(df.schema), pins = parentPins)
    }

    /** Append files ALREADY WRITTEN by streaming-sink tasks (physical
      * column names, parquet) without rewriting a byte: the invariant
      * probes read them once, then the stage writer MOVES them (same-FS
      * rename) instead of re-serializing a DataFrame — the V2
      * `writeStream.table` path, where executors wrote the data and the
      * driver only commits. `leaves` are the task-committed file names
      * under `srcDir` (task attempts that died uncommitted may have left
      * orphans there — only the named files move; the caller deletes the
      * dir after commit).
      */
    private[sources] def appendStagedParquetDir(table: String, srcDir: Path,
        leaves: Seq[String], schema: StructType): Unit = {
      require(leaves.nonEmpty, "appendStagedParquetDir with no files")
      val m = colMapOf(table)
      val phys = StructType(schema.fields.map(f =>
        f.copy(name = m.getOrElse(f.name, f.name))))
      val df0 = spark.read.schema(phys)
        .parquet(leaves.map(l => s"$srcDir/$l"): _*)
      val df = if (m.isEmpty) df0
        else df0.select(schema.fields.toSeq.map(f =>
          col(m.getOrElse(f.name, f.name)).as(f.name)): _*)
      enforceConstraints(table, df)
      val parentPins = fkCheck(table, df)
      enforceUniques(table, df, Nil, truncating = false)
      // moves survive the stage writer's transient-error retry: files go
      // from wherever they currently are (src on the first attempt, the
      // previous stage dir on a retry)
      val loc = new java.util.concurrent.atomic.AtomicReference[Path](srcDir)
      stage(table, truncate = false, partitioned = false,
        Some { d =>
          val cur = loc.get()
          fs.mkdirs(d)
          leaves.foreach { leaf =>
            val (src, dst) = (new Path(cur, leaf), new Path(d, leaf))
            if (!fs.rename(src, dst) && !fs.exists(dst))
              throw new java.io.IOException(
                s"failed to move staged stream file $leaf into $d")
          }
          loc.set(d)
        },
        schemaOf = Some(schema), pins = parentPins)
    }

    override def appendPartitioned(table: String, df: DataFrame,
        partitionCols: Seq[String]): Unit = {
      enforceConstraints(table, df)
      val parentPins = fkCheck(table, df)
      enforceUniques(table, df, Nil, truncating = false)
      stage(table, truncate = false, partitioned = true,
        Some(d => toPhysicalDf(table, df).write.mode(SaveMode.Overwrite)
          .partitionBy(partitionCols.map(c => physColOf(table, c)): _*).parquet(d.toString)),
        schemaOf = Some(df.schema), pins = parentPins)
    }

    // staged source files are never disturbed by the staged write, so
    // replace reading its own table needs no tmp-and-swap. Every staged
    // write goes out under PHYSICAL column names (column mapping); the
    // recorded schema line stays logical.
    override def replace(table: String, df: DataFrame): Unit = {
      enforceConstraints(table, df)
      val children = childPins(table) // pin-then-probe
      fkRefuseTruncate(table, "replace")
      val parentPins = fkCheck(table, df)
      enforceUniques(table, df, Nil, truncating = true)
      stage(table, truncate = true, partitioned = false,
        Some(d => toPhysicalDf(table, df).write.mode(SaveMode.Overwrite).parquet(d.toString)),
        schemaOf = Some(df.schema), pins = children ++ parentPins)
    }

    override def delete(table: String): Unit = {
      val children = childPins(table) // pin-then-probe
      fkRefuseTruncate(table, "delete")
      stage(table, truncate = true, partitioned = false, None, pins = children)
    }

    override def read(table: String, schema: StructType): DataFrame = {
      val staged = tx.synchronized(tx.entries.filter(e =>
        e.table == table || (e.truncate &&
          (table == e.table || table.startsWith(e.table + "/")))).toVector)
      if (staged.isEmpty) return AtomicWarehouse.this.read(table, schema)
      if (staged.exists(_.partitioned))
        throw new UnsupportedOperationException(
          s"read-your-own-writes over a staged PARTITIONED append to $table is not supported")
      if (staged.exists(_.removes.nonEmpty))
        throw new UnsupportedOperationException(
          s"read-your-own-writes over a staged file REWRITE of $table is not supported")
      // fold entries in order: a staged truncate hides the committed files
      // AND any earlier staged appends; later appends re-add their dirs.
      // The committed portion reads through the outer (DV-aware) read path
      // so a staged child append can FK-probe a DV-bearing parent — the
      // hand-built union only covers the staged (never-DV'd) files.
      var committedVisible = true
      var stagedDirs = Vector.empty[Path]
      staged.foreach { e =>
        if (e.truncate) { committedVisible = false; stagedDirs = Vector.empty }
        if (e.table == table) stagedDirs = stagedDirs ++ e.stageDir.toSeq
      }
      val m = colMapOf(table)
      val stagedFiles = stagedDirs.flatMap(d =>
        stagedDataFiles(d).map(f => s"$d/$f"))
      val stagedDf: Option[DataFrame] =
        if (stagedFiles.isEmpty) None
        else if (m.isEmpty) Some(spark.read.schema(schema).parquet(stagedFiles: _*))
        else {
          // staged files are physical-named; translate back
          val phys = StructType(schema.fields.map(f =>
            f.copy(name = m.getOrElse(f.name, f.name))))
          Some(spark.read.schema(phys).parquet(stagedFiles: _*)
            .select(schema.fields.toSeq.map(f =>
              col(m.getOrElse(f.name, f.name)).as(f.name)): _*))
        }
      val committedDf: Option[DataFrame] =
        if (committedVisible && committedOrPhysical(table).nonEmpty)
          Some(AtomicWarehouse.this.read(table, schema))
        else None
      (committedDf, stagedDf) match {
        case (Some(a), Some(b)) => a.unionByName(b)
        case (Some(a), None) => a
        case (None, Some(b)) => b
        case _ => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      }
    }

    override def exists(table: String): Boolean =
      tx.synchronized(tx.entries.exists(e => e.table == table && !e.truncate)) ||
        AtomicWarehouse.this.exists(table)

    override def lastCommittedBatch(table: String, appId: String): Option[Long] =
      AtomicWarehouse.this.lastCommittedBatch(table, appId)

    override def markBatch(table: String, appId: String, batchId: Long): Unit =
      manifestLines(table, Seq(txnLine(table, appId, batchId).getOrElse(
        throw new IllegalStateException(s"batch $batchId of '$appId' on $table " +
          "is already committed — one writer per (table, appId)"))))

    // committed state, like the outer warehouse: staged writes have no
    // manifest entry (and hence no size or recorded schema) before commit
    override def sizeBytes(table: String): Long = AtomicWarehouse.this.sizeBytes(table)

    override def inferSchema(table: String): Option[StructType] =
      AtomicWarehouse.this.inferSchema(table)

    /** Layout rewrites inside an ambient transaction carry the SAME
      * optimistic check as the top-level override: the expected file set
      * rides the ambient commit's precondition. The inherited
      * read-then-replace would otherwise silently truncate away a commit
      * landing before the ambient transaction publishes — the lost-update
      * hole replaceExpecting closes. (Covers `compact` too: [[Warehouse]]
      * routes it through here.)
      */
    override def compactWith(table: String, schema: StructType,
        transform: DataFrame => DataFrame): Unit = {
      val expected = committedOrPhysical(table)
      val pin = pinFiles(foldedState(), table, expected, noGrowth = true)
      replaceExpecting(table, transform(read(table, schema)), pin)
    }

    override def atomically(fn: Warehouse => Unit): Unit = fn(this)
  }

  // ---- public transactional surface ---------------------------------------

  override def atomically(fn: Warehouse => Unit): Unit = { atomicallyAdding(fn); () }

  /** [[atomically]], returning the data files its commit added, per table:
    * how a writer learns which files hold its own rows without listing or
    * reading them back. [[atomically]] and the single-table writes run
    * through this method, so it is the one overridable transaction entry.
    */
  private[graft] def atomicallyAdding(fn: Warehouse => Unit): Map[String, Seq[String]] =
    transactAdding(fn)._2

  /** Run `fn` against a fresh transaction view and commit what it staged —
    * the typed entry of every conflict-checked operation ([[atomically]] is
    * this with the view's type hidden). Any failure deletes the staged files
    * and propagates; a failed [[Pin]] surfaces as
    * `ConcurrentModificationException`.
    */
  private def transact[T](fn: TxView => T): T = transactAdding(fn)._1

  /** [[transact]], also returning the data files the commit added per table. */
  private def transactAdding[T](fn: TxView => T): (T, Map[String, Seq[String]]) = {
    val tx = new Tx()
    try {
      val out = fn(new TxView(tx))
      (out, commit(tx))
    } catch {
      case e: Throwable =>
        fs.delete(new Path(stageRoot, tx.txid), true) // staged files only
        throw e
    }
  }

  /** Publish `tx`'s staged writes as one manifest; returns the data files
    * it added (moved in or adopted), per table.
    */
  private def commit(tx: Tx): Map[String, Seq[String]] = {
    val lines = ArrayBuffer[Action]()
    val deletesAfter = ArrayBuffer[String]()
    // adoption: the first manifest write to a table laid down by raw
    // df.write (legacy) records the existing physical files, so switching a
    // table to transactional writes never makes its old rows vanish. A
    // truncate-first entry (replace/delete) discards them anyway.
    // `tx-`-prefixed leaves are SKIPPED: every file a manifest commit moves
    // in carries that prefix, so under a concurrent first commit to the same
    // table the other transaction's already-moved-but-unpublished files are
    // its to publish (adopting them here would double-add the file — rows
    // duplicated for every reader); raw legacy files (Spark part-*) never
    // carry the prefix, so adoption still captures all of them.
    // footer-derived column stats for one just-landed (or adopted) file —
    // Try-guarded: stats are an optimization and must never fail a commit,
    // and any JSON that would corrupt the TSV is dropped rather than written
    def statsLine(table: String, rel: String): Option[Action] =
      if (!recordStats) None
      else FileStatsRec.fromFooter(new Path(path(table), rel),
          spark.sparkContext.hadoopConfiguration)
        .map(_.toJson)
        .filter(j => !j.contains('\t') && !j.contains('\n'))
        .map(Stats(table, rel, _))
    // data files this commit ADDS, per table — the Bloom-index hook indexes
    // exactly these (and nothing else) after the staging moves land
    val addedRels = scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[String]]()
    def noteAdd(t: String, f: String): Unit =
      addedRels.getOrElseUpdate(t, ArrayBuffer()) += f
    tx.entries.groupBy(_.table).foreach { case (t, es) =>
      if (!es.head.truncate && visibleFiles(t).isEmpty) // isEmpty: None = no history
        stagedDataFiles(new Path(path(t)))
          .filterNot(_.split('/').last.startsWith("tx-"))
          .foreach { f =>
            lines += Add(t, f); statsLine(t, f).foreach(lines += _)
            noteAdd(t, f)
          }
    }
    tx.entries.zipWithIndex.foreach { case (e, i) =>
      if (e.truncate) {
        lines += Truncate(e.table)
        if (e.stageDir.isEmpty) {
          deletesAfter += e.table
          // a FULL table drop (delete(), not truncate-within-replace) also
          // clears every declared key of the table and its prefix children:
          // a table re-created under the same name must start bare — not
          // inherit rename mappings and drop tombstones (a new column
          // matching an old physical name would be refused; one matching an
          // old logical name silently remapped), nor a streaming high-water
          // (it would silently skip a new stream's early batches)
          lines ++= Manifest.clears(foldedState(),
            k => k == e.table || k.startsWith(e.table + "/"))
        }
      }
      e.removes.foreach(f => lines += Remove(e.table, f))
      e.stageDir.foreach { d =>
        val tdir = new Path(path(e.table))
        fs.mkdirs(tdir)
        stagedDataFiles(d).foreach { rel =>
          // keep partition subdirs; uniquify the leaf so concurrent
          // transactions and replays can never collide
          val (sub, leaf) = rel.lastIndexOf('/') match {
            case -1 => ("", rel)
            case n  => (rel.substring(0, n + 1), rel.substring(n + 1))
          }
          val destRel = s"$sub${"tx-" + tx.txid + "-" + i + "-" + leaf}"
          val dest = new Path(tdir, destRel)
          Option(dest.getParent).foreach(fs.mkdirs)
          if (!fs.rename(new Path(d, rel), dest))
            throw new java.io.IOException(s"staging move failed for ${e.table}/$destRel")
          lines += Add(e.table, destRel)
          statsLine(e.table, destRel).foreach(lines += _)
          noteAdd(e.table, destRel)
        }
      }
      // the write's schema, recorded beside its adds: the fold keeps the
      // LAST schema line per table, so each version knows the table's shape
      // as of its last write (add-column evolution = a wider later write;
      // readAt reconciles older, narrower files by parquet null-fill)
      e.schemaJson.foreach(j => lines += Schema(e.table, j))
      // raw manifest lines from manifestLines (deletion-vector commits)
      e.extraLines.foreach(lines += _)
    }
    // Bloom-index maintenance rides the SAME commit: a removed data file
    // releases its sidecars (their `_bloom` removes make them vacuumable —
    // the pointer entry itself dies with the file in the fold), and every
    // added file of a declared table is indexed before publish, so the
    // index can never lag the data it describes. Truncates need nothing:
    // the fold clears `<table>/_bloom` adds by prefix.
    locally {
      val st = foldedState()
      if (st.bloomcols.nonEmpty) {
        tx.entries.foreach { e =>
          e.removes.foreach { f =>
            st.blooms.get((e.table, f)).foreach { j =>
              BloomIndex.parseEntry(j).values.foreach { case (leaf, _) =>
                lines += Remove(s"${e.table}/_bloom", leaf)
              }
            }
          }
        }
        addedRels.foreach { case (t, rels) =>
          st.bloomcols.get(t).foreach { decl =>
            lines ++= bloomIndexLines(tx.txid, t, rels.toSeq, decl)
          }
        }
      }
      // a removed data file likewise releases its DV SIDECAR (the rewrite
      // folded the tombstones into new files — the pointer dies with the
      // file in the fold, the sidecar bytes become vacuumable here).
      // Truncates need nothing: the fold clears <table>/_dv adds by prefix.
      if (st.dvs.nonEmpty) {
        tx.entries.foreach { e =>
          e.removes.foreach { f =>
            st.dvs.get((e.table, f)).foreach { j =>
              DvRec.sidecarLeaf(j).foreach(leaf =>
                lines += Remove(s"${e.table}/_dv", leaf))
            }
          }
        }
      }
    }
    // every entry's pins, checked in one pass under the publish lock (see
    // [[Pin]]); this transaction's own moved files never count as growth
    val ownTx = "tx-" + tx.txid + "-"
    val pins = tx.entries.flatMap(_.pins).toSeq
    if (lines.nonEmpty) publish(lines.toSeq, precondition = () => {
      lazy val st = foldedState()
      pins.forall { p =>
        val now = committedOrPhysical(p.table)
          .filterNot(_.split('/').last.startsWith(ownTx)).toSet
        (!p.present || p.files.forall(f =>
          now.contains(f) && st.dvs.get((p.table, f)) == p.dvs.get(f))) &&
          (!p.noGrowth || now.subsetOf(p.files.toSet))
      }
    })
    fs.delete(new Path(stageRoot, tx.txid), true)
    // physical delete AFTER the commit is visible: a crash before this point
    // leaves the files as unreferenced garbage (vacuum), never as a
    // partially-deleted committed state
    deletesAfter.foreach(t => fs.delete(new Path(path(t)), true))
    // auto-fold: bound the LIVE manifest tail so a long-running stream (one
    // commit per micro-batch) keeps per-fold cost flat instead of growing
    // until someone remembers to vacuum. Fold-only — superseded manifests
    // and DATA files both keep their vacuum grace window. A lost CAS just
    // means a racing commit folds on ITS next commit.
    if (logFoldEvery > 0) {
      val cfs = commitFiles()
      if (cfs.size - latestSnapshotIdx(cfs).max(0) > logFoldEvery) foldLogToSnapshot()
    }
    addedRels.map { case (t, rels) => t -> rels.toSeq }.toMap
  }

  /** The one optimistic-concurrency retry loop: `attempt` re-reads its
    * snapshot, re-stages and re-pins from scratch, and re-runs each time its
    * commit loses a race (`ConcurrentModificationException`: a pin failed,
    * nothing was published). After 8 lost races it gives up loudly, naming
    * `op`. Single-op writes retry too: an append whose FK parent pin lost to
    * a parent rewrite (or a parent delete whose child pin lost to a child
    * insert) re-runs its checks against the NEW state, converging to a
    * clean landing or the proper refusal. Multi-op transactions
    * ([[atomically]]) keep surfacing the exception — the caller owns the
    * retry boundary there.
    */
  private def retryConflicts[T](op: => String)(attempt: => T): T = {
    var lost: java.util.ConcurrentModificationException = null
    var attempts = 0
    while (attempts < 8) {
      try return attempt
      catch {
        case e: java.util.ConcurrentModificationException => lost = e; attempts += 1
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"$op lost $attempts straight races to concurrent commits; tables are " +
        "intact — retry when the writers are quieter", lost)
  }

  override def append(table: String, df: DataFrame): Unit = { appendAdding(table, df); () }

  /** [[append]], returning the data files its commit added to `table`. */
  private[graft] def appendAdding(table: String, df: DataFrame): Seq[String] =
    retryConflicts(s"append to $table")(
      atomicallyAdding(_.append(table, df)).getOrElse(table, Nil))

  override def appendPartitioned(table: String, df: DataFrame,
      partitionCols: Seq[String]): Unit =
    retryConflicts(s"append to $table")(
      atomically(_.appendPartitioned(table, df, partitionCols)))

  override def replace(table: String, df: DataFrame): Unit =
    retryConflicts(s"replace of $table")(atomically(_.replace(table, df)))

  override def delete(table: String): Unit =
    retryConflicts(s"delete of $table")(atomically(_.delete(table)))

  /** Manifest-true for a table with manifest history — visible files, or a
    * recorded schema (a committed-empty table); a committed `delete` leaves
    * neither. Physical only for raw paths (CSV artifact directories,
    * directory-laid tables not yet adopted).
    */
  override def exists(table: String): Boolean =
    visibleFiles(table) match {
      case None => fs.exists(new Path(path(table)))
      case Some(files) => files.nonEmpty || foldedState().schemas.contains(table)
    }

  override def read(table: String, schema: StructType): DataFrame =
    visibleFiles(table) match {
      // raw/legacy directory: read the enumerated data files, not the bare
      // path — the enumeration excludes tx- leaves (a racing commit's
      // moved-but-unpublished staging, or an aborted commit's garbage),
      // which a whole-directory read would wrongly surface
      case None => readFiles(table, schema, committedOrPhysical(table))
      case Some(files) =>
        // readFiles: basePath recovers hive partition columns AND the
        // logical→physical column mapping applies (rename support)
        readFiles(table, schema, files)
    }

  // ---- time travel ---------------------------------------------------------

  /** Committed log versions currently on disk, ascending — the valid
    * `asOfVersion` arguments. Retention is bounded by maintenance exactly as
    * in the pointer-commit formats this rebuilds: a fold-snapshot subsumes
    * the manifests before it and [[vacuum]] eventually deletes them (plus
    * any data files no current manifest references), so history survives
    * only until then — and [[readAt]] REFUSES once the chain to a version is
    * gone, rather than silently reconstructing a partial state.
    */
  def versions(): Seq[Int] = commitFiles().map(versionOf)

  /** The table's rows as of commit `version` — every transaction's writes
    * with version ≤ `version` visible, nothing after. Throws when the
    * manifest chain or the version's data files were vacuumed away, and when
    * `version` is beyond the current head (a typo'd version must fail loudly,
    * not read as the live state). A table
    * with no manifest activity at `version` (first committed later, or a
    * raw directory that never went through the log) reads as EMPTY — the
    * log is the source of truth for history, and at that version it says
    * the table had nothing.
    */
  def readAt(table: String, schema: StructType, version: Int): DataFrame = {
    val st = stateAt(version)
    val touched = st.adds.contains(table) ||
      st.truncated.exists(t => table == t || table.startsWith(t + "/"))
    if (!touched)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val files = st.adds.getOrElse(table, Vector.empty)
    val gone = missingFiles(table, files)
    if (gone.nonEmpty) throw new IllegalStateException(
      s"version $version of $table is no longer reconstructible: " +
        s"${gone.size} of its data files were vacuumed (first: ${gone.head})")
    // that ERA's column mapping and deletion vectors: an as-of read before
    // a rename reads under the names the table had then, and before a DV
    // delete reconstructs the then-live rows
    readFiles(table, schema, files, Some(parseColMap(st.colmap.get(table))),
      Some(rawDvs(st, table)))
  }

  /** The table's manifest-recorded schema as of commit `version` (the shape
    * of its last write at or before that version) — None for tables whose
    * retained history predates schema recording or that never went through
    * the manifest. The self-description that keeps [[readAt]] honest across
    * add-column evolution: an as-of read reconstructs the table as it
    * LOOKED then, not squeezed through today's schema.
    */
  def schemaAt(table: String, version: Int): Option[StructType] =
    stateAt(version).schemas.get(table)
      .map(org.apache.spark.sql.types.DataType.fromJson(_).asInstanceOf[StructType])

  /** The live recorded schema ([[schemaAt]] at the head), None for
    * legacy/raw tables.
    */
  def currentSchema(table: String): Option[StructType] =
    foldedState().schemas.get(table)
      .map(org.apache.spark.sql.types.DataType.fromJson(_).asInstanceOf[StructType])

  /** [[readAt]] with the schema the MANIFEST recorded at that version —
    * columns added by later writes do not appear, files older than the
    * version's last write null-fill columns they predate. Throws when the
    * version has no recorded schema (history from before schema recording):
    * pass an explicit schema through the 3-argument overload instead of
    * letting the read guess.
    */
  def readAt(table: String, version: Int): DataFrame =
    readAt(table, schemaAt(table, version).getOrElse(throw new IllegalStateException(
      s"no schema recorded for $table at version $version (pre-evolution history) — " +
        "use readAt(table, schema, version)")), version)

  /** Rows appended to `table` in versions (`fromVersion`, `toVersion`] — the
    * CDC read for append-only windows (streaming ingest, the ledger). The
    * window must be append-only for the table: a truncate (replace, delete,
    * compaction rewrite) inside it means file-set difference no longer
    * equals row-level change, so this throws instead of under-reporting.
    * Snapshot manifests inside the window are bookkeeping (their leading
    * truncates rebuild state, they change nothing) and are ignored.
    */
  def appendsBetween(table: String, schema: StructType,
      fromVersion: Int, toVersion: Int): DataFrame = {
    val added = appendedFilesBetween(table, fromVersion, toVersion)
    val endState = stateAt(toVersion)
    readFiles(table, schema, added,
      Some(parseColMap(endState.colmap.get(table))),
      Some(rawDvs(endState, table)))
  }

  /** The files `table` gained in (`fromVersion`, `toVersion`] — the
    * append-only window computation [[appendsBetween]] reads and the
    * streaming source plans partitions from, with the SAME refusals:
    * vacuumed manifests, truncates/rewrites/DV deletes inside the window
    * (file diff != row diff there), and vacuumed data files all throw.
    */
  private[graft] def appendedFilesBetween(table: String,
      fromVersion: Int, toVersion: Int): Seq[String] = {
    require(fromVersion <= toVersion, s"fromVersion $fromVersion > toVersion $toVersion")
    if (fromVersion == toVersion) return Nil
    appendWindowGuard(table, fromVersion, toVersion)
    val before = stateAt(fromVersion).adds.getOrElse(table, Vector.empty).toSet
    val added = stateAt(toVersion).adds.getOrElse(table, Vector.empty)
      .filterNot(before)
    val gone = missingFiles(table, added)
    if (gone.nonEmpty) throw new IllegalStateException(
      s"window ($fromVersion,$toVersion] of $table lost ${gone.size} data files to vacuum")
    added
  }

  /** The append-only-window refusals shared by [[appendedFilesBetween]] and
    * [[appendedFilesByVersion]]: a vacuumed manifest inside the window
    * (contiguous version allocation makes any hole one), or a
    * truncate/rewrite/DV delete of `table` (file diff != row diff there).
    */
  private def appendWindowGuard(table: String,
      fromVersion: Int, toVersion: Int): Seq[Path] = {
    val window = commitFiles()
      .filter(p => versionOf(p) > fromVersion && versionOf(p) <= toVersion)
    // versions are allocated contiguously (publish CAS), so any hole in the
    // window is a vacuumed manifest — the truncate scan below would miss it
    val have = window.map(versionOf)
    val missing = ((fromVersion + 1) to toVersion).filterNot(have.contains)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"manifests ${missing.mkString(",")} in ($fromVersion,$toVersion] were vacuumed; " +
        "the change window is no longer reconstructible")
    val truncatedInWindow = window.filterNot(isSnapshot).exists(cf =>
      readActions(cf).exists {
        case Truncate(t) => table == t || table.startsWith(t + "/")
        case Remove(t, _) => t == table // row-level DML rewrote files
        case Dv(t, _, _) => t == table // merge-on-read delete: rows vanished in place
        case _ => false
      })
    if (truncatedInWindow) throw new IllegalStateException(
      s"$table was truncated or row-rewritten inside ($fromVersion,$toVersion]; " +
        "the window is not append-only and file diff != row diff")
    window
  }

  /** [[appendedFilesBetween]] split per commit version, in manifest line
    * order — what the streaming source's admission control walks to cap a
    * micro-batch MID-version ((version, index) offsets, Delta's shape). The
    * same window refusals apply; the per-file existence probe is
    * deliberately absent (the scan task fails loudly on a vacuumed file —
    * a planner that stat-ed every backlog file serially on the driver is
    * exactly what this replaces).
    */
  private[graft] def appendedFilesByVersion(table: String,
      fromVersion: Int, toVersion: Int): Seq[(Int, Vector[String])] = {
    require(fromVersion <= toVersion, s"fromVersion $fromVersion > toVersion $toVersion")
    if (fromVersion == toVersion) return Nil
    val window = appendWindowGuard(table, fromVersion, toVersion)
    val before = stateAt(fromVersion).adds.getOrElse(table, Vector.empty).toSet
    val after = stateAt(toVersion).adds.getOrElse(table, Vector.empty).toSet
    val seen = scala.collection.mutable.Set.empty[String] ++ before
    window.filterNot(isSnapshot).map { cf =>
      val files = readActions(cf).collect {
        case Add(t, f) if t == table && after.contains(f) && seen.add(f) => f
      }
      versionOf(cf) -> files.toVector
    }.filter(_._2.nonEmpty)
  }

  /** Manifest-recorded byte sizes for `files` of `table` at the CURRENT
    * head (stats lines carry `bytes` since r15) — what the SQL
    * [[graft.sql.GraftFileIndex]] sizes scans from so planning never lists
    * or stats the filesystem for log-recorded files. Files whose lines
    * predate size recording are absent (the caller's one-listing fallback).
    */
  private[graft] def recordedFileSizes(table: String,
      files: Seq[String]): Map[String, Long] = {
    val stats = foldedState().stats
    files.flatMap { f =>
      stats.get((table, f)).map(FileStatsRec.bytesOf).filter(_ >= 0L).map(f -> _)
    }.toMap
  }

  /** Which of `files` are MISSING from `table`'s directory — the
    * vacuum-loss guard every historical read runs. Per-file probes for a
    * small set, ONE directory listing past 16 flat files: a genesis-sized
    * version must not cost O(files) serial driver RPCs to prove intact.
    */
  private def missingFiles(table: String, files: Seq[String]): Seq[String] =
    if (files.size > 16 && files.forall(!_.contains("/"))) {
      val names = fs.listStatus(new Path(path(table))).iterator
        .filter(_.isFile).map(_.getPath.getName).toSet
      files.filterNot(names.contains)
    } else files.filterNot(f => fs.exists(new Path(s"${path(table)}/$f")))

  /** Total bytes of `files`, manifest-recorded where available (exact —
    * captured from the commit-time footer read), filesystem only for the
    * pre-recording remainder.
    */
  private def fileBytes(table: String, files: Seq[String]): Long = {
    val rec = recordedFileSizes(table, files)
    rec.valuesIterator.sum + files.filterNot(rec.contains).map(f =>
      fs.getFileStatus(new Path(s"${path(table)}/$f")).getLen).sum
  }

  /** Filesystem metadata calls made while PLANNING streaming micro-batches
    * (instrumentation: the admission-control spec pins this at ZERO when
    * every window file carries manifest-recorded bytes — at 100 TB a
    * genesis replay must plan from the log, never from serial driver RPCs).
    */
  private[graft] val streamPlanFsCalls = new java.util.concurrent.atomic.AtomicLong(0)

  /** Byte sizes for `files` of `table`, from the manifest's stats lines
    * (recorded at commit time since round 15). Files whose lines predate
    * size recording fall back to ONE directory listing (flat layouts — the
    * streaming tables' shape), or a per-file status probe for
    * partition-dir leaves; both fallbacks count into
    * [[streamPlanFsCalls]].
    */
  private[graft] def streamFileSizes(table: String, files: Seq[String],
      asOfVersion: Int): Map[String, Long] = {
    if (files.isEmpty) return Map.empty
    val stats = stateAt(asOfVersion).stats
    val recorded = files.flatMap { f =>
      stats.get((table, f)).map(FileStatsRec.bytesOf).filter(_ >= 0L).map(f -> _)
    }.toMap
    val rest = files.filterNot(recorded.contains)
    if (rest.isEmpty) return recorded
    val dir = new Path(path(table))
    val (flat, nested) = rest.partition(!_.contains("/"))
    val listed: Map[String, Long] =
      if (flat.isEmpty) Map.empty
      else {
        streamPlanFsCalls.incrementAndGet()
        val wanted = flat.toSet
        fs.listStatus(dir).iterator.filter(_.isFile)
          .filter(s => wanted.contains(s.getPath.getName))
          .map(s => s.getPath.getName -> s.getLen).toMap
      }
    val missing = flat.filterNot(listed.contains)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"streaming window of $table lost ${missing.size} data files to vacuum " +
        s"(first: ${missing.head})")
    val stated = nested.map { f =>
      streamPlanFsCalls.incrementAndGet()
      f -> fs.getFileStatus(new Path(s"${path(table)}/$f")).getLen
    }.toMap
    recorded ++ listed ++ stated
  }

  /** Current head commit version (0 before any commit) — the streaming
    * source's offset clock.
    */
  private[graft] def headVersion(): Int =
    commitFiles().lastOption.map(versionOf).getOrElse(0)

  /** Current logical→physical schema translation for the streaming reader:
    * the recorded schema under PHYSICAL column names (physical names are
    * stable across renames, so one schema serves every window file).
    */
  private[graft] def physicalReadSchema(table: String): Option[StructType] =
    currentSchema(table).map { sch =>
      val m = colMapOf(table)
      StructType(sch.fields.map(f => f.copy(name = m.getOrElse(f.name, f.name))))
    }

  /** EXACTLY-ONCE streaming append (Delta's `txn` action) — the
    * `foreachBatch` sink:
    *
    * {{{
    * stream.writeStream.foreachBatch { (df, batchId) =>
    *   wh.appendOnce("facts/t", "my-stream", batchId, df); ()
    * }
    * }}}
    *
    * The (appId, batchId) high-water ([[markBatch]]) rides the SAME manifest
    * commit as the data files, so a batch either lands with its mark or neither
    * (a crash between them cannot exist) and a REPLAYED batch — Structured
    * Streaming re-runs the last uncommitted batch after every recovery —
    * is a metadata-only no-op (returns false). Batch ids must ascend per
    * appId (the Structured Streaming contract); the high-water keeps the
    * MAX seen. Single-writer per (table, appId) — two concurrent writers
    * replaying the same id is the same check-then-commit caveat as UNIQUE
    * keys, and one active query per checkpoint is Spark's own invariant.
    * Invariants (CHECK/FK/UNIQUE) and the change feed bind the append
    * exactly as [[Warehouse.append]]. `delete(table)` clears the high-water
    * (a re-created table must not skip a new stream's early batches).
    */
  def appendOnce(table: String, appId: String, batchId: Long,
      df: DataFrame): Boolean =
    txnLine(table, appId, batchId).isDefined && {
      transact { tv => tv.append(table, df); tv.markBatch(table, appId, batchId) }
      true
    }

  /** The `txn` action committing (appId, batchId) for `table`, or None when
    * the high-water already covers `batchId` (a replay).
    */
  private def txnLine(table: String, appId: String, batchId: Long): Option[Action] = {
    require(appId.nonEmpty && !appId.exists(c => c == '\t' || c == '\n'),
      s"appId '$appId' is empty or contains TSV control characters")
    require(batchId >= 0L, s"batchId must be non-negative, got $batchId")
    if (lastCommittedBatch(table, appId).exists(_ >= batchId)) None
    else Some(Txn(table, appId, Some(batchId)))
  }

  /** [[appendOnce]] for files ALREADY WRITTEN by streaming-sink tasks (the
    * V2 `writeStream.table` path): same (appId, batchId) high-water riding
    * the same manifest commit, but the data lands by RENAME from `srcDir` —
    * written once, by executors — instead of a driver-side DataFrame
    * re-serialization. Only the task-committed `leaves` move (uncommitted
    * attempts' orphans die with the dir); a replayed batch is detected
    * BEFORE any move and returns false with the dir cleaned either way.
    * Invariants and the change feed bind exactly as [[appendOnce]]. An
    * empty batch still advances the high-water (metadata-only commit).
    */
  def appendOnceStaged(table: String, appId: String, batchId: Long,
      srcDir: String, leaves: Seq[String], schema: StructType): Boolean = {
    val fresh = txnLine(table, appId, batchId).isDefined
    require(leaves.forall(l => !l.contains("/") && !l.startsWith(".")),
      "staged stream leaves must be flat, non-hidden file names")
    val src = new Path(srcDir)
    try fresh && {
      transact { tv =>
        if (leaves.nonEmpty) tv.appendStagedParquetDir(table, src, leaves, schema)
        tv.markBatch(table, appId, batchId)
      }
      true
    } finally { // success: uncommitted-attempt orphans; replay or failure: the dir
      try { if (fs.exists(src)) fs.delete(src, true) }
      catch { case _: java.io.IOException => () }
    }
  }

  override def lastCommittedBatch(table: String, appId: String): Option[Long] =
    foldedState().txns.get((table, appId))

  /** [[Warehouse.markBatch]] alone: a metadata-only commit. */
  override def markBatch(table: String, appId: String, batchId: Long): Unit =
    transact(_.markBatch(table, appId, batchId))

  /** Restore `table` to its state as of commit `version`, as a NEW commit —
    * the RESTORE shape of the pointer-commit formats this rebuilds: the old
    * file set is RE-REFERENCED (truncate + re-add), never copied, so a
    * restore is metadata-only regardless of table size, is itself
    * time-travelable, and is undone by another restore. Refuses with
    * [[readAt]]'s contract when the manifest chain or the version's data
    * files were vacuumed, and with `ConcurrentModificationException` when
    * the table changes between reading its current state and publishing (a
    * racing append must abort the restore, not be silently truncated away —
    * the compaction precondition). Restoring to a version where the table
    * had no rows leaves it committed-empty. The files the restore
    * un-references stay on disk as vacuum-eligible garbage; a concurrent
    * cross-process [[vacuum]] inside this method's window is covered only by
    * its grace period, like every other reader.
    */
  def restore(table: String, version: Int): Unit = {
    val st = stateAt(version)
    val files = st.adds.getOrElse(table, Vector.empty)
    val gone = missingFiles(table, files)
    if (gone.nonEmpty) throw new IllegalStateException(
      s"cannot restore $table to version $version: ${gone.size} of its data " +
        s"files were vacuumed (first: ${gone.head})")
    val expected = committedOrPhysical(table).sorted
    // what a restore rewinds: the table with its Bloom and DV sidecar
    // pseudo-tables — files, recorded SHAPE, per-file stats, deletion
    // vectors and Bloom pointers, and its declarations (colmap, cluster,
    // Bloom, CHECK/FK/UNIQUE) — everything but the change feed, its floor
    // and the stream high-waters. The era's colmap restores ATOMICALLY with
    // its schema: a restore to a pre-drop version would otherwise regain the
    // column while the current colmap still tombstones its physical name —
    // readable but permanently unwritable. A restore of the PARENT of a
    // foreign key is an admin rewind and does not re-prove children.
    val slice = (t: String) => t == table || t == s"$table/_bloom" || t == s"$table/_dv"
    val rewound: Action => Boolean = {
      case _: Truncate | _: ChangeFeed | _: CdfFloor | _: Txn => false
      case _ => true
    }
    val era = Manifest.render(st, slice).filter(rewound)
    val live = foldedState()
    // "already that state" covers METADATA too: a rename/drop/recluster is a
    // metadata-only commit that leaves the file set identical
    if (files.sorted == expected &&
        era.toSet == Manifest.render(live, slice).filter(rewound).toSet) return
    // declarations the era lacks but the table has now CLEAR
    val eraKeys = Manifest.clears(st, _ == table).toSet
    val lines = (Truncate(table) +: era) ++
      Manifest.clears(live, _ == table).filter(rewound).filterNot(eraKeys)
    publish(lines,
      precondition = () => committedOrPhysical(table).sorted == expected)
  }

  // ---- data skipping & row-level DML ---------------------------------------

  /** Parsed footer-derived column stats for each of a table's visible files
    * (files with no recorded stats are absent — legacy history, un-decodable
    * column types). Observability surface for specs and tools; scans go
    * through [[planFiles]].
    */
  def fileStats(table: String): Map[String, FileStatsRec] = {
    val st = foldedState()
    // present LOGICAL column names: stats are stored physical (footer truth)
    val reverse = colMapOf(table).filterNot(_._1.startsWith(droppedPrefix)).map(_.swap)
    st.adds.getOrElse(table, Vector.empty).flatMap(f =>
      st.stats.get((table, f)).map { j =>
        val r = FileStatsRec.fromJson(j)
        f -> r.copy(cols = r.cols.map { case (c, cs) => reverse.getOrElse(c, c) -> cs })
      }).toMap
  }

  /** Partition a table's readable files into (kept, skipped) under a
    * predicate conjunction: a `skipped` file provably contains no matching
    * row (manifest min/max/null-count stats — [[FileStatsRec.mayContain]]).
    * Files without stats are always kept, so skipping can only ever remove
    * I/O, never rows.
    */
  def planFiles(table: String, preds: Seq[FilePred]): (Seq[String], Seq[String]) = {
    val st = foldedState()
    // stats ride physical column names (footer truth) — translate
    val physPreds = preds.map(p => FilePred.mapCols(p, c => physColOf(table, c)))
    committedOrPhysical(table).partition { f =>
      (st.stats.get((table, f)) match {
        case Some(j) => FileStatsRec.fromJson(j).mayContainAll(physPreds)
        case None => true
      }) && bloomKeeps(st, table, f, physPreds)
    }
  }

  /** Predicate scan with manifest-level data skipping: only files that may
    * contain matching rows are OPENED (parquet row-group pruning then
    * applies within them via the pushed filter); the exact row filter is
    * applied either way, so the result is identical to `read().filter(...)`
    * whatever the stats say. At 100 TB and a tight range predicate this is
    * the difference between footer-reading every file of the table and
    * opening the handful the manifest says can match — pruning happens on
    * the DRIVER from metadata already in memory, before any task launches.
    */
  def scanWhere(table: String, schema: StructType, preds: Seq[FilePred]): DataFrame = {
    val cond = FilePred.toColumn(preds, schema)
    val (kept, _) = planFiles(table, preds)
    if (kept.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else readFiles(table, schema, kept).filter(cond)
  }

  /** DESCRIBE DETAIL for ops tooling: everything the manifest knows about a
    * table without reading a data row — visible files/bytes, exact row
    * count when every file carries stats (`rows` is -1 otherwise: report,
    * never guess), stats coverage, declared cluster columns, recorded
    * schema width, and the current log head. Driver-side metadata only.
    */
  def describe(table: String): TableDetail = {
    val st = foldedState()
    val files = st.adds.getOrElse(table, Vector.empty)
    // bytes from the LOG where recorded (r15 stats lines), filesystem only
    // for the pre-recording remainder — a million-file DESCRIBE must not
    // be a million serial driver stat calls
    val bytes = fileBytes(table, files)
    val recs = files.flatMap(f => st.stats.get((table, f)))
    // rows = LIVE rows: physical footer counts minus deletion-vector
    // tombstones (still metadata-only)
    val dvRows = files.flatMap(f => st.dvs.get((table, f))).map(DvRec.countOf).sum
    val rows =
      if (files.nonEmpty && recs.size == files.size)
        recs.map(FileStatsRec.fromJson(_).rows).sum - dvRows
      else -1L
    val dvEntries = files.flatMap(f => st.dvs.get((table, f)))
    TableDetail(table, files.size, bytes, rows, recs.size,
      st.cluster.get(table).map(_.split(",").toSeq).getOrElse(Nil),
      st.schemas.get(table).map(j => org.apache.spark.sql.types.DataType
        .fromJson(j).asInstanceOf[StructType].fields.length).getOrElse(-1),
      commitFiles().lastOption.map(versionOf).getOrElse(0),
      dvEntries.size, dvEntries.map(DvRec.countOf).sum,
      st.cdf.contains(table),
      st.bloomcols.get(table).map(BloomIndex.parseDecl(_)._1).getOrElse(Nil),
      files.count(f => st.blooms.contains((table, f))),
      st.constraints.collect { case ((t, n), e) if t == table => n -> e },
      st.fks.collect { case ((t, n), d) if t == table =>
        val p = d.split('|'); n -> s"${p(0)} -> ${p(1)}.${p(2)}" },
      st.uniques.collect { case ((t, n), c) if t == table => n -> c })
  }

  // ---- Bloom index (point-lookup file skipping) ---------------------------

  /** Declare a per-file Bloom index on `cols` (logical names; integral or
    * string columns — the point-lookup types). From this commit on, every
    * data file the table gains is indexed at write time: the filter bytes
    * land as an immutable sidecar under `<table>/_bloom/` in the SAME
    * manifest commit as the data file, and equality/IN predicates on the
    * indexed columns prune files the filter proves cannot match — the
    * skipping regime for a high-cardinality key on an UNclustered table,
    * where min/max bounds overlap everywhere and dictionary value sets are
    * over the cardinality cap (see [[BloomIndex]]). Files that predate the
    * declaration stay unindexed (always kept) until [[backfillBloomIndex]].
    * The declaration survives truncates like a cluster declaration and is
    * cleared by a full `delete(table)`.
    */
  def setBloomIndex(table: String, cols: Seq[String], fpp: Double = 0.01): Unit = {
    require(cols.nonEmpty, "setBloomIndex with no columns")
    require(fpp > 0.0 && fpp < 0.5, s"bloom fpp must be in (0, 0.5), got $fpp")
    cols.foreach(c => require(!c.contains("\t") && !c.contains("\n"),
      s"bloom column name '$c' contains TSV control characters"))
    if (bloomIndex(table).contains((cols, fpp))) return // already declared
    publish(Seq(BloomCols(table, BloomIndex.declJson(cols, fpp))))
  }

  /** The table's declared Bloom index: (logical columns, target fpp). */
  def bloomIndex(table: String): Option[(Seq[String], Double)] =
    foldedState().bloomcols.get(table).map(BloomIndex.parseDecl)

  // ---- CHECK constraints ----------------------------------------------------

  /** The table's declared CHECK constraints: name → SQL boolean expression
    * over LOGICAL column names (Delta's `ALTER TABLE ADD CONSTRAINT CHECK`
    * surface). Enforced on every batch of rows entering the table — append,
    * replace, and row-level DML post-images — with SQL CHECK semantics: a
    * row violates only when the expression evaluates to FALSE; NULL
    * (unknown) passes, so `price > 0` admits null prices and refusing them
    * needs an explicit `price IS NOT NULL` conjunct or constraint.
    */
  def constraintsOf(table: String): Map[String, String] =
    foldedState().constraints.collect { case ((t, n), e) if t == table => n -> e }

  /** Declare (or redefine) a CHECK constraint — one metadata commit. The
    * EXISTING rows are validated first (one stats-prunable scan; an absent
    * or empty table passes vacuously), so after the declare the invariant
    * holds for the whole table, past and future: enforcement at write time
    * never has to re-prove old files, and maintenance rewrites
    * (compaction, recluster — row-preserving by contract) skip validation
    * entirely. Declared names survive truncate like cluster declarations
    * and clear on a full `delete(table)`.
    */
  def addConstraint(table: String, name: String, exprSql: String,
      schema: StructType): Unit = {
    require(name.nonEmpty && !name.contains('\t') && !name.contains('\n'),
      s"constraint name '$name' is empty or contains TSV control characters")
    require(exprSql.nonEmpty && !exprSql.contains('\t') && !exprSql.contains('\n'),
      s"constraint expression for '$name' is empty or contains TSV control characters")
    if (exists(table)) {
      val bad = read(table, schema)
        .filter(!coalesce(expr(exprSql).cast("boolean"), lit(true)))
        .limit(1).collect()
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"cannot add CHECK constraint '$name' ($exprSql) to $table: existing " +
          s"rows violate it (first: ${bad.head})")
    }
    if (constraintsOf(table).get(name).contains(exprSql)) return // already declared
    publish(Seq(Constraint(table, name, exprSql)))
  }

  /** Drop a declared constraint — metadata-only, a no-op when absent. */
  def dropConstraint(table: String, name: String): Unit =
    if (constraintsOf(table).contains(name))
      publish(Seq(Constraint(table, name, "")))

  /** Refuse `df` when any declared constraint on `table` evaluates to
    * FALSE on any row — ONE aggregate over the batch, all constraints
    * fused ([[graft.operators.Expectations]]'s shape), run where a batch
    * becomes table rows. Batch-sized, never table-sized: existing files
    * were proven at [[addConstraint]] time.
    */
  private def enforceConstraints(table: String, df: DataFrame): Unit = {
    val cs = constraintsOf(table).toSeq.sortBy(_._1)
    if (cs.isEmpty) return
    val aggs = cs.map { case (n, e) =>
      count(when(!coalesce(expr(e).cast("boolean"), lit(true)), 1)).as(n) }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cs.zipWithIndex.foreach { case ((n, e), i) =>
      if (row.getLong(i) > 0L) throw new IllegalArgumentException(
        s"CHECK constraint '$n' on $table violated by ${row.getLong(i)} " +
          s"row(s) in this write: $e")
    }
  }

  // ---- FOREIGN KEY constraints ----------------------------------------------

  /** Point-probe cap for FK checks: up to this many distinct keys collect
    * to the driver and probe the other side as an `In` literal (manifest
    * stats/Bloom-prunable); above it the check degrades to a join against
    * a full scan — exact either way, same regime split as every point
    * probe here.
    */
  private val fkProbeLimit = 10000

  /** The table's declared foreign keys (it is the CHILD/referencing side):
    * name → (childCols, parentTable, parentCols) — single OR COMPOSITE
    * (the reference's Provider_Product (ProductId, ProviderId) pair key,
    * `database_schema.mmd`). Referential integrity is enforced BOTH ways,
    * batch-sized: rows entering the child must reference live parent keys
    * (a row with ANY null key column passes — SQL MATCH SIMPLE), and
    * parent row-level deletes that would orphan a child reference refuse
    * (ON DELETE RESTRICT, the SQL default). The parent key is assumed
    * unique (the FK contract everywhere; not enforced here — declare a
    * UNIQUE or run dedup if the source can violate it). `restore` is an
    * admin rewind and does not re-prove children; writes re-enforce after.
    *
    * Isolation: the probe-then-commit window is CLOSED by cross-table
    * freeze pins riding the commit precondition — a parent row delete pins
    * its children's file sets (no growth), a child write pins its probed
    * parents' files + deletion-vector state — so whichever side publishes
    * second aborts with `ConcurrentModificationException` and re-proves
    * (single-op writes retry internally). Parent APPENDS never conflict
    * with child writes: keys can only be added.
    */
  def foreignKeysOf(child: String): Map[String, (Seq[String], String, Seq[String])] =
    foldedState().fks.collect { case ((t, n), d) if t == child =>
      n -> parseFkDesc(d)
    }

  // descriptor grammar: `c1[,c2...]|parentTable|p1[,p2...]` — commas are
  // refused in key column names at declaration, so the split is exact
  private def parseFkDesc(d: String): (Seq[String], String, Seq[String]) = {
    val p = d.split('|')
    (p(0).split(',').toSeq, p(1), p(2).split(',').toSeq)
  }

  /** FKs whose PARENT side is `table`: (childTable, name, childCols, parentCols). */
  private def referencingFks(table: String)
      : Seq[(String, String, Seq[String], Seq[String])] =
    foldedState().fks.collect { case ((c, n), d) if d.split('|')(1) == table =>
      val (cc, _, pc) = parseFkDesc(d); (c, n, cc, pc)
    }.toSeq.sortBy(t => (t._1, t._2))

  /** Declare a single-column FOREIGN KEY — see the composite form. */
  def addForeignKey(child: String, childCol: String, parent: String,
      parentCol: String, name: String): Unit =
    addForeignKey(child, Seq(childCol), parent, Seq(parentCol), name)

  /** Declare a FOREIGN KEY: the `childCols` tuple of `child` references the
    * `parentCols` tuple of `parent` — one metadata commit after validating
    * the EXISTING child rows (one anti-join on the tuple; vacuous when the
    * child is absent/empty). Both tables must have manifest-recorded
    * schemas once they hold rows (the check reads them by their recorded
    * shape). Composite keys probe tuple-aware: every key column
    * contributes a stats/Bloom-prunable In-literal (the UNIQUE probe's
    * shape), with the exact tuple match joined within the pruned slice.
    */
  def addForeignKey(child: String, childCols: Seq[String], parent: String,
      parentCols: Seq[String], name: String): Unit = {
    require(child != parent, "self-referencing foreign keys are not supported")
    require(childCols.nonEmpty && childCols.size == parentCols.size,
      s"FOREIGN KEY '$name': ${childCols.size} child column(s) vs " +
        s"${parentCols.size} parent column(s) — the tuples must align")
    require(childCols.distinct.size == childCols.size,
      s"FOREIGN KEY '$name' repeats a child column (${childCols.mkString(",")})")
    (Seq(name, parent) ++ childCols ++ parentCols).foreach(s_ =>
      require(s_.nonEmpty && !s_.exists(c =>
        c == '\t' || c == '\n' || c == '|' || c == ','),
        s"'$s_' is empty or contains TSV/descriptor control characters"))
    val st = foldedState()
    val pSchemaJson = st.schemas.getOrElse(parent, throw new IllegalStateException(
      s"parent $parent has no manifest-recorded schema — write it through " +
        "the log once before declaring a foreign key against it"))
    val pSchema = org.apache.spark.sql.types.DataType.fromJson(pSchemaJson)
      .asInstanceOf[StructType]
    parentCols.foreach(pc => require(pSchema.fieldNames.contains(pc),
      s"parent $parent has no column '$pc'"))
    if (exists(child)) {
      val cSchemaJson = st.schemas.getOrElse(child, throw new IllegalStateException(
        s"child $child has rows but no manifest-recorded schema — write it " +
          "through the log once before declaring a foreign key on it"))
      val cSchema = org.apache.spark.sql.types.DataType.fromJson(cSchemaJson)
        .asInstanceOf[StructType]
      childCols.foreach(cc => require(cSchema.fieldNames.contains(cc),
        s"child $child has no column '$cc'"))
      childCols.zip(parentCols).foreach { case (cc, pc) =>
        val (ct, pt) = (cSchema(cc).dataType, pSchema(pc).dataType)
        require(ct == pt,
          s"foreign key type mismatch: $child.$cc is $ct but " +
            s"$parent.$pc is $pt — widen one side first")
      }
      val keyed = fkKeyCols(childCols)
      val orphan = read(child, cSchema).select(keyed: _*)
        .filter(fkAllNotNull(childCols.size)).distinct()
        .join(read(parent, pSchema).select(fkKeyCols(parentCols): _*).distinct(),
          fkKeyNames(childCols.size), "left_anti")
        .limit(1).collect()
      if (orphan.nonEmpty) throw new IllegalArgumentException(
        s"cannot add FOREIGN KEY '$name' ($child.(${childCols.mkString(",")}) -> " +
          s"$parent.(${parentCols.mkString(",")})): existing child rows reference " +
          s"missing parent keys (first: ${orphan.head.toSeq.mkString("(", ",", ")")})")
    }
    val desc = s"${childCols.mkString(",")}|$parent|${parentCols.mkString(",")}"
    if (foldedState().fks.get((child, name)).contains(desc)) return
    publish(Seq(Fk(child, name, desc)))
  }

  // the tuple-keyed probe frames join on positional `__k<i>` names so a
  // child/parent key width difference coerces inside the join (a
  // driver-side Set diff would compare boxed Integer against Long and
  // false-refuse) — the single-column `__k` convention, generalized
  private def fkKeyCols(cols: Seq[String]): Seq[Column] =
    cols.zipWithIndex.map { case (c, i) => col(c).as(s"__k$i") }
  private def fkKeyNames(n: Int): Seq[String] = (0 until n).map(i => s"__k$i")
  private def fkAllNotNull(n: Int): Column =
    fkKeyNames(n).map(col(_).isNotNull).reduce(_ && _)

  /** Drop a declared foreign key — metadata-only, no-op when absent. */
  def dropForeignKey(child: String, name: String): Unit =
    if (foldedState().fks.contains((child, name)))
      publish(Seq(Fk(child, name, "")))

  // ---- SQL catalog seams (graft.sql) ------------------------------------

  /** Manifest-known table names for the SQL catalog: every table with a
    * recorded schema or visible files, minus internal child tables
    * (underscore-prefixed segments: `_changes`, `_bloom`, `_dv`, sync
    * cursors under `_sync`).
    */
  private[graft] def catalogTables(): Seq[String] = {
    val st = foldedState()
    (st.adds.filter(_._2.nonEmpty).keySet ++ st.schemas.keySet).toSeq
      .filterNot(_.split('/').exists(s => s.startsWith("_") || s.startsWith(".")))
      .sorted
  }

  /** The manifest-recorded logical schema, None when the table never wrote
    * one (raw/legacy directories fall back to parquet inference).
    */
  private[graft] def catalogSchema(table: String): Option[StructType] =
    foldedState().schemas.get(table).map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[StructType])


  private[graft] def visibleDataFiles(table: String): Seq[String] =
    committedOrPhysical(table)

  /** A table's [[AtomicWarehouse.FileSet]] from one folded state, with no
    * Spark job: the key a driver-side copy of a small table is valid for.
    * Data files are immutable and uniquely named, so an unchanged file with
    * an unchanged DV entry still holds the same live rows; any other change
    * (compaction, restore, DML, another writer) shows as a file added, gone
    * or re-tombstoned.
    */
  private[graft] def fileSet(table: String): AtomicWarehouse.FileSet = {
    val st = foldedState()
    AtomicWarehouse.FileSet(committedOrPhysical(table, st), rawDvs(st, table),
      parseColMap(st.colmap.get(table)))
  }

  /** The live rows of `files` (a subset of `set.files`), read under `set`'s
    * own DV entries and column mapping — the same read [[read]] does, over
    * only the files named.
    */
  private[graft] def readFileSet(table: String, schema: StructType,
      set: AtomicWarehouse.FileSet, files: Seq[String]): DataFrame =
    readFiles(table, schema, files, Some(set.colMap), Some(set.dvs))

  /** The commit wall-clock of one manifest: the `ts` line it RECORDS
    * (first line of every manifest since round 14 — survives a warehouse
    * copy/rsync that resets mtimes), falling back to the file mtime for
    * pre-recording history. Read through the bounded manifest cache.
    */
  private[graft] def commitTimestamp(p: Path): Long =
    readActions(p).collectFirst { case Ts(ms) => ms }
      .getOrElse(fs.getFileStatus(p).getModificationTime)

  /** The newest commit version whose wall-clock is at or before `tsMillis`
    * (the SQL `TIMESTAMP AS OF` resolution). The clock is the
    * manifest-RECORDED commit time ([[commitTimestamp]]; mtime only for
    * pre-recording history), with Delta's retention caveats: a
    * fold-snapshot carries its own (later) time, so times older than the
    * earliest RETAINED manifest refuse — retention bounds wall-clock
    * travel just as it bounds `readAt`.
    */
  private[graft] def versionAtTimestamp(tsMillis: Long): Int = {
    val cfs = commitFiles()
    val at = cfs.filter(p => commitTimestamp(p) <= tsMillis)
    if (at.isEmpty) throw new IllegalArgumentException(
      s"no retained commit at or before timestamp $tsMillis " +
        s"(earliest retained: ${cfs.headOption.map(commitTimestamp).getOrElse(-1L)})")
    versionOf(at.last)
  }

  /** DESCRIBE HISTORY, metadata-only: one row per RETAINED commit —
    * (version, snapshot?, commit wall-clock millis, manifest lines
    * touching `tableOpt` or all lines when None). Commits not touching the
    * table filter out under Some; retention bounds the walk exactly as it
    * bounds time travel.
    */
  private[graft] def commitHistory(tableOpt: Option[String])
      : Seq[(Int, Boolean, Long, Int)] =
    commitFiles().map { p =>
      val relevant = readActions(p).count {
        case Ts(_) => false
        case a: OnTable => tableOpt.forall(t => a.table == t || a.table.startsWith(t + "/"))
        case _ => tableOpt.isEmpty
      }
      (versionOf(p), isSnapshot(p), commitTimestamp(p), relevant)
    }.filter(r => tableOpt.isEmpty || r._4 > 0)

  private def recordedSchema(table: String): StructType =
    org.apache.spark.sql.types.DataType.fromJson(
      foldedState().schemas.getOrElse(table, throw new IllegalStateException(
        s"$table has no manifest-recorded schema")))
      .asInstanceOf[StructType]

  /** Refuse a child batch whose non-null FK values reference no live
    * parent key. `parentRead` abstracts the parent scan so in-transaction
    * callers can supply read-your-own-writes (a parent staged in the SAME
    * tx must satisfy the child batch); when the committed path is used the
    * ≤ [[fkProbeLimit]] key case probes via [[scanWhere]] — manifest
    * stats/Bloom pruning, the point-probe regime.
    */
  private def enforceForeignKeys(table: String, df: DataFrame,
      stagedParent: (String, StructType) => Option[DataFrame]): Unit = {
    val fks = foreignKeysOf(table)
    if (fks.isEmpty) return
    fks.toSeq.sortBy(_._1).foreach { case (name, (cCols, parent, pCols)) =>
      val pSchema = recordedSchema(parent)
      val n = cCols.size
      val batchKeys = df.select(fkKeyCols(cCols): _*).filter(fkAllNotNull(n))
        .distinct()
      val lits = batchKeys.limit(fkProbeLimit + 1).collect()
      // membership always resolves through a JOIN (Spark coerces a child/
      // parent key width difference; a driver-side Set diff would compare
      // boxed Integer against Long and false-refuse) — the point-probe
      // regime only narrows the parent SCAN: under the cap EVERY key
      // column contributes a stats/Bloom-prunable In-literal (tuple-aware,
      // the UNIQUE probe's shape) and the exact tuple match joins within
      // the pruned slice
      val missing: Seq[String] =
        if (lits.isEmpty) Nil
        else {
          val pdf = stagedParent(parent, pSchema).getOrElse {
            if (lits.length <= fkProbeLimit)
              scanWhere(parent, pSchema, pCols.zipWithIndex.map { case (pc, i) =>
                ColIn(pc, lits.map(_.get(i)).distinct.toSeq)
              })
            else read(parent, pSchema)
          }
          batchKeys.join(pdf.select(fkKeyCols(pCols): _*).distinct(),
            fkKeyNames(n), "left_anti").limit(3).collect()
            .map(_.toSeq.mkString("(", ",", ")")).toSeq
        }
      if (missing.nonEmpty) throw new IllegalArgumentException(
        s"FOREIGN KEY '$name' on $table violated: ${missing.size}+ key(s) in " +
          s"this write reference no $parent.(${pCols.mkString(",")}) row " +
          s"(first: ${missing.head})")
    }
  }

  // ---- UNIQUE constraints -----------------------------------------------

  /** The table's declared UNIQUE keys: name → comma-joined column list
    * (single or COMPOSITE — the reference's Provider_Product pair-key
    * shape). Closes the loop the FK contract leaves open (parent keys
    * assumed unique): enforcement is batch-sized — a write refuses when
    * the batch collides within itself or with the table's rows outside the
    * files the write replaces. A row with ANY null key column is exempt
    * (the SQL rule). Check-then-commit isolation caveat: two concurrent
    * writers inserting the same key can both pass their probe —
    * single-writer-per-table is the contract under which this is airtight
    * (the FK checks' cross-table freeze pins close the analogous FK race;
    * a same-table key pin would serialize ALL concurrent appends, which
    * the single-writer contract makes a cost without a buyer).
    */
  def uniquesOf(table: String): Map[String, String] =
    foldedState().uniques.collect { case ((t, n), c) if t == table => n -> c }

  /** Declare a UNIQUE column — one metadata commit after proving the
    * EXISTING rows distinct (one aggregate; vacuous when absent/empty).
    */
  def addUniqueKey(table: String, column: String, name: String): Unit =
    addUniqueKey(table, Seq(column), name)

  /** Composite form: the tuple over `columns` must be unique. */
  def addUniqueKey(table: String, columns: Seq[String], name: String): Unit = {
    require(columns.nonEmpty, "addUniqueKey with no columns")
    (name +: columns).foreach(s_ =>
      require(s_.nonEmpty && !s_.exists(c => c == '\t' || c == '\n' || c == ','),
        s"'$s_' is empty or contains TSV/list control characters"))
    if (exists(table)) {
      val schema = recordedSchema(table)
      columns.foreach(c => require(schema.fieldNames.contains(c),
        s"$table has no column '$c'"))
      val dup = read(table, schema)
        .filter(columns.map(col(_).isNotNull).reduce(_ && _))
        .groupBy(columns.map(col): _*).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1).limit(1).collect()
      if (dup.nonEmpty) throw new IllegalArgumentException(
        s"cannot add UNIQUE '$name' on $table(${columns.mkString(",")}): " +
          s"existing rows duplicate key ${dup.head.toSeq.init.mkString("(", ",", ")")}" +
          s" (${dup.head.getLong(columns.size)} rows)")
    }
    val encoded = columns.mkString(",")
    if (foldedState().uniques.get((table, name)).contains(encoded)) return
    publish(Seq(Unique(table, name, encoded)))
  }

  /** Drop a declared UNIQUE constraint — metadata-only, no-op when absent. */
  def dropUniqueKey(table: String, name: String): Unit =
    if (foldedState().uniques.contains((table, name)))
      publish(Seq(Unique(table, name, "")))

  /** Refuse `df` when a declared UNIQUE column collides — within the batch
    * (one aggregate) or against the table's rows OUTSIDE `excludeFiles`
    * (a DML rewrite's pre-image files must not self-collide; for a merge,
    * the excluded candidate set provably holds every file that could share
    * its keys, so the outside probe never false-refuses). `truncating`
    * writes replace the table — only the within-batch check applies.
    */
  private def enforceUniques(table: String, df: DataFrame,
      excludeFiles: Seq[String], truncating: Boolean): Unit = {
    val us = uniquesOf(table).toSeq.sortBy(_._1)
    if (us.isEmpty) return
    us.foreach { case (name, encoded) =>
      val cols = encoded.split(',').toSeq
      val nonNull = cols.map(col(_).isNotNull).reduce(_ && _)
      val dup = df.filter(nonNull)
        .groupBy(cols.map(col): _*).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1).limit(1).collect()
      if (dup.nonEmpty) throw new IllegalArgumentException(
        s"UNIQUE '$name' on $table(${cols.mkString(",")}) violated within " +
          s"this write (duplicate key: ${dup.head.toSeq.init.mkString("(", ",", ")")})")
      if (!truncating && exists(table)) {
        val excluded = excludeFiles.toSet
        val remain = visibleFiles(table).getOrElse(Nil).filterNot(excluded.contains)
        if (remain.nonEmpty) {
          val schema = recordedSchema(table)
          val keys = df.filter(nonNull).select(cols.map(col): _*).distinct()
          // TUPLE-AWARE point probe: every under-cap key column contributes
          // a stats/Bloom-prunable In-literal. The preds conjoin, so a file
          // survives only when it may hold SOME value of EVERY column — a
          // low-selectivity LEADING column no longer defeats pruning when
          // a later column is selective. Sound: a row colliding on the
          // tuple matches each column's In; the exact tuple match joins
          // WITHIN the pruned slice.
          //
          // Distinct COUNTS go first (one cheap partially-aggregated pass):
          // collect_set materializes a column's whole distinct set in one
          // reducer BEFORE slice can cap it, so an over-cap column must
          // never reach collect_set at all — it couldn't contribute a probe
          // predicate anyway (its In would exceed fkProbeLimit). This keeps
          // the probe's executor memory bounded by fkProbeLimit per column
          // however large a unique-keyed append gets.
          import org.apache.spark.sql.functions.count_distinct
          val counts = keys.agg(
            count(lit(1)).as("__rows"),
            cols.map(c => count_distinct(col(c)).as(c)): _*).head()
          val rowsNonNull = counts.getLong(0)
          val underCap: Seq[String] = cols.zipWithIndex.collect {
            case (c, i) if counts.getLong(i + 1) <= fkProbeLimit => c
          }
          val colVals: Seq[(String, Seq[Any])] =
            if (rowsNonNull == 0L || underCap.isEmpty) Nil
            else {
              val capped = keys.agg(
                slice(sort_array(collect_set(col(underCap.head))), 1, fkProbeLimit + 1)
                  .as(underCap.head),
                underCap.tail.map(c =>
                  slice(sort_array(collect_set(col(c))), 1, fkProbeLimit + 1).as(c)): _*)
                .head()
              underCap.zipWithIndex.map { case (c, i) => c -> capped.getSeq[Any](i) }
            }
          val probePreds = colVals.collect {
            case (c, vs) if vs.nonEmpty && vs.size <= fkProbeLimit => ColIn(c, vs)
          }
          val clash: Array[org.apache.spark.sql.Row] =
            if (rowsNonNull == 0L) Array.empty // no non-null key rows
            else if (probePreds.nonEmpty) {
              // stats/Bloom-prune on every capped column, then drop the
              // rewrite's own pre-image files — a DML or merge probe
              // stays batch-sized instead of re-reading the whole table
              val (kept, _) = planFiles(table, probePreds)
              val remainSet = remain.toSet
              val probeFiles = kept.filter(remainSet.contains)
              readFiles(table, schema, probeFiles)
                .filter(FilePred.toColumn(probePreds, schema))
                .select(cols.map(col): _*)
                .join(keys, cols, "left_semi").limit(3).collect()
            } else
              readFiles(table, schema, remain).select(cols.map(col): _*)
                .join(keys, cols, "left_semi").limit(3).collect()
          if (clash.nonEmpty) throw new IllegalArgumentException(
            s"UNIQUE '$name' on $table(${cols.mkString(",")}) violated: " +
              s"key(s) already present (first: " +
              s"${clash.head.toSeq.mkString("(", ",", ")")})")
        }
      }
    }
  }

  /** ON DELETE RESTRICT: refuse a parent rewrite/tombstone commit whose
    * key values LEAVE the table while a child still references them.
    * `goneKeysOf(pCols)` yields the leaving key TUPLES under the
    * positional `__k<i>` names (pre-image keys minus the keys the rewrite
    * retains — exact under the unique-parent-key contract). The child
    * probe is the same two-regime tuple-aware point probe as the forward
    * check; the exact tuple match always resolves through a join.
    */
  private def enforceFkRestrict(parent: String,
      goneKeysOf: Seq[String] => DataFrame): Unit = {
    referencingFks(parent).foreach { case (child, name, cCols, pCols) =>
      if (exists(child)) {
        val cSchema = recordedSchema(child)
        val n = cCols.size
        val gone = goneKeysOf(pCols)
        val lits = gone.limit(fkProbeLimit + 1).collect()
        if (lits.nonEmpty) {
          val childKeys =
            (if (lits.length <= fkProbeLimit)
              scanWhere(child, cSchema, cCols.zipWithIndex.map { case (cc, i) =>
                ColIn(cc, lits.map(_.get(i)).distinct.toSeq)
              })
            else read(child, cSchema))
              .select(fkKeyCols(cCols): _*).filter(fkAllNotNull(n)).distinct()
          val referenced = gone.join(childKeys, fkKeyNames(n), "left_semi")
            .limit(3).collect().map(_.toSeq.mkString("(", ",", ")")).toSeq
          if (referenced.nonEmpty) throw new IllegalArgumentException(
            s"FOREIGN KEY '$name' ($child.(${cCols.mkString(",")}) -> " +
              s"$parent.(${pCols.mkString(",")})) RESTRICTs this delete: " +
              s"child rows still reference leaving key(s) " +
              s"(first: ${referenced.head}); delete the children first or " +
              "dropForeignKey")
        }
      }
    }
  }

  /** Index the visible files missing a Bloom entry — files that predate
    * the declaration, or whose sidecars a restore brought back pointers
    * for after vacuum took the bytes — WITHOUT rewriting any data: one
    * indexed-column scan per missing file, then one metadata commit
    * (conflict-checked against the file set it read). Returns the number
    * of files newly indexed.
    */
  def backfillBloomIndex(table: String): Int = {
    val st = foldedState()
    val decl = st.bloomcols.getOrElse(table, throw new IllegalStateException(
      s"no Bloom index declared on $table — setBloomIndex first"))
    val missing = committedOrPhysical(table)
      .filterNot(f => st.blooms.contains((table, f)))
    if (missing.isEmpty) return 0
    val expected = committedOrPhysical(table).sorted
    val txid = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val lines = bloomIndexLines(txid, table, missing, decl)
    if (lines.isEmpty) return 0
    publish(lines,
      precondition = () => committedOrPhysical(table).sorted == expected)
    lines.count(_.isInstanceOf[Bloom])
  }

  /** Sidecar build + pointer lines for `rels` (just-landed data files of a
    * declared table), called inside [[commit]] before publish. Per file:
    * decode the footer (column presence, type tag, row/null counts size
    * the filter), scan each indexed column once building a
    * `spark.util.sketch.BloomFilter` (integral values hash via `putLong`,
    * strings via `putString` — the probe mirrors this, type-tagged), write
    * the sidecar, and emit its `<table>/_bloom` add plus the file's
    * pointer line. Indexing is an OPTIMIZATION: any failure drops the
    * file's index (it stays always-kept), never the commit.
    */
  private def bloomIndexLines(txid: String, table: String, rels: Seq[String],
      decl: String): Seq[Action] = try {
    val (cols, fpp) = BloomIndex.parseDecl(decl)
    if (cols.isEmpty || rels.isEmpty) return Nil
    val physCols = cols.map(c => physColOf(table, c)).distinct
    val bdir = new Path(path(s"$table/_bloom"))
    fs.mkdirs(bdir)
    var seq = 0
    val out = ArrayBuffer[Action]()
    rels.foreach { rel =>
      try {
        FileStatsRec.fromFooter(new Path(path(table), rel),
            spark.sparkContext.hadoopConfiguration).foreach { rec =>
          if (rec.rows > 0L) { // zero-row files skip via rows==0 already
            val entries = physCols.flatMap { pc =>
              rec.cols.get(pc).filter(cs => cs.tag == "i" || cs.tag == "s").map { cs =>
                val n = math.max(rec.rows - math.max(cs.nulls, 0L), 1L)
                val bf = buildBloomFilter(new Path(path(table), rel), pc, cs.tag, n, fpp)
                seq += 1
                val leaf = s"tx-$txid-bf$seq-" +
                  pc.replaceAll("[^A-Za-z0-9_.-]", "_") + ".bf"
                val os = fs.create(new Path(bdir, leaf), true)
                try bf.writeTo(os) finally os.close()
                (pc, leaf, cs.tag)
              }
            }
            if (entries.nonEmpty) {
              val j = BloomIndex.entryJson(entries)
              if (!j.contains('\t') && !j.contains('\n')) {
                entries.foreach { case (_, leaf, _) =>
                  out += Add(s"$table/_bloom", leaf)
                }
                out += Bloom(table, rel, j)
              }
            }
          }
        }
      } catch { case _: Exception => } // never fail the commit over an index
    }
    out.toSeq
  } catch { case _: Exception => Nil }

  /** One file × one column → its Bloom filter, sized by the footer's
    * non-null count at the declared fpp (~1.2 bytes/row at 1% — sidecar
    * bytes track the DATA, never the manifest). The single-file scan runs
    * as one task (`coalesce(1)`): write-time indexing cost, the same shape
    * as the footer-stats read only over the indexed column's pages.
    */
  private def buildBloomFilter(abs: Path, physCol: String, tag: String,
      n: Long, fpp: Double): BloomFilter = {
    import org.apache.spark.sql.Encoders
    val base = spark.read.parquet(abs.toString).select(col(physCol)).na.drop().coalesce(1)
    val blobs: Array[Array[Byte]] = (tag match {
      case "i" => base.select(col(physCol).cast(LongType)).as(Encoders.scalaLong)
        .mapPartitions { (it: Iterator[Long]) =>
          val bf = BloomFilter.create(n, fpp)
          it.foreach(bf.putLong)
          val bos = new java.io.ByteArrayOutputStream
          bf.writeTo(bos)
          Iterator(bos.toByteArray)
        }(Encoders.BINARY)
      case _ => base.select(col(physCol).cast(StringType)).as(Encoders.STRING)
        .mapPartitions { (it: Iterator[String]) =>
          val bf = BloomFilter.create(n, fpp)
          it.foreach(bf.putString)
          val bos = new java.io.ByteArrayOutputStream
          bf.writeTo(bos)
          Iterator(bos.toByteArray)
        }(Encoders.BINARY)
    }).collect()
    blobs.map(b => BloomFilter.readFrom(new java.io.ByteArrayInputStream(b)))
      .reduceOption { (a, b) => a.mergeInPlace(b); a }
      .getOrElse(BloomFilter.create(n, fpp))
  }

  /** Deserialized sidecars by absolute path. Sidecars are IMMUTABLE —
    * every commit creates new leaves — so entries never invalidate; a
    * load failure (era sidecar vacuumed after a restore) caches as absent
    * and the file is simply always kept: absence never skips.
    */
  private val bloomCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[BloomFilter]]()

  private def loadBloom(table: String, leaf: String): Option[BloomFilter] = {
    val abs = new Path(path(s"$table/_bloom"), leaf)
    bloomCache.computeIfAbsent(abs.toString, _ =>
      try {
        val in = fs.open(abs)
        try Some(BloomFilter.readFrom(in)) finally in.close()
      } catch { case _: Exception => None })
  }

  /** False ⇒ the Bloom index PROVES no row of `f` satisfies the
    * conjunction: some equality/IN leg's every probe value is definitely
    * absent (no false negatives ⇒ sound skip). Only Eq/In legs on indexed
    * columns with type-matching values participate — range legs, untagged
    * types, unindexed files, unreadable sidecars all keep the file, so the
    * index strictly removes I/O, never rows. Disjunctions keep the file
    * when ANY disjunct survives, mirroring [[FileStatsRec.mayContain]].
    */
  private def bloomKeeps(st: LogState, table: String, f: String,
      physPreds: Seq[FilePred]): Boolean =
    st.blooms.get((table, f)) match {
      case None => true
      case Some(j) =>
        val m = BloomIndex.parseEntry(j)
        if (m.isEmpty) true
        else {
          def testEq(c: String, v: Any): Boolean = m.get(c) match {
            case None => true
            case Some((leaf, tag)) => BloomIndex.probeValue(tag, v) match {
              case None => true
              case Some(pv) => loadBloom(table, leaf) match {
                case None => true
                case Some(bf) => tag match {
                  case "i" => bf.mightContainLong(pv.asInstanceOf[Long])
                  case _ => bf.mightContainString(pv.asInstanceOf[String])
                }
              }
            }
          }
          def may(p: FilePred): Boolean = p match {
            case ColOr(ds) => ds.exists(_.forall(may))
            case ColEq(c, v) => testEq(c, v)
            case ColIn(c, vs) => vs.exists(testEq(c, _))
            case _ => true
          }
          physPreds.forall(may)
        }
    }

  // ---- column mapping (rename without rewrite) ----------------------------

  /** Logical→physical column mapping for a table: identity unless a
    * [[renameColumn]] happened. PHYSICAL names are stable — a data file is
    * always read under the names it was written with; a rename only changes
    * the logical label in the manifest (the Delta column-mapping idea in its
    * smallest form), so it is metadata-only at any table size.
    */
  private[graft] def colMapOf(table: String): Map[String, String] =
    parseColMap(foldedState().colmap.get(table))

  private def parseColMap(json: Option[String]): Map[String, String] =
    json.map { j =>
      org.json4s.jackson.JsonMethods.parse(j) match {
        case org.json4s.JObject(fs) =>
          fs.collect { case (k, org.json4s.JString(v)) => k -> v }.toMap
        case _ => Map.empty[String, String]
      }
    }.getOrElse(Map.empty)

  private def colMapJson(m: Map[String, String]): String = {
    import org.json4s.JsonDSL._
    org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
      org.json4s.JObject(m.toList.sorted.map { case (k, v) =>
        k -> (org.json4s.JString(v): org.json4s.JValue) })))
  }

  /** Translate a caller-facing (logical) frame to physical column names for
    * a staged write. Refuses ambiguous layouts (a logical column named like
    * another column's physical name) rather than writing colliding files.
    */
  private def toPhysicalDf(table: String, df: DataFrame): DataFrame = {
    val m = colMapOf(table)
    if (m.isEmpty) df
    else {
      val dropped = droppedPhysical(table)
      val out = df.columns.map(c => m.getOrElse(c, c))
      // resurrection guard: a NEW column landing on a dropped column's
      // physical name would read the dropped column's old bytes out of
      // pre-drop files — refuse with a way out
      df.columns.toSeq.zip(out.toSeq).foreach { case (c, p) =>
        require(!(dropped.contains(p) && !m.contains(c)),
          s"column '$c' of $table collides with a DROPPED column's physical " +
            s"name '$p'; add it under another name (rename afterwards if needed)")
      }
      require(out.distinct.length == out.length,
        s"column mapping for $table makes write names collide: ${out.mkString(",")}")
      df.select(df.columns.toSeq.zip(out.toSeq).map { case (c, p) => col(c).as(p) }: _*)
    }
  }

  /** Physical column name for a logical one (stats are recorded under
    * physical names — footer truth — so every stats lookup translates).
    */
  private def physColOf(table: String, logical: String): String =
    colMapOf(table).getOrElse(logical, logical)

  /** The single seam every direct data-file read goes through: read the
    * given table-relative files under `schema` (LOGICAL names), translating
    * through the logical→physical mapping — current by default, a
    * version-era map for time travel — and anti-filtering each file's
    * DELETION VECTOR (merge-on-read deletes: manifest-recorded tombstone
    * row ordinals; current by default, era DVs for time travel). Renames
    * and DVs therefore need no per-operator handling. Files without a DV
    * take the plain path — zero overhead until the first DV delete.
    */
  private def readFiles(table: String, schema: StructType, files: Seq[String],
      mapOpt: Option[Map[String, String]] = None,
      dvOpt: Option[Map[String, String]] = None): DataFrame = {
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val m = mapOpt.getOrElse(colMapOf(table))
    val dvs = dvOpt.getOrElse(rawDvs(foldedState(), table))
    val (dvFiles, plainFiles) = files.partition(dvs.contains)
    def sel(df: DataFrame): DataFrame =
      if (m.isEmpty) df.select(schema.fieldNames.toSeq.map(col): _*)
      else df.select(schema.fields.toSeq.map(f =>
        col(m.getOrElse(f.name, f.name)).as(f.name)): _*)
    val plain: Option[DataFrame] = if (plainFiles.isEmpty) None else Some {
      val paths = plainFiles.map(f => s"${path(table)}/$f")
      if (m.isEmpty)
        spark.read.option("basePath", path(table)).schema(schema).parquet(paths: _*)
      else {
        val phys = StructType(schema.fields.map(f => f.copy(name = m.getOrElse(f.name, f.name))))
        sel(spark.read.option("basePath", path(table)).schema(phys).parquet(paths: _*))
      }
    }
    val alive: Option[DataFrame] = if (dvFiles.isEmpty) None else
      Some(sel(readTagged(table, schema, dvFiles, m, dvs)))
    (plain, alive) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case _ => throw new IllegalStateException("unreachable: files was non-empty")
    }
  }

  /** DV JSON (table,file)-keyed ordinal sets for one table, rel-file keyed.
    * MATERIALIZES every ordinal on the driver — observability/maintenance
    * only; the read path goes through [[dvAntiJoin]], which keeps large DV
    * sets off the driver entirely.
    */
  private def dvOf(table: String): Map[String, Seq[Long]] = parseDvs(foldedState(), table)

  private def parseDvs(st: LogState, table: String): Map[String, Seq[Long]] =
    st.dvs.collect { case ((t, f), j) if t == table => f -> resolveDv(table, j) }

  /** Raw manifest DV entries for one table: rel file → DV JSON (inline or
    * sidecar-pointer form). O(manifest) driver bytes however many rows are
    * dead — the representation the read path plans from.
    */
  private def rawDvs(st: LogState, table: String): Map[String, String] =
    st.dvs.collect { case ((t, f), j) if t == table => f -> j }

  private[graft] def currentDvJson(table: String): Map[String, String] =
    rawDvs(foldedState(), table)

  /** Ordinal sets ≤ this ride the manifest inline (a scattered purge costs
    * zero extra I/O); larger sets go to a `<table>/_dv/` sidecar so the
    * manifest never carries O(tombstones) bytes — the bound that made the
    * old inline-only design cap DV density at all.
    */
  private val dvInlineMax = 4096

  /** Above this many TOTAL tombstones for one read, the anti-join stops
    * broadcasting a driver-materialized list and applies deletion vectors
    * SCAN-SIDE ([[DvScanFilter]]) — the driver never holds an ordinal.
    * Default 64k sits at the measured crossover (DvProbe: scan-side reads
    * flat ~0.3 s at 30k/120k/480k tombstones while the broadcast path
    * degrades 0.9 → 4.6 s); below it the broadcast hash anti-join keeps
    * the whole filter inside codegen. Session-configurable so specs can
    * force either regime on small fixtures.
    */
  private def dvBroadcastMaxTombstones: Long =
    spark.conf.getOption("graft.dv.broadcastMaxTombstones")
      .map(_.toLong).getOrElse(65536L)

  // sidecars are immutable (rewrites mint new leaves), so one read serves
  // the warehouse instance's lifetime — but the cache is BUDGETED: a
  // warehouse with many sidecar-backed DVs must not accumulate every
  // ordinal in driver heap just because maintenance once resolved it.
  // Entries land while the running total stays under the budget; past it,
  // resolution still works (per-call read) without pinning.
  private val dvSidecarCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Long]]()
  private val dvSidecarCachedOrds = new java.util.concurrent.atomic.AtomicLong(0)
  private val dvSidecarCacheBudget = 16L * 1024 * 1024 // ~128 MB of Longs

  /** Driver-materialized DV ordinals, cumulative (instrumentation: the DV
    * probe asserts this stays FLAT on the read path while tombstones grow).
    */
  private[graft] val dvOrdinalsMaterialized = new java.util.concurrent.atomic.AtomicLong(0)

  private def resolveDv(table: String, json: String): Seq[Long] =
    DvRec.sidecarLeaf(json) match {
      case None =>
        val v = DvRec.fromJson(json)
        dvOrdinalsMaterialized.addAndGet(v.size.toLong)
        v
      case Some(leaf) =>
        val p = new Path(s"${path(table)}/_dv/$leaf")
        val key = fs.makeQualified(p).toString
        val cached = dvSidecarCache.get(key)
        if (cached != null) cached
        else {
          if (!fs.exists(p)) throw new IllegalStateException(
            s"deletion-vector sidecar $table/_dv/$leaf was lost to vacuum; " +
              "this table state is no longer reconstructible — restore to a " +
              "retained version")
          val in = new java.io.DataInputStream(fs.open(p))
          try {
            val n = in.readInt()
            val b = Vector.newBuilder[Long]
            b.sizeHint(n)
            var i = 0
            while (i < n) { b += in.readLong(); i += 1 }
            val v: Seq[Long] = b.result()
            dvOrdinalsMaterialized.addAndGet(v.size.toLong)
            if (dvSidecarCachedOrds.get() + v.size <= dvSidecarCacheBudget) {
              if (dvSidecarCache.putIfAbsent(key, v) == null)
                dvSidecarCachedOrds.addAndGet(v.size.toLong)
            }
            v
          } finally in.close()
        }
    }

  /** Anti-filter `tagged` rows (carrying `__file`/`__ord`) against the
    * tombstones in `dvJson` (rel file → manifest DV JSON). Two regimes:
    *
    *   - total tombstones ≤ [[dvBroadcastMaxTombstones]]: materialize and
    *     BROADCAST an anti-join — one driver hop, zero shuffle, hash
    *     lookups inside codegen — the right plan for the overwhelmingly
    *     common small-DV case;
    *   - above the gate: SCAN-SIDE application (Delta's DV design, via
    *     [[DvScanFilter]]) — the driver broadcasts only the (file → DV
    *     JSON) manifest map, O(manifest) bytes however many rows are dead,
    *     and each scan task resolves the DV for the file IT is reading
    *     (inline JSON in place, sidecars streamed once per thread+file
    *     through a small LRU) and binary-searches per row. No join, no
    *     shuffle, no driver ordinal: at 100 TB with billions of dead rows
    *     this is the difference between a driver OOM (or a full-table
    *     shuffle) and a per-task filter whose memory is ONE file's
    *     ordinals — bounded by the per-file density compaction manages,
    *     not by table size.
    *
    * The regime decision itself is metadata-only (`DvRec.countOf` reads
    * the recorded `n`, never the ordinals).
    */
  private[graft] def dvAntiJoin(tagged: DataFrame, table: String,
      dvJson: Map[String, String]): DataFrame = {
    if (dvJson.isEmpty) return tagged
    val total = dvJson.valuesIterator.map(DvRec.countOf).sum
    if (total <= dvBroadcastMaxTombstones) {
      import org.apache.spark.sql.functions.broadcast
      import spark.implicits._
      val tombs = dvJson.toSeq.sortBy(_._1)
        .flatMap { case (f, j) => resolveDv(table, j).map(o => (f, o)) }
      val tombDf = broadcast(tombs.toDF("__dv_file", "__dv_ord"))
      tagged.join(tombDf,
        tagged("__file") === tombDf("__dv_file") && tagged("__ord") === tombDf("__dv_ord"),
        "left_anti")
    } else {
      val dvDir = fs.makeQualified(new Path(s"${path(table)}/_dv")).toString
      val confB = org.apache.spark.sql.graft.shims.broadcastHadoopConf(spark)
      val dvB = spark.sparkContext.broadcast(dvJson)
      // native codegen'd membership test ([[DvLive]]) — the scan stays
      // inside WholeStageCodegen; the old ScalaUDF form paid per-row boxing
      // and a converter round-trip for every row of every DV-carrying file
      import org.apache.spark.sql.graft.shims
      tagged.filter(shims.column(DvLive(
        shims.expression(col("__file")), shims.expression(col("__ord")),
        confB, dvDir, dvB)))
    }
  }

  private def writeDvSidecar(table: String, leaf: String, ords: Seq[Long]): Unit = {
    val dir = new Path(s"${path(table)}/_dv")
    fs.mkdirs(dir)
    val out = new java.io.DataOutputStream(fs.create(new Path(dir, leaf), false))
    try {
      out.writeInt(ords.size)
      ords.foreach(out.writeLong)
    } finally out.close()
  }

  /** Read `files` under PHYSICAL names plus `__file` (leaf name) and `__ord`
    * (row ordinal within the file, from the parquet reader's `_metadata.
    * row_index`), with each file's deletion vector anti-filtered through
    * [[dvAntiJoin]] (broadcast below the tombstone gate, fully distributed
    * above it). Leaf names are unique within a table by the commit protocol
    * (`tx-<txid>-<i>-` prefixes), and DV operations refuse partition-dir
    * layouts, so the leaf IS the file identity. The seam both the DV read
    * path and [[deleteWhereDv]]'s tombstone planner go through.
    */
  private def readTagged(table: String, schema: StructType, files: Seq[String],
      m: Map[String, String], dvJson: Map[String, String]): DataFrame = {
    require(files.forall(!_.contains("/")),
      s"deletion vectors on partition-dir layouts are not supported (table $table); " +
        "migrate once via recluster — see deleteWhere's contract")
    import org.apache.spark.sql.functions.{element_at, split}
    val phys = StructType(schema.fields.map(f => f.copy(name = m.getOrElse(f.name, f.name))))
    def tag(fs: Seq[String]): DataFrame =
      spark.read.schema(phys).parquet(fs.map(f => s"${path(table)}/$f"): _*)
        .withColumn("__file", element_at(split(col("_metadata.file_path"), "/"), -1))
        .withColumn("__ord", col("_metadata.row_index"))
    // files WITHOUT a DV entry scan clean and codegen'd — only DV-carrying
    // files route through the tombstone filter (the DML planners pass
    // mixed candidate sets here; an undivided frame would push every clean
    // row of a mostly-clean candidate set through the membership test)
    val dvSet = dvJson.keySet
    val (dvFiles, cleanFiles) = files.partition(dvSet.contains)
    val clean = if (cleanFiles.isEmpty) None else Some(tag(cleanFiles))
    val filtered = if (dvFiles.isEmpty) None else {
      val dvFileSet = dvFiles.toSet
      Some(dvAntiJoin(tag(dvFiles),
        table, dvJson.filter { case (f, _) => dvFileSet.contains(f) }))
    }
    (clean, filtered) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case _ => tag(files) // files empty: preserve the empty-path error shape
    }
  }

  /** Rename a column WITHOUT rewriting a byte of data: one metadata commit
    * updating the recorded schema, the logical→physical mapping (the
    * physical name — the FIRST logical name the column ever had — never
    * changes), and the declared cluster columns if they reference it. Time
    * travel composes: `readAt` before the rename reads under that era's
    * name. Requires a manifest-recorded schema (write through the manifest
    * first); refuses unknown/duplicate names.
    */
  def renameColumn(table: String, oldName: String, newName: String): Unit = {
    require(oldName != newName, "renameColumn with identical names")
    Seq(oldName, newName).foreach(n => require(
      !n.contains("\t") && !n.contains("\n") && !n.contains(","),
      s"column name '$n' contains control characters"))
    val sch = currentSchema(table).getOrElse(throw new IllegalStateException(
      s"renameColumn needs a manifest-recorded schema for $table — " +
        "write through the manifest first"))
    require(sch.fieldNames.contains(oldName),
      s"renameColumn: '$oldName' is not a column of $table (${sch.fieldNames.mkString(",")})")
    require(!sch.fieldNames.contains(newName),
      s"renameColumn: '$newName' already exists in $table")
    val m = colMapOf(table)
    val physical = m.getOrElse(oldName, oldName)
    // a mapping that lands back on the physical name is identity — drop it
    val m2 = ((m - oldName) + (newName -> physical)).filter { case (k, v) => k != v }
    val sch2 = StructType(sch.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    val cluster2 = clusterBy(table)
      .filter(_.contains(oldName))
      .map(_.map(c => if (c == oldName) newName else c))
    // declared invariants follow the rename: FK descriptors (this table as
    // child OR as parent) and UNIQUE columns are structured and rewrite in
    // the same commit; CHECK expressions are free-form SQL text, so a
    // rename of a referenced column REFUSES (drop/re-add the constraint
    // around the rename) rather than silently breaking every later write.
    // The Bloom declaration re-publishes too (probes anchor on physical
    // names either way — this keeps the visible decl truthful).
    val st0 = foldedState()
    st0.constraints.foreach { case ((t, n), e) =>
      if (t == table) require(!checkExprRefs(e).contains(oldName.toLowerCase),
        s"renameColumn: CHECK constraint '$n' on $table references " +
          s"'$oldName' — dropConstraint/addConstraint around the rename")
    }
    val fk2 = st0.fks.toSeq.flatMap { case ((c, n), d) =>
      val (cc, pt, pc) = parseFkDesc(d)
      val hit = (c == table && cc.contains(oldName)) ||
        (pt == table && pc.contains(oldName))
      if (!hit) None
      else {
        val cc2 = if (c == table) cc.map(x => if (x == oldName) newName else x) else cc
        val pc2 = if (pt == table) pc.map(x => if (x == oldName) newName else x) else pc
        Some(Fk(c, n, s"${cc2.mkString(",")}|$pt|${pc2.mkString(",")}"))
      }
    }
    val uq2 = st0.uniques.toSeq.collect {
      case ((t, n), c0) if t == table && c0.split(',').contains(oldName) =>
        Unique(t, n, c0.split(',').map(c =>
          if (c == oldName) newName else c).mkString(","))
    }
    val bloom2 = st0.bloomcols.get(table).map(BloomIndex.parseDecl).collect {
      case (cols, fpp) if cols.contains(oldName) =>
        BloomCols(table, BloomIndex.declJson(
          cols.map(c => if (c == oldName) newName else c), fpp))
    }
    val lines = Seq(Schema(table, sch2.json), ColMap(table, colMapJson(m2))) ++
      cluster2.map(cs => Cluster(table, cs.mkString(","))) ++
      fk2 ++ uq2 ++ bloom2
    require(!sch2.json.contains('\t') && !sch2.json.contains('\n'),
      s"schema JSON for $table contains TSV control characters")
    publish(lines)
  }

  /** Lower-cased attribute names a CHECK expression references (parse
    * level, resolution-free) — the rename/drop interaction guard.
    */
  private def checkExprRefs(e: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(e).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.name.toLowerCase
    }.toSet

  /** Drop a column WITHOUT rewriting a byte: one metadata commit removes it
    * from the recorded schema (reads simply stop selecting it — the bytes
    * linger in old files until some rewrite touches them, exactly the
    * pointer-commit formats' contract) and tombstones its PHYSICAL name in
    * the column map. The tombstone closes a resurrection hole: a later
    * write adding a NEW column with the same name would otherwise read the
    * dropped column's old bytes out of pre-drop files — so such a write is
    * refused with instructions to pick another name (or rename after
    * adding). Time travel still reads pre-drop eras with the column.
    * Refuses to drop a declared cluster column (redeclare first) and the
    * table's last column.
    */
  def dropColumn(table: String, name: String): Unit = {
    val sch = currentSchema(table).getOrElse(throw new IllegalStateException(
      s"dropColumn needs a manifest-recorded schema for $table — " +
        "write through the manifest first"))
    require(sch.fieldNames.contains(name),
      s"dropColumn: '$name' is not a column of $table (${sch.fieldNames.mkString(",")})")
    require(sch.fields.length > 1, s"dropColumn would leave $table without columns")
    require(!clusterBy(table).exists(_.contains(name)),
      s"dropColumn: '$name' is a declared cluster column of $table — setClusterBy first")
    // a column referenced by a declared invariant cannot be dropped out
    // from under it — every later write would fail expression analysis
    // (CHECK) or key resolution (FK/UNIQUE). Drop the declaration first.
    val st0 = foldedState()
    st0.constraints.foreach { case ((t, n), e) =>
      if (t == table) require(!checkExprRefs(e).contains(name.toLowerCase),
        s"dropColumn: CHECK constraint '$n' on $table references '$name' — dropConstraint first")
    }
    st0.fks.foreach { case ((c, n), d) =>
      val (cc, pt, pc) = parseFkDesc(d)
      require(!(c == table && cc.contains(name)),
        s"dropColumn: FOREIGN KEY '$n' on $table uses '$name' — dropForeignKey first")
      require(!(pt == table && pc.contains(name)),
        s"dropColumn: FOREIGN KEY '$n' on ${c} references $table.'$name' — dropForeignKey first")
    }
    st0.uniques.foreach { case ((t, n), c0) =>
      require(!(t == table && c0.split(',').contains(name)),
        s"dropColumn: UNIQUE '$n' on $table uses '$name' — dropUniqueKey first")
    }
    val m = colMapOf(table)
    val physical = m.getOrElse(name, name)
    val m2 = (m - name) + (s"$droppedPrefix$physical" -> physical)
    val sch2 = StructType(sch.fields.filterNot(_.name == name))
    publish(Seq(Schema(table, sch2.json), ColMap(table, colMapJson(m2))))
  }

  /** Widen a column's type WITHOUT rewriting a byte — the remaining
    * Delta-parity schema-evolution move after add/rename/drop: one metadata
    * commit updates the recorded schema; Spark's parquet reader upcasts the
    * narrower-era files natively on read (verified for every promotion
    * admitted here), later writes land the wide type, and time travel keeps
    * reading pre-widen eras under their own narrower recorded schema.
    * Admitted promotions are exactly the VALUE-PRESERVING ones: the
    * integral up-chain byte→short→int→long, float→double, and
    * byte/short/int→double (every int fits a double exactly; long→double
    * does NOT and is refused). Stats skipping is unaffected: footer stats
    * compare through exact BigDecimal, not the logical width.
    */
  def widenColumn(table: String, name: String,
      newType: org.apache.spark.sql.types.DataType): Unit = {
    import org.apache.spark.sql.types._
    val sch = currentSchema(table).getOrElse(throw new IllegalStateException(
      s"widenColumn needs a manifest-recorded schema for $table — " +
        "write through the manifest first"))
    require(sch.fieldNames.contains(name),
      s"widenColumn: '$name' is not a column of $table (${sch.fieldNames.mkString(",")})")
    val oldType = sch(name).dataType
    val intRank = Map[DataType, Int](ByteType -> 1, ShortType -> 2,
      IntegerType -> 3, LongType -> 4)
    val ok = (oldType, newType) match {
      case (a, b) if a == b => false // not an error shape, but nothing to do
      case (a, b) if intRank.contains(a) && intRank.contains(b) =>
        intRank(a) < intRank(b)
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case _ => false
    }
    if (oldType == newType) return // already that type — no commit
    require(ok, s"widenColumn: $oldType → $newType is not a value-preserving " +
      "widening (admitted: byte→short→int→long, float→double, byte/short/int→double)")
    val sch2 = StructType(sch.fields.map(f =>
      if (f.name == name) f.copy(dataType = newType) else f))
    require(!sch2.json.contains('\t') && !sch2.json.contains('\n'),
      s"schema JSON for $table contains TSV control characters")
    publish(Seq(Schema(table, sch2.json)))
  }

  /** Add a NULLABLE column WITHOUT rewriting a byte — the metadata-only
    * form of the add-column evolution appends already perform (a wider
    * later write): one commit widens the recorded schema; pre-add files
    * null-fill on read, later writes land the column, and time travel
    * keeps pre-add eras at their own width. Nullable only (old files have
    * no values to satisfy anything else). Refuses names that collide with
    * a live column, a live column's PHYSICAL name (writes would collide),
    * or a DROPPED column's physical name (its old bytes would resurrect
    * out of pre-drop files — pick another name, rename afterwards).
    */
  /** [[addColumn]]'s admission checks without the commit — callers that
    * adopt a column as PART of a larger atomic commit (MERGE WITH SCHEMA
    * EVOLUTION: the widened schema rides the merge rewrite's own manifest
    * line) must still prove the name is legal against the column map.
    */
  def validateAddColumn(table: String, name: String): StructType = {
    require(name.nonEmpty && !name.contains('\t') && !name.contains('\n') &&
      !name.contains(','), s"column name '$name' is empty or contains control characters")
    val sch = currentSchema(table).getOrElse(throw new IllegalStateException(
      s"addColumn needs a manifest-recorded schema for $table — " +
        "write through the manifest first"))
    require(!sch.fieldNames.contains(name),
      s"addColumn: '$name' already exists in $table")
    val m = colMapOf(table)
    require(!droppedPhysical(table).contains(name),
      s"addColumn: '$name' collides with a DROPPED column's physical name; " +
        "add it under another name (rename afterwards if needed)")
    require(!m.valuesIterator.contains(name),
      s"addColumn: '$name' collides with an existing column's physical name")
    sch
  }

  def addColumn(table: String, name: String,
      dataType: org.apache.spark.sql.types.DataType): Unit = {
    val sch = validateAddColumn(table, name)
    val sch2 = StructType(sch.fields :+ StructField(name, dataType, nullable = true))
    require(!sch2.json.contains('\t') && !sch2.json.contains('\n'),
      s"schema JSON for $table contains TSV control characters")
    publish(Seq(Schema(table, sch2.json)))
  }

  /** Reserved logical-name prefix marking a tombstoned physical column in
    * the map (never a real logical name — contains a tab-safe sentinel).
    */
  private val droppedPrefix = "__dropped__:"

  private def droppedPhysical(table: String): Set[String] =
    colMapOf(table).collect {
      case (k, v) if k.startsWith(droppedPrefix) => v
    }.toSet

  /** The table's declared cluster columns (manifest `cluster` line,
    * last-wins, surviving truncates like the schema): recorded by
    * [[appendClustered]]/[[recluster]], consulted by every DML rewrite so
    * copy-on-write outputs keep the layout instead of eroding it.
    */
  def clusterBy(table: String): Option[Seq[String]] =
    foldedState().cluster.get(table).map(_.split(",").toSeq)

  /** Declare (or change) a table's cluster columns — one metadata-only
    * commit. [[appendClustered]]/[[recluster]] call this implicitly.
    */
  def setClusterBy(table: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "setClusterBy with no columns")
    cols.foreach(c => require(!c.contains(",") && !c.contains("\t") && !c.contains("\n"),
      s"cluster column name '$c' contains TSV/list control characters"))
    if (clusterBy(table).contains(cols)) return // already declared — no commit
    publish(Seq(Cluster(table, cols.mkString(","))))
  }

  override def appendClustered(table: String, df: DataFrame, clusterCols: Seq[String],
      numFiles: Int): Unit = {
    super.appendClustered(table, df, clusterCols, numFiles)
    setClusterBy(table, clusterCols)
  }

  override def recluster(table: String, schema: StructType, clusterCols: Seq[String],
      numFiles: Int): Unit = {
    super.recluster(table, schema, clusterCols, numFiles)
    setClusterBy(table, clusterCols)
  }

  /** Incremental recluster — the OPTIMIZE-style maintenance pass a 100 TB
    * table needs where [[recluster]]'s global rewrite is unaffordable:
    * re-band only the ERODED TAIL, the files whose first-cluster-column
    * interval overlaps more than `maxOverlap` other files (a clean band
    * overlaps at most its scattered intruders; the intruders overlap every
    * band they span). Statless files (legacy, untracked column type) join
    * the tail — they block pruning entirely and come out stats-covered.
    * The tail is read once (deletion vectors folded), range-repartitioned
    * on `clusterCols` into `outFiles` files (0 = tail size), and committed
    * as a remove+add rewrite with the same conflict contract as row-level
    * DML: untouched files are never opened, racing appends never lost, a
    * racing DV delete aborts the rewrite. Declares `clusterCols` so later
    * DML rewrites keep the restored layout. Returns the literal routing
    * plus the tail's physical bytes — the cost a global rewrite would have
    * multiplied by the whole table.
    */
  def reclusterIncremental(table: String, schema: StructType, clusterCols: Seq[String],
      maxOverlap: Int = 2, outFiles: Int = 0): ReclusterResult = {
    require(clusterCols.nonEmpty, "reclusterIncremental with no cluster columns")
    clusterCols.foreach(c => require(schema.fieldNames.contains(c),
      s"cluster column '$c' is not in the schema"))
    val physHead = physColOf(table, clusterCols.head)
    retryConflicts(s"reclusterIncremental on $table") {
      val st = foldedState()
      val files = committedOrPhysical(table)
      require(files.forall(!_.contains("/")),
        s"reclusterIncremental on partition-dir layouts is not supported (table $table)")
      case class Band(f: String, lo: Any, hi: Any, tag: String)
      val parsed = files.map { f =>
        f -> st.stats.get((table, f)).map(FileStatsRec.fromJson).flatMap { r =>
          if (r.rows == 0L) None
          else r.cols.get(physHead).flatMap(cs =>
            for { lo <- cs.min; hi <- cs.max } yield Band(f, lo, hi, cs.tag))
        }
      }
      val bands = parsed.collect { case (_, Some(b)) => b }
      // incomparable bounds (mixed tags — shouldn't happen within a column)
      // count as overlapping: conservative, rewrites more, never less
      def le(a: Any, b: Any, t: String): Boolean =
        FileStatsRec.cmp(a, b, t).forall(_ <= 0)
      def overlaps(a: Band, b: Band): Boolean =
        le(a.lo, b.hi, a.tag) && le(b.lo, a.hi, a.tag)
      val eroded = bands.filter(b =>
        bands.count(o => (o.f != b.f) && overlaps(b, o)) > maxOverlap).map(_.f)
      // zero-row and statless files ride along: the former are free cleanup,
      // the latter block driver pruning until they carry stats
      val statless = parsed.collect { case (f, None) => f }
      val tail = (eroded ++ statless).distinct
      if (tail.isEmpty) ReclusterResult(0, files.size, 0L)
      else {
        val n = if (outFiles > 0) outFiles else tail.size
        val r = rewriteTail(table, schema, st, files, tail, fileBytes(table, tail))(
          _.repartitionByRange(math.max(n, 1), clusterCols.map(col): _*)
            .sortWithinPartitions(clusterCols.map(col): _*))
        setClusterBy(table, clusterCols)
        r
      }
    }
  }

  /** The row-preserving tail rewrite shared by [[reclusterIncremental]],
    * [[compactSmall]] and [[compactDv]]: read `tail` as of `st` with its
    * deletion vectors folded, lay it out, and commit a remove+add rewrite
    * pinned on the tail's visibility and DV state (racing appends never
    * lost, a racing DV delete or rewrite aborts). Row-preserving, so the
    * change feed skips the version (`cdfnoop`) instead of refusing it.
    */
  private def rewriteTail(table: String, schema: StructType, st: LogState,
      files: Seq[String], tail: Seq[String], bytes: Long)(
      layout: DataFrame => DataFrame): ReclusterResult = {
    val src = readFiles(table, schema, tail, dvOpt = Some(rawDvs(st, table)))
    transact { tv =>
      tv.rewriteExcluding(table, tail, layout(src), st, validate = false)
      if (changeFeedEnabled(table)) tv.manifestLines(table, Seq(CdfNoop(table)))
    }
    ReclusterResult(tail.size, files.size - tail.size, bytes)
  }

  /** Range-cluster a DML rewrite's output on the table's declared cluster
    * columns (or `fallback`): the join/scan partitioning would otherwise
    * scatter each rewritten file's keys across every output file — one
    * rewrite and the band layout (and every later operation's pruning) is
    * gone. Declared columns missing from this schema (pre-evolution
    * history) fall back too.
    */
  private def clusteredRewrite(table: String, schema: StructType, df: DataFrame,
      nFiles: Int, fallback: Seq[String]): DataFrame = {
    val cols0 = clusterBy(table).filter(_.forall(schema.fieldNames.contains))
      .getOrElse(fallback)
    if (cols0.isEmpty) df
    else df.repartitionByRange(math.max(nFiles, 1), cols0.map(col): _*)
      .sortWithinPartitions(cols0.map(col): _*)
  }

  /** Exact `COUNT(*) WHERE <conjunction>` answered as far as possible from
    * the manifest alone: excluded files contribute 0, fully-included files
    * (bounds inside the range, zero nulls — [[FileStatsRec.allMatch]])
    * contribute their recorded row count, and only BOUNDARY files are
    * scanned. With `preds = Nil` this is metadata-only `COUNT(*)` over any
    * fully-stats-covered table — the Delta-style trick that answers a
    * 100 TB count from driver-resident metadata. Always exact: anything the
    * stats cannot decide is read, never guessed.
    */
  def countWhere(table: String, schema: StructType,
      preds: Seq[FilePred] = Nil): CountWhere = {
    val st = foldedState()
    var meta = 0
    var metaRows = 0L
    var skipped = 0
    val toRead = ArrayBuffer[String]()
    val physPreds = preds.map(p => FilePred.mapCols(p, c => physColOf(table, c)))
    committedOrPhysical(table).foreach { f =>
      st.stats.get((table, f)).map(FileStatsRec.fromJson) match {
        case Some(r) =>
          if (!r.mayContainAll(physPreds) ||
              !bloomKeeps(st, table, f, physPreds)) skipped += 1
          else if (r.allMatchAll(physPreds)) {
            // a fully-included file's DV'd rows matched too (subset of "all
            // rows match") — exact survivors = rows - tombstones, still
            // metadata-only
            meta += 1
            metaRows += r.rows - st.dvs.get((table, f)).map(DvRec.countOf).getOrElse(0L)
          }
          else toRead += f
        case None =>
          // statless legacy file: the Bloom index can still exclude it
          if (bloomKeeps(st, table, f, physPreds)) toRead += f else skipped += 1
      }
    }
    val readRows = if (toRead.isEmpty) 0L else {
      val df = readFiles(table, schema, toRead.toSeq)
      (if (preds.isEmpty) df else df.filter(FilePred.toColumn(preds, schema))).count()
    }
    CountWhere(metaRows + readRows, meta, toRead.size, skipped)
  }

  /** Exact MIN/MAX of a NUMERIC or STRING column, answered from manifest
    * stats where possible. Numeric parquet chunk bounds are exact values
    * (fixed-width types are never truncated), so a fully-stats-covered
    * table answers without reading a row. String BOUNDS are never trusted
    * as values (a writer may truncate them), but a recorded dictionary
    * VALUE SET is exact full values — files carrying one answer
    * metadata-only (UTF-8 byte order, matching Spark's comparison); string
    * files without a value set are scanned. Files whose stats cannot
    * answer — legacy, an untracked type, a deletion vector (extremes may be
    * dead rows) — take one min/max job over just those files. All-null and
    * zero-row files contribute nothing, matching SQL MIN/MAX null
    * semantics.
    */
  def statsMinMax(table: String, schema: StructType, colName: String): StatsMinMax = {
    schema(colName).dataType match {
      // decimals never get footer stats (outside the tag algebra), so every
      // file would take the read path and then fail on the BigDecimal
      // read-back — refuse up front instead of mid-query after the scan work
      case dt: org.apache.spark.sql.types.DecimalType =>
        throw new IllegalArgumentException(
          s"statsMinMax does not support decimal columns; '$colName' is $dt")
      case _: org.apache.spark.sql.types.NumericType => ()
      case _: org.apache.spark.sql.types.StringType => ()
      case dt => throw new IllegalArgumentException(
        s"statsMinMax supports numeric and string columns; '$colName' is $dt")
    }
    val st = foldedState()
    var mn: Option[Any] = None
    var mx: Option[Any] = None
    var tag = "i"
    var meta = 0
    val toRead = ArrayBuffer[String]()
    def fold(lo: Any, hi: Any, t: String): Unit = {
      tag = t
      mn = mn.filter(m => FileStatsRec.cmp(m, lo, t).exists(_ <= 0)).orElse(Some(lo))
      mx = mx.filter(m => FileStatsRec.cmp(m, hi, t).exists(_ >= 0)).orElse(Some(hi))
    }
    val physCol = physColOf(table, colName)
    committedOrPhysical(table).foreach { f =>
      // a DV-carrying file's recorded extremes may be DEAD rows — its
      // surviving min/max is only learnable by reading (the read path
      // anti-filters the DV), so stats never answer for it
      if (st.dvs.contains((table, f))) { toRead += f }
      else st.stats.get((table, f)).map(FileStatsRec.fromJson) match {
        case Some(r) if r.rows == 0L => meta += 1
        case Some(r) => r.cols.get(physCol) match {
          case Some(cs) if (cs.tag == "i" || cs.tag == "f") && cs.min.isDefined =>
            meta += 1; fold(cs.min.get, cs.max.get, cs.tag)
          case Some(cs) if cs.tag == "s" && cs.vals.exists(_.nonEmpty) =>
            // the dictionary value set is the file's exact non-null values:
            // its extremes (UTF-8 byte order — cmp, not Scala's UTF-16
            // String ordering) ARE the file's min/max
            meta += 1
            val vs = cs.vals.get
            val lo = vs.reduce((a, b) =>
              if (FileStatsRec.cmp(a, b, "s").exists(_ <= 0)) a else b)
            val hi = vs.reduce((a, b) =>
              if (FileStatsRec.cmp(a, b, "s").exists(_ >= 0)) a else b)
            fold(lo, hi, "s")
          case Some(cs) if cs.nulls >= 0 && cs.nulls == r.rows =>
            meta += 1 // entirely null: contributes nothing
          case _ => toRead += f
        }
        case None => toRead += f
      }
    }
    if (toRead.nonEmpty) {
      val r = readFiles(table, schema, toRead.toSeq)
        .agg(org.apache.spark.sql.functions.min(col(colName)),
          org.apache.spark.sql.functions.max(col(colName))).head()
      if (!r.isNullAt(0)) {
        def norm(v: Any): (Any, String) = v match {
          case i: java.lang.Integer => (i.longValue, "i")
          case l: java.lang.Long => (l.longValue, "i")
          case s: java.lang.Short => (s.longValue, "i")
          case b: java.lang.Byte => (b.longValue, "i")
          case f: java.lang.Float => (f.doubleValue, "f")
          case d: java.lang.Double => (d.doubleValue, "f")
          case s: String => (s, "s")
          case other => throw new IllegalArgumentException(
            s"statsMinMax supports numeric and string columns; " +
              s"$colName read back ${other.getClass}")
        }
        val (lo, t) = norm(r.get(0))
        val (hi, _) = norm(r.get(1))
        fold(lo, hi, t)
      }
    }
    StatsMinMax(mn, mx, meta, toRead.size)
  }

  /** `DELETE FROM table WHERE <conjunction>`, copy-on-write: stats-prune to
    * the candidate files, rewrite ONLY those with their matching rows
    * dropped, and commit single-file `remove` lines plus the rewritten adds
    * in one manifest — untouched files are never rewritten or even opened.
    * Returns the deleted row count. SQL three-valued semantics: rows where
    * the predicate evaluates NULL survive (DELETE removes WHERE-true rows
    * only). Retries up to 8 lost races against concurrent commits that
    * rewrote a candidate file (compaction/replace); concurrent APPENDS are
    * never blocked or lost. Time travel composes — `readAt` before the
    * delete's version still reconstructs the removed rows (until [[vacuum]]
    * collects the un-referenced files), and [[appendsBetween]] refuses
    * windows crossing the delete (file diff != row diff there).
    */
  def deleteWhere(table: String, schema: StructType, preds: Seq[FilePred]): Long =
    deleteWhereExpr(table, schema, FilePred.toColumn(preds, schema), preds)

  /** `UPDATE table SET ... WHERE <conjunction>`, copy-on-write on the
    * candidate files only. Assignment expressions may reference the row's
    * own columns; each is cast back to the column's declared type so the
    * table schema is stable under updates. Returns the updated row count.
    * Same conflict/time-travel contract as [[deleteWhere]].
    */
  def updateWhere(table: String, schema: StructType, preds: Seq[FilePred],
      sets: Seq[(String, Column)]): Long =
    updateWhereExpr(table, schema, FilePred.toColumn(preds, schema), sets, preds)

  /** UPDATE change slice in ONE pass: pre- and post-image per touched row as
    * an exploded 2-struct array — the 2-branch union scanned the candidate
    * files twice (each scan paying its own DV anti-join broadcast and AQE
    * stage jobs) for rows one pass can emit. Row order within the commit's
    * change file differs from the union form; change-feed order inside a
    * commit carries no meaning.
    */
  private def updateChangeRows(schema: StructType, setMap: Map[String, Column],
      df: DataFrame, hit: Column): DataFrame = {
    val ctc = changeTypeCol
    val pre = struct(schema.fields.toSeq.map(f => col(f.name).as(f.name)) :+
      lit("update_preimage").as(ctc): _*)
    val post = struct(schema.fields.toSeq.map { f =>
      (setMap.get(f.name) match {
        case Some(e) => when(hit, e.cast(f.dataType)).otherwise(col(f.name))
        case None => col(f.name)
      }).as(f.name)
    } :+ lit("update_postimage").as(ctc): _*)
    df.filter(hit).select(explode(array(pre, post)).as("__c"))
      .select((schema.fieldNames.toSeq :+ ctc).map(n => col(s"__c.$n").as(n)): _*)
  }

  /** [[deleteWhere]] for conditions OUTSIDE the [[FilePred]] algebra
    * (LIKE, functions, inter-column comparisons — day-one SQL shapes):
    * the same copy-on-write commit, with `prunePreds` (any translatable
    * conjuncts of the condition — pass Nil when none translate) deciding
    * the candidate files and the exact `cond` deciding the rows. Costs
    * what pruning can't help anyway: the unprunable candidates are read
    * once, exactly like `read().filter()`. Refuses nondeterministic
    * conditions (two evaluations — count and rewrite — could disagree) and
    * subqueries (re-evaluated per retry against a moving snapshot).
    */
  def deleteWhereExpr(table: String, schema: StructType, cond: Column,
      prunePreds: Seq[FilePred] = Nil): Long = {
    requireRewritableCond(cond, "deleteWhereExpr")
    rewriteWhereCond(table, schema, prunePreds, cond,
      { case (df, hit) => df.filter(hit === false) },
      { case (df, hit) =>
        df.filter(hit).withColumn(changeTypeCol, lit("delete")) })
  }

  /** [[updateWhere]] for conditions outside the [[FilePred]] algebra —
    * see [[deleteWhereExpr]] for the candidate/row split and refusals.
    */
  def updateWhereExpr(table: String, schema: StructType, cond: Column,
      sets: Seq[(String, Column)], prunePreds: Seq[FilePred] = Nil): Long = {
    require(sets.nonEmpty, "updateWhereExpr with no assignments")
    sets.foreach { case (c, _) =>
      require(schema.fieldNames.contains(c), s"unknown column '$c' in updateWhereExpr SET") }
    requireRewritableCond(cond, "updateWhereExpr")
    val setMap = sets.toMap
    def applySets(df: DataFrame, hit: Column): DataFrame =
      df.select(schema.fields.toSeq.map { f =>
        setMap.get(f.name) match {
          case Some(e) => when(hit, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }: _*)
    rewriteWhereCond(table, schema, prunePreds, cond,
      { case (df, hit) => applySets(df, hit) },
      { case (df, hit) => updateChangeRows(schema, setMap, df, hit) })
  }

  private def requireRewritableCond(cond: Column, op: String): Unit = {
    val e = org.apache.spark.sql.graft.shims.expression(cond)
    require(e.deterministic,
      s"$op condition must be deterministic (the count and the rewrite " +
        "evaluate it independently): " + cond)
    require(!e.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]),
      s"$op condition must not contain a subquery (re-evaluated per retry " +
        "against a moving snapshot): " + cond)
  }

  /** Current deletion vectors: rel file → sorted tombstone row ordinals.
    * Observability surface; reads anti-filter through [[readFiles]].
    */
  def deletionVectors(table: String): Map[String, Seq[Long]] = dvOf(table)

  // ---- change data feed ------------------------------------------------

  /** The change-type column every CDF row carries: `insert`,
    * `update_preimage`, `update_postimage`, `delete` — Delta CDF's labels.
    */
  val changeTypeCol = "_change_type"

  private[graft] def changesTable(table: String): String = s"$table/_changes"

  private[graft] def cdfSchema(schema: StructType): StructType =
    StructType(schema.fields.toSeq :+
      StructField(changeTypeCol, org.apache.spark.sql.types.StringType, nullable = false))

  /** Enable/disable the table's CHANGE DATA FEED (one metadata commit —
    * Delta's `delta.enableChangeDataFeed` table property). While on, every
    * row-level DML operation (deleteWhere/updateWhere/mergeInto/
    * deleteWhereDv) records its row-level changes — pre/post images,
    * deletes, merge inserts — into `<table>/_changes` IN THE SAME manifest
    * commit as the rewrite, so the feed is exactly as atomic as the data.
    * Plain appends record nothing (their rows ARE the change — derived
    * from the added files at read time, the no-write-amplification rule).
    * [[changesBetween]] is the consumer.
    */
  def setChangeFeed(table: String, on: Boolean): Unit = {
    if (changeFeedEnabled(table) == on) return
    publish(Seq(ChangeFeed(table, on)))
  }

  def changeFeedEnabled(table: String): Boolean = foldedState().cdf.contains(table)

  /** Row-level changes to `table` in versions (`fromVersion`, `toVersion`]
    * — the CDC read that keeps working where [[appendsBetween]] must
    * refuse. Result columns: the table's plus `_change_type` (insert /
    * update_preimage / update_postimage / delete) and `_commit_version`.
    * Per version: a pure-append commit's added files read back as inserts
    * (as committed — ignoring deletion vectors applied LATER, which
    * contribute their own delete rows at their own version); a DML commit
    * reads its recorded `_changes` slice. Refuses windows crossing a
    * truncate/replace (not a row-level change), a vacuumed manifest, or a
    * DML commit from before the feed was enabled (the changes were never
    * recorded — silence would under-report).
    */
  def changesBetween(table: String, schema: StructType,
      fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion <= toVersion, s"fromVersion $fromVersion > toVersion $toVersion")
    val floor = foldedState().cdffloor.getOrElse(table, 0)
    // a window reads versions fromVersion+1..toVersion; every one must be
    // at or above the floor (the slices below it were purged)
    if (fromVersion + 1 < floor) throw new IllegalStateException(
      s"the change feed of $table was purged below version $floor " +
        s"(retention); the window ($fromVersion,$toVersion] is no longer " +
        "replayable — reseed from a snapshot (readAt/seed) and resume from " +
        s"version ${floor - 1}")
    val chT = changesTable(table)
    val window = commitFiles()
      .filter(p => versionOf(p) > fromVersion && versionOf(p) <= toVersion)
    val have = window.map(versionOf)
    val missing = ((fromVersion + 1) to toVersion).filterNot(have.contains)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"manifests ${missing.mkString(",")} in ($fromVersion,$toVersion] were vacuumed; " +
        "the change window is no longer reconstructible")
    val ct = cdfSchema(schema)
    val vCol = "_commit_version"
    val slices = cdfWindowFiles(table, fromVersion, toVersion).map {
      case (v, files, isSlice) =>
        if (isSlice)
          // slice files carry the MAIN table's era-LOGICAL names (they were
          // written under the names current at their commit) — read each
          // under its era names and project to the current logical names
          // (physical names bridge the two: stable across renames)
          readFiles(chT, cdfSchema(eraLogicalSchema(table, schema, v)), files,
              mapOpt = Some(Map.empty), dvOpt = Some(Map.empty))
            .toDF(ct.fieldNames.toSeq: _*)
            .withColumn(vCol, lit(v))
        else
          // appended data files carry PHYSICAL names — stable across
          // renames, so the CURRENT colmap translates every era's files
          readFiles(table, schema, files, dvOpt = Some(Map.empty))
            .withColumn(changeTypeCol, lit("insert"))
            .withColumn(vCol, lit(v))
    }
    if (slices.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(ct.fields.toSeq :+
          StructField(vCol, org.apache.spark.sql.types.IntegerType, nullable = false)))
    else slices.reduce(_ unionByName _)
  }

  /** `schema` (current logical names) re-expressed under the names the
    * table's columns had at commit `version` — what a change-slice file of
    * that era carries. Per column: current name → current physical (stable
    * across renames) → that physical's era-logical name (inverse era
    * colmap; identity when the rename came later, since the physical IS
    * the first logical name). Columns added after the era keep their
    * current name — absent from era files, they null-fill on read.
    */
  private[graft] def eraLogicalSchema(table: String, schema: StructType,
      version: Int): StructType =
    schemaUnderEra(table, schema, parseColMap(stateAt(version).colmap.get(table)))

  /** [[eraLogicalSchema]] for an era given as its colmap directly — the
    * CDF stream's reader factory enumerates eras via [[colmapEras]].
    */
  private[graft] def schemaUnderEra(table: String, schema: StructType,
      era: Map[String, String]): StructType = {
    val cur = colMapOf(table)
    val inv = era.map(_.swap)
    StructType(schema.fields.map { f =>
      val phys = cur.getOrElse(f.name, f.name)
      f.copy(name = inv.getOrElse(phys, phys))
    })
  }

  /** The change feed's per-version file plan for (`fromVersion`,
    * `toVersion`]: (version, rel files, isSlice) — isSlice files are
    * recorded change-slice rows (under `<table>/_changes`, already
    * carrying `_change_type`), non-slice files are plain appended data
    * files (every row an `insert`). The classification and every refusal
    * (truncate in window, un-recorded rewrite, vacuumed slice/data files,
    * cdfnoop transparency) is [[changesBetween]]'s — this is its planning
    * half, shared with the CDF streaming source.
    */
  private[graft] def cdfWindowFiles(table: String, fromVersion: Int,
      toVersion: Int, checkExistence: Boolean = true): Seq[(Int, Seq[String], Boolean)] = {
    val chT = changesTable(table)
    val window = commitFiles()
      .filter(p => versionOf(p) > fromVersion && versionOf(p) <= toVersion)
    window.filterNot(isSnapshot).flatMap { cf =>
      val v = versionOf(cf)
      var dataAdds = Vector.empty[String]
      var cdfAdds = Vector.empty[String]
      var rowLevel = false // removes or dv lines: a DML rewrite
      var noop = false // row-preserving maintenance marker
      readActions(cf).foreach {
        case Truncate(t) if table == t || table.startsWith(t + "/") =>
          throw new IllegalStateException(
            s"$table was truncated/replaced at version $v inside " +
              s"($fromVersion,$toVersion]; that is not a row-level change — " +
              "read the as-of states instead")
        case Add(t, f) if t == table => dataAdds :+= f
        case Add(t, f) if t == chT => cdfAdds :+= f
        case Remove(t, _) if t == table => rowLevel = true
        case Dv(t, _, _) if t == table => rowLevel = true
        case CdfNoop(t) if t == table => noop = true
        case _ => ()
      }
      if (noop) None // row-preserving maintenance: file churn, zero row change
      else if (cdfAdds.nonEmpty) {
        // a recorded DML slice covers EVERYTHING this commit did to the
        // table (incl. merge inserts) — its data-file adds are rewrite
        // outputs, not new rows
        val goneCdf =
          if (!checkExistence) Nil
          else cdfAdds.filterNot(f2 => fs.exists(new Path(s"${path(chT)}/$f2")))
        if (goneCdf.nonEmpty) throw new IllegalStateException(
          s"version $v of $table lost ${goneCdf.size} change-slice files to vacuum; " +
            "the change window is no longer reconstructible")
        Some((v, cdfAdds: Seq[String], true))
      } else if (rowLevel) {
        throw new IllegalStateException(
          s"version $v of $table is a row-level rewrite with no recorded " +
            "change slice — the change feed was not enabled when it ran " +
            "(setChangeFeed before the DML, or use readAt reconstruction)")
      } else if (dataAdds.nonEmpty) {
        val gone =
          if (!checkExistence) Nil
          else dataAdds.filterNot(f2 => fs.exists(new Path(s"${path(table)}/$f2")))
        if (gone.nonEmpty) throw new IllegalStateException(
          s"version $v of $table lost ${gone.size} data files to vacuum")
        Some((v, dataAdds: Seq[String], false))
      } else None
    }
  }

  /** The CDF stream's window guards — the floor/vacuum refusals
    * [[changesBetween]] performs before its walk, callable by the
    * streaming source per batch.
    */
  private[graft] def cdfWindowGuards(table: String, fromVersion: Int,
      toVersion: Int): Unit = {
    val floor = foldedState().cdffloor.getOrElse(table, 0)
    if (fromVersion + 1 < floor) throw new IllegalStateException(
      s"the change feed of $table was purged below version $floor " +
        s"(retention); the window ($fromVersion,$toVersion] is no longer " +
        "replayable — reseed from a snapshot (readAt/seed) and resume from " +
        s"version ${floor - 1}")
    val have = commitFiles()
      .filter(p => versionOf(p) > fromVersion && versionOf(p) <= toVersion)
      .map(versionOf)
    val missing = ((fromVersion + 1) to toVersion).filterNot(have.contains)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"manifests ${missing.mkString(",")} in ($fromVersion,$toVersion] were vacuumed; " +
        "the change window is no longer reconstructible")
  }

  /** Every logical→physical column-mapping era `table` has had, in the
    * retained log (identity first — the pre-first-rename era). The CDF
    * STREAM's reader factory builds one slice reader per distinct era; the
    * set is tiny (one entry per rename commit). Consistent with planning:
    * any era a plannable version resolves to lives in a retained manifest.
    */
  private[graft] def colmapEras(table: String): Seq[Map[String, String]] = {
    val eras = commitFiles().flatMap(cf => readActions(cf).collect {
      case ColMap(t, v) if t == table =>
        if (v.isEmpty || v == "{}") Map.empty[String, String]
        else parseColMap(Some(v))
    })
    (Map.empty[String, String] +: eras).distinct
  }

  /** The earliest commit version whose recorded changes remain replayable
    * (0 until a purge raises it); the minimum usable `fromVersion` is one
    * less.
    */
  def changeFeedFloor(table: String): Int =
    foldedState().cdffloor.getOrElse(table, 0)

  /** Change-feed RETENTION — the lever a DML-heavy table needs so its
    * `<table>/_changes` history does not grow without bound (Delta ties
    * CDF retention to log retention; this makes it explicit). In ONE
    * metadata commit: un-reference the recorded change slices of every
    * commit with version < `belowVersion` and raise the table's feed
    * floor. From then on `changesBetween` windows reaching below the
    * floor refuse with the reseed message (instead of failing on missing
    * files mid-query), windows at-or-above the floor replay unchanged,
    * and [[vacuum]] reclaims the freed slice bytes like any removed file.
    * The floor is monotone and survives truncates and log folds; a full
    * `delete(table)` clears it with the rest of the table's metadata.
    * Returns the number of slice files freed (attribution walks the
    * on-disk manifests, so purge BEFORE manifest GC subsumes them — the
    * floor refusal holds either way).
    */
  def purgeChanges(table: String, belowVersion: Int): Int = {
    val chT = changesTable(table)
    val st = foldedState()
    val floor0 = st.cdffloor.getOrElse(table, 0)
    val head = commitFiles().lastOption.map(versionOf).getOrElse(0)
    require(belowVersion >= floor0,
      s"change-feed floor can only rise: $belowVersion < current floor $floor0")
    require(belowVersion <= head + 1,
      s"belowVersion $belowVersion is beyond the head ($head)")
    val visible = st.adds.getOrElse(chT, Vector.empty).toSet
    val victims = commitFiles().filterNot(isSnapshot)
      .filter(p => versionOf(p) < belowVersion)
      .flatMap(cf => readActions(cf).collect { case Add(t, f) if t == chT => f })
      .distinct.filter(visible.contains)
    publish(CdfFloor(table, Some(belowVersion)) +: victims.map(Remove(chT, _)))
    victims.size
  }

  /** `DELETE FROM table WHERE <conjunction>` as a MERGE-ON-READ delete
    * (deletion vectors): instead of rewriting every file a scattered
    * predicate touches (copy-on-write amplification — a by-id purge hitting
    * one row per band rewrites the whole table), commit each touched file's
    * tombstone ROW ORDINALS as a manifest `dv` line and rewrite NOTHING.
    * Every read anti-filters through the DV (one broadcast anti-join over
    * only the DV-carrying files), so `read`/`scanWhere`/`countWhere`/
    * `mergeInto` results are identical to the copy-on-write delete's; a
    * later [[compact]]/[[recluster]]/row rewrite FOLDS the DV into new
    * files and drops it. Time travel composes: `readAt` before the delete
    * applies that era's (smaller or absent) DV; [[appendsBetween]] refuses
    * windows crossing a DV commit (file diff != row diff). Repeated DV
    * deletes on one file UNION their ordinals.
    *
    * Small ordinal sets (≤ ~4k) ride the manifest inline — a scattered
    * purge costs zero extra I/O. Dense sets go to an immutable binary
    * SIDECAR under `<table>/_dv/`, committed as a visible file of that
    * pseudo-table in the same manifest commit (the Bloom-sidecar
    * lifecycle: vacuum protects live sidecars, reclaims released and
    * aborted ones), so the manifest carries a constant-size pointer
    * however many rows are dead. `maxDvPerFile` (default 100k ordinals)
    * remains as the density HEURISTIC, not a format bound: a file above it
    * has enough dead rows that rewriting it IS the right move — use
    * [[deleteWhere]] (copy-on-write) or compact first; raise the cap when
    * tombstone-and-carry is genuinely cheaper (the Delta-style density
    * tradeoff, now priced in sidecar bytes instead of manifest bytes).
    * Stats are NOT tightened by a DV (bounds stay
    * conservative — sound for skipping, and [[statsMinMax]] routes
    * DV-carrying files to the read path since their extremes may be dead).
    * Same flat-layout requirement and retry/conflict contract as
    * [[deleteWhere]]; returns exact counts and the literal file routing.
    */
  def deleteWhereDv(table: String, schema: StructType, preds: Seq[FilePred],
      maxDvPerFile: Int = 100000,
      alsoInTx: Warehouse => Unit = _ => ()): DvDeleteResult =
    deleteWhereDvAll(Seq((table, schema, preds)), maxDvPerFile, alsoInTx).head

  /** One DV delete's fully-planned commit payload (or the no-op result). */
  private case class DvPlan(table: String, lines: Seq[Action], pin: Pin,
      changeSlice: Option[DataFrame], result: DvDeleteResult)

  private def planDvDelete(table: String, schema: StructType,
      preds: Seq[FilePred], maxDvPerFile: Int): Either[DvDeleteResult, DvPlan] = {
    val cond = FilePred.toColumn(preds, schema)
    val (cands, skipped) = planFiles(table, preds)
    require(cands.forall(!_.contains("/")),
      s"deletion vectors on partition-dir layouts are not supported (table $table); " +
        "use deleteWhere after migrating the layout")
    if (cands.isEmpty) return Left(DvDeleteResult(0L, 0, 0, skipped.size))
    val st = foldedState()
    val dvBefore: Map[String, Option[String]] =
      cands.map(f => f -> st.dvs.get((table, f))).toMap
    val existingJson = rawDvs(st, table)
    // per-candidate matching LIVE ordinals (existing DVs pre-filtered so a
    // dead row is never re-deleted or double-counted)
    val m = colMapOf(table)
    import org.apache.spark.sql.functions.{collect_list, sort_array}
    val hitRows = sel(readTagged(table, schema, cands, m, existingJson), schema, m,
        keep = Seq("__file", "__ord"))
      .filter(coalesce(cond, lit(false)))
      .groupBy(col("__file"))
      .agg(sort_array(collect_list(col("__ord"))).as("__ords"))
      .collect()
    if (hitRows.isEmpty) return Left(DvDeleteResult(0L, 0, 0, skipped.size))
    val newOrds: Map[String, Seq[Long]] = hitRows.map(r =>
      r.getString(0) -> r.getSeq[Long](1).toVector).toMap
    val deleted = newOrds.valuesIterator.map(_.size.toLong).sum
    // resolve existing ordinals ONLY for files this delete touches (each
    // bounded by maxDvPerFile — the planner's merge is per-file work, never
    // a table-wide materialization)
    val merged: Map[String, Seq[Long]] = newOrds.map { case (f, ords) =>
      val prior = existingJson.get(f).map(resolveDv(table, _)).getOrElse(Nil)
      f -> (prior ++ ords).distinct.sorted.toSeq
    }
    merged.foreach { case (f, ords) =>
      require(ords.size <= maxDvPerFile,
        s"deletion vector for $table/$f would hold ${ords.size} ordinals " +
          s"(cap $maxDvPerFile) — the file is dead enough to deserve a " +
          "rewrite: use deleteWhere (copy-on-write) or compact first")
    }
    val lines = merged.toSeq.sortBy(_._1).flatMap { case (f, ords) =>
      // a rewrite that supersedes a sidecar-backed DV releases the old
      // sidecar in the same commit (its bytes become vacuumable garbage)
      val release = dvBefore.get(f).flatten.flatMap(DvRec.sidecarLeaf)
        .map(Remove(s"$table/_dv", _)).toSeq
      if (ords.size <= dvInlineMax) {
        val j = DvRec.toJson(ords)
        require(!j.contains('\t') && !j.contains('\n'), "dv JSON contains TSV control chars")
        release :+ Dv(table, f, j)
      } else {
        // dense set → immutable binary sidecar, committed as a visible
        // file of <table>/_dv in THIS commit (the Bloom lifecycle): the
        // manifest carries a constant-size pointer, vacuum protects live
        // sidecars and reclaims released/aborted ones
        val leaf = s"dv-${java.util.UUID.randomUUID().toString}.bin"
        writeDvSidecar(table, leaf, ords)
        release ++ Seq(Add(s"$table/_dv", leaf),
          Dv(table, f, DvRec.toSidecarJson(ords.size.toLong, leaf)))
      }
    }
    val changeSlice =
      if (!changeFeedEnabled(table)) None
      else Some(sel(readTagged(table, schema, cands, m, existingJson), schema, m)
        .filter(coalesce(cond, lit(false)))
        .withColumn(changeTypeCol, lit("delete")))
    Right(DvPlan(table, lines, pinFiles(st, table, newOrds.keys.toSeq),
      changeSlice, DvDeleteResult(deleted, newOrds.size, 0, skipped.size)))
  }

  /** Merge-on-read delete across SEVERAL tables in ONE manifest commit —
    * the purge-propagation primitive: a GDPR-style erasure must leave a
    * corpus table and every derived structure keyed off it (inverted-index
    * postings, dedup hash sets, ANN cell assignments) consistent, and two
    * sequential commits leave a crash window where one is purged and the
    * other not. Each target is planned exactly like [[deleteWhereDv]]
    * (per-file live-ordinal tombstones, zero data-file rewrites, its own
    * change-feed slice when enabled) and all dv lines publish atomically,
    * pinned per table on file visibility and pre-read DV entries; any
    * racing commit aborts the whole batch, which replans. `alsoInTx` rows
    * (derived-index stats corrections, replay marks) ride the same commit, and
    * run only when at least one target has matching rows.
    */
  def deleteWhereDvAll(targets: Seq[(String, StructType, Seq[FilePred])],
      maxDvPerFile: Int = 100000,
      alsoInTx: Warehouse => Unit = _ => ()): Seq[DvDeleteResult] = {
    require(targets.nonEmpty, "deleteWhereDvAll with no targets")
    require(targets.map(_._1).distinct.size == targets.size,
      "deleteWhereDvAll targets must be distinct tables — merge the predicates")
    // ON DELETE RESTRICT for the tombstone path: a DV delete removes ALL
    // matched rows, so the leaving keys are exactly the matched keys (one
    // DV-filtered probe over the candidate files). The referencing child
    // file sets are pinned BEFORE the probe and ride the commit
    // precondition — a child insert racing between probe and publish
    // aborts this commit (cross-table freeze, the DV-pin pattern).
    retryConflicts(s"deleteWhereDvAll on ${targets.map(_._1).mkString(", ")}") {
      // probe + pin per attempt: a retry caused by a racing child commit
      // must re-probe against the child's NEW state, not re-pin the old one
      val children: Seq[Pin] = targets.flatMap {
        case (tbl, schema, preds) =>
          if (referencingFks(tbl).nonEmpty && exists(tbl)) {
            val pins = childPins(tbl)
            val cond = FilePred.toColumn(preds, schema)
            enforceFkRestrict(tbl, pCols =>
              scanWhere(tbl, schema, preds).filter(coalesce(cond, lit(false)))
                .select(fkKeyCols(pCols): _*).filter(fkAllNotNull(pCols.size))
                .distinct())
            pins
          } else Nil
      }
      val planned = targets.map { case (table, schema, preds) =>
        planDvDelete(table, schema, preds, maxDvPerFile)
      }
      val plans = planned.collect { case Right(p) => p }
      if (plans.nonEmpty) {
        // one transaction across all targets: dv lines + change-feed
        // slices + caller rows publish atomically; pins abort on any
        // racing DV delete (last-line-wins would drop its ordinals) or
        // rewrite (our ordinals would tombstone NEW rows)
        transact { tv =>
          plans.zipWithIndex.foreach { case (p, i) =>
            tv.manifestLines(p.table, p.lines, p.pin +: (if (i == 0) children else Nil))
            p.changeSlice.foreach(cs => tv.append(changesTable(p.table), cs))
          }
          alsoInTx(tv) // caller rows (derived-index stats, replay marks) ride along
        }
      }
      planned.map(_.fold(identity, _.result))
    }
  }

  /** Bin-pack SMALL files — OPTIMIZE's other half beside
    * [[reclusterIncremental]]: streaming ingest leaves a long tail of tiny
    * files whose per-file cost (footer read, one task each) dominates at
    * scale; files under `minBytes` merge into ~`targetBytes`-sized outputs
    * (range-clustered on the declared cluster columns when present, plain
    * coalesce otherwise) while every adequately-sized file is never
    * opened. Row-preserving (deletion vectors folded, `cdfnoop` marker so
    * change feeds skip the commit); same conflict contract as the other
    * tail rewrites. A single small file is left alone — merging it with
    * itself buys nothing.
    */
  def compactSmall(table: String, schema: StructType, minBytes: Long,
      targetBytes: Long = 128L << 20): ReclusterResult = {
    require(minBytes > 0 && targetBytes >= minBytes,
      s"need 0 < minBytes <= targetBytes, got $minBytes/$targetBytes")
    retryConflicts(s"compactSmall on $table") {
      val st = foldedState()
      val files = committedOrPhysical(table)
      require(files.forall(!_.contains("/")),
        s"compactSmall on partition-dir layouts is not supported (table $table); " +
          "migrate once via recluster — see deleteWhere's contract")
      val recordedSz = recordedFileSizes(table, files)
      val sized = files.map(f => f -> recordedSz.getOrElse(f,
        fs.getFileStatus(new Path(s"${path(table)}/$f")).getLen))
      val small = sized.filter(_._2 < minBytes)
      if (small.size <= 1) ReclusterResult(0, files.size, 0L)
      else {
        val smallBytes = small.map(_._2).sum
        val outFiles = math.max(1, ((smallBytes + targetBytes - 1) / targetBytes).toInt)
        val cols = clusterBy(table).filter(_.forall(schema.fieldNames.contains))
        rewriteTail(table, schema, st, files, small.map(_._1), smallBytes)(src =>
          cols match {
            case Some(cs) => src.repartitionByRange(outFiles, cs.map(col): _*)
              .sortWithinPartitions(cs.map(col): _*)
            case None => src.coalesce(outFiles)
          })
      }
    }
  }

  /** Fold DENSE deletion vectors back into data files — the maintenance
    * half of the DV density tradeoff: a file whose tombstone fraction
    * reached `minDeadFraction` pays the DV anti-join on every read for
    * rows that are mostly gone, so it gets rewritten (tombstones dropped,
    * DV line removed) while sparse-DV and DV-free files are never opened.
    * Row-preserving by construction (live rows identical), so the change
    * feed skips the commit (`cdfnoop`) instead of refusing windows across
    * it. Files whose row count the manifest does not know (stats recording
    * off) count as dense — conservative cleanup. Same conflict contract as
    * the other tail rewrites. Returns the literal routing and tail bytes.
    */
  def compactDv(table: String, schema: StructType,
      minDeadFraction: Double = 0.1): ReclusterResult = {
    require(minDeadFraction > 0 && minDeadFraction <= 1,
      s"minDeadFraction must be in (0,1], got $minDeadFraction")
    retryConflicts(s"compactDv on $table") {
      val st = foldedState()
      val files = committedOrPhysical(table)
      val dense = files.filter { f =>
        st.dvs.get((table, f)).exists { j =>
          val dead = DvRec.countOf(j)
          st.stats.get((table, f)).map(FileStatsRec.fromJson(_).rows) match {
            case Some(rows) if rows > 0 => dead.toDouble / rows >= minDeadFraction
            case _ => true // unknown row count: fold it, conservatively
          }
        }
      }
      if (dense.isEmpty) ReclusterResult(0, files.size, 0L)
      else rewriteTail(table, schema, st, files, dense, fileBytes(table, dense))(
        clusteredRewrite(table, schema, _, dense.size, Nil))
    }
  }

  /** Project a tagged read back to LOGICAL names, keeping `keep` tag cols. */
  private def sel(df: DataFrame, schema: StructType, m: Map[String, String],
      keep: Seq[String] = Nil): DataFrame =
    df.select(schema.fields.toSeq.map(f =>
      col(m.getOrElse(f.name, f.name)).as(f.name)) ++ keep.map(col): _*)

  /** `MERGE INTO table USING source ON keyCols`, copy-on-write — the
    * generalized form of the reference's staging→dimension merges, with the
    * file pruning of [[deleteWhere]]: only target files whose key range can
    * intersect the SOURCE's key range (first key column's min/max, one small
    * agg job) are rewritten; everything else is untouched and unopened.
    *
    * Clause semantics (SQL MERGE):
    *   - matched + `whenMatchedDelete` true → row deleted (delete wins
    *     over update; NULL condition = not deleted);
    *   - matched + `updateWhen` false/NULL → target row passes through
    *     UNTOUCHED (the `WHEN MATCHED AND <cond> THEN UPDATE` form — the
    *     seam a sequence-guarded CDC apply gates staleness on:
    *     `s._seq >= t._seq`); absent = always update;
    *   - matched otherwise → row updated: `whenMatchedUpdate` assignments
    *     (Columns over the joined frame — reference source columns as
    *     `col("s.x")` and target as `col("t.x")`); empty = upsert default,
    *     every non-key column SET to the source row's value;
    *   - source row with no target match → inserted when `insertUnmatched`
    *     and `insertWhen` (a conditional not-matched-insert clause; a NULL
    *     source key never matches, so it lands here — SQL join semantics);
    *     `insertAssign` computes the inserted row (SQL's explicit INSERT
    *     (cols) VALUES (exprs) — expressions over the `s` alias; columns
    *     not assigned take the same-named source value); empty = INSERT *;
    *   - target row with no source match → passes through untouched,
    *     UNLESS a `WHEN NOT MATCHED BY SOURCE` clause hits:
    *     `notMatchedBySourceDelete` true → row deleted (delete wins over
    *     update, mirroring the matched side); else `notMatchedBySourceUpdate`
    *     assignments apply when `nmbsUpdateWhen` passes (absent = always).
    *     NMBS conditions/assignments see TARGET columns (`col("t.x")`) —
    *     source columns are all NULL on these rows by construction.
    *
    * NOT-MATCHED-BY-SOURCE and candidate pruning: a NMBS clause can touch
    * ANY target row, so source-key pruning alone is no longer sound. The
    * caller supplies `nmbsPrune` — a sound under-approximation of the NMBS
    * conditions in the [[FilePred]] algebra (every row either clause can
    * hit lives in a file the preds keep); candidates become
    * `keyPreds OR nmbsPrune`. Empty `nmbsPrune` (the default, and the only
    * sound choice for an unconditional clause) makes EVERY file a rewrite
    * candidate — a full-table copy-on-write, priced accordingly.
    *
    * Refuses a source with duplicate keys (the SQL MERGE cardinality rule —
    * a fan-out would silently duplicate target rows; same contract as
    * [[graft.operators.Scd.scd2Upsert]]). Source must carry every target
    * column; EXTRA source columns (a CDC op/sequence) are visible to the
    * clause conditions via the `s` alias and dropped from the output.
    * `alsoInTx` stages additional writes in the SAME commit as the rewrite
    * (a stream's replay mark — the exactly-once seam); it does not
    * run when the merge publishes nothing (empty source). Same
    * conflict/retry/time-travel contract as [[deleteWhere]].
    */
  def mergeInto(table: String, schema: StructType, source: DataFrame,
      keyCols: Seq[String],
      whenMatchedUpdate: Seq[(String, Column)] = Nil,
      whenMatchedDelete: Option[Column] = None,
      updateWhen: Option[Column] = None,
      insertUnmatched: Boolean = true,
      insertWhen: Option[Column] = None,
      insertAssign: Seq[(String, Column)] = Nil,
      notMatchedBySourceUpdate: Seq[(String, Column)] = Nil,
      nmbsUpdateWhen: Option[Column] = None,
      notMatchedBySourceDelete: Option[Column] = None,
      nmbsPrune: Seq[FilePred] = Nil,
      alsoInTx: Warehouse => Unit = _ => ()): MergeIntoResult = {
    require(keyCols.nonEmpty, "mergeInto requires at least one key column")
    keyCols.foreach(k => require(schema.fieldNames.contains(k),
      s"key column '$k' is not in the target schema"))
    // SQL MERGE engines reject key-column updates explicitly; silently
    // ignoring the assignment (the keyCols branch wins the output select)
    // would violate least surprise. Unknown targets likewise fail loudly.
    whenMatchedUpdate.foreach { case (c, _) =>
      require(!keyCols.contains(c),
        s"mergeInto cannot UPDATE key column '$c' — MERGE keys are immutable")
      require(schema.fieldNames.contains(c),
        s"whenMatchedUpdate targets unknown column '$c'")
    }
    notMatchedBySourceUpdate.foreach { case (c, _) =>
      require(!keyCols.contains(c),
        s"mergeInto cannot UPDATE key column '$c' — MERGE keys are immutable")
      require(schema.fieldNames.contains(c),
        s"notMatchedBySourceUpdate targets unknown column '$c'")
    }
    insertAssign.foreach { case (c, _) =>
      require(schema.fieldNames.contains(c),
        s"insertAssign targets unknown column '$c'")
    }
    val hasNmbs = notMatchedBySourceUpdate.nonEmpty ||
      notMatchedBySourceDelete.isDefined
    // FK-referenced parents: a matched-delete or an update touching a
    // referenced key column could orphan children mid-merge; the RESTRICT
    // paths are deleteWhere/deleteWhereDv (which probe the children) —
    // refuse here rather than silently orphan
    val refFks = referencingFks(table)
    if (refFks.nonEmpty) {
      require(whenMatchedDelete.isEmpty && notMatchedBySourceDelete.isEmpty,
        s"mergeInto with a delete clause on FK-referenced $table is not " +
          "supported — use deleteWhere/deleteWhereDv (RESTRICT-enforced) " +
          "or dropForeignKey first")
      val refCols = refFks.flatMap(_._4).toSet
      (whenMatchedUpdate ++ notMatchedBySourceUpdate).foreach { case (c, _) =>
        require(!refCols.contains(c),
          s"mergeInto cannot UPDATE '$c' on $table — it is an FK-referenced " +
            "parent key (children would orphan); dropForeignKey first")
      }
    }
    schema.fieldNames.foreach(c => require(source.columns.contains(c),
      s"mergeInto source is missing target column '$c'"))
    Seq("__t", "__s").foreach(m => require(!source.columns.contains(m),
      s"mergeInto source may not carry the reserved column '$m'"))
    // TINY-SOURCE LOCALIZATION (guide §3.1/§5): the source subplan is
    // otherwise re-executed once per consumer below — the pre-aggregate, the
    // value-set collect, the match-count aggregate, the rewrite write, and
    // the change-feed slice — which for a point upsert / CDC micro-batch is
    // 4-5 full executions of a plan whose result is a handful of rows. One
    // capped collect replaces the plan with a LocalRelation: every later
    // consumer broadcasts driver-resident rows, and the pruning aggregates
    // (run unchanged over the localized frame, so candidate routing — which
    // `etl_sql_merge` exposes literally — is bit-identical) cost local-job
    // latency instead of source re-execution. Over the cap the collected
    // prefix is discarded and the generic path runs exactly as before.
    val keyPruneCap = 1024
    val src = {
      val probe = source.limit(keyPruneCap + 1).collect()
      if (probe.length <= keyPruneCap)
        spark.createDataFrame(java.util.Arrays.asList(probe: _*), source.schema)
      else source
    }
    // ONE fused pre-job (per-key counts → one-row aggregate) answers
    // everything the merge needs to know about the source up front: the
    // SQL MERGE cardinality rule (max rows per key tuple), emptiness
    // (total rows), and EVERY key column's pruning inputs (distinct
    // cardinality + bounds) — previously three separate driver jobs over
    // the same frame, real latency on a per-micro-batch CDC apply.
    val fns = org.apache.spark.sql.functions
    val perColAggs = keyCols.flatMap(c =>
      Seq(fns.count_distinct(col(c)), fns.min(col(c)), fns.max(col(c))))
    val pre = src.groupBy(keyCols.map(col): _*)
      .agg(fns.count(lit(1)).as("__n"))
      .agg(fns.max(col("__n")), fns.sum(col("__n")) +: perColAggs: _*).head()
    val maxPerKey = if (pre.isNullAt(0)) 0L else pre.getLong(0)
    require(maxPerKey <= 1L, s"mergeInto source has duplicate keys on " +
      s"(${keyCols.mkString(", ")}) — SQL MERGE refuses ambiguous matches")
    val totalRows = if (pre.isNullAt(1)) 0L else pre.getLong(1)
    // an empty source with a NMBS clause is NOT a no-op: every target row
    // is not-matched-by-source (SQL semantics — an empty source deletes or
    // updates whatever the clause condition admits)
    if (totalRows == 0L && !hasNmbs)
      return MergeIntoResult(0L, 0L, 0L, 0, committedOrPhysical(table).size)
    // TUPLE-AWARE candidate pruning: every key column contributes a
    // predicate — its EXACT distinct value set when ≤ cap (the CDC
    // micro-batch case: files keep only when bounds/value-sets/Bloom admit
    // one of the batch's values), its [min, max] interval otherwise (the
    // bounds already rode the fused aggregate). The preds conjoin, so a
    // composite key whose LEADING column is low-selectivity still prunes
    // on its selective columns. The ≤cap value sets collect in ONE extra
    // job across all qualifying columns. Null source keys match nothing
    // (insert-only), so they never widen the candidate set; a key type the
    // stats algebra can't compare keeps every file — sound, only less
    // pruned.
    val perCol: Seq[(String, Long, Any, Any)] = keyCols.zipWithIndex.map {
      case (c, i) =>
        val base = 2 + i * 3
        (c, if (pre.isNullAt(base)) 0L else pre.getLong(base),
          pre.get(base + 1), pre.get(base + 2))
    }
    val prunePreds: Seq[FilePred] =
      if (perCol.exists(_._2 == 0L)) Nil // an all-null key column: nothing can match
      else {
        val inCols = perCol.collect { case (c, nd, _, _) if nd <= keyPruneCap => c }
        val inSets: Map[String, Seq[Any]] =
          if (inCols.isEmpty) Map.empty
          else {
            val r = src.agg(
              collect_set(col(inCols.head)).as(inCols.head),
              inCols.tail.map(c => collect_set(col(c)).as(c)): _*).head()
            inCols.zipWithIndex.map { case (c, i) => c -> r.getSeq[Any](i) }.toMap
          }
        perCol.flatMap { case (c, nd, mn, mx) =>
          if (nd <= keyPruneCap) inSets.get(c).filter(_.nonEmpty).map(ColIn(c, _)).toSeq
          else if (mn != null && mx != null) Seq(ColGe(c, mn), ColLe(c, mx))
          else Nil
        }
      }
    retryConflicts(s"mergeInto on $table") {
      // candidate files: (files a source key could match) ∪ (files a NMBS
      // clause could hit). prunePreds empty means NO source row can match
      // (all-null key column / empty source) — without NMBS that is zero
      // candidates (insert-only); with NMBS the nmbsPrune branch alone
      // decides, and an empty nmbsPrune soundly keeps every file.
      val (cands0, untouched0) =
        if (!hasNmbs) {
          if (prunePreds.isEmpty) (Nil, committedOrPhysical(table))
          else planFiles(table, prunePreds)
        } else if (nmbsPrune.isEmpty) (committedOrPhysical(table), Nil)
        else if (prunePreds.isEmpty) planFiles(table, nmbsPrune)
        else planFiles(table, Seq(ColOr(Seq(prunePreds, nmbsPrune))))
      val cands = cands0.toSeq
      require(cands.forall(!_.contains("/")),
        s"mergeInto on partition-dir layouts is not supported (table $table); " +
          "migrate once via recluster — see deleteWhere's contract")
      // same DV pin as rewriteWhereCond: the rewrite folds candidate DVs
      val st = foldedState()
      val candDf = readFiles(table, schema, cands, dvOpt = Some(rawDvs(st, table)))
      val t = candDf.withColumn("__t", lit(1)).alias("t")
      val s = src.withColumn("__s", lit(1)).alias("s")
      val j = t.join(s,
        keyCols.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _), "full_outer")
      val matched = col("t.__t").isNotNull && col("s.__s").isNotNull
      val delHit = whenMatchedDelete
        .map(c => matched && coalesce(c, lit(false))).getOrElse(lit(false))
      // conditional-update clause: a matched row failing it (or evaluating
      // NULL) passes through untouched — SQL's WHEN MATCHED AND cond
      val updOk = updateWhen.map(c => coalesce(c, lit(false))).getOrElse(lit(true))
      val onlyS = col("t.__t").isNull && col("s.__s").isNotNull
      val onlyT = col("t.__t").isNotNull && col("s.__s").isNull
      val insertable = onlyS && lit(insertUnmatched) &&
        insertWhen.map(c => coalesce(c, lit(false))).getOrElse(lit(true))
      // NOT MATCHED BY SOURCE: delete wins over update (same precedence as
      // the matched side); conditions evaluating NULL do not fire
      val nmbsDelHit = notMatchedBySourceDelete
        .map(c => onlyT && coalesce(c, lit(false))).getOrElse(lit(false))
      val nmbsUpdHit =
        if (notMatchedBySourceUpdate.isEmpty) lit(false)
        else onlyT && !nmbsDelHit &&
          nmbsUpdateWhen.map(c => coalesce(c, lit(false))).getOrElse(lit(true))
      val feedOn = changeFeedEnabled(table)
      // The per-clause counts MergeIntoResult reports: when the change feed
      // is on they ride the change-slice append as OBSERVED metrics (the
      // slice's update_preimage/delete/insert rows are by construction
      // exactly updated/deleted/inserted — and the slice is a plain append,
      // one pass, so the observation cannot double-count); the dedicated
      // aggregate job over the full-outer join runs only feed-off.
      val eagerCounts: Option[(Long, Long, Long)] =
        if (feedOn) None
        else Some {
          val counts = j.agg(
            sum(when(matched && !delHit && updOk, 1L).otherwise(0L)),
            sum(when(delHit, 1L).otherwise(0L)),
            sum(when(insertable, 1L).otherwise(0L)),
            sum(when(nmbsUpdHit, 1L).otherwise(0L)),
            sum(when(nmbsDelHit, 1L).otherwise(0L))).head()
          def cnt(i: Int): Long = if (counts.isNullAt(i)) 0L else counts.getLong(i)
          (cnt(0) + cnt(3), cnt(1) + cnt(4), cnt(2))
        }
      val updSet = whenMatchedUpdate.toMap
      val nmbsSet = notMatchedBySourceUpdate.toMap
      val insSet = insertAssign.toMap
      val keep = !delHit && !nmbsDelHit && (!onlyS || insertable)
      val merged = j.filter(keep).select(schema.fields.toSeq.map { f =>
        val tCol = col(s"t.${f.name}"); val sCol = col(s"s.${f.name}")
        val updated =
          if (keyCols.contains(f.name)) tCol
          else updSet.getOrElse(f.name, sCol)
        when(matched && updOk, updated).when(matched, tCol)
          .when(col("s.__s").isNotNull, insSet.getOrElse(f.name, sCol))
          .when(nmbsUpdHit, nmbsSet.getOrElse(f.name, tCol))
          .otherwise(tCol)
          .cast(f.dataType).as(f.name)
      }: _*)
      // Range-cluster the rewrite back into ~as many files as it consumed —
      // on the table's declared cluster columns when recorded, else the
      // merge keys — so merges PRESERVE clustering instead of eroding it
      // (CdcSoak measures the difference as flat-vs-growing per-batch cost).
      val out = clusteredRewrite(table, schema, merged, cands.size, keyCols)
      // change slice in ONE pass over the join (guide §2.3): the old 6-branch
      // union re-executed the candidate-file scan + source join once per
      // branch — six scans (each paying the DV anti-join broadcast and its
      // AQE stage jobs) to emit rows a single pass can classify. Each join
      // row contributes 0-2 change images, built as a filtered struct array
      // and exploded; row content is identical per-branch (same conditions,
      // same casts), only the row ORDER within the commit's change file
      // differs — change-feed row order inside a commit carries no meaning
      // (consumers key on _change_type/_commit_version).
      def changeSlice: DataFrame = {
        val ctc = changeTypeCol
        def img(cols: Seq[Column], tag: String): Column =
          struct(cols :+ lit(tag).as(ctc): _*)
        def tCols = schema.fields.toSeq.map(f =>
          col(s"t.${f.name}").cast(f.dataType).as(f.name))
        def postCols = schema.fields.toSeq.map { f =>
          val updated =
            if (keyCols.contains(f.name)) col(s"t.${f.name}")
            else updSet.getOrElse(f.name, col(s"s.${f.name}"))
          updated.cast(f.dataType).as(f.name)
        }
        def insCols = schema.fields.toSeq.map(f =>
          insSet.getOrElse(f.name, col(s"s.${f.name}"))
            .cast(f.dataType).as(f.name))
        def nmbsPostCols = schema.fields.toSeq.map(f =>
          nmbsSet.getOrElse(f.name, col(s"t.${f.name}"))
            .cast(f.dataType).as(f.name))
        val updHit = matched && !delHit && updOk
        val images = arrFilter(array(
          when(delHit || nmbsDelHit, img(tCols, "delete")),
          when(updHit, img(tCols, "update_preimage")),
          when(updHit, img(postCols, "update_postimage")),
          when(nmbsUpdHit, img(tCols, "update_preimage")),
          when(nmbsUpdHit, img(nmbsPostCols, "update_postimage")),
          when(insertable, img(insCols, "insert"))), x => x.isNotNull)
        j.select(explode(images).as("__c"))
          .select((schema.fieldNames.toSeq :+ ctc).map(n => col(s"__c.$n").as(n)): _*)
      }
      // fresh Observation per retry attempt — an aborted commit's metrics
      // must not satisfy the next attempt's get
      val obs = if (feedOn) Some(new org.apache.spark.sql.Observation) else None
      transact { tv =>
        // the rewrite and the change slice are independent staged writes
        // over the SAME immutable candidate snapshot — run them (and any
        // alsoInTx rows) concurrently, collapsing the commit's serial
        // write waves into one (the DedupStream admit pattern; TxView
        // stages thread-safely). All futures settle before an error
        // propagates, so an abort never leaves a sibling mid-stage.
        val ctc = changeTypeCol
        Warehouse.settleAll(spark,
          Seq(() => tv.rewriteExcluding(table, cands, out, st)) ++
          obs.map(o => () => tv.append(changesTable(table),
            changeSlice.observe(o,
              sum(when(col(ctc) === "update_preimage", 1L).otherwise(0L)).as("u"),
              sum(when(col(ctc) === "delete", 1L).otherwise(0L)).as("d"),
              sum(when(col(ctc) === "insert", 1L).otherwise(0L)).as("i")))).toSeq ++
          Seq(() => alsoInTx(tv))) // e.g. a stream's replay mark
      }
      val (u, d, i) = eagerCounts.getOrElse {
        val m = obs.get.get
        def n(k: String): Long = m(k) match {
          case null => 0L; case v: Number => v.longValue()
        }
        (n("u"), n("d"), n("i"))
      }
      MergeIntoResult(u, d, i, cands.size, untouched0.size)
    }
  }

  /** Shared copy-on-write core: candidates → matched count → rewrite →
    * remove+add commit. `rewrite(df, hit)` produces the candidate files'
    * replacement rows (delete: the non-matching survivors; update: all rows
    * with assignments applied where `hit`). Candidate files are immutable,
    * so the matched count and the rewrite read the same bytes; the commit
    * precondition aborts if a racing commit un-referenced a candidate.
    * The ROW condition `cond` is decoupled from the PRUNING predicates
    * `preds`, which may be any sound under-approximation (including Nil =
    * all files candidate): soundness requires every `cond`-true row to be in
    * a `preds`-kept file, which the translatable conjuncts of a conjunction
    * (or the [[FilePred]]s `cond` was built from) satisfy by construction.
    */
  private def rewriteWhereCond(table: String, schema: StructType,
      preds: Seq[FilePred], cond: Column,
      rewrite: ((DataFrame, Column)) => DataFrame,
      changeRows: ((DataFrame, Column)) => DataFrame): Long =
    retryConflicts(s"row-level DML on $table") {
      val (cands, _) = planFiles(table, preds)
      require(cands.forall(!_.contains("/")),
        s"row-level DML on partition-dir layouts is not supported (table $table); " +
          "migrate once via recluster(table, schema, clusterCols, n) — a " +
          "conflict-checked rewrite into flat band files (partition values " +
          "become ordinary columns) — then DML prunes on the band stats")
      if (cands.isEmpty) 0L
      else {
        // the rewrite folds the candidates' tombstones into the new files, so
        // their DV state is pinned as read: a DV racing in after this
        // snapshot aborts the commit, not silently resurrects its rows
        val st = foldedState()
        val df = readFiles(table, schema, cands, dvOpt = Some(rawDvs(st, table)))
        val hit = coalesce(cond, lit(false))
        val matched = df.filter(hit).count()
        if (matched > 0L) {
          // declared-cluster tables keep their layout through deletes and
          // updates; undeclared ones keep the scan's per-file partitioning
          val out = clusteredRewrite(table, schema, rewrite((df, hit)), cands.size, Nil)
          // ON DELETE RESTRICT: keys that leave this rewrite (pre-image minus
          // retained — exact under the unique-parent-key contract) must not
          // be child-referenced; the children are pinned before the probe
          val children = childPins(table)
          if (children.nonEmpty)
            enforceFkRestrict(table, pCols =>
              df.filter(hit).select(fkKeyCols(pCols): _*)
                .filter(fkAllNotNull(pCols.size)).distinct()
                .join(out.select(fkKeyCols(pCols): _*).distinct(),
                  fkKeyNames(pCols.size), "left_anti"))
          val feedOn = changeFeedEnabled(table)
          transact { tv =>
            tv.rewriteExcluding(table, cands, out, st, pins = children)
            // the change slice rides the SAME manifest commit as the rewrite
            if (feedOn) tv.append(changesTable(table), changeRows((df, hit)))
          }
        }
        matched
      }
    }

  /** Fold the log as of `version`: manifests ≤ `version`, starting at the
    * latest snapshot within that prefix. Correct only when the retained
    * chain is complete — a snapshot origin is self-contained by its CAS
    * contract; without one the chain must reach back to genesis (version 1,
    * versions being contiguously allocated). Does NOT touch the fold cache
    * (historical folds must never shadow the live state).
    */
  private def stateAt(version: Int): LogState =
    if (version <= 0) LogState.empty // genesis: before any commit
    else retryOnVanishedManifest {
    val all = commitFiles()
    // a beyond-head version is a caller error (typo'd asOfVersion), not a
    // request for the live state — silently clamping to head would hand back
    // current data under a historical label (versions() lists the valid range)
    val head = all.lastOption.map(versionOf).getOrElse(0)
    if (version > head) throw new IllegalArgumentException(
      s"version $version is beyond the head ($head); versions() lists the valid arguments")
    val upTo = all.filter(p => versionOf(p) <= version)
    if (upTo.isEmpty) throw new IllegalStateException(
      s"version $version predates retained history (earliest on disk: " +
        s"${all.headOption.map(versionOf).getOrElse(-1)})")
    val cfs = upTo.drop(latestSnapshotIdx(upTo).max(0))
    val vs = cfs.map(versionOf)
    // versions are allocated contiguously (publish CAS) and the live head is
    // never vacuumed, so the chain must cover every integer from its origin
    // through min(version, head) — a hole is a vacuumed manifest whose
    // writes would silently vanish from the reconstruction
    val target = math.min(version, versionOf(all.last))
    val complete = (isSnapshot(cfs.head) || vs.head == 1) &&
      vs.sameElements(vs.head to target)
    if (!complete) throw new IllegalStateException(
      s"manifest chain to version $version has vacuumed gaps " +
        s"(retained: ${vs.mkString(",")}); state is not reconstructible")
    foldFrom(cfs, updateCache = false)
  }

  /** Conflict-safe layout rewrite (compaction, Z-order) for ACTIVE tables —
    * what out-of-band maintenance (`tools/Maintain`) against a live stream
    * requires; `compact` routes through here via [[Warehouse]]. A plain
    * read-then-replace rewrite would let a batch append committing between
    * the read and the replace's truncate be silently truncated away
    * (lost update — the writer-isolation hole the class scaladoc disclaims
    * for generic transactions). Here the rewrite pins the exact file set it
    * read and commits through [[TxView.replaceExpecting]]'s optimistic
    * check: if the visible set changed, the commit aborts and the compaction
    * retries from the fresh state (Delta/Iceberg-style commit conflict
    * detection, rebuilt on the manifest fold). Gives up — loudly — after 8
    * lost races: compaction is maintenance; the data is never at risk, the
    * caller just didn't get smaller files this pass.
    */
  override def compactWith(table: String, schema: StructType,
      transform: DataFrame => DataFrame): Unit =
    retryConflicts(s"compaction of $table") {
      val expected = committedOrPhysical(table)
      // pin DV state like the file set: the rewrite folds the tombstones
      val st = foldedState()
      val src = readFiles(table, schema, expected, dvOpt = Some(rawDvs(st, table)))
      val out = transform(src)
      transact(_.replaceExpecting(table, out, pinFiles(st, table, expected, noGrowth = true)))
    }

  /** Schema from MANIFEST-VISIBLE files only: the raw directory also holds
    * superseded files inside their vacuum grace window, so after a
    * schema-changing replace a directory-wide inference would hand
    * maintenance tooling a merged/stale schema (and `Maintain.compact` would
    * then rewrite the table under it); a truncated-but-unvacuumed table must
    * report None, not resurrect its dead files' schema. A raw directory
    * (no manifest history) infers from its parquet footers.
    */
  override def inferSchema(table: String): Option[StructType] =
    visibleFiles(table) match {
      case None        =>
        if (fs.exists(new Path(path(table)))) Some(spark.read.parquet(path(table)).schema)
        else None
      case Some(Nil)   => None
      case Some(files) =>
        val phys = spark.read.parquet(files.map(f => s"${path(table)}/$f"): _*).schema
        val m = colMapOf(table)
        val dropped = droppedPhysical(table)
        val reverse = m.filterNot(_._1.startsWith(droppedPrefix)).map(_.swap)
        // dropped columns' bytes linger in old files — they are not columns
        Some(StructType(phys.fields.filterNot(f => dropped.contains(f.name))
          .map(f => f.copy(name = reverse.getOrElse(f.name, f.name)))))
    }

  override def sizeBytes(table: String): Long =
    visibleFiles(table) match {
      case None        =>
        val dir = new Path(path(table))
        if (fs.exists(dir)) fs.getContentSummary(dir).getLength else 0L
      case Some(files) => fileBytes(table, files)
    }

  /** Log + storage maintenance: (1) fold the whole committed log into one
    * snapshot manifest (bounds manifest-read cost on long-lived
    * warehouses), (2) delete data files no manifest references and stage
    * leftovers, both only when older than `olderThanMs` (an in-flight
    * transaction's staged files and a racing reader's snapshot stay safe).
    */
  def vacuum(olderThanMs: Long = vacuumGraceMs): Unit = synchronized {
    val cutoff = System.currentTimeMillis() - olderThanMs
    // 1. snapshot: one manifest reproducing the current visible state.
    // CAS-retried: each lost race (a commit from another instance landing
    // between fold and publish) recomputes the snapshot from the NEW log —
    // a stale snapshot landing later would erase the racing commit's rows.
    var attempts = 0
    while (!foldLogToSnapshot() && attempts < 50) attempts += 1
    // 1b. manifest GC: manifests strictly below the latest snapshot are
    // subsumed garbage (foldedState never reads them) — but deleting them
    // promptly would race concurrent listers, whose readdir may drop
    // entries deleted mid-iteration and hand them a partial log. Past the
    // grace window no lister started before the snapshot can still be
    // iterating, so the delete is safe — the same reasoning as data files.
    locally {
      val cfs = commitFiles()
      cfs.take(latestSnapshotIdx(cfs).max(0)).foreach { p =>
        if (fs.getFileStatus(p).getModificationTime < cutoff) fs.delete(p, false)
      }
    }
    // 2. unreferenced data files under manifest-managed tables. Liveness is
    // judged against the GLOBAL visible set (every table's adds, resolved to
    // qualified paths), not the walked table's own rels: table names nest
    // (`t/_changes` change slices, `t/_bloom` sidecars, `staging/x/Provider`),
    // so a parent table's recursive walk SEES a child table's files — with a
    // per-table visible set those rels read as the parent's garbage and an
    // expired-grace vacuum would eat the child table (observed shape: a CDF
    // table's whole change history, a Bloom index's sidecars).
    val managed = retryOnVanishedManifest(
      commitFiles().flatMap(readActions(_).collect { case Add(t, _) => t }.toSet)).distinct
    val live: Set[String] = foldedState().adds.iterator.flatMap { case (t, fls) =>
      fls.iterator.map(f => fs.makeQualified(new Path(path(t), f)).toString)
    }.toSet
    managed.foreach { t =>
      val tdir = new Path(path(t))
      if (fs.exists(tdir))
        AtomicWarehouse.listTree(fs, tdir).foreach { case (_, st) =>
          if (!live.contains(fs.makeQualified(st.getPath).toString) &&
              st.getModificationTime < cutoff)
            fs.delete(st.getPath, false)
        }
    }
    // 3. crashed-transaction staging leftovers
    if (fs.exists(stageRoot))
      fs.listStatus(stageRoot).foreach { st =>
        if (st.getModificationTime < cutoff) fs.delete(st.getPath, true)
      }
    // 4. version-claim files a crashed publisher left behind: live claims
    // are sub-second, and the claim path itself breaks stale ones on reuse —
    // but the log's versions advance, so an orphaned v<N>.lock for an
    // already-published N would otherwise sit as garbage forever
    if (fs.exists(logDir))
      fs.listStatus(logDir).foreach { st =>
        if (st.getPath.getName.matches("v\\d{8}\\.lock") && st.getModificationTime < cutoff)
          fs.delete(st.getPath, false)
      }
  }
}
