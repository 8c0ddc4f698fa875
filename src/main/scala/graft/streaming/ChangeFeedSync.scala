package graft.streaming

import graft.sources.{AtomicWarehouse, ReplayGuard, Warehouse}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, collect_set, count, max, when}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The GENERIC maintenance loop for a derived structure riding a corpus
  * table's change feed — the shape [[FtsSync]] proved for the inverted
  * index, factored so every persisted index maintains the same way: pull
  * the window since the cursor, hand its retractions (`delete`/
  * `update_preimage` ids) and admissions (`insert`/`update_postimage` rows)
  * to ONE per-index hook, [[applyWindow]], and advance the cursor last. An
  * UPDATE is retract-then-admit of the same id inside one corpus commit.
  *
  * Exactly-once rides ONE replay high-water per index: the `txn` mark of
  * the cursor table ([[graft.sources.ReplayGuard]]), which the hook stages
  * in the same commit as its effect ([[markThrough]]). The mark is a
  * POSITION over every step the loop applies, in the order it applies
  * them: corpus commit versions ascend (stable across replays, where a
  * window id would shift when a crash widens the next window), and within
  * a version a giant retraction's chunks come first in sorted-id order,
  * then the retraction's completion, then the admission
  * ([[ChangeFeedSync.position]]). `sync()` skips every step at or below the
  * high-water — a wound-back cursor replays the whole history and every
  * applied commit no-ops, and a half-applied commit (retraction landed,
  * admission lost) finishes its missing half. The check is a manifest
  * lookup, so the census stays one job.
  *
  * A root an older build wrote keeps two parquet ledgers of applied
  * versions instead (retractions, admissions). They are read once per
  * instance and converted to one position — refused with
  * [[ChangeFeedSync.LegacyLedgerGap]] unless they hold a prefix of the
  * window's step order — and the first hook commit drops them.
  *
  * A window with no corpus commit does NOT advance the cursor: the cursor
  * write itself commits, so a no-op sync would mint versions forever when
  * index and corpus share a warehouse. Windows the feed cannot reconstruct
  * (replace/truncate, pre-enablement DML) refuse via `changesBetween` —
  * reseed the index from a corpus snapshot; row-preserving corpus
  * maintenance is feed-invisible here. Cost tracks corpus CHURN, never
  * corpus size.
  */
abstract class ChangeFeedSync(srcWh: AtomicWarehouse, corpusTable: String,
    corpusSchema: StructType, idCol: String) {
  import ChangeFeedSync._

  /** Warehouse holding the maintenance cursor and the replay high-water
    * (the index's).
    */
  protected def cursorWh: Warehouse

  /** Cursor table name — one per maintained structure. The sync replaces
    * it and never drops it, so it also keys the replay high-water.
    */
  def cursorTable: String

  /** Directory of the parquet replay ledgers an older build kept for this
    * index, adopted once (class doc); None when there never were any.
    */
  protected def legacyLedgerDir: Option[String] = None

  /** Apply a run of window commits to the index: `retracts` are
    * per-version distinct retraction id sets (an EMPTY set marks the
    * version's retraction without tombstoning — the completion marker of a
    * chunked giant retraction; a chunk arrives alone under a negative
    * sub-id key), `admits` per-version admission rows in corpus schema.
    * Keys arrive ascending, none of their halves is already applied, and
    * every listed retraction applies before the same version's admission.
    * Every commit the hook makes runs `markThrough(k)` for the largest key
    * `k` it applies, so each listed half lands with its replay mark.
    */
  protected def applyWindow(retracts: Seq[(Long, Seq[Long])],
      admits: Seq[(Long, DataFrame)]): Unit

  /** Max retraction ids per commit materialized on the driver by the
    * census. Per-commit churn is the RIGHT bound for CDC — but it is the
    * writer's bound, not ours: one adversarial commit deleting 10⁸ rows
    * would OOM the driver through a `collect_set`. Above the cap the
    * commit's retraction streams through [[retractChunked]] instead.
    */
  protected def censusIdCap: Int = 1000000

  private val cursorSchema = StructType(Seq(
    StructField("version", LongType, nullable = false)))

  private lazy val guard = new ReplayGuard(cursorWh, cursorTable,
    "change-feed-sync", legacyLedgerDir, retractions = true)

  // the position each key of the run being applied marks (set before each
  // applyWindow call; the loop is sequential)
  private var runPositions = Map.empty[Long, Long]

  /** Stage, inside the hook commit that applies window key `key` and every
    * earlier listed key, the replay high-water through them.
    */
  protected final def markThrough(key: Long)(w: Warehouse): Unit =
    guard.mark(w, runPositions(key))

  /** True when the replay high-water has passed corpus commit `version`'s
    * admission step — every half of that commit is applied.
    */
  private[graft] def synced(version: Long): Boolean =
    guard.high.exists(_ >= position(version, Admitted))

  /** The corpus-log version the structure reflects (0 = never synced). */
  def cursor(): Int =
    if (!cursorWh.exists(cursorTable)) 0
    else cursorWh.read(cursorTable, cursorSchema)
      .agg(max(col("version"))).head() match {
        case r if r.isNullAt(0) => 0
        case r => r.getLong(0).toInt
      }

  /** Last window verified to hold ZERO corpus changes, as
    * (cursor-it-was-scanned-from, head-scanned-to). An empty window cannot
    * advance the persisted cursor (the cursor write itself mints a
    * version — a no-op sync would version forever when index and corpus
    * share a warehouse), but without remembering the scan each idle
    * `sync()` re-walks an ever-growing manifest window as the INDEX's own
    * commits keep raising head. Keyed to the cursor value so an external
    * cursor wind-back (reseed/replay) invalidates the shortcut — a window
    * is only ever skipped after being verified empty FROM this cursor.
    */
  @volatile private var emptyScan: Option[(Int, Int)] = None

  /** The legacy ledgers as one replay position (None without any). The
    * loop wrote them in step order, so every step of the window below
    * their highest entry must be in them; steps of earlier versions are
    * covered by the cursor.
    */
  private def legacyPosition(census: Seq[(Long, Long, Long)]): Option[Long] = {
    val (outs, ins) = guard.legacy
    val applied = outs.map { k =>
      if (k < 0L) { val x = -k - 1L; position(x >> 20, (x & 0xFFFFFL).toInt) }
      else position(k, Retracted)
    } ++ ins.map(position(_, Admitted))
    applied.maxOption.map { top =>
      val steps = census.flatMap { case (v, nOut, nIn) =>
        val chunks = applied.filter(p => p >> 21 == v && (p & StepMask) < Retracted)
          .map(p => (p & StepMask).toInt).maxOption
          .fold(Seq.empty[Long])(m => (0 to m).map(position(v, _)))
        (if (nOut > 0L) chunks :+ position(v, Retracted) else Nil) ++
          (if (nIn > 0L) Seq(position(v, Admitted)) else Nil)
      }
      val gaps = steps.filter(p => p < top && !applied(p))
      if (gaps.nonEmpty) throw new LegacyLedgerGap(
        s"the legacy replay ledgers of $cursorTable skip ${gaps.map(describe).mkString(", ")} " +
          s"below their last entry (${describe(top)}); they are not a prefix " +
          "of the change window — rebuild the index and reseed its cursor")
      top
    }
  }

  /** Giant-churn retraction (over [[censusIdCap]]): the id frame streams
    * through the driver in SORTED, cap-bounded chunks (`toLocalIterator`
    * holds one partition at a time — peak driver memory is a chunk, never
    * the commit's whole id set). Each chunk applies through the hook under
    * its own sub-id key and replay position, so a crashed replay skips the
    * chunks the high-water covers instead of double-applying them; the
    * caller lists the plain version as the completion marker.
    */
  private def retractChunked(out: DataFrame, version: Long, done: Long => Boolean): Unit = {
    val it = out.orderBy(col("id")).toLocalIterator()
    val buf = scala.collection.mutable.ArrayBuffer[Long]()
    var chunk = 0
    def flush(): Unit = if (buf.nonEmpty) {
      if (!done(position(version, chunk))) {
        val key = chunkKey(version, chunk)
        runPositions = Map(key -> position(version, chunk))
        applyWindow(Seq(key -> buf.toList), Nil)
      }
      chunk += 1
      buf.clear()
    }
    while (it.hasNext) {
      buf += it.next().getLong(0)
      if (buf.size >= censusIdCap) flush()
    }
    flush()
  }

  /** Apply everything the corpus committed since the cursor. Returns the
    * new cursor (unchanged when the window held no corpus change).
    *
    * The window is materialized ONCE (it is churn-sized, never
    * corpus-sized) and ONE census job yields every per-commit retraction
    * and admission count; one id-set aggregate follows, for the whole
    * window. The window then reaches [[applyWindow]] as ONE run, split only
    * at over-cap commits, whose retraction goes through [[retractChunked]]
    * between the runs.
    */
  def sync(): Int = {
    val head = srcWh.versions().lastOption.getOrElse(0)
    val cur = cursor()
    val from = emptyScan match {
      case Some((c, to)) if c == cur => math.max(cur, to)
      case _ => cur
    }
    if (head <= from) return cur
    val feed = srcWh.changesBetween(corpusTable, corpusSchema, from, head)
      .persist()
    try {
      val ct = col(srcWh.changeTypeCol)
      val retracting = ct.isin("delete", "update_preimage")
      val admitting = ct.isin("insert", "update_postimage")
      val vCol = col("_commit_version").cast(LongType)
      // ONE driver job: per-commit churn COUNTS (no id materialization yet
      // — a single adversarial 10⁸-row delete must not OOM the driver)
      val census = feed.groupBy(vCol.as("v"))
        .agg(
          count(when(retracting, 1)).as("nOut"),
          count(when(admitting, 1)).as("nIn"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      if (census.isEmpty) { emptyScan = Some((cur, head)); return cur }
      val high = (guard.high ++ legacyPosition(census)).maxOption
      def done(p: Long): Boolean = high.exists(_ >= p)
      val cap = censusIdCap
      // still ONE job for the whole window: id sets of the under-cap
      // retractions not yet applied (each bounded by the cap)
      val smallVs = census.collect {
        case (v, nOut, _) if nOut > 0L && nOut <= cap && !done(position(v, Retracted)) =>
          Long.box(v)
      }
      val idSets: Map[Long, Seq[Long]] =
        if (smallVs.isEmpty) Map.empty
        else feed.filter(retracting && vCol.isin(smallVs: _*))
          .groupBy(vCol.as("v"))
          .agg(collect_set(col(idCol).cast(LongType)).as("outIds"))
          .collect()
          .map(r => r.getLong(0) -> r.getSeq[Long](1))
          .toMap
      val retracts = scala.collection.mutable.ArrayBuffer[(Long, Seq[Long])]()
      val admits = scala.collection.mutable.ArrayBuffer[(Long, DataFrame)]()
      val positions = scala.collection.mutable.Map[Long, Long]()
      def flush(): Unit = if (retracts.nonEmpty || admits.nonEmpty) {
        runPositions = positions.toMap
        applyWindow(retracts.toList, admits.toList)
        retracts.clear()
        admits.clear()
        positions.clear()
      }
      census.foreach { case (v, nOut, nIn) =>
        if (nOut > 0L && !done(position(v, Retracted))) {
          if (nOut <= cap) retracts += v -> idSets(v)
          else {
            flush()
            retractChunked(feed.filter(retracting && vCol === v)
              .select(col(idCol).cast(LongType).as("id")).distinct(), v, done)
            retracts += v -> Nil
          }
          positions(v) = position(v, Retracted)
        }
        if (nIn > 0L && !done(position(v, Admitted))) {
          admits += v -> feed.filter(admitting && vCol === v)
            .select(corpusSchema.fieldNames.toSeq.map(col): _*)
          positions(v) = position(v, Admitted)
        }
      }
      flush()
      cursorWh.replace(cursorTable, srcWh.spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(head.toLong)), cursorSchema))
      emptyScan = None
      head
    } finally feed.unpersist()
  }
}

object ChangeFeedSync {
  /** Hook key of chunk `i` of version `v`'s giant retraction — also the id
    * legacy retraction ledgers stored it under: negative, injective for
    * v < 2^42 and i < 2^20 — corpus versions are positive ints, so the
    * spaces can never collide.
    */
  private def chunkKey(v: Long, i: Int): Long = -((v << 20) + i + 1)

  // the steps of one version, in apply order: chunks 0 … 2^20 − 1, then
  // the retraction's completion, then the admission
  private val Retracted = 1 << 20
  private val Admitted = Retracted + 1
  private val StepMask = (1L << 21) - 1

  /** The replay position of step `step` of corpus version `v`: ascending
    * in the order [[ChangeFeedSync.sync]] applies steps (v < 2^42).
    */
  private def position(v: Long, step: Int): Long = (v << 21) + step

  private def describe(p: Long): String = (p & StepMask).toInt match {
    case Retracted => s"version ${p >> 21}'s retraction"
    case Admitted => s"version ${p >> 21}'s admission"
    case i => s"chunk $i of version ${p >> 21}'s retraction"
  }

  /** Legacy replay ledgers that are not a prefix of the change window's
    * step order: the high-water they convert to would skip a step they do
    * not record as applied.
    */
  final class LegacyLedgerGap(msg: String) extends IllegalStateException(msg)
}

/** The IVF ANN index as an incrementally-maintained MV of an embeddings
  * corpus table — [[FtsSync]]'s twin: each window run goes through
  * [[graft.operators.PersistedIvf.applyWindow]], one atomic commit
  * per corpus version that tombstones its deletes/update-preimages and
  * assigns-and-admits its inserts/update-postimages against the standing
  * centroids, so the per-batch stats rows `drifted` reads stay one per
  * corpus commit. Centroids keep their training history; `drifted`/
  * `retrain` remain the recalibration path when churn moves the
  * distribution.
  */
class VectorSync(srcWh: AtomicWarehouse, corpusTable: String,
    corpusSchema: StructType, idCol: String, vecCol: String,
    ivf: graft.operators.PersistedIvf)
    extends ChangeFeedSync(srcWh, corpusTable, corpusSchema, idCol) {

  val cursorTable = s"${ivf.assignTable}/_sync/Cursor"
  protected def cursorWh: Warehouse = ivf.wh
  override protected def legacyLedgerDir: Option[String] = Some("ann")

  protected def applyWindow(retracts: Seq[(Long, Seq[Long])],
      admits: Seq[(Long, DataFrame)]): Unit =
    ivf.applyWindow(retracts, admits, idCol, vecCol, markThrough)
}
