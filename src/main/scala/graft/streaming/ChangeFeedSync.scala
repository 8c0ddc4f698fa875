package graft.streaming

import graft.sources.AtomicWarehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, collect_set, count, lit, max, when}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The GENERIC maintenance loop for a derived structure riding a corpus
  * table's change feed — the shape [[FtsSync]] proved for the inverted
  * index, factored so every persisted index maintains the same way: pull
  * the window since the cursor, hand its retractions (`delete`/
  * `update_preimage` ids) and admissions (`insert`/`update_postimage` rows)
  * to ONE per-index hook, [[applyWindow]], and advance the cursor last. An
  * UPDATE is retract-then-admit of the same id inside one corpus commit.
  *
  * Exactly-once rides the index's two replay LEDGERS, `(batch_id)` tables
  * keyed by corpus COMMIT VERSION (stable across replays, where a window id
  * would shift when a crash widens the next window): the hook writes a
  * version's ledger rows in the same commit as its effect, and `sync()`
  * probes both ledgers ONCE per window and drops every half already
  * ledgered — a wound-back cursor replays the whole history and every
  * applied commit no-ops, and a half-applied legacy commit (retraction
  * ledgered, admission lost) finishes its missing half.
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

  /** Warehouse holding the maintenance cursor and the replay ledgers (the
    * index's).
    */
  protected def cursorWh: graft.sources.Warehouse

  /** Cursor table name — one per maintained structure. */
  def cursorTable: String

  /** The index's retraction and admission ledgers (`batch_id` rows). */
  protected def retractLedger: String
  protected def ingestLedger: String

  /** Apply a run of window commits to the index, ledgering every listed
    * version in the same commit(s) as its effect: `retracts` are
    * per-version distinct retraction id sets (an EMPTY set ledgers the
    * version's retraction without tombstoning — the completion marker of a
    * chunked giant retraction), `admits` per-version admission rows in
    * corpus schema. Versions arrive ascending, none of their halves is
    * already ledgered, and every listed retraction applies before the
    * same version's admission.
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
  private val ledgerSchema = StructType(Seq(
    StructField("batch_id", LongType, nullable = false)))

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

  /** The window's rows in both replay ledgers, as `(tag, batch_id, 0, 0)`
    * rows shaped to ride the census job: corpus versions in `(from, head]`
    * and every chunk sub-id of those versions (a contiguous negative range,
    * [[ChangeFeedSync.chunkLedgerId]]). Both tables are batch-count sized.
    */
  private def ledgerHits(from: Int, head: Int): Seq[DataFrame] = {
    val b = col("batch_id")
    val inWindow = b.between(from + 1L, head.toLong) ||
      b.between(ChangeFeedSync.chunkLedgerId(head + 1L, 0) + 1L,
        ChangeFeedSync.chunkLedgerId(from + 1L, 0))
    Seq(retractLedger -> "r", ingestLedger -> "i").collect {
      case (tbl, tag) if cursorWh.exists(tbl) =>
        cursorWh.read(tbl, ledgerSchema).filter(inWindow)
          .select(lit(tag), b, lit(0L), lit(0L))
    }
  }

  /** Giant-churn retraction (over [[censusIdCap]]): the id frame streams
    * through the driver in SORTED, cap-bounded chunks (`toLocalIterator`
    * holds one partition at a time — peak driver memory is a chunk, never
    * the commit's whole id set). Each chunk applies through the hook under
    * its own deterministic sub-id ([[ChangeFeedSync.chunkLedgerId]]), so a
    * crashed replay skips the chunks in `done` instead of double-applying
    * them; the caller ledgers the plain version as the completion marker.
    */
  private def retractChunked(out: DataFrame, version: Long, done: Set[Long]): Unit = {
    val it = out.orderBy(col("id")).toLocalIterator()
    val buf = scala.collection.mutable.ArrayBuffer[Long]()
    var chunk = 0
    def flush(): Unit = if (buf.nonEmpty) {
      val sub = ChangeFeedSync.chunkLedgerId(version, chunk)
      if (!done(sub)) applyWindow(Seq(sub -> buf.toList), Nil)
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
    * and admission count together with the window's replay-ledger rows; one
    * id-set aggregate follows, for the whole window. The window then reaches
    * [[applyWindow]] as ONE run, split only at over-cap commits, whose
    * retraction goes through [[retractChunked]] between the runs.
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
      // — a single adversarial 10⁸-row delete must not OOM the driver) and
      // the window's replay-ledger rows
      val rows = (feed.groupBy(vCol.as("v"))
        .agg(
          count(when(retracting, 1)).as("nOut"),
          count(when(admitting, 1)).as("nIn"))
        .select(lit("c"), col("v"), col("nOut"), col("nIn")) +: ledgerHits(from, head))
        .reduce(_ unionAll _).collect()
      def tagged(tag: String) = rows.filter(_.getString(0) == tag)
      val census = tagged("c").map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      if (census.isEmpty) { emptyScan = Some((cur, head)); return cur }
      val doneOut = tagged("r").map(_.getLong(1)).toSet
      val doneIn = tagged("i").map(_.getLong(1)).toSet
      val cap = censusIdCap
      // still ONE job for the whole window: id sets of the under-cap
      // retractions not yet ledgered (each bounded by the cap)
      val smallVs = census.toSeq.collect {
        case (v, nOut, _) if nOut > 0L && nOut <= cap && !doneOut(v) => Long.box(v)
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
      def flush(): Unit = if (retracts.nonEmpty || admits.nonEmpty) {
        applyWindow(retracts.toList, admits.toList)
        retracts.clear()
        admits.clear()
      }
      census.foreach { case (v, nOut, nIn) =>
        if (nOut > 0L && !doneOut(v)) {
          if (nOut <= cap) retracts += v -> idSets(v)
          else {
            flush()
            retractChunked(feed.filter(retracting && vCol === v)
              .select(col(idCol).cast(LongType).as("id")).distinct(), v, doneOut)
            retracts += v -> Nil
          }
        }
        if (nIn > 0L && !doneIn(v))
          admits += v -> feed.filter(admitting && vCol === v)
            .select(corpusSchema.fieldNames.toSeq.map(col): _*)
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
  /** Ledger sub-id for chunk `i` of version `v`'s giant retraction:
    * negative, injective for v < 2^42 and i < 2^20 — corpus versions are
    * positive ints, so the spaces can never collide.
    */
  private def chunkLedgerId(v: Long, i: Int): Long =
    -((v << 20) + i + 1)
}

/** The IVF ANN index as an incrementally-maintained MV of an embeddings
  * corpus table — [[FtsSync]]'s twin: each window run goes through
  * [[graft.operators.PersistedIvf.applyWindowLedgered]], one atomic commit
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
  protected def cursorWh: graft.sources.Warehouse = ivf.wh
  protected def retractLedger: String = ivf.retractTable
  protected def ingestLedger: String = ivf.ingestTable

  protected def applyWindow(retracts: Seq[(Long, Seq[Long])],
      admits: Seq[(Long, DataFrame)]): Unit =
    ivf.applyWindowLedgered(retracts, admits, idCol, vecCol)
}
