package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType}

/** Slowly-changing-dimension Type 2 — the history-keeping variant of the
  * reference's SCD1 dimension merge (`core/etl_orchestrator.py`'s MERGE
  * keeps only the latest provider/product state; an auditable deployment
  * keeps every state with its validity window, the standard Kimball SCD2).
  * Deterministic by construction: validity is a caller-supplied batch
  * SEQUENCE, never a clock, so the whole lifecycle is oracle-replayable
  * (the `etl_scd2` oracle reconstructs the same history from the raw
  * batches with LAG/LEAD windows).
  *
  * History schema: key cols ++ attr cols ++ `(valid_from, valid_to,
  * is_current)` — `valid_to` null while current, else the closing batch's
  * seq (half-open `[from, to)` windows; a key's windows tile its change
  * sequence).
  *
  * 100 TB shape: one null-safe equi-join of the CURRENT slice against the
  * batch on the key (dimensions are small next to facts; AQE broadcasts
  * the batch side when it fits), closed history passes through untouched
  * as a union branch. Unchanged current rows are NOT rewritten as new
  * versions — attribute equality is null-safe, so null→null is "no
  * change" and null→value is a real transition.
  */
object Scd {

  /** Apply one upsert batch at sequence `seq` to `history` (empty history
    * = genesis: pass a frame with the history schema and zero rows, or
    * build the first one via `scd2Upsert(emptyHistory, b1, ..., 1)`).
    * `batch` carries key + attr columns; keys absent from the batch are
    * untouched. Returns the NEW history (caller persists it — the
    * [[graft.sources.Warehouse]] replace/commit discipline).
    *
    * Contract: ONE row per key in the batch — the same rule SQL MERGE
    * enforces on its source. A duplicate key would fan the full-outer join
    * out and silently corrupt history (one current row landing in both the
    * untouched and closed branches, several `is_current` rows per key), so
    * it is REFUSED here: the check is one aggregate over the batch, which
    * is dimension-sized by the same contract that makes the join cheap.
    */
  def scd2Upsert(history: DataFrame, batch: DataFrame, keyCols: Seq[String],
      attrCols: Seq[String], seq: Long): DataFrame = {
    val dup = batch.groupBy(keyCols.map(col): _*).count()
      .filter(col("count") > 1)
    require(dup.isEmpty,
      s"scd2Upsert batch has duplicate keys on (${keyCols.mkString(", ")}) — " +
        "one row per key per batch (the SQL MERGE source contract)")
    scd2UpsertPrevalidated(history, batch, keyCols, attrCols, seq)
  }

  /** One aggregate answering both per-batch admission questions — total
    * rows (empty-batch short-circuit) and the worst per-key multiplicity
    * (the one-row-per-key MERGE-source contract) — so a micro-batch
    * consumer pays ONE driver job where `batch.isEmpty` + the
    * [[scd2Upsert]] duplicate probe cost two. Fixed-latency driver jobs
    * are the whole cost of a dimension-sized fold (tools/ScdProbe counts
    * them), so admission riding one aggregate is a real share of the
    * streaming drain floor.
    */
  private[graft] def batchStats(batch: DataFrame, keyCols: Seq[String]): (Long, Long) = {
    val r = batch.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)), coalesce(max(col("c")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** [[scd2Upsert]] minus the duplicate-key probe, for callers that already
    * validated the batch through [[batchStats]] in the same micro-batch —
    * never call with an unvalidated batch: a duplicate key fans the
    * full-outer join out and corrupts history silently.
    */
  private[graft] def scd2UpsertPrevalidated(history: DataFrame, batch: DataFrame,
      keyCols: Seq[String], attrCols: Seq[String], seq: Long): DataFrame = {
    val outCols = (keyCols ++ attrCols).map(col) ++
      Seq(col("valid_from"), col("valid_to"), col("is_current"))
    val cur = history.filter(col("is_current"))
    val closedHist = history.filter(!col("is_current"))
    // presence markers survive the outer join even for all-null key values
    val b = batch.select(keyCols.map(k => col(k).as(s"b_$k")) ++
      attrCols.map(a => col(a).as(s"b_$a")) :+
      lit(true).as("b_present"): _*)
    val joined = cur.join(b,
      keyCols.map(k => col(k) <=> col(s"b_$k")).reduce(_ && _), "full_outer")
    val inBatch = col("b_present").isNotNull
    val inCur = col("is_current").isNotNull
    val attrsEqual =
      if (attrCols.isEmpty) lit(true)
      else attrCols.map(a => col(a) <=> col(s"b_$a")).reduce(_ && _)

    // untouched: current rows with no batch match, or batch match with
    // identical attributes (no new version row — SCD2's no-op case)
    val untouched = joined.filter(inCur && (!inBatch || attrsEqual))
      .select(outCols: _*)
    // closed: current rows whose batch row changed an attribute
    val closed = joined.filter(inCur && inBatch && !attrsEqual)
      .select((keyCols ++ attrCols).map(col) ++ Seq(col("valid_from"),
        lit(seq).cast(LongType).as("valid_to"),
        lit(false).cast(BooleanType).as("is_current")): _*)
    // opened: the changed rows' NEW state plus genuinely new keys
    val opened = joined.filter(inBatch && (!inCur || !attrsEqual))
      .select(keyCols.map(k => col(s"b_$k").as(k)) ++
        attrCols.map(a => col(s"b_$a").as(a)) ++ Seq(
        lit(seq).cast(LongType).as("valid_from"),
        lit(null).cast(LongType).as("valid_to"),
        lit(true).cast(BooleanType).as("is_current")): _*)
    closedHist.select(outCols: _*)
      .union(untouched).union(closed).union(opened)
  }

  /** [[scd2Upsert]] with the BATCH side broadcast — the 100 TB shape for a
    * large dimension. Spark cannot broadcast ANY side of a full outer
    * join, so the classic formulation shuffles the entire current slice on
    * the key every batch, while a dimension UPDATE batch is small by
    * definition (and in [[graft.streaming.ScdStream]] it is one
    * micro-batch). Decomposed into broadcast-only joins the current slice
    * is never shuffled:
    *
    *   1. `cur LEFT JOIN broadcast(b)` → one row per current version;
    *      each EXPLODEs into its output rows in the same pass (untouched,
    *      or closed + reopened) — ONE full scan, zero shuffles;
    *   2. matched keys = `cur SEMI broadcast(b)` projected to the key
    *      columns — a column-pruned key-only scan, ≤ |batch| rows out;
    *   3. genuinely new keys = `b ANTI broadcast(matched)`.
    *
    * Identical output to [[scd2Upsert]] (same null-safe key and attr
    * semantics; ScdSpec pins set-equality on a fixture with null keys and
    * null→value transitions, and pins the plan shuffle-free). Carries the
    * same one-row-per-key batch contract, validated by the caller through
    * [[batchStats]] — this is the prevalidated tier.
    */
  private[graft] def scd2UpsertBroadcast(history: DataFrame, batch: DataFrame,
      keyCols: Seq[String], attrCols: Seq[String], seq: Long): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val outCols = (keyCols ++ attrCols).map(col) ++
      Seq(col("valid_from"), col("valid_to"), col("is_current"))
    val cur = history.filter(col("is_current"))
    val closedHist = history.filter(!col("is_current"))
    val b = batch.select(keyCols.map(k => col(k).as(s"b_$k")) ++
      attrCols.map(a => col(a).as(s"b_$a")) :+
      lit(true).as("b_present"): _*)
    val joinKeys = keyCols.map(k => col(k) <=> col(s"b_$k")).reduce(_ && _)
    val inBatch = col("b_present").isNotNull
    val attrsEqual =
      if (attrCols.isEmpty) lit(true)
      else attrCols.map(a => col(a) <=> col(s"b_$a")).reduce(_ && _)
    def outStruct(keys: Seq[Column], attrs: Seq[Column], from: Column,
        to: Column, curFlag: Column) =
      struct(keys.zip(keyCols).map { case (c, n) => c.as(n) } ++
        attrs.zip(attrCols).map { case (c, n) => c.as(n) } ++ Seq(
        from.cast(LongType).as("valid_from"),
        to.cast(LongType).as("valid_to"),
        curFlag.cast(BooleanType).as("is_current")): _*)
    val untouchedRow = outStruct(keyCols.map(col), attrCols.map(col),
      col("valid_from"), col("valid_to"), col("is_current"))
    val closedRow = outStruct(keyCols.map(col), attrCols.map(col),
      col("valid_from"), lit(seq), lit(false))
    val reopenedRow = outStruct(keyCols.map(k => col(s"b_$k")),
      attrCols.map(a => col(s"b_$a")), lit(seq), lit(null), lit(true))
    val fromCur = cur.join(broadcast(b), joinKeys, "left")
      .select(explode(when(!inBatch || attrsEqual, array(untouchedRow))
        .otherwise(array(closedRow, reopenedRow))).as("r"))
      .select(col("r.*"))
    val matched = cur.join(broadcast(b), joinKeys, "left_semi")
      .select(keyCols.map(k => col(k).as(s"m_$k")): _*)
    val openedNew = b
      .join(broadcast(matched),
        keyCols.map(k => col(s"b_$k") <=> col(s"m_$k")).reduce(_ && _), "left_anti")
      .select(keyCols.map(k => col(s"b_$k").as(k)) ++
        attrCols.map(a => col(s"b_$a").as(a)) ++ Seq(
        lit(seq).cast(LongType).as("valid_from"),
        lit(null).cast(LongType).as("valid_to"),
        lit(true).cast(BooleanType).as("is_current")): _*)
    closedHist.select(outCols: _*).union(fromCur.select(outCols: _*))
      .union(openedNew)
  }

  /** The current slice — what an SCD1 consumer reads. */
  def current(history: DataFrame): DataFrame = history.filter(col("is_current"))

  /** The dimension as of sequence `seq` (rows whose window covers it) —
    * the batch-sequence analogue of the warehouse's [[graft.sources
    * .AtomicWarehouse.readAt]].
    */
  def asOf(history: DataFrame, seq: Long): DataFrame =
    history.filter(col("valid_from") <= seq &&
      (col("valid_to").isNull || col("valid_to") > seq))
}

/** [[Scd]] as a WAREHOUSE LIFECYCLE — the persisted-index treatment
  * ([[PersistedIvf]], [[PersistedPostings]]) applied to dimension history:
  * the pure `scd2Upsert` fold becomes a `dim/<name>/History` table
  * maintained through [[graft.sources.Warehouse.atomically]], so history
  * rides the same transaction as the merge batch that changed the
  * dimension (the reference's SCD1 merges in `core/etl_orchestrator.py`
  * keep only the latest state; this keeps every state beside it with no
  * second commit to lose). [[upsertIn]] is the composable form: call it
  * inside a caller's `atomically` section and the history replace
  * publishes with the caller's dim writes in ONE manifest commit — a
  * crash mid-batch leaves BOTH the
  * dim and its history at the prior snapshot (ScdSpec pins it), where a
  * separate history store could drift one batch ahead of or behind the
  * dimension it describes.
  *
  * Sequences are caller-supplied and monotone by contract ([[nextSeq]]
  * derives the next one from the persisted history); determinism and the
  * one-row-per-key batch contract are [[Scd.scd2Upsert]]'s.
  */
class ScdDimension(wh: graft.sources.Warehouse, name: String,
    keyCols: Seq[String], attrCols: Seq[String],
    baseSchema: org.apache.spark.sql.types.StructType) {
  import org.apache.spark.sql.types.{StructField, StructType}
  require((keyCols ++ attrCols).toSet == baseSchema.fieldNames.toSet,
    s"baseSchema fields ${baseSchema.fieldNames.mkString(",")} must be exactly " +
      s"keyCols ++ attrCols (${(keyCols ++ attrCols).mkString(",")})")

  val historyTable = s"dim/$name/History"
  val historySchema: StructType = StructType(baseSchema.fields ++ Seq(
    StructField("valid_from", LongType, nullable = false),
    StructField("valid_to", LongType, nullable = true),
    StructField("is_current", BooleanType, nullable = true)))

  def history(): DataFrame = wh.read(historyTable, historySchema)

  /** The current slice — the SCD1 view a merge consumer reads. */
  def current(): DataFrame = Scd.current(history())

  /** The dimension as of batch sequence `seq`. */
  def asOf(seq: Long): DataFrame = Scd.asOf(history(), seq)

  /** The next batch sequence (max open `valid_from` + 1; 1 at genesis). */
  def nextSeq(): Long =
    history().agg(org.apache.spark.sql.functions.max(col("valid_from"))).head() match {
      case r if r.isNullAt(0) => 1L
      case r => r.getLong(0) + 1L
    }

  /** Apply one upsert batch as its own transaction. */
  def upsert(batch: DataFrame, seq: Long): Unit =
    wh.atomically(w => upsertIn(w, batch, seq))

  /** The composable form: record history INSIDE a caller's `atomically`
    * section — reads through `w` (read-your-own-writes), so consecutive
    * upserts and the caller's own dim writes all publish in one commit.
    *
    * Returns how many version rows the batch OPENED (`valid_from = seq`),
    * measured as an `observe`d metric riding the history write itself — no
    * second job. Zero means the batch changed nothing: the sequence was
    * not consumed ([[nextSeq]] derives from `max(valid_from)`), which is
    * what lets [[graft.streaming.ScdStream]] keep its cursor in memory
    * without drifting from the derived value.
    */
  def upsertIn(w: graft.sources.Warehouse, batch: DataFrame, seq: Long): Long =
    writeObserved(w, Scd.scd2Upsert(
      w.read(historyTable, historySchema), batch, keyCols, attrCols, seq), seq)

  /** [[upsertIn]] for a batch already validated via [[Scd.batchStats]] in
    * this micro-batch (the streaming fold's path): uses the BROADCAST
    * decomposition — a micro-batch is small by construction, and the
    * shuffle-free plan both survives a 100 TB dimension (the current
    * slice is scanned, never shuffled) and drops the AQE shuffle-stage
    * jobs from the drain floor.
    */
  private[graft] def upsertPrevalidatedIn(w: graft.sources.Warehouse,
      batch: DataFrame, seq: Long): Long =
    writeObserved(w, Scd.scd2UpsertBroadcast(
      w.read(historyTable, historySchema), batch, keyCols, attrCols, seq), seq)

  private def writeObserved(w: graft.sources.Warehouse, newHist: DataFrame,
      seq: Long): Long = {
    val obs = org.apache.spark.sql.Observation()
    w.replace(historyTable, newHist.observe(obs,
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions
          .when(col("valid_from") === seq, 1L).otherwise(0L)),
        org.apache.spark.sql.functions.lit(0L)).as("opened")))
    obs.get("opened").asInstanceOf[Long]
  }
}
