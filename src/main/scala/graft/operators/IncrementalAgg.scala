package graft.operators

import graft.sources.{AtomicWarehouse, Warehouse}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** CDC-driven incremental materialized aggregate — what
  * [[graft.sources.AtomicWarehouse.appendsBetween]] exists FOR: a
  * `groupBy(...).agg(count, sums)` over a log-committed source table,
  * maintained by folding only each refresh window's appended rows into a
  * persisted state table instead of rescanning the source.
  *
  * The incremental-view-maintenance identity for distributive aggregates:
  * `agg(S ∪ Δ) = merge(agg(S), agg(Δ))` where merge adds the partials
  * per group. So [[refresh]] aggregates JUST the delta (batch-sized) and
  * outer-joins it into the state (state-sized) — at 100 TB the source scan
  * is the cost that disappears; the merge shuffle is proportional to the
  * GROUP count, not the row count. When the window is not append-only (a
  * replace/compact/restore truncated the source — file diff ≠ row diff,
  * `appendsBetween` refuses), the refresh next tries the CHANGE FEED
  * ([[graft.sources.AtomicWarehouse.changesBetween]]): with the source's
  * `changefeed` property on, row-level DML windows fold as SIGNED partials
  * — inserts and update post-images weigh +1, deletes and update
  * pre-images −1 — the classic retraction form of incremental view
  * maintenance, exact for the distributive count/sum family this class is
  * limited to; groups whose count retracts to zero leave the state, so the
  * accumulated view stays ≡ the one-shot aggregate. Only when the feed
  * also refuses (a replace, or DML from before the feed was enabled) is
  * the view invalidated and rebuilt from `readAt(source, head)` — as-of
  * the cursor target, so commits racing the rebuild cannot double-count on
  * the next refresh.
  *
  * Exactness contract (what makes the accumulated state ≡ a one-shot
  * aggregate, oracle-checkable): `count` partials are longs; each sum
  * expression must be order-proof under addition — integer-valued doubles,
  * integral types, or a decimal cast (the [[graft.SparkEntry]] `sumMoney`
  * discipline). Merged sums are cast back to the state schema's type, so
  * decimal widening cannot drift the schema across refreshes. A group
  * whose sum input is entirely null folds as 0, not null (coalesce in the
  * merge) — pass non-null value expressions.
  *
  * Single-writer contract like every index here: one refresher at a time
  * (the state/cursor pair is replaced atomically, so readers always see a
  * consistent (state, version) snapshot).
  *
  * Tables: `mv/<name>/State` (group cols, cnt, sums) and `mv/<name>/Cursor`
  * (the source-log version the state reflects).
  */
class IncrementalAgg(wh: AtomicWarehouse, name: String,
    srcTable: String, srcSchema: StructType,
    groupCols: Seq[String], sums: Seq[(String, Column)]) {

  val stateTable = s"mv/$name/State"
  val cursorTable = s"mv/$name/Cursor"

  val cursorSchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false)))

  private def aggOf(df: DataFrame): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"),
        sums.map { case (n, c) => sum(c).as(n) }: _*)

  /** The state schema, derived from the agg itself over an empty source —
    * self-describing, no caller-side duplication to drift.
    */
  val stateSchema: StructType = aggOf(wh.spark.createDataFrame(
    wh.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], srcSchema)).schema

  /** The materialized aggregate as of [[cursor]]. Empty before the first
    * refresh.
    */
  def state(): DataFrame =
    if (wh.exists(stateTable)) wh.read(stateTable, stateSchema)
    else wh.spark.createDataFrame(
      wh.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema)

  /** The source-log version the state reflects (0 = never refreshed). */
  def cursor(): Int =
    if (!wh.exists(cursorTable)) 0
    else wh.read(cursorTable, cursorSchema).agg(max(col("version"))).head() match {
      case r if r.isNullAt(0) => 0
      case r => r.getLong(0).toInt
    }

  /** Add the per-group partials; group keys join null-safe (`<=>` — groupBy
    * makes null a group, a plain equi-join would orphan it twice).
    */
  private def merge(a: DataFrame, b: DataFrame): DataFrame = {
    val aa = a.alias("a")
    val bb = b.alias("b")
    val cond = groupCols.map(k => col(s"a.$k") <=> col(s"b.$k")).reduce(_ && _)
    val measures = "cnt" +: sums.map(_._1)
    aa.join(bb, cond, "full_outer").select(
      groupCols.map(k => coalesce(col(s"a.$k"), col(s"b.$k")).as(k)) ++
        measures.map { m =>
          (coalesce(col(s"a.$m"), lit(0)) + coalesce(col(s"b.$m"), lit(0)))
            .cast(stateSchema(m).dataType).as(m)
        }: _*)
  }

  /** Fold everything the source committed since the last refresh into the
    * state and advance the cursor to the log head — delta-only when the
    * window is append-only, full rebuild as-of the head otherwise (class
    * doc). Returns the (possibly unchanged) cursor. Publishes nothing when
    * the window holds no source change: the state/cursor pair lives in the
    * SAME log, so refreshing on every commit (including our own) would make
    * each refresh manufacture the next one's "movement" — the cursor
    * instead waits for real source rows, and the re-examined empty window
    * costs manifest-line reads only, zero data files.
    */
  /** Signed delta aggregate over a change-feed window: +1 partials for
    * rows entering the view, −1 for rows leaving it (retraction IVM).
    */
  private def aggSigned(feed: DataFrame): DataFrame = {
    val w = when(col("_change_type").isin("insert", "update_postimage"), 1L)
      .otherwise(-1L)
    feed.groupBy(groupCols.map(col): _*)
      .agg(sum(w).cast(stateSchema("cnt").dataType).as("cnt"),
        sums.map { case (n, c) =>
          sum(w * c).cast(stateSchema(n).dataType).as(n) }: _*)
  }

  def refresh(): Int = {
    val head = wh.versions().lastOption.getOrElse(0)
    val cur = cursor()
    if (head <= cur) return cur
    val deltaOpt =
      try Some(wh.appendsBetween(srcTable, srcSchema, cur, head))
      catch { case _: IllegalStateException => None }
    if (deltaOpt.exists(_.isEmpty)) return cur
    // non-append-only window: the change feed keeps the refresh
    // delta-sized across row-level DML; only its refusal costs a rebuild
    val signedOpt = if (deltaOpt.isDefined) None else
      try Some(wh.changesBetween(srcTable, srcSchema, cur, head))
      catch { case _: IllegalStateException => None }
    if (deltaOpt.isEmpty && signedOpt.exists(_.isEmpty)) return cur
    val newState = (deltaOpt, signedOpt) match {
      case (Some(delta), _) => merge(state(), aggOf(delta))
      case (None, Some(feed)) =>
        merge(state(), aggSigned(feed)).filter(col("cnt") > 0)
      case _ => aggOf(wh.readAt(srcTable, srcSchema, head))
    }
    wh.atomically { w =>
      // state and cursor are independent staged writes, run concurrently
      // (the cursor write is a one-row local relation, so this collapses
      // one full write wave per refresh)
      Warehouse.settleAll(wh.spark, Seq(
        () => w.replace(stateTable, newState),
        () => w.replace(cursorTable, wh.spark.createDataFrame(
          java.util.Arrays.asList(org.apache.spark.sql.Row(head.toLong)), cursorSchema))))
    }
    head
  }
}
