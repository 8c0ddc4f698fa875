package graft.sources

/** The folded `_txlog`: per-table visible files in add order (deduped — a
  * double-add can only come from an adoption race, see
  * [[AtomicWarehouse]]'s commit, but duplicated ROWS are bad enough that the
  * fold defends anyway), every prefix ever truncated (so
  * `visibleFiles("t/sub")` knows the table was touched even when nothing was
  * re-added under it), each table's LATEST recorded schema JSON, per-file
  * column stats, deletion vectors and Bloom pointers (all three die with
  * their file), and the DECLARED table metadata that survives truncates:
  * cluster columns, column mapping, change-feed flag, Bloom declaration,
  * CHECK / FOREIGN KEY / UNIQUE declarations, change-feed floor and
  * per-(table, appId) stream high-waters.
  */
private[sources] final case class LogState(adds: Map[String, Vector[String]],
    truncated: Set[String], schemas: Map[String, String] = Map.empty,
    stats: Map[(String, String), String] = Map.empty,
    cluster: Map[String, String] = Map.empty,
    colmap: Map[String, String] = Map.empty,
    dvs: Map[(String, String), String] = Map.empty,
    cdf: Set[String] = Set.empty,
    blooms: Map[(String, String), String] = Map.empty,
    bloomcols: Map[String, String] = Map.empty,
    constraints: Map[(String, String), String] = Map.empty,
    fks: Map[(String, String), String] = Map.empty,
    uniques: Map[(String, String), String] = Map.empty,
    cdffloor: Map[String, Int] = Map.empty,
    txns: Map[(String, String), Long] = Map.empty)

private[sources] object LogState {
  val empty: LogState = LogState(Map.empty, Set.empty)
}

/** The manifest codec — the ONE place that knows what a `_txlog` line
  * means. A manifest is a TSV of actions, one per line, `kind\ttable\t…`;
  * JSON payloads (schema, stats, dv, bloom) are compact-jackson output, and
  * every writer refuses a tab or newline inside a field. [[parse]] and
  * [[render]] are inverse on every line the format has ever written; the
  * fold ([[fold]]) gives each kind its meaning, and [[render]] on a
  * [[LogState]] turns a folded state back into the lines that rebuild it
  * (a log snapshot, a table restore), with [[clears]] for a table drop.
  */
private[sources] object Manifest {
  sealed trait Action
  /** An action about one table (every kind but the two markers). */
  sealed trait OnTable extends Action { def table: String }

  /** Snapshot marker: the truncate + add lines that follow rebuild state. */
  case object Snapshot extends Action
  /** Commit wall-clock millis, first line of every manifest — read per
    * manifest for `TIMESTAMP AS OF` and history; no folded state.
    */
  final case class Ts(millis: Long) extends Action
  /** Un-reference every file of `table` and of every table under its
    * prefix, ending their recorded shape (schema) and per-file metadata.
    */
  final case class Truncate(table: String) extends OnTable
  final case class Add(table: String, file: String) extends OnTable
  /** Un-reference ONE file (copy-on-write DML), no prefix semantics. */
  final case class Remove(table: String, file: String) extends OnTable
  /** The table's logical schema as of this write; last line wins. */
  final case class Schema(table: String, json: String) extends OnTable
  /** Footer-derived column stats of one file; last line wins. */
  final case class Stats(table: String, file: String, json: String) extends OnTable
  /** One file's COMPLETE tombstone ordinal set (inline or sidecar pointer);
    * last line wins.
    */
  final case class Dv(table: String, file: String, json: String) extends OnTable
  /** One file's Bloom sidecar pointers; last line wins. */
  final case class Bloom(table: String, file: String, json: String) extends OnTable
  /** Per-table change-data-feed property (Delta's
    * `delta.enableChangeDataFeed`).
    */
  final case class ChangeFeed(table: String, on: Boolean) extends OnTable
  /** Per-commit marker: this version's file churn is row-preserving
    * maintenance — only the change feed's per-manifest walk reads it.
    */
  final case class CdfNoop(table: String) extends OnTable
  // declarations below: last line per key wins, survive truncates, and an
  // empty value (colmap: also `{}`) clears the key
  final case class Cluster(table: String, cols: String) extends OnTable
  final case class BloomCols(table: String, decl: String) extends OnTable
  /** Logical→physical column-mapping JSON (renames are table metadata). */
  final case class ColMap(table: String, json: String) extends OnTable
  /** CHECK expression per (table, name). */
  final case class Constraint(table: String, name: String, expr: String) extends OnTable
  /** FOREIGN KEY `childCol|parentTable|parentCol`, keyed by the CHILD. */
  final case class Fk(table: String, name: String, desc: String) extends OnTable
  /** UNIQUE column list per (table, name). */
  final case class Unique(table: String, name: String, cols: String) extends OnTable
  /** Change-feed retention floor (None clears). */
  final case class CdfFloor(table: String, floor: Option[Int]) extends OnTable
  /** Streaming-write high-water batch id (Delta's `txn`): MAX wins — batch
    * ids ascend, max is replay-robust; None clears.
    */
  final case class Txn(table: String, appId: String, batch: Option[Long]) extends OnTable

  /** One manifest line → its action; `src` names the manifest in errors. */
  def parse(line: String, src: String = "manifest"): Action = {
    // limit 4: a schema line's third field and a stats line's fourth are
    // JSON, opaque to the TSV
    val f = line.split("\t", 4)
    def at(i: Int): String = if (f.length > i) f(i) else ""
    f(0) match {
      case "snapshot" => Snapshot
      case "ts" => Ts(at(1).toLong)
      case "truncate" => Truncate(at(1))
      case "add" => Add(at(1), at(2))
      case "remove" => Remove(at(1), at(2))
      case "schema" => Schema(at(1), at(2))
      case "stats" => Stats(at(1), at(2), at(3))
      case "dv" => Dv(at(1), at(2), at(3))
      case "bloom" => Bloom(at(1), at(2), at(3))
      case "changefeed" => ChangeFeed(at(1), at(2) == "on")
      case "cdfnoop" => CdfNoop(at(1))
      case "cluster" => Cluster(at(1), at(2))
      case "bloomcols" => BloomCols(at(1), at(2))
      case "colmap" => ColMap(at(1), at(2))
      case "constraint" => Constraint(at(1), at(2), at(3))
      case "fk" => Fk(at(1), at(2), at(3))
      case "unique" => Unique(at(1), at(2), at(3))
      case "cdffloor" => CdfFloor(at(1), Some(at(2)).filter(_.nonEmpty).map(_.toInt))
      case "txn" => Txn(at(1), at(2), Some(at(3)).filter(_.nonEmpty).map(_.toLong))
      case other => throw new IllegalStateException(s"unknown txlog action '$other' in $src")
    }
  }

  def render(a: Action): String = a match {
    case Snapshot => "snapshot"
    case Ts(ms) => s"ts\t$ms"
    case Truncate(t) => s"truncate\t$t"
    case Add(t, f) => s"add\t$t\t$f"
    case Remove(t, f) => s"remove\t$t\t$f"
    case Schema(t, j) => s"schema\t$t\t$j"
    case Stats(t, f, j) => s"stats\t$t\t$f\t$j"
    case Dv(t, f, j) => s"dv\t$t\t$f\t$j"
    case Bloom(t, f, j) => s"bloom\t$t\t$f\t$j"
    case ChangeFeed(t, on) => s"changefeed\t$t\t${if (on) "on" else "off"}"
    case CdfNoop(t) => s"cdfnoop\t$t"
    case Cluster(t, c) => s"cluster\t$t\t$c"
    case BloomCols(t, d) => s"bloomcols\t$t\t$d"
    case ColMap(t, j) => s"colmap\t$t\t$j"
    case Constraint(t, n, e) => s"constraint\t$t\t$n\t$e"
    case Fk(t, n, d) => s"fk\t$t\t$n\t$d"
    case Unique(t, n, c) => s"unique\t$t\t$n\t$c"
    case CdfFloor(t, v) => s"cdffloor\t$t\t${v.fold("")(_.toString)}"
    case Txn(t, app, b) => s"txn\t$t\t$app\t${b.fold("")(_.toString)}"
  }

  /** Fold actions in log order into the state they leave — one pass. */
  def fold(actions: Iterator[Action]): LogState = {
    var adds = Map.empty[String, Vector[String]]
    // membership mirror of `adds`: the double-add defense as Vector.contains
    // is O(n^2) per refold in a table's file count — real money on a large
    // un-compacted table's snapshot even with the fold cache
    var addSets = Map.empty[String, Set[String]]
    var truncated = Set.empty[String]
    var schemas = Map.empty[String, String]
    var stats = Map.empty[(String, String), String]
    var cluster = Map.empty[String, String]
    var colmap = Map.empty[String, String]
    var dvs = Map.empty[(String, String), String]
    var cdf = Set.empty[String]
    var blooms = Map.empty[(String, String), String]
    var bloomcols = Map.empty[String, String]
    var constraints = Map.empty[(String, String), String]
    var fks = Map.empty[(String, String), String]
    var uniques = Map.empty[(String, String), String]
    var cdffloor = Map.empty[String, Int]
    var txns = Map.empty[(String, String), Long]
    actions.foreach {
      case Snapshot | Ts(_) | CdfNoop(_) => // markers: no folded state
      case Truncate(t) =>
        def under(k: String) = k == t || k.startsWith(t + "/")
        truncated += t
        adds = adds.map { case (k, v) => (k, if (under(k)) Vector.empty[String] else v) }
        addSets = addSets.map { case (k, v) => (k, if (under(k)) Set.empty[String] else v) }
        // a truncate ends the table's recorded shape too: replace re-records
        // it in the same commit, a bare delete leaves the table absent
        schemas = schemas.filterNot { case (k, _) => under(k) }
        stats = stats.filterNot { case ((k, _), _) => under(k) }
        dvs = dvs.filterNot { case ((k, _), _) => under(k) }
        blooms = blooms.filterNot { case ((k, _), _) => under(k) }
      case Add(t, f) =>
        val set = addSets.getOrElse(t, Set.empty)
        if (!set.contains(f)) {
          adds += (t -> (adds.getOrElse(t, Vector.empty) :+ f))
          addSets += (t -> (set + f))
        }
      case Remove(t, f) =>
        adds += (t -> adds.getOrElse(t, Vector.empty).filterNot(_ == f))
        addSets += (t -> (addSets.getOrElse(t, Set.empty) - f))
        stats -= ((t, f)); dvs -= ((t, f)); blooms -= ((t, f))
      case Schema(t, j) => schemas += (t -> j)
      case Stats(t, f, j) => stats += ((t, f) -> j)
      case Dv(t, f, j) => dvs += ((t, f) -> j)
      case Bloom(t, f, j) => blooms += ((t, f) -> j)
      case ChangeFeed(t, on) => if (on) cdf += t else cdf -= t
      case Cluster(t, c) => if (c.isEmpty) cluster -= t else cluster += (t -> c)
      case BloomCols(t, d) => if (d.isEmpty) bloomcols -= t else bloomcols += (t -> d)
      case ColMap(t, j) =>
        // a dropped-and-recreated table must start with identity metadata
        if (j.isEmpty || j == "{}") colmap -= t else colmap += (t -> j)
      case Constraint(t, n, e) =>
        if (e.isEmpty) constraints -= ((t, n)) else constraints += ((t, n) -> e)
      case Fk(t, n, d) => if (d.isEmpty) fks -= ((t, n)) else fks += ((t, n) -> d)
      case Unique(t, n, c) => if (c.isEmpty) uniques -= ((t, n)) else uniques += ((t, n) -> c)
      case CdfFloor(t, None) => cdffloor -= t
      case CdfFloor(t, Some(v)) => cdffloor += (t -> v)
      case Txn(t, app, None) => txns -= ((t, app))
      case Txn(t, app, Some(b)) =>
        txns += ((t, app) -> math.max(txns.getOrElse((t, app), Long.MinValue), b))
    }
    LogState(adds, truncated, schemas, stats, cluster, colmap, dvs, cdf,
      blooms, bloomcols, constraints, fks, uniques, cdffloor, txns)
  }

  /** Every declared key of `st` as (table, its line, its clearing line) —
    * two entries name the same key exactly when their clearing lines are
    * equal.
    */
  private def declarations(st: LogState): Seq[(String, Action, Action)] =
    st.cluster.toSeq.sortBy(_._1).map { case (t, c) => (t, Cluster(t, c), Cluster(t, "")) } ++
      st.colmap.toSeq.sortBy(_._1).map { case (t, j) => (t, ColMap(t, j), ColMap(t, "{}")) } ++
      st.cdf.toSeq.sorted.map(t => (t, ChangeFeed(t, on = true), ChangeFeed(t, on = false))) ++
      st.bloomcols.toSeq.sortBy(_._1).map { case (t, d) =>
        (t, BloomCols(t, d), BloomCols(t, "")) } ++
      st.constraints.toSeq.sortBy(_._1).map { case ((t, n), e) =>
        (t, Constraint(t, n, e), Constraint(t, n, "")) } ++
      st.fks.toSeq.sortBy(_._1).map { case ((t, n), d) => (t, Fk(t, n, d), Fk(t, n, "")) } ++
      st.uniques.toSeq.sortBy(_._1).map { case ((t, n), c) =>
        (t, Unique(t, n, c), Unique(t, n, "")) } ++
      st.cdffloor.toSeq.sortBy(_._1).map { case (t, v) =>
        (t, CdfFloor(t, Some(v)), CdfFloor(t, None)) } ++
      st.txns.toSeq.sortBy(_._1).map { case ((t, a), b) =>
        (t, Txn(t, a, Some(b)), Txn(t, a, None)) }

  /** The lines that rebuild `st` for the tables `keep` selects, each from a
    * truncate: ALL truncates first — truncate applies by PREFIX, so a
    * parent's truncate (Pipeline's per-batch `delete("staging/<src>")`)
    * landing after a child's adds would clear them on the next refold —
    * then adds in fold order, schemas, declarations, and the stats / dv /
    * bloom lines of visible files.
    */
  def render(st: LogState, keep: String => Boolean = _ => true): Seq[Action] = {
    val tables = (st.truncated ++ st.adds.keySet).filter(keep).toSeq.sorted
    def files(t: String) = st.adds.getOrElse(t, Vector.empty)
    def perFile(m: Map[(String, String), String], mk: (String, String, String) => Action) =
      tables.flatMap(t => files(t).flatMap(f => m.get((t, f)).map(mk(t, f, _))))
    tables.map(Truncate) ++ tables.flatMap(t => files(t).map(Add(t, _))) ++
      st.schemas.toSeq.sortBy(_._1).collect { case (t, j) if keep(t) => Schema(t, j) } ++
      declarations(st).collect { case (t, line, _) if keep(t) => line } ++
      perFile(st.stats, Stats) ++ perFile(st.dvs, Dv) ++ perFile(st.blooms, Bloom)
  }

  /** One clearing line per declared key of the tables `keep` selects — what
    * a table drop commits so a re-created table starts bare.
    */
  def clears(st: LogState, keep: String => Boolean): Seq[Action] =
    declarations(st).collect { case (t, _, clear) if keep(t) => clear }
}
