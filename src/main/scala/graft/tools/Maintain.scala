package graft.tools

import graft.GraftSession
import graft.sources.AtomicWarehouse
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Warehouse maintenance entry point — the ops command an always-on
  * deployment schedules between (or alongside) stream micro-batches:
  *
  *   sbt "runMain graft.tools.Maintain <root> [table[:sortCol] ...]"
  *   table spec:  t            compact to one file
  *                t:c          compact re-sorted by column c
  *                t:zorder=a,b[:bits]   compact re-laid along the (a,b)
  *                             Morton curve (Layout.zorderAuto; default 16
  *                             bits/dimension) — the OPTIMIZE ZORDER pass
  *                             that makes BOTH dimensions' predicates prune
  *                             row groups (measured 26× on 2-D predicates,
  *                             tools/ZOrderProbe → BASELINE.md)
  *                t:cluster=c1,c2[:files]  recluster: global range re-banding
  *                             on the columns into `files` files (default
  *                             16) — restores manifest file-level skipping
  *                             after interleaved ingest (tools/SkipProbe: a
  *                             1-band scan drops from 16 to 2 kept files).
  *                             DISCOVERY mode reclusters any table whose
  *                             manifest declares cluster columns instead of
  *                             flattening it with the plain compact
  *
  * For each named table (default: every unpartitioned parquet-bearing
  * directory under the root) it compacts the accumulated per-batch small
  * files into one, re-sorted by `sortCol` when given (index tables whose
  * point-probe pruning rides on tight per-row-group min/max stats must NOT
  * be concatenated back together — see Warehouse.compact). Every rewrite is
  * a conflict-checked manifest commit (a root laid down by plain directory
  * writes is adopted by its first one), and the pass finishes with
  * [[AtomicWarehouse.vacuum]]: fold the manifest log to one snapshot and
  * collect superseded/orphaned data files past the grace window
  * (SPARK_GRAFT_VACUUM_GRACE_MS, default 1 h).
  *
  * Streams do their own inline maintenance (`compactEvery` + vacuum, commit
  * auto-fold); this tool is for warehouses whose writers don't — or for
  * reclaiming space out-of-band without touching the stream.
  */
object Maintain {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Maintain <warehouseRoot> [table[:sortCol] ...]")
    val graceMs = sys.env.getOrElse("SPARK_GRAFT_VACUUM_GRACE_MS", "3600000").toLong
    val spark = GraftSession.builder().appName("graft-maintain").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, args(0), args.drop(1).toSeq, graceMs)
    spark.stop()
  }

  /** The whole pass, session-injected so specs can drive it. */
  def run(spark: SparkSession, root: String, tableSpecs: Seq[String],
      graceMs: Long = 3600000L): Unit = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val wh = new AtomicWarehouse(spark, root)

    // per-table action: plain compact, sorted compact, or z-order re-layout
    sealed trait Action
    case object Plain extends Action
    case class Sorted(col: String) extends Action
    case class ZOrder(a: String, b: String, bits: Int) extends Action
    case class Recluster(cols: Seq[String], files: Int) extends Action
    val ZSpec = """zorder=([^,:]+),([^,:]+)""".r
    val CSpec = """cluster=([^:]+)""".r
    val specs: Seq[(String, Action)] =
      if (tableSpecs.nonEmpty) tableSpecs.map { spec =>
        spec.split(':') match {
          case Array(t)                    => (t, Plain)
          case Array(t, ZSpec(a, b))       => (t, ZOrder(a, b, 16))
          // bits must PARSE to match — 't:zorder=a,b:x' falls through to the
          // uniform bad-spec error instead of a raw NumberFormatException
          case Array(t, ZSpec(a, b), bits) if bits.matches("\\d+") =>
            (t, ZOrder(a, b, bits.toInt))
          case Array(t, CSpec(c))          => (t, Recluster(c.split(',').toSeq, 16))
          case Array(t, CSpec(c), files) if files.matches("\\d+") =>
            (t, Recluster(c.split(',').toSeq, files.toInt))
          case Array(t, s) if !s.startsWith("zorder=") && !s.startsWith("cluster=") =>
            (t, Sorted(s))
          case _ => throw new IllegalArgumentException(s"bad table spec '$spec'")
        }
      }
      else discoverTables(fs, root).map((_, Plain: Action))


    specs.foreach { case (table, action0) =>
      // a declared-cluster table must not be flattened by the default pass:
      // plain compact (coalesce-to-one, unsorted) would erase the band
      // layout the manifest says the table relies on — honor the
      // declaration by reclustering instead
      val action = action0 match {
        case Plain => wh.clusterBy(table).map(Recluster(_, 16)).getOrElse(Plain)
        case _ => action0
      }
      wh.inferSchema(table) match {
        case None => println(s"MAINTAIN skip $table (absent/empty)")
        case Some(schema) =>
          val before = wh.sizeBytes(table)
          try {
            val label = action match {
              case Plain => wh.compact(table, schema); ""
              case Sorted(c) => wh.compact(table, schema, sortCols = Seq(c))
                s" (sorted by $c)"
              case ZOrder(a, b, bits) =>
                // same conflict-checked rewrite path as compaction — the
                // transform is the only difference
                wh.compactWith(table, schema,
                  df => graft.operators.Layout.zorderAuto(df, a, b, bits, numFiles = 1))
                s" (zorder $a,$b @${bits}b)"
              case Recluster(cs, files) =>
                // global range re-banding: restores manifest/file-level data
                // skipping after interleaved ingest (SkipProbe: 16→2 kept)
                wh.recluster(table, schema, cs, files)
                s" (recluster ${cs.mkString(",")} → $files files)"
            }
            println(f"MAINTAIN compacted $table%-40s ${before / 1024}%d KiB$label")
          } catch {
            // out-of-band pass racing a hot writer: the conflict-checked
            // compact aborted rather than truncate the writer's commits
            // away — data intact, just no smaller files this pass
            case _: java.util.ConcurrentModificationException =>
              println(s"MAINTAIN skipped $table (lost to concurrent writers)")
          }
      }
    }
    wh.vacuum(olderThanMs = graceMs)
    println(s"MAINTAIN vacuumed (log folded; grace ${graceMs / 1000} s)")
  }

  /** Every directory under `root` that directly holds parquet files — the
    * table set when the caller doesn't name one. `_`/`.`-prefixed dirs
    * (txlog, tmp) and `txstage/` are infrastructure; hive-partitioned
    * layouts (`col=value/` segments) are skipped — compaction is
    * directory-granular there and out of this tool's unpartitioned scope.
    */
  private[graft] def discoverTables(fs: org.apache.hadoop.fs.FileSystem,
      root: String): Seq[String] = {
    // Never DESCEND into infrastructure dirs (txstage, _txlog, .tmp) — on a
    // LIVE warehouse an in-flight staged write is creating and deleting
    // `_temporary` task dirs under txstage faster than a recursive walk can
    // stat them (observed: listing crashed mid-soak on a vanished task dir).
    // Filtering the RESULTS is not enough; the walk itself must skip them.
    def visible(n: String): Boolean = !n.startsWith("_") && !n.startsWith(".")
    def walk(): Seq[String] = {
      val out = scala.collection.mutable.SortedSet[String]()
      fs.listStatus(new Path(root)).foreach { top =>
        val n = top.getPath.getName
        if (top.isDirectory && visible(n) && n != "txstage")
          AtomicWarehouse.listTree(fs, top.getPath, visible).foreach { case (rel, _) =>
            val segs = s"$n/$rel".split('/')
            if (segs.last.endsWith(".parquet") && !segs.exists(_.contains("=")))
              out += segs.init.mkString("/")
          }
      }
      out.toSeq
    }
    // table dirs themselves still mutate under a hot writer (vacuum deleting
    // superseded files mid-walk) — transient stat races re-list, not crash
    var attempts = 0
    while (true) {
      try return walk()
      catch {
        case e @ (_: java.io.FileNotFoundException | _: RuntimeException) =>
          attempts += 1
          if (attempts >= 5) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
