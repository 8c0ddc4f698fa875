package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.sources.AtomicWarehouse
import org.apache.hadoop.fs.FileSystem

/** In-process benchmark driver: one workload, one seed, one client thread on
  * `local[nproc]`. Prints one `PERFBENCH_RESULT {json}` line on stdout and
  * writes the run's samples (and, when traced, its spans) under `--out`.
  *
  * A traced run alternates untraced and traced cycles of the workload's
  * operation pattern, attaching the job listener only for traced cycles:
  * per-layer metrics come from the traced operations, and the tracing
  * overhead is the traced median latency over the untraced one.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: Path, work: Path, small: Boolean, ops: Int)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(need("out")), Paths.get(need("work")),
      m.getOrElse("scale", "full") == "small", m.getOrElse("ops", "0").toInt)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Cumulative commit-layer counters of one warehouse. */
  private def warehouseCounters(wh: Option[AtomicWarehouse]): Map[String, Double] = {
    val fsStats = FileSystem.getAllStatistics
    var bytes = 0L
    fsStats.forEach { s => if (s.getScheme == "file") bytes += s.getBytesWritten }
    val commitLayer = wh.map { w =>
      val log = Paths.get(w.root, "_txlog")
      val version =
        if (!Files.isDirectory(log)) 0
        else {
          val s = Files.list(log)
          try s.iterator().asScala.map(_.getFileName.toString)
            .collect { case n if n.matches("v\\d{8}(\\.snap)?\\.tsv") => n.slice(1, 9).toInt }
            .maxOption.getOrElse(0)
          finally s.close()
        }
      // the manifest-read counter is package-private; read it reflectively
      // so a rename in the library degrades this one counter, not the build
      val reads = try w.getClass.getMethod("manifestReads").invoke(w)
        .asInstanceOf[java.util.concurrent.atomic.AtomicLong].get.toDouble
      catch { case _: ReflectiveOperationException => 0.0 }
      Map("sources.commits" -> version.toDouble, "sources.manifest_reads" -> reads)
    }.getOrElse(Map("sources.commits" -> 0.0, "sources.manifest_reads" -> 0.0))
    commitLayer ++ Map("sources.bytes_written" -> bytes.toDouble)
  }

  /** Data files under the warehouse root (checksum sidecars excluded). */
  private def warehouseFiles(wh: Option[AtomicWarehouse]): Set[String] =
    wh.map(w => Paths.get(w.root)).filter(Files.isDirectory(_)).map { root =>
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString)
        .filterNot(_.endsWith(".crc")).toSet
      finally s.close()
    }.getOrElse(Set.empty)

  /** Issue-facing names of each workload's end-to-end figures. */
  private val aliases: Map[String, Seq[(String, String)]] = Map(
    "ingest_files" -> Seq("op_p50_s" -> "ingest_file_p50_s", "aux_p50_s" -> "ingest_replay_p50_s",
      "rows_per_s" -> "ingest_rows_per_s"),
    "transform_bulk" -> Seq("op_p50_s" -> "transform_pass_p50_s", "aux_p50_s" -> "parse_pass_p50_s",
      "rows_per_s" -> "transform_rows_per_s"),
    "corpus_stream" -> Seq("op_p50_s" -> "stream_batch_p50_s", "aux_p50_s" -> "stream_lookup_p50_s",
      "rows_per_s" -> "stream_docs_per_s"),
    "corpus_sync" -> Seq("op_p50_s" -> "sync_cycle_p50_s", "aux_p50_s" -> "sync_query_p50_s",
      "rows_per_s" -> "sync_rows_per_s"))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(a.work)
    Files.createDirectories(a.out)
    val spark = GraftSession.builder(s"local[$cores]", shufflePartitions = 2 * cores)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("spark-warehouse").toString)
      .config("spark.sql.streaming.stopTimeout", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark)
    val w = Workloads(a.workload, new Ctx(spark, a.seed, a.work, Scale(a.small), tracer))
    val osBean = ManagementFactory.getOperatingSystemMXBean

    var failed = 0
    val failures = mutable.ArrayBuffer[String]()
    def runOp(i: Int): (Sample, Int) = {
      val opId = tracer.beginOp()
      val s = try w.run()
      catch {
        case e: Exception =>
          failures += s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
          Sample("error", 0.0, 0L, ok = false)
      }
      tracer.endOp(s.kind)
      (s, opId)
    }

    w.setup()
    val warmup = (0 until w.warmupOps).map(i => runOp(-1 - i)._1)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val load0 = osBean.getSystemLoadAverage

    final case class Rec(s: Sample, traced: Boolean, layer: Map[String, Double], opId: Int)
    val recs = mutable.ArrayBuffer[Rec]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    var consecutiveFails = 0
    // a traced run goes on past --seconds until one traced primary operation
    // ran, so its per-layer figures always measure something
    def tracedPrimaryRan = recs.exists(r => r.traced && r.s.kind == w.primary)
    def more = if (a.ops > 0) i < a.ops else elapsed < a.seconds || (a.trace && !tracedPrimaryRan)
    while (more && consecutiveFails < 3) {
      tracer.setEnabled(a.trace && (i / w.period) % 2 == 1)
      val traced = tracer.enabled
      val c0 = if (traced) warehouseCounters(w.warehouse) else Map.empty[String, Double]
      val f0 = if (traced) warehouseFiles(w.warehouse) else Set.empty[String]
      val (s, opId) = runOp(i)
      val c1 = if (traced) warehouseCounters(w.warehouse) ++
        Map("sources.files_written" -> (warehouseFiles(w.warehouse) -- f0).size.toDouble)
        else Map.empty[String, Double]
      if (!s.ok) { failed += 1; consecutiveFails += 1 } else consecutiveFails = 0
      val delta = c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0.0)) }
      s.leaves.foreach { case (n, st, en, attrs) => tracer.leaf(opId, n, st, en, attrs) }
      val probed = if (traced && s.ok && s.kind == w.primary) w.probe(s) else Map.empty[String, Double]
      recs += Rec(s, traced, delta ++ s.leaves.flatMap(_._4) ++ probed, opId)
      i += 1
    }
    val measuredS = elapsed
    val load1 = osBean.getSystemLoadAverage

    val checkErrs = try w.check() catch {
      case e: Exception => Seq(s"check raised ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    w.close()
    // run context: a fixed CPU-bound canary job (first call pays its codegen)
    def canary(): Double = {
      val c0 = System.nanoTime()
      spark.range(50000000L).selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - c0) / 1e9
    }
    canary()
    val canaryS = canary()

    tracer.setEnabled(false)
    val spans = if (a.trace) tracer.finish() else Nil
    val withLayers = recs.map(r => if (r.traced) r.copy(layer = r.layer ++ tracer.layerMetrics(r.opId)) else r)

    val ok = withLayers.filter(_.s.ok)
    val prim = ok.filter(_.s.kind == w.primary)
    val aux = ok.filter(_.s.kind == w.aux)
    val primSecs = prim.map(_.s.seconds)
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "op_p50_s" -> median(primSecs.toSeq),
      "aux_p50_s" -> median(aux.map(_.s.seconds).toSeq),
      "rows_per_s" -> prim.map(_.s.rows).sum / primSecs.sum)

    val tracedPrim = prim.filter(_.traced)
    val layerNames = tracedPrim.flatMap(_.layer.keys).distinct
    val layer = mutable.LinkedHashMap[String, Double]()
    layerNames.foreach(k => layer(k) = median(tracedPrim.map(_.layer.getOrElse(k, 0.0)).toSeq))
    layer("sources.write_amp") = median(tracedPrim.map(r =>
      if (r.s.inputBytes > 0) r.layer.getOrElse("sources.bytes_written", 0.0) / r.s.inputBytes else 0.0).toSeq)
    val untracedP50 = median(prim.filterNot(_.traced).map(_.s.seconds).toSeq)
    layer("trace.overhead") = median(tracedPrim.map(_.s.seconds).toSeq) / untracedP50 - 1.0
    layer("ctx.load1m") = load1
    layer("ctx.canary_s") = canaryS

    if (a.trace && tracedPrim.isEmpty) failures += "traced run holds no traced primary operation"
    val correct = checkErrs.isEmpty && failed == 0 && warmup.forall(_.ok) && prim.nonEmpty &&
      (!a.trace || tracedPrim.nonEmpty)
    val result = Json.obj(
      "correct" -> correct,
      "attempted" -> recs.size,
      "failed" -> failed,
      "failures" -> (failures.toSeq ++ checkErrs),
      "end_to_end" -> e2e.toMap,
      "per_layer" -> layer.toMap,
      "aliases" -> aliases.getOrElse(a.workload, Nil).map { case (k, v) => v -> e2e(k) }.toMap,
      "context" -> Map("load1m_start" -> load0, "load1m_end" -> load1, "canary_s" -> canaryS,
        "cores" -> cores, "measured_s" -> measuredS, "primary_ops" -> prim.size,
        "aux_ops" -> aux.size, "traced_primary_ops" -> tracedPrim.size,
        "untraced_primary_p50_s" -> untracedP50))
    val detail = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "scale" -> (if (a.small) "small" else "full"), "warmup_ops" -> w.warmupOps,
      "inputs" -> w.describe,
      "warmup" -> warmup.map(s => Map("kind" -> s.kind, "seconds" -> s.seconds, "ok" -> s.ok)),
      "result" -> Json.raw(result),
      "samples" -> withLayers.map(r => Map("kind" -> r.s.kind, "seconds" -> r.s.seconds,
        "rows" -> r.s.rows, "ok" -> r.s.ok, "traced" -> r.traced, "layer" -> r.layer)).toSeq,
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "kind" -> s.kind, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs)))
    val file = a.out.resolve(s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json")
    Files.write(file, detail.getBytes("UTF-8"))
    println("PERFBENCH_RESULT " + result)
    System.out.flush()
    GraftSession.stopAllStreams(spark)
    spark.stop()
  }
}

/** Minimal JSON writer for the result line and the run file. */
object Json {
  final case class Raw(s: String)
  def raw(s: String): Raw = Raw(s)

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Raw(s) => s
    case Some(x) => value(x)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
