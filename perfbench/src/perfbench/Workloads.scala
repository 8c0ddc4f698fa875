package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Pipeline
import graft.model.Schemas
import graft.operators.{Canonicalize, Dedup, Ledger, PersistedPostings, TransformPipeline}
import graft.sources.{AtomicWarehouse, ColIn, CsvSource}
import graft.streaming.{DedupStream, FtsSync}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

/** One timed operation's outcome. */
final case class Sample(kind: String, seconds: Double, rows: Long, ok: Boolean,
    inputBytes: Long = 0L, leaves: Seq[(String, Long, Long, Map[String, Double])] = Nil)

/** Sizes that differ between a measured run (`full`) and the counter
  * repeatability test (`small`).
  */
final case class Scale(small: Boolean) {
  def pick[A](full: A, smallV: A): A = if (small) smallV else full
}

final class Ctx(val spark: SparkSession, val seed: Long, val work: Path,
    val scale: Scale, val tracer: Tracer)

/** A workload: closed loop, one client. `setup` generates the inputs and
  * builds the initial state; `warmupOps` operations then run untimed; each
  * `run` performs the next operation of the pattern; `check` compares the final
  * state with values recorded by the generator or a fresh reference
  * computation, returning one message per mismatch.
  */
abstract class Workload(val ctx: Ctx) {
  def primary: String
  def aux: String
  def warmupOps: Int
  /** Operations in one cycle of the workload's primary/aux pattern. */
  def period: Int = 2
  def setup(): Unit
  def run(): Sample
  def check(): Seq[String]
  def describe: Map[String, Any]
  /** Extra layer measurements taken after a traced primary operation,
    * outside its timed window.
    */
  def probe(s: Sample): Map[String, Double] = Map.empty
  /** The AtomicWarehouse whose commit counters the traced run samples. */
  def warehouse: Option[AtomicWarehouse] = None
  def close(): Unit = ()

  protected def spark: SparkSession = ctx.spark
  protected def call[A](name: String)(body: => A): A = ctx.tracer.call(name)(body)
}

object Workloads {
  /** Seconds of a parse-only pass and of a parse+transform pass over one
    * price list, both into the noop sink: `sources.parse_s` and
    * `functions.kernel_s` (the difference). Each pass runs once untimed (plan
    * code generation) and then twice; the faster timing of each counts.
    */
  def parseAndKernel(spark: SparkSession, path: String): Map[String, Double] = {
    def timed(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def best(df: => DataFrame): Double = { timed(df); math.min(timed(df), timed(df)) }
    val parse = best(CsvSource.readPath(spark, path))
    val full = best(transformed(spark, path))
    Map("sources.parse_s" -> parse, "functions.kernel_s" -> (full - parse))
  }

  def transformed(spark: SparkSession, path: String): DataFrame =
    TransformPipeline(Canonicalize.canonicalize(Canonicalize.dropJunkColumns(
      CsvSource.readPath(spark, path))))

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ingest_files" => new IngestFiles(ctx)
    case "transform_bulk" => new TransformBulk(ctx)
    case "corpus_stream" => new CorpusStream(ctx)
    case "corpus_sync" => new CorpusSync(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))

  def docsFrame(spark: SparkSession, docs: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(docs.map { case (i, t) => Row(i, t) }.asJava, docSchema)
}

/** Fresh price lists through `Pipeline.processCsvPath` on an
  * AtomicWarehouse, each followed by one replay of a random earlier file name
  * (at-least-once delivery), which the ledger must skip. Every fresh file has
  * the row count of the reference's one real price list, so fresh latencies
  * compare whatever number of them fits in the window.
  */
final class IngestFiles(ctx: Ctx) extends Workload(ctx) {
  val primary = "fresh"
  val aux = "replay"
  val warmupOps: Int = 1
  private val files = 12
  private val rowsPerFile = ctx.scale.pick(1467, 150)
  private val repricePct = 60
  private val unparseablePct = 3
  private val probeRows = ctx.scale.pick(200000, 20000)

  private var wh: AtomicWarehouse = _
  private var pipeline: Pipeline = _
  private var lists: Vector[Gen.PriceFile] = _
  private var nextFresh = 0
  private var ops = 0
  private val rnd = new SplittableRandom(ctx.seed ^ 0x1e57L)
  // generated on the first probe, so only traced runs pay for it
  private lazy val probeFile = Gen.bulkPriceList(ctx.seed,
    ctx.work.resolve("probe/lista_precios.csv"), probeRows, unparseablePct)

  // the kernels see too few rows in one ingested file to time them; the
  // probe times them on a large generated price list instead
  override def probe(s: Sample): Map[String, Double] =
    Workloads.parseAndKernel(spark, probeFile.path.toString)

  override def warehouse: Option[AtomicWarehouse] = Option(wh)

  def describe: Map[String, Any] = Map("files_generated" -> files, "rows_per_file" -> rowsPerFile,
    "reprice_pct" -> repricePct, "unparseable_price_pct" -> unparseablePct,
    "replays_per_fresh_file" -> 1, "fresh_ingested" -> nextFresh,
    "seeded_providers" -> Gen.seededSynonyms.size, "probe_rows" -> probeRows)

  def setup(): Unit = {
    wh = new AtomicWarehouse(spark, ctx.work.resolve("wh").toString)
    val now = new java.sql.Timestamp(0L)
    val seeded = Gen.seededSynonyms.zipWithIndex
    wh.append("dims/Provider", spark.createDataFrame(
      seeded.map { case ((c, _), i) => Row(i + 1, c, now) }.asJava, Schemas.provider))
    wh.append("lookup/ProviderSynonym", spark.createDataFrame(
      seeded.map { case ((_, s), i) => Row(i + 1, s, i + 1) }.asJava, Schemas.providerSynonym))
    lists = Gen.priceLists(ctx.seed, ctx.work.resolve("incoming"), files, rowsPerFile,
      repricePct, unparseablePct)
    pipeline = new Pipeline(spark, wh)
  }

  def run(): Sample = {
    ops += 1
    if (ops % 2 == 0) {
      val f = lists(rnd.nextInt(nextFresh))
      val t0 = System.nanoTime()
      val r = call("Pipeline.processCsvPath")(pipeline.processCsvPath(f.path.toString))
      Sample(aux, (System.nanoTime() - t0) / 1e9, 0L,
        r.status && r.message.contains("already processed"), f.bytes)
    } else {
      require(nextFresh < lists.size, "ran out of generated price lists")
      val f = lists(nextFresh)
      nextFresh += 1
      val t0 = System.nanoTime()
      val r = call("Pipeline.processCsvPath")(pipeline.processCsvPath(f.path.toString))
      Sample(primary, (System.nanoTime() - t0) / 1e9, f.rows.toLong,
        r.status && !r.message.contains("skipping"), f.bytes)
    }
  }

  def check(): Seq[String] = {
    val done = lists.take(nextFresh)
    val errs = mutable.ArrayBuffer[String]()
    val ledger = new Ledger(wh).all().select("FileName", "StatusId").collect()
      .map(r => (r.getString(0), r.getInt(1)))
    val success = ledger.filter(_._2 == Schemas.FileStatus.Success).groupBy(_._1).map { case (k, v) => k -> v.length }
    done.foreach { f =>
      val n = success.getOrElse(f.path.getFileName.toString, 0)
      if (n != 1) errs += s"ledger: ${f.path.getFileName} has $n Success rows, expected 1"
    }
    if (ledger.length != done.size)
      errs += s"ledger: ${ledger.length} attempt rows for ${done.size} fresh files (replays must add none)"
    val providers = (Gen.seededSynonyms.map(_._1) ++ done.flatMap(_.providers)).distinct.size
    val products = done.flatMap(_.products).distinct.size
    val pairs = done.flatMap(f => f.providers.zip(f.products)).distinct.size
    def count(t: String, s: StructType) = wh.read(t, s).count()
    Seq(("dims/Provider", Schemas.provider, providers.toLong),
      ("dims/Product", Schemas.product, products.toLong),
      ("dims/Provider_Product", Schemas.providerProduct, pairs.toLong)).foreach { case (t, s, want) =>
      val got = count(t, s)
      if (got != want) errs += s"$t has $got rows, generator emitted $want distinct"
    }
    errs.toSeq
  }
}

/** One large price list through CsvSource → Canonicalize → TransformPipeline
  * → noop sink, alternating with a parse-only pass over the same file.
  */
final class TransformBulk(ctx: Ctx) extends Workload(ctx) {
  val primary = "transform"
  val aux = "parse"
  val warmupOps: Int = ctx.scale.pick(4, 2)
  private val rows = ctx.scale.pick(200000, 20000)
  private val unparseablePct = 3
  private var file: Gen.PriceFile = _
  private var ops = 0

  def describe: Map[String, Any] = Map("rows" -> rows, "bytes" -> file.bytes,
    "unparseable_price_pct" -> unparseablePct)

  def setup(): Unit =
    file = Gen.bulkPriceList(ctx.seed, ctx.work.resolve("bulk/lista_precios.csv"), rows, unparseablePct)

  private def transformed(): DataFrame =
    call("CsvSource+TransformPipeline")(Workloads.transformed(spark, file.path.toString))

  override def probe(s: Sample): Map[String, Double] =
    Workloads.parseAndKernel(spark, file.path.toString)

  def run(): Sample = {
    ops += 1
    val t0 = System.nanoTime()
    if (ops % 2 == 1) {
      val df = transformed()
      call("noop sink")(df.write.format("noop").mode("overwrite").save())
      Sample(primary, (System.nanoTime() - t0) / 1e9, rows.toLong, ok = true, file.bytes)
    } else {
      val df = call("CsvSource.readPath")(CsvSource.readPath(spark, file.path.toString))
      call("noop sink")(df.write.format("noop").mode("overwrite").save())
      Sample(aux, (System.nanoTime() - t0) / 1e9, rows.toLong, ok = true, file.bytes)
    }
  }

  def check(): Seq[String] = {
    val r = transformed().agg(count(lit(1)), count(when(col("IsValidPrice"), 1)),
      sum(col("CleanPrice"))).head()
    val sumGot = if (r.isNullAt(2)) BigDecimal(0) else BigDecimal(r.getDecimal(2))
    Seq(
      (r.getLong(0) != rows) -> s"row count ${r.getLong(0)} != generated $rows",
      (r.getLong(1) != file.validPrices) -> s"valid prices ${r.getLong(1)} != generated ${file.validPrices}",
      (sumGot != BigDecimal(file.priceSum)) -> s"CleanPrice sum $sumGot != generated ${file.priceSum}")
      .collect { case (true, m) => m }
  }
}

/** Documents with planted near-duplicate clusters delivered to
  * `DedupStream.start` one file per micro-batch; the next file is dropped
  * only after the previous batch committed. Each batch is followed by three
  * lookups of the pairs it produced.
  */
final class CorpusStream(ctx: Ctx) extends Workload(ctx) {
  val primary = "batch"
  val aux = "lookup"
  val warmupOps: Int = 2
  override val period = 4
  private val files = ctx.scale.pick(24, 10)
  private val docsPerFile = ctx.scale.pick(100, 40)
  private val words = 120
  private val nearPct = 12
  private val tightPct = 70

  private var wh: AtomicWarehouse = _
  private var dedup: DedupStream = _
  private var corpus: Vector[Vector[Gen.Doc]] = _
  private var planted: Vector[Gen.Planted] = _
  private var fileBytes: Vector[Long] = _
  private val srcDir = ctx.work.resolve("stream_src")
  private val watchDir = ctx.work.resolve("stream_in")
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _
  private val progress = new LinkedBlockingQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  private var listener: StreamingQueryListener = _
  private var dropped = 0
  private var lastBatch = -1
  private var ops = 0

  override def warehouse: Option[AtomicWarehouse] = Option(wh)

  def describe: Map[String, Any] = Map("files_generated" -> files, "docs_per_file" -> docsPerFile,
    "words_per_doc" -> words, "near_dup_pct" -> nearPct, "tight_pct_of_near" -> tightPct,
    "files_dropped" -> dropped, "planted_pairs" -> planted.size,
    "planted_tight_min_jaccard" -> planted.filter(_.mustFind).map(_.jaccard).minOption.getOrElse(0.0),
    "planted_loose_mean_jaccard" -> {
      val l = planted.filterNot(_.mustFind).map(_.jaccard); if (l.isEmpty) 0.0 else l.sum / l.size })

  def setup(): Unit = {
    val (c, p) = Gen.streamCorpus(ctx.seed, files, docsPerFile, words, nearPct, tightPct)
    corpus = c; planted = p
    require(planted.filter(_.mustFind).forall(_.jaccard >= 0.97), "tight planted pair below 0.97")
    // one write job lays every file out; each drop then moves one part file
    val rows = corpus.zipWithIndex.flatMap { case (docs, f) => docs.map(d => Row(d.id, d.text, f)) }
    val schema = Workloads.docSchema.add(StructField("f", IntegerType))
    spark.createDataFrame(rows.asJava, schema).repartition(col("f"))
      .write.partitionBy("f").parquet(srcDir.toString)
    fileBytes = (0 until files).map(f => Files.size(partFile(f))).toVector
    Files.createDirectories(watchDir)
    wh = new AtomicWarehouse(spark, ctx.work.resolve("wh").toString)
    dedup = new DedupStream(wh)
    listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) progress.put(e.progress)
    }
    spark.streams.addListener(listener)
    query = dedup.start(watchDir.toString, ctx.work.resolve("checkpoint").toString,
      trigger = Trigger.ProcessingTime(0L))
  }

  private def partFile(f: Int): Path = {
    val d = srcDir.resolve(s"f=$f")
    val s = Files.list(d)
    try s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    finally s.close()
  }

  def run(): Sample = {
    ops += 1
    if (ops % 4 != 1) {
      val docs = corpus(dropped - 1)
      val lo = docs.head.id; val hi = docs.last.id
      val t0 = System.nanoTime()
      val n = call("DedupStream.pairs")(dedup.pairs()
        .filter(col("id_b").between(lo, hi)).count())
      Sample(aux, (System.nanoTime() - t0) / 1e9, n, ok = true)
    } else {
      require(dropped < files, "ran out of generated document files")
      val f = dropped
      val t0 = System.nanoTime()
      val p = call("DedupStream: drop file, await batch commit") {
        Files.move(partFile(f), watchDir.resolve(f"docs_$f%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
        dropped += 1
        progress.poll(120, TimeUnit.SECONDS)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      if (p == null) {
        Option(query.exception).flatten.foreach(e => throw e)
        throw new IllegalStateException(s"no batch committed within 120 s of dropping file $f")
      }
      val ok = p.batchId > lastBatch && p.numInputRows == docsPerFile
      lastBatch = p.batchId.toInt
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() / 1000.0 }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val leaf = ("stream batch " + p.batchId, start, start + p.durationMs.get("triggerExecution"), Map(
        "streaming.trigger_s" -> d.getOrElse("triggerExecution", 0.0),
        "streaming.add_batch_s" -> d.getOrElse("addBatch", 0.0),
        "streaming.wal_commit_s" -> d.getOrElse("walCommit", 0.0),
        "streaming.planning_s" -> d.getOrElse("queryPlanning", 0.0),
        "streaming.floor_s" -> (d.getOrElse("triggerExecution", 0.0) - d.getOrElse("addBatch", 0.0))))
      Sample(primary, secs, docsPerFile.toLong, ok, fileBytes(f), Seq(leaf))
    }
  }

  def check(): Seq[String] = {
    query.stop()
    val errs = mutable.ArrayBuffer[String]()
    Option(query.exception).flatten.foreach(e => errs += s"stream failed: ${e.getMessage}")
    val union = corpus.take(dropped).flatten
    def pairsOf(df: DataFrame) = df.select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = pairsOf(dedup.pairs())
    val batch = pairsOf(Dedup.lshVerifiedPairs(
      Workloads.docsFrame(spark, union.map(d => (d.id, d.text))), "doc_id", "text"))
    if (streamed != batch)
      errs += s"stream pairs (${streamed.size}) != batch Dedup pairs over the union (${batch.size}); " +
        s"only-stream ${(streamed -- batch).take(3)}, only-batch ${(batch -- streamed).take(3)}"
    val found = streamed.map(p => (p._1, p._2))
    val maxId = union.last.id
    val missed = planted.filter(p => p.mustFind && p.b <= maxId)
      .filterNot(p => found.contains((math.min(p.a, p.b), math.max(p.a, p.b))))
    if (missed.nonEmpty) errs += s"${missed.size} planted pairs not found, e.g. ${missed.take(3)}"
    errs.toSeq
  }

  override def close(): Unit = {
    if (query != null && query.isActive) query.stop()
    if (listener != null) spark.streams.removeListener(listener)
  }
}

/** A change-feed corpus table in an AtomicWarehouse: each cycle runs one DML
  * round (mergeInto upserts, updateWhere edits, deleteWhereDv purges) and
  * `FtsSync.sync()`; each cycle is followed by a fixed BM25 query batch on
  * the synced `PersistedPostings`.
  */
final class CorpusSync(ctx: Ctx) extends Workload(ctx) {
  val primary = "cycle"
  val aux = "query"
  val warmupOps: Int = ctx.scale.pick(4, 2)
  private val initialDocs = ctx.scale.pick(3000, 300)
  private val rounds = ctx.scale.pick(60, 12)
  private val touched = ctx.scale.pick(80, 20)
  private val (upsertPct, updatePct) = (50, 25) // the rest of a round deletes
  private val words = 60

  private var wh: AtomicWarehouse = _
  private var fts: PersistedPostings = _
  private var sync: FtsSync = _
  private var queries: DataFrame = _
  private var round = 0
  private var ops = 0
  private var dml: Vector[Round] = _
  private var expectedLive = 0L

  private final case class Round(upserts: Seq[(Long, String)], updates: Seq[Long],
      suffix: String, deletes: Seq[Long], liveAfter: Long)

  override def warehouse: Option[AtomicWarehouse] = Option(wh)

  def describe: Map[String, Any] = Map("initial_docs" -> initialDocs, "rows_per_round" -> touched,
    "upsert_pct" -> upsertPct, "update_pct" -> updatePct, "delete_pct" -> (100 - upsertPct - updatePct),
    "rounds_run" -> round, "words_per_doc" -> words, "queries" -> 20)

  def setup(): Unit = {
    val r = new SplittableRandom(ctx.seed)
    val vocab = Gen.vocabulary(ctx.seed, 2000)
    def doc() = Gen.randomDoc(r, vocab, words).mkString(" ")
    val live = mutable.LinkedHashSet[Long]()
    val init = (0 until initialDocs).map { i => live += i.toLong; (i.toLong, doc()) }
    var nextId = initialDocs.toLong
    def takeLive(n: Int, exclude: Set[Long]): Seq[Long] = {
      val pool = live.iterator.filterNot(exclude).toVector
      val out = mutable.LinkedHashSet[Long]()
      while (out.size < math.min(n, pool.size)) out += pool(r.nextInt(pool.size))
      out.toSeq
    }
    dml = (0 until rounds).map { _ =>
      val nUp = touched * upsertPct / 100
      val nUpd = touched * updatePct / 100
      val nDel = touched - nUp - nUpd
      val upExisting = takeLive(nUp / 2, Set.empty)
      val upNew = (0 until nUp - upExisting.size).map { _ => nextId += 1; nextId }
      val updates = takeLive(nUpd, upExisting.toSet)
      val deletes = takeLive(nDel, (upExisting ++ updates).toSet)
      live ++= upNew; live --= deletes
      Round((upExisting ++ upNew).map(id => (id, doc())), updates, Gen.pickWord(r, vocab),
        deletes, live.size.toLong)
    }.toVector
    queries = spark.createDataFrame((1 to 20).map(q =>
      Row(q.toLong, Seq.fill(2 + q % 2)(Gen.pickWord(r, vocab)).mkString(" "))).asJava,
      StructType(Seq(StructField("q_id", LongType), StructField("qtext", StringType))))

    wh = new AtomicWarehouse(spark, ctx.work.resolve("wh").toString)
    wh.setChangeFeed("corpus", on = true)
    fts = new PersistedPostings(wh)
    fts.build(Workloads.docsFrame(spark, Nil), "doc_id", "text")
    sync = new FtsSync(wh, "corpus", Workloads.docSchema, "doc_id", "text", fts)
    wh.append("corpus", Workloads.docsFrame(spark, init).coalesce(1))
    sync.sync()
    expectedLive = initialDocs.toLong
  }

  def run(): Sample = {
    ops += 1
    val t0 = System.nanoTime()
    if (ops % 2 == 0) {
      val n = call("PersistedPostings.query")(
        fts.query(queries, "q_id", "qtext", k = 10).collect().length)
      Sample(aux, (System.nanoTime() - t0) / 1e9, n.toLong, ok = n > 0)
    } else {
      require(round < dml.size, "ran out of generated DML rounds")
      val d = dml(round)
      round += 1
      val m = call("AtomicWarehouse.mergeInto")(wh.mergeInto("corpus", Workloads.docSchema,
        Workloads.docsFrame(spark, d.upserts), Seq("doc_id")))
      val upd = call("AtomicWarehouse.updateWhere")(wh.updateWhere("corpus", Workloads.docSchema,
        Seq(ColIn("doc_id", d.updates)), Seq("text" -> concat(col("text"), lit(" " + d.suffix)))))
      val del = call("AtomicWarehouse.deleteWhereDv")(wh.deleteWhereDv("corpus", Workloads.docSchema,
        Seq(ColIn("doc_id", d.deletes))))
      call("FtsSync.sync")(sync.sync())
      expectedLive = d.liveAfter
      Sample(primary, (System.nanoTime() - t0) / 1e9, touched.toLong,
        m.updated + m.inserted == d.upserts.size && upd == d.updates.size &&
          del.deleted == d.deletes.size)
    }
  }

  private def topK(f: PersistedPostings) =
    f.query(queries, "q_id", "qtext", k = 10)
      .select(col("q_id"), col("rank").cast("long"), col("id"), col("bm25"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq.sorted

  def check(): Seq[String] = {
    val errs = mutable.ArrayBuffer[String]()
    val liveDf = wh.read("corpus", Workloads.docSchema)
    val live = liveDf.count()
    if (live != expectedLive) errs += s"corpus has $live live rows, generator expects $expectedLive"
    val ref = new PersistedPostings(new AtomicWarehouse(spark, ctx.work.resolve("ref").toString))
    ref.build(liveDf, "doc_id", "text")
    val got = topK(fts); val want = topK(ref)
    if (got != want) errs += s"synced top-k (${got.size} rows) != fresh build over the live corpus " +
      s"(${want.size} rows); first diff ${got.zipAll(want, null, null).find(p => p._1 != p._2)}"
    val n = fts.corpusStats().agg(sum(col("n"))).head().getLong(0)
    if (n != live) errs += s"index N=$n != live corpus $live"
    errs.toSeq
  }
}
