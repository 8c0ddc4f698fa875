package graft.tools

import java.nio.file.Files

import graft.GraftSession
import graft.sources.AtomicWarehouse
import graft.streaming.{DedupStream, ExactDedupStream}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Always-on-stream soak for the transactional dedup paths: drive a dedup
  * stream on an [[AtomicWarehouse]] through N micro-batches (default 50) with
  * inline maintenance ON (compaction + vacuum every `compactEvery`, commit
  * auto-fold), and measure what an always-on deployment cares about — that
  * PER-BATCH cost stays flat as the accumulated corpus, manifest log, and
  * file population grow:
  *
  *   - wall seconds per batch (probe cost must track the batch, not the
  *     corpus; maintenance passes show up as periodic spikes, not a trend)
  *   - manifest files read per batch (the fold cache + auto-fold bound)
  *   - live manifest count and warehouse parquet-file count (the two
  *     unbounded-growth failure modes this exists to rule out)
  *
  * Modes (4th arg): `lsh` soaks [[DedupStream]] (near-dup LSH pipeline,
  * artifact `target/streamsoak.json`), `exact` soaks [[ExactDedupStream]]
  * (content-hash first-arrival-wins dedup, `target/streamsoak_exact.json`);
  * `lsh_bloom`/`exact_bloom` force the respective stream's Bloom routing on
  * from the first batch, so the soak also proves bloom-STATE maintenance
  * (bootstrap, per-batch merge, saturation rebuild, atomic write order)
  * stays flat over a stream lifetime. `sem` soaks
  * [[graft.streaming.SemanticDedupStream]] and `ivf` soaks
  * [[graft.streaming.IvfStream]] — one dim-rotated embeddings replica per
  * micro-batch, cell-sorted compaction + vacuum inline every `compactEvery`;
  * their lost-batch detectors are arrival retention (cell-index rows ≡
  * vectors ingested) and the assignment count / replay high-water respectively
  * (artifacts `target/streamsoak_sem.json` / `_ivf.json`). `fts` soaks
  * [[graft.streaming.FtsStream]] — doc-slice batches into the persisted
  * postings index, term-sorted compaction + vacuum every `compactEvery`;
  * its lost-batch detector is the strongest of the set: the streamed
  * index's BM25 ranking must equal inline bm25 over everything ingested
  * (N/df/tf/dl all participate) plus stats-n ≡ ingested-docs
  * (`target/streamsoak_fts.json`).
  *
  * Batches are id-ordered slices of the sf dir's documents — the same data
  * shape as the `dedup_stream`/`dedup_exact_stream` driver queries, ~50×
  * longer. Emits one JSON line per batch to stdout AND the artifact file,
  * then a summary line comparing early vs late per-batch medians (the
  * BASELINE.md artifact).
  *
  * Ops-day hook: `SPARK_GRAFT_SOAK_WH` pins the warehouse directory so a
  * SECOND process (`tools/Maintain` in its own JVM) can run out-of-band
  * maintenance against the LIVE warehouse mid-soak — the cross-process
  * publish claim, snapshot CAS, conflict-checked compaction, and vacuum
  * grace window are exactly the machinery that must hold. The exact-mode
  * summary's `survivors` count is the lost-batch detector: it must equal
  * the corpus's distinct-text count whether or not maintenance ran.
  */
object StreamSoak {
  private def median(ts: Seq[Double]): Double = {
    val s = ts.sorted
    if (s.isEmpty) 0 else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nBatches = if (args.length > 1) args(1).toInt else 50
    val compactEvery = if (args.length > 2) args(2).toInt else 10
    val mode = if (args.length > 3) args(3) else "lsh"
    require(Set("lsh", "exact", "lsh_bloom", "exact_bloom", "sem", "ivf", "fts")(mode),
      s"mode must be lsh|exact|lsh_bloom|exact_bloom|sem|ivf|fts, got '$mode'")
    val spark = GraftSession.builder().appName(s"stream-soak-$mode").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val whDir = sys.env.getOrElse("SPARK_GRAFT_SOAK_WH",
      Files.createTempDirectory(s"graft-soak-wh-$mode-").toString)
    // soak-scaled vacuum grace: a deployment running for days uses the 1 h
    // default; a minutes-long soak needs a grace that actually expires to
    // show garbage being COLLECTED, not merely deferred
    val wh = new AtomicWarehouse(spark, whDir, vacuumGraceMs = 15000)
    // embedding-stream soak input: base embeddings dim-rotated per replica
    // (distinct vectors, ids offset per replica — the ScaleProbe salting);
    // one replica per micro-batch
    lazy val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def rot(i: Int): DataFrame = {
      val r = i % 63 + 1
      if (i == 0) emb0
      else emb0.select((col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
        concat(slice(col("embedding"), r + 1, 10000),
          slice(col("embedding"), 1, r)).as("embedding"))
    }

    // *_bloom: the routed path forced on from batch 1 — the soak then also
    // exercises per-batch bloom-state maintenance (read, merge, atomic
    // replace) for the stream's whole lifetime, not just a 3-batch drain.
    // `sem`/`ivf` soak the embedding streams: one dim-rotated replica per
    // batch, maintenance (cell-sorted compaction + vacuum) inline every
    // `compactEvery` like the doc streams do internally
    val (process, tables, maintain): (DataFrame => Unit, Seq[String], () => Unit) =
      mode match {
        case "lsh" | "lsh_bloom" =>
          val ds = new DedupStream(wh, minJaccard = 0.35, minSigMatchesOverride = 4,
            compactEvery = compactEvery, probeMinIndexBytes = 1024,
            bloomMinIndexBytes = if (mode == "lsh_bloom") 0 else 64L << 20)
          (ds.processBatch(_),
            Seq(ds.indexTable, ds.bandTable, ds.corpusTable, ds.pairsTable),
            () => ())
        case "exact" | "exact_bloom" =>
          val xs = new ExactDedupStream(wh, compactEvery = compactEvery,
            bloomMinIndexBytes = if (mode == "exact_bloom") 0 else 64L << 20)
          (xs.processBatch(_), Seq(xs.indexTable, xs.corpusTable), () => ())
        case "sem" =>
          val sd = new graft.streaming.SemanticDedupStream(wh, minCosine = 0.45)
          sd.init(emb0.orderBy("vec_id").limit(160) // √(50×500) ≈ 158 cells
            .select(col("vec_id").cast("int").as("cell"),
              col("embedding").as("centroid")))
          var b = -1L
          ({ df => b += 1; sd.processBatch(df, b) },
            Seq(sd.indexTable, sd.survivorsTable), () => sd.compactAll())
        case "fts" =>
          // postings maintenance: per-batch tokenize + guarded admit; the
          // flat-cost claim is that admit wall tracks the BATCH while the
          // postings table grows; maintenance = term-sorted compaction
          val fs = new graft.streaming.FtsStream(wh)
          fs.fts.build(spark.read.parquet(s"$sfDir/documents.parquet")
            .select(col("doc_id").cast("long").as("doc_id"), col("text")).limit(0),
            "doc_id", "text")
          var b = -1L
          ({ df => b += 1; fs.processBatch(df, b) },
            Seq(fs.fts.postingsTable, fs.fts.statsTable),
            () => { fs.fts.compact(targetFiles = 4); wh.vacuum() })
        case _ =>
          val st = new graft.streaming.IvfStream(wh)
          st.ivf.buildWith(rot(0), "vec_id", "embedding",
            emb0.orderBy("vec_id").limit(160).select(col("vec_id").cast("int").as("cell"),
              col("embedding").as("centroid")))
          var b = -1L
          ({ df => b += 1; st.processBatch(df, b) },
            Seq(st.ivf.assignTable, st.ivf.statsTable),
            () => { st.ivf.compact(); wh.vacuum() })
      }

    lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lazy val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    lazy val per = (maxId + nBatches) / nBatches
    val embMode = mode == "sem" || mode == "ivf"
    // modes whose maintenance is an external hook rather than stream-inline
    val externalMaintain = embMode || mode == "fts"
    def batchOf(i: Int): DataFrame =
      if (embMode) rot(i + 1)
      else docs.filter(col("doc_id") >= i * per && col("doc_id") < (i + 1) * per)

    def parquetFiles(): Long = {
      val s = Files.walk(java.nio.file.Paths.get(whDir))
      try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
    }
    // "manifests" = the LIVE tail (latest snapshot + later commits — what
    // every read folds); superseded manifests below the snapshot linger
    // until vacuum's grace-windowed GC and cost readers nothing
    def manifests(): Long = {
      val log = java.nio.file.Paths.get(whDir, "_txlog")
      if (!Files.isDirectory(log)) 0
      else {
        val s = Files.list(log)
        val names = try s.map[String](_.getFileName.toString)
          .filter(_.matches("v\\d{8}(\\.snap)?\\.tsv")).sorted.toArray.toSeq.map(_.toString)
        finally s.close()
        (names.size - names.lastIndexWhere(_.endsWith(".snap.tsv")).max(0)).toLong
      }
    }

    val out = new StringBuilder
    def emit(line: String): Unit = { println(line); out.append(line).append('\n') }

    val wall = (0 until nBatches).map { i =>
      val batch = batchOf(i)
      val mr0 = wh.manifestReads.get()
      val t0 = System.nanoTime()
      process(batch) // the exact path foreachBatch drives
      if (externalMaintain && compactEvery > 0 && (i + 1) % compactEvery == 0) maintain()
      val sec = (System.nanoTime() - t0) / 1e9
      val visible = tables.map(t => wh.visibleFileCount(t).max(0)).sum
      emit(f"""{"tool":"streamsoak","mode":"$mode","batch":$i,"sec":$sec%.2f,"manifest_reads":${wh.manifestReads.get() - mr0},"manifests":${manifests()},"visible_files":$visible,"parquet_files":${parquetFiles()}}""")
      sec
    }
    val early = median(wall.slice(5, 15))
    val late = median(wall.slice(nBatches - 10, nBatches))
    val finalVisible = tables.map(t => wh.visibleFileCount(t).max(0)).sum
    // mode-specific result integrity: LSH reports the near-dup pair count;
    // exact reports survivors AND the batch-invariant truth it must equal
    // (distinct text count over everything ingested) — if an out-of-band
    // maintenance pass lost a racing batch, these two numbers diverge
    val resultJson = mode match {
      case "sem" =>
        // arrival retention is the lost-batch detector: the cell index must
        // hold EVERY ingested vector, admitted or not
        val sd = new graft.streaming.SemanticDedupStream(wh, minCosine = 0.45)
        val (idx, surv) = (sd.index().count(), sd.survivors().count())
        val expected = emb0.count() * nBatches
        assert(idx == expected, s"LOST BATCH: index $idx != ingested $expected")
        s""""index_rows":$idx,"survivors":$surv,"expected_ingested":$expected"""
      case "ivf" =>
        val ivf = new graft.operators.PersistedIvf(wh)
        // batch ids 0 … nBatches − 1: the replay high-water counts them
        val (n, led) = (ivf.assignments().count(), ivf.lastIngested.fold(0L)(_ + 1L))
        val expected = emb0.count() * (nBatches + 1) // + the built replica 0
        assert(n == expected, s"LOST BATCH: assignments $n != expected $expected")
        assert(led == nBatches, s"high-water covers $led batches != $nBatches")
        s""""assignments":$n,"ledger_batches":$led,"expected_ingested":$expected"""
      case "fts" =>
        // lost-batch detector: the streamed index must rank EXACTLY like
        // inline bm25 over everything ingested — N/df/tf/dl all participate,
        // so a lost or double-counted batch cannot hide
        val fts = new graft.operators.PersistedPostings(wh)
        val ingested = docs.filter(col("doc_id") < nBatches * per)
        val queries = spark.createDataFrame(java.util.Arrays.asList(
            org.apache.spark.sql.Row(1L, "merge join order sort"),
            org.apache.spark.sql.Row(2L, "vector window stream")),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("q_id",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("qtext",
              org.apache.spark.sql.types.StringType, nullable = true))))
        def rows(df: DataFrame) = df.collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
        val streamed = rows(fts.query(queries, "q_id", "qtext", 10))
        val inline = rows(graft.operators.Retrieval.bm25(
          ingested, "doc_id", "text", queries, "q_id", "qtext", 10))
        assert(streamed == inline,
          s"LOST/DOUBLED BATCH: streamed index ranking != inline bm25")
        val nIndexed = fts.corpusStats().agg(sum(col("n"))).head().getLong(0)
        val nIngested = ingested.count()
        assert(nIndexed == nIngested,
          s"LOST BATCH: stats n $nIndexed != ingested $nIngested")
        s""""indexed_docs":$nIndexed,"postings_rows":${fts.postings().count()}"""
      case "lsh" | "lsh_bloom" =>
        val ds = new DedupStream(wh, minJaccard = 0.35, minSigMatchesOverride = 4)
        val bloomJson = if (mode == "lsh_bloom") {
          val st = ds.readBloomState().getOrElse(
            sys.error("band bloom state missing after soak"))
          s""","bloom_n_items":${st._2}"""
        } else ""
        s""""pairs":${ds.pairs().count()}$bloomJson"""
      case _ =>
        val xs = new ExactDedupStream(wh)
        val survivors = xs.survivors().count()
        val expected = docs.filter(col("doc_id") < nBatches * per)
          .select(coalesce(sha2(col("text"), 256), lit("__null_text__"))).distinct().count()
        assert(survivors == expected,
          s"LOST BATCH: $survivors survivors != $expected distinct texts")
        val bloomJson = if (mode == "exact_bloom") {
          val st = xs.readBloomState().getOrElse(
            sys.error("exact bloom state missing after soak"))
          s""","bloom_n_items":${st._2}"""
        } else ""
        s""""survivors":$survivors,"expected_distinct":$expected$bloomJson"""
    }
    emit(f"""{"tool":"streamsoak","mode":"$mode","summary":true,"sf":"$sfDir","batches":$nBatches,"compact_every":$compactEvery,"early_median_sec":$early%.2f,"late_median_sec":$late%.2f,"late_over_early":${late / early}%.2f,"final_manifests":${manifests()},"final_visible_files":$finalVisible,"final_parquet_files":${parquetFiles()},$resultJson}""")

    val p = java.nio.file.Paths.get(mode match {
      case "lsh"         => "target/streamsoak.json"
      case "exact"       => "target/streamsoak_exact.json"
      case "lsh_bloom"   => "target/streamsoak_lshbloom.json"
      case "exact_bloom" => "target/streamsoak_exactbloom.json"
      case "sem"         => "target/streamsoak_sem.json"
      case "fts"         => "target/streamsoak_fts.json"
      case _             => "target/streamsoak_ivf.json"
    })
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, out.toString.getBytes("UTF-8"))
    spark.stop()
  }
}
