package graft.streaming

import graft.operators.Dedup
import graft.sources.{AtomicWarehouse, Warehouse}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructField, StructType}

/** Streaming incremental near-dup detection: each micro-batch of documents is
  * deduped against the corpus-so-far through the persisted signature index
  * ([[Dedup.incrementalLshVerifiedPairs]]), then the batch's documents and
  * signatures are admitted to the corpus. Per-batch cost scales with the
  * batch and its bucket collisions, never with accumulated corpus size — the
  * shape that keeps continuous-ingest dedup sustainable at 100 TB.
  *
  * Invariant (proved by DedupStreamSpec and the `dedup_stream` driver
  * oracle): every pair (a, b) is emitted exactly once — in the micro-batch
  * that contains its LATER document — so after draining, the accumulated
  * pairs table equals a from-scratch [[Dedup.lshVerifiedPairs]] run over the
  * full corpus, regardless of how ingestion was batched.
  *
  * Signatures are computed ONCE per batch and serve both the join and the
  * index append. Idempotency: the Spark checkpoint gives at-most-once file
  * discovery, and the batch's writes run inside ONE `atomically` section:
  * the whole batch commits as one manifest and a crash anywhere leaves the
  * prior snapshot, so a checkpoint replay admits the batch exactly once
  * (CrashConsistencySpec). The writes stage CONCURRENTLY; on a failure the
  * siblings are awaited to completion before the error propagates.
  *
  * ==Bloom routing==
  * Same lifecycle as [[ExactDedupStream]]'s: once the band table crosses
  * `bloomMinIndexBytes` (0 = from the first batch; negative = never
  * BOOTSTRAP — an already-persisted filter is still loaded, routed, and
  * maintained, since ignoring it would let the state go stale and plant
  * false negatives on re-enable) the
  * stream bootstraps a Bloom filter over its KEYS, persists it as a 1-row
  * table, and updates it in the same atomic admit. Batches
  * then route through `Dedup.incrementalLshVerifiedPairs(bandBloom = ...)`:
  * bloom-negative fresh band keys (novel content — the common case) skip
  * the corpus probe entirely; pairs are identical at any fpp because the
  * bloom routes candidates, never decides matches.
  *
  * `compactEvery` = N > 0 compacts all four tables every N micro-batches
  * (see [[compactAll]]): each append lands ≥1 file per table, so an
  * always-on stream otherwise accretes thousands of tiny parquet files and
  * scan PLANNING (listing + footer reads) becomes the per-batch floor. 0
  * disables the automatic pass for callers that schedule [[compactAll]] as
  * out-of-band maintenance instead. The pass bounds VISIBLE files, not
  * storage: its vacuum keeps compacted-away files for the warehouse's
  * `vacuumGraceMs` (1 h by default — the safety margin for readers racing
  * the rewrite), so an always-on stream also holds one grace window of
  * superseded files on disk (50 two-doc batches at N = 5 left 291 parquet
  * files beside ≤ 40 visible ones).
  */
class DedupStream(wh: AtomicWarehouse, k: Int = 5, numHashes: Int = 8,
    rowsPerBand: Int = 2, minJaccard: Double = 0.5, minSigMatchesOverride: Int = -1,
    compactEvery: Int = 0,
    probeKeyLimit: Int = 1000, pointLookupMaxIds: Int = 1000,
    probeMinIndexBytes: Long = 256L << 20,
    bloomMinIndexBytes: Long = 64L << 20,
    bloomFpp: Double = 0.01, bloomInitialCapacity: Long = 1L << 20) {

  val indexTable = "dedup/SignatureIndex"
  val bandTable = "dedup/BandIndex"
  val corpusTable = "dedup/Corpus"
  val pairsTable = "dedup/NearDupPairs"
  val bloomTable = "dedup/BandBloomState"

  // the index LAYOUT contract — public so maintenance tools (ScaleProbe,
  // external compaction) can read the tables with the exact stored schemas
  val sigSchema = StructType(StructField("doc_id", LongType, nullable = false) +:
    (0 until numHashes).map(i => StructField(s"mh$i", LongType, nullable = true)))
  // band rows CARRY the doc's full signature (mh0..mh{n-1} after `key`):
  // the signature similarity pre-filter then runs INLINE in the per-batch
  // band join — the vocabulary-collision false-positive tail (~1000:1 over
  // true candidates at sf0.1) is rejected before the candidate distinct,
  // and the per-batch plan stops joining the signature index twice. Layout
  // v2: a band table persisted by the pre-carry layout must be reindexed
  // (or read with the 3-column prefix) — the stream always writes v2.
  val bandSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("band", IntegerType, nullable = false),
    StructField("key", StringType, nullable = true)) ++
    (0 until numHashes).map(i => StructField(s"mh$i", LongType, nullable = true)))
  val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))
  private val pairSchema = StructType(Seq(
    StructField("id_a", LongType, nullable = false),
    StructField("id_b", LongType, nullable = false),
    StructField("jaccard", DoubleType, nullable = true)))
  val bloomSchema: StructType = StructType(Seq(
    StructField("capacity", LongType, nullable = false),
    StructField("n_items", LongType, nullable = false),
    StructField("bloom", org.apache.spark.sql.types.BinaryType, nullable = false)))

  /** The size-adaptive probe decision: point-probe limits apply only once
    * the persisted index outgrows `probeMinIndexBytes`; under it, (0, 0)
    * selects the full-scan path. Factored out so the gate itself is
    * unit-testable without driving a stream to 256 MB.
    */
  def effectiveProbeLimits(indexBytes: Long): (Int, Int) =
    if (indexBytes >= probeMinIndexBytes) (probeKeyLimit, pointLookupMaxIds)
    else (0, 0)

  /** Dedup one micro-batch against the corpus-so-far, append the discovered
    * pairs, and admit the batch (docs + signatures).
    */
  def processBatch(batch0: DataFrame): Unit = {
    // phase labels (guide §1.5): foreachBatch runs on the stream thread, so
    // the description is thread-local to exactly this batch's jobs — the UI
    // and job-listener probes can attribute per-batch cost to its phase
    def phase(name: String): Unit =
      wh.spark.sparkContext.setJobDescription(s"dedup-stream: $name")
    val batch = batch0
      .select(col("doc_id").cast(LongType).as("doc_id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batchSigs = Dedup.minhashSignatures(batch, "doc_id", "text", k, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the signature cache NOW, at the spread parallelism
    // minhashSignatures chose (a 1-file micro-batch otherwise computes its
    // md5-per-shingle scan serially inside whichever consumer runs first —
    // and the admit writes below coalesce to one file per table, which
    // would collapse an unmaterialized cache's compute to one task too)
    phase("signature scan")
    batchSigs.count()
    val batchBands = Dedup.bandKeys(batchSigs, "doc_id", numHashes, rowsPerBand,
      carrySigs = true)
    // persistCorpusSigs=false: the index is already a parquet table — its
    // consumers re-scan it narrowly instead of materializing the whole
    // accumulated index into executor memory every batch. The corpus side
    // of the band join reads the PERSISTED band table (stored join column,
    // key-sorted files): row-group stats + runtime bloom filters prune the
    // probe toward the matched buckets, so per-batch cost tracks the batch,
    // not the accumulated corpus.
    // probeKeyLimit / pointLookupMaxIds: the batch's band keys and the
    // matched candidate ids are pushed into the three index reads as literal
    // In predicates, so on key-/id-sorted index files the per-batch reads
    // prune to the matched row groups instead of the whole accumulated
    // corpus (see the scaladoc on Dedup.incrementalLshVerifiedPairs;
    // ScaleProbe measures the effect). The probe is gated on index SIZE:
    // collecting keys/ids costs two extra driver jobs per batch (~4 s
    // measured at sf0.1 over 3 batches), which only pays for itself once
    // index scan I/O dominates — below `probeMinIndexBytes` the whole index
    // is a handful of row groups and the full scan is strictly cheaper.
    // Bloom over the persisted band table's KEYS, mirroring
    // ExactDedupStream's lifecycle: an existing filter MUST be used and
    // maintained — skipping a batch's keys would plant false negatives —
    // while the size gate only decides when to BOOTSTRAP (one band-table
    // scan, amortized once). Negative `bloomMinIndexBytes` disables
    // bootstrap ONLY: an already-persisted filter is still loaded, routed,
    // and maintained (ignoring it would let the state go stale and plant
    // false negatives on re-enable). The persisted row is read once per
    // stream lifetime, not per batch — processBatch runs sequentially on
    // the stream thread, so the in-memory copy IS the state between
    // batches, and the table only needs re-reading after a failed commit
    // (cache invalidated below) or a restart (fresh object).
    if (!bloomLoaded) { bloomCache = readBloomState(); bloomLoaded = true }
    val bloomState = bloomCache.orElse {
      if (bloomMinIndexBytes >= 0 && wh.sizeBytes(bandTable) >= bloomMinIndexBytes) {
        val keys = wh.read(bandTable, bandSchema).select(col("key"))
        val n = keys.count()
        val cap = math.max(bloomInitialCapacity, n * 2)
        Some((cap, n, buildBloom(keys, cap)))
      } else None
    }
    val (keyLim0, idLim) = effectiveProbeLimits(
      wh.sizeBytes(bandTable) + wh.sizeBytes(indexTable))
    // bloom routing rides the literal key probe (Dedup scaladoc): with a
    // filter present the probe is always on — the maybe-list IS the routing
    val keyLim = if (bloomState.isDefined) math.max(keyLim0, probeKeyLimit) else keyLim0
    val (pairs, releaseCandidates) = Dedup.incrementalLshPairsReleasable(
      wh.read(corpusTable, docSchema), wh.read(indexTable, sigSchema), batch,
      "doc_id", "text", k, numHashes, rowsPerBand, minJaccard,
      minSigMatchesOverride, freshSigsPre = Some(batchSigs),
      persistCorpusSigs = false,
      corpusBandsPre = Some(wh.read(bandTable, bandSchema)),
      probeKeyLimit = keyLim, pointLookupMaxIds = idLim,
      bandBloom = bloomState.map(_._3),
      corpusBandsCarrySigs = true)
    // bloom maintenance: the batch's band keys merge in, with a 2× rebuild
    // from band-table ∪ batch at saturation so the fpp stays honest as the
    // corpus grows
    phase("bloom maintenance")
    val newBloomRow = bloomState.map { case (cap, n, bf) =>
      // count + build in ONE pass over the batch keys (the separate
      // batchBands.count() job was half the forced-on mode's per-batch
      // overhead at sf0.1)
      val (batchBf, nNew) = buildBloomCounting(batchBands.select(col("key")), cap)
      val newN = n + nNew
      if (newN > cap) {
        val ncap = math.max(cap * 2, newN * 2)
        (ncap, newN, buildBloom(wh.read(bandTable, bandSchema).select(col("key"))
          .unionByName(batchBands.select(col("key"))), ncap))
      } else {
        // same (capacity, fpp) → identical bit layout → mergeable
        if (nNew > 0) bf.mergeInPlace(batchBf)
        (cap, newN, bf)
      }
    }
    try {
      // the batch's writes form ONE transaction and stage concurrently
      // (their job latencies collapse into one wave — the per-batch harness
      // overhead is the dominant cost of small micro-batches). Write order
      // is moot: reads resolve the pre-transaction manifest (staged files
      // are invisible, so the pairs probe never sees the batch's own
      // signatures) and the commit is all-or-nothing (the bloom can never
      // lag the band index it routes for)
      wh.atomically { w =>
        phase("admit appends")
        Warehouse.settleAll(wh.spark, Seq(
          // coalesce(1): the spread signature cache is already materialized
          // (count above), so each admit lands ONE file per table per batch —
          // the pre-spread layout — instead of one per compute partition
          () => w.append(indexTable, batchSigs.coalesce(1)),
          // key-sorted within files so parquet min/max stats stay tight per group
          () => w.append(bandTable,
            batchBands.coalesce(1).sortWithinPartitions("key")),
          () => w.append(corpusTable, batch)) ++
          newBloomRow.map { case (cap, n, bf) =>
            () => w.replace(bloomTable, bloomRowDf(cap, n, bf)) }.toSeq :+
          (() => { phase("pairs compute+append"); w.append(pairsTable, pairs) }))
      }
      // the committed filter now matches the persisted row — keep it as the
      // state for the next batch (no per-batch re-read)
      bloomCache = newBloomRow.orElse(bloomCache)
    } catch {
      // a failed commit leaves table vs memory in an unknown relation
      // (mergeInPlace already mutated the cached filter) — reload from the
      // persisted row before the checkpoint retries
      case e: Throwable => bloomLoaded = false; bloomCache = None; throw e
    } finally {
      releaseCandidates()
      batchSigs.unpersist(false)
      batch.unpersist(false)
      wh.spark.sparkContext.setJobDescription(null)
    }
    batchesSinceCompact += 1
    if (compactEvery > 0 && batchesSinceCompact >= compactEvery) {
      compactAll()
      batchesSinceCompact = 0
    }
  }

  // foreachBatch runs batches sequentially on the stream thread, so a plain
  // var is safe; the counter is per-run (a restart recompacts after N more)
  private var batchesSinceCompact = 0

  // bloom state cache: the persisted row is re-read only on the first batch
  // of this object's life or after a failed commit (same sequential-stream
  // argument as the counter above). `bloomLoaded` distinguishes "not read
  // yet" from "read, and absent".
  private var bloomLoaded = false
  private var bloomCache: Option[(Long, Long, org.apache.spark.util.sketch.BloomFilter)] = None

  /** Insert `keys` into a fresh filter AND count them in one distributed
    * pass (`stat.bloomFilter` + a separate `count()` is two). Null keys are
    * counted but not inserted — exactly `stat.bloomFilter`'s null handling,
    * keeping the soak's `n_items = docs × bands` ledger intact. The RDD hop
    * is the same treeAggregate `stat.bloomFilter` itself performs.
    */
  private def buildBloomCounting(keys: DataFrame,
      cap: Long): (org.apache.spark.util.sketch.BloomFilter, Long) =
    keys.rdd.treeAggregate((org.apache.spark.util.sketch.BloomFilter.create(cap, bloomFpp), 0L))(
      { case ((bf, n), row) =>
        if (!row.isNullAt(0)) bf.putString(row.getString(0)); (bf, n + 1) },
      { case ((a, na), (b, nb)) => a.mergeInPlace(b); (a, na + nb) })

  /** The persisted band-key bloom, or None when absent/unreadable (it is
    * derived state — the stream re-bootstraps from the band table).
    */
  private[graft] def readBloomState():
      Option[(Long, Long, org.apache.spark.util.sketch.BloomFilter)] =
    try wh.read(bloomTable, bloomSchema).collect().headOption.map { r =>
      (r.getLong(0), r.getLong(1), org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bloom"))))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** `stat.bloomFilter` NPEs on an empty frame — same guard as
    * [[ExactDedupStream]].
    */
  private def buildBloom(keys: DataFrame,
      cap: Long): org.apache.spark.util.sketch.BloomFilter =
    if (keys.isEmpty) org.apache.spark.util.sketch.BloomFilter.create(cap, bloomFpp)
    else keys.stat.bloomFilter("key", cap, bloomFpp)

  private def bloomRowDf(cap: Long, n: Long,
      bf: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    wh.spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(cap, n, bos.toByteArray)),
      bloomSchema)
  }

  /** Compact all four stream tables into `targetFiles` files each — the
    * small-file maintenance pass. The band index is re-sorted by `key` on
    * rewrite: its probe pruning rides on tight per-row-group min/max stats,
    * which a plain concatenating rewrite would destroy. Safe mid-stream only
    * between micro-batches (same single-writer contract as everything else
    * here); [[processBatch]] calls it on the stream thread when
    * `compactEvery` > 0.
    */
  def compactAll(targetFiles: Int = 1): Unit = {
    wh.compact(indexTable, sigSchema, targetFiles)
    wh.compact(bandTable, bandSchema, targetFiles, sortCols = Seq("key"))
    wh.compact(corpusTable, docSchema, targetFiles)
    wh.compact(pairsTable, pairSchema, targetFiles)
    // the small-file floor compactEvery bounds would otherwise reappear as
    // manifest-log growth (4 more manifests per pass) and superseded-data
    // accretion: fold + collect garbage here
    wh.vacuum()
  }

  /** All near-dup pairs discovered so far. */
  def pairs(): DataFrame = wh.read(pairsTable, pairSchema)

  /** Current corpus (every admitted document; dedup POLICY — dropping
    * losers — is a downstream choice over [[pairs]], e.g.
    * [[Dedup.nearDupDedup]]'s cluster resolution).
    */
  def corpus(): DataFrame = wh.read(corpusTable, docSchema)

  /** Watch `dir` for parquet document files (doc_id, text). AvailableNow
    * drains pending files then stops; ProcessingTime watches continuously.
    *
    * `maxFilesPerTrigger` sizes each micro-batch: the pairs-emitted
    * invariant holds for ANY batching (DedupStreamSpec proves it), so
    * production tuning is purely the per-batch harness cost (~1-2 s of
    * fixed job overhead per batch here) against dedup latency — larger
    * batches amortize the overhead, 1 file per trigger minimizes
    * time-to-detection.
    */
  def start(dir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Int = 1): StreamingQuery =
    wh.spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(dir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) => processBatch(batch) }
      .start()
}
