package graft.operators

import graft.functions.{SimHashExpr, Transforms}
import graft.operators.TextOps._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims

/** Deduplication operators for training-data pipelines, each designed around
  * its 100 TB shape:
  *
  *   - exact: hash-groupBy — one shuffle on a 32-byte key, partial-agg
  *     collapses duplicates map-side.
  *   - MinHash + LSH: per-doc signature is a narrow projection; candidate
  *     generation shuffles (band, bandKey) pairs — rows ≈ docs × bands, keys
  *     are uniform hashes so no skew; the quadratic step only happens inside
  *     a bucket.
  *   - SimHash: one 8-byte sketch per doc (single-pass custom expression);
  *     near-dup check is a self-join on sketch bands or a bit-flip probe.
  *   - n-gram Jaccard: explode distinct shingles → self-join on shingle —
  *     the exact-verification step usually run AFTER MinHash candidates at
  *     scale (here also exposed standalone).
  *   - embedding cosine: see Similarity for the ANN path; the threshold pair
  *     scan here is the verification kernel.
  *
  * All hash math uses md5-based primitives reproducible in the SQL oracle.
  */
object Dedup {

  /** Exact duplicate groups by full-text hash: keeps min doc id as canonical.
    * Null texts are keyed to the same `__null_text__` sentinel the rest of
    * the exact-dedup family uses — this table is the index
    * [[incrementalExactNew]] probes, so a raw (null) sha here would let every
    * fresh null-text row be admitted as novel even when the index already
    * recorded null texts.
    */
  def exactGroups(df: DataFrame, id: String, text: String): DataFrame =
    df.groupBy(coalesce(sha2(col(text), 256), lit("__null_text__")).as("text_sha"))
      .agg(
        min(col(id)).as("keep_id"),
        count(lit(1)).as("n_copies"))

  /** Exact-dedup projection: one row per distinct text (min-id winner).
    * Aggregation + semi-join rather than a window rank: min() combines
    * map-side, and a viral document with millions of copies never lands as
    * one sorted window partition.
    */
  def exactDedup(df: DataFrame, id: String, text: String): DataFrame = {
    // null texts form their own dedup group via the sentinel — a plain join
    // key would null-compare false and silently DROP every null-text row
    val keyed = df.withColumn("text_sha", coalesce(sha2(col(text), 256), lit("__null_text__")))
    val winners = keyed.groupBy(col("text_sha")).agg(min(col(id)).as(id))
    keyed.join(winners, Seq("text_sha", id), "left_semi").drop("text_sha")
  }

  /** Incremental EXACT dedup: the rows of `fresh` that survive against a
    * persisted content-hash index — the cheapest and most common continuous-
    * ingest dedup (probe the seen-hash set, admit only novel content). A row
    * survives iff (a) it wins its within-batch hash group (min id) and (b)
    * its hash is absent from `seenHashes` (a `text_sha` column — the
    * artifact [[exactGroups]] maintains).
    *
    * Scale shape: one shuffle of the BATCH on its 32-byte hash (map-side
    * combined), then a left-anti probe of the index. With
    * `probeHashLimit` > 0 and a batch of ≤ that many distinct hashes, the
    * batch's hashes are pushed into the index scan as a literal `In`
    * predicate first — on a sha-sorted index this prunes to the matched
    * row groups exactly like the LSH band probe (same measured mechanism,
    * `tools/ScaleProbe`/`PushdownCheck`; same ≤1000 literal cap — see
    * GraftSession on the parquet `In` stack-depth limit). A larger batch
    * falls back to the plain anti-join, where row-group stats + runtime
    * bloom filters still help. Either way per-batch cost tracks the
    * batch, not the corpus. The pre-filter preserves anti-join semantics
    * exactly: rows of the index OUTSIDE the batch's hash set can never
    * anti-match a batch row.
    */
  def incrementalExactNew(fresh: DataFrame, seenHashes: DataFrame,
      id: String, text: String, probeHashLimit: Int = 1000): DataFrame = {
    // null texts form one group via the sentinel, as in [[exactDedup]]
    val keyed = fresh.withColumn("text_sha",
      coalesce(sha2(col(text), 256), lit("__null_text__")))
    val batchWinners = keyed.groupBy(col("text_sha")).agg(min(col(id)).as(id))
    val index = seenHashes.select(col("text_sha"))
    val probed = if (probeHashLimit > 0) {
      val hashes = batchWinners.select(col("text_sha"))
        .limit(probeHashLimit + 1).collect().map(_.getString(0)).toSeq
      // batchWinners is already hash-distinct, so the limit IS the distinct
      // count; over the cap → full-scan fallback
      if (hashes.size <= probeHashLimit) index.filter(col("text_sha").isin(hashes: _*))
      else index
    } else index
    keyed.join(batchWinners, Seq("text_sha", id), "left_semi")
      .join(probed, Seq("text_sha"), "left_anti")
      .drop("text_sha")
  }

  /** Bloom-prefiltered incremental exact dedup — same contract as
    * [[incrementalExactNew]] (admit batch rows whose content hash is novel,
    * within-batch dups resolve to min id), but the index membership test is
    * split by a Bloom filter built over the WHOLE index:
    *
    *   - `mightContain = false` is authoritative absence — those batch
    *     winners are admitted WITHOUT touching the index at all;
    *   - `mightContain = true` (real hits + the configured false-positive
    *     rate) go through the exact left-anti join as before.
    *
    * Results are therefore EXACT regardless of `fpp` — the bloom only
    * routes, never decides — which is what makes the operator
    * oracle-checkable (`dedup_exact_bloom`).
    *
    * Scale shape: for streaming ingest where most content is novel (the
    * common case), the per-batch index I/O drops from "anti-join every
    * batch winner" to "anti-join only the maybe-seen sliver" — at 1% fpp a
    * fully-novel batch reads ~1% of what the plain anti-join would. The
    * filter costs ~9.6 bits/item at 1% fpp (≈1.2 GB per 10^9 hashes): at
    * 100 TB it is maintained as stream state and updated incrementally
    * per batch (`BloomFilter.mergeInPlace` — union is associative), not
    * rebuilt; here it is built per call via `stat.bloomFilter`'s
    * treeAggregate, which is itself one distributed pass over the index.
    * Correctness requires the filter cover the ENTIRE index — a partial
    * (e.g. hot-window) bloom would turn its false into a wrong answer.
    */
  def incrementalExactNewBloom(fresh: DataFrame, seenHashes: DataFrame,
      id: String, text: String, expectedItems: Long = 0L,
      fpp: Double = 0.01): DataFrame = {
    // an empty index needs no routing — and `stat.bloomFilter` throws on an
    // empty frame (null aggregate buffer), the same failure
    // ExactDedupStream.buildBloom documents and guards
    if (seenHashes.isEmpty) return incrementalExactNew(fresh, seenHashes, id, text)
    // Capacity only needs an UPPER bound: the bloom routes, never decides,
    // so an under-sized filter merely raises the maybe-seen sliver — results
    // stay exact. When the caller doesn't know, size from the plan's file
    // statistics (free — no job) instead of a full count() over the index,
    // which costs a whole extra index scan per batch. ~16 B/row is
    // conservative for a stored 64-char sha column in snappy'd parquet, so
    // the estimate over-provisions bits rather than under-counting; capped
    // so a wild stats estimate can't allocate a multi-GB filter.
    val n = math.max(if (expectedItems > 0) expectedItems
      else (seenHashes.queryExecution.optimizedPlan.stats.sizeInBytes / 16)
        .min(BigInt(1L << 31)).toLong, 1024L)
    incrementalExactNewRouted(fresh, seenHashes, id, text,
      seenHashes.stat.bloomFilter("text_sha", n, fpp))
  }

  /** The bloom-routed admit with a CALLER-OWNED filter — what
    * [[graft.streaming.ExactDedupStream]] uses with its incrementally-
    * maintained bloom state. The filter MUST be a superset of the index's
    * hashes (a false negative would re-admit a duplicate); maybe-seen
    * winners additionally get the same ≤`probeHashLimit` literal-`In`
    * index pushdown as [[incrementalExactNew]] — and since only the
    * maybe-seen sliver needs the index at all, the literal list is
    * smaller and the cap correspondingly harder to hit.
    */
  def incrementalExactNewRouted(fresh: DataFrame, seenHashes: DataFrame,
      id: String, text: String,
      bloom: org.apache.spark.util.sketch.BloomFilter,
      probeHashLimit: Int = 1000): DataFrame = {
    val keyed = fresh.withColumn("text_sha",
      coalesce(sha2(col(text), 256), lit("__null_text__")))
    val batchWinners = keyed.groupBy(col("text_sha")).agg(min(col(id)).as(id))
    val might = org.apache.spark.sql.graft.shims.column(
      graft.functions.BloomMightContainExpr(
        org.apache.spark.sql.graft.shims.expression(col("text_sha")), bloom))
    val maybeSeen = batchWinners.filter(might)
    val index = seenHashes.select(col("text_sha"))
    val probed = if (probeHashLimit > 0) {
      val hashes = maybeSeen.select(col("text_sha"))
        .limit(probeHashLimit + 1).collect().map(_.getString(0)).toSeq
      if (hashes.size <= probeHashLimit) index.filter(col("text_sha").isin(hashes: _*))
      else index
    } else index
    val admitted = maybeSeen.join(probed, Seq("text_sha"), "left_anti")
      .unionByName(batchWinners.filter(!might))
    keyed.join(admitted, Seq("text_sha", id), "left_semi").drop("text_sha")
  }

  /** Fixed universal-hash parameters for the MinHash permutations — literal
    * constants so the SQL oracle states the identical numbers.
    */
  val MinHashA: Seq[Long] = Seq(1000003L, 1100021L, 1200049L, 1300021L, 1400017L, 1500007L, 1600033L, 1700021L)
  val MinHashB: Seq[Long] = Seq(12345L, 23456L, 34567L, 45678L, 56789L, 67890L, 78901L, 89012L)

  /** MinHash value for permutation i over the distinct k-shingle set:
    * min over shingles of (a_i * h31(s) + b_i) mod (2^31-1).
    */
  def minhash(text: Column, k: Int, i: Int): Column =
    array_min(transform(distinctShingles(text, k),
      s => pmod(lit(MinHashA(i)) * h31(s) + lit(MinHashB(i)), lit(P31))))

  /** Per-doc signature frame: mh0..mh{n-1} columns, computed by the
    * single-pass [[graft.functions.MinHashSigExpr]] (one md5 per shingle for
    * ALL permutations; the composed per-permutation form costs numHashes×).
    */
  def minhashSignatures(df: DataFrame, id: String, text: String, k: Int = 5,
      numHashes: Int = 8): DataFrame = {
    val sig = shims.column(graft.functions.MinHashSigExpr(
      shims.expression(col(text)), k, MinHashA.take(numHashes), MinHashB.take(numHashes)))
    // md5-per-shingle is the pipeline's dominant narrow stage — spread the
    // text input across the cores first ([[spreadForCompute]]: a no-op on
    // corpus-sized inputs, a cheap text-row shuffle when the source is a
    // one-row-group file that would otherwise compute serially)
    spreadForCompute(df.select(col(id), col(text)))
      .select(col(id), sig.as("sig"))
      .select(col(id) +: (0 until numHashes).map(i =>
        element_at(col("sig"), i + 1).as(s"mh$i")): _*)
  }

  /** (id, band, key) rows from a signature frame. Docs too short to shingle
    * have null signatures and are dropped (concat_ws would otherwise fold
    * every null signature to the SAME empty band key, pairing all short
    * docs).
    *
    * Public as the INDEX LAYOUT for incremental pipelines: a persisted band
    * table (sorted by `key` on write) makes the per-batch corpus probe a
    * scan over a stored join column — row-group stats + runtime bloom
    * filters can then prune it, where bands derived in-query from the
    * signature table always cost a full index scan.
    */
  def bandKeys(sigs: DataFrame, id: String,
      numHashes: Int, rowsPerBand: Int): DataFrame =
    bandKeys(sigs, id, numHashes, rowsPerBand, carrySigs = false)

  /** [[bandKeys]] optionally CARRYING the full signature on every band row
    * (`mh0..mh{n-1}` columns after `key`). This is what lets the signature
    * similarity pre-filter run INSIDE the band join instead of as two
    * signature-index joins AFTER candidate distinct-ing: band collisions on
    * a common-vocabulary corpus outnumber true candidates ~1000:1
    * (BatchPlanProbe: 189,535 collisions → 140 verified pairs per 1,667-doc
    * batch), and without the carried signature every one of them shuffles
    * through the distinct and joins the signature index twice before the
    * filter can reject it. Carrying 8 longs per band row widens the index
    * ~2×; the collision tail it removes scales with corpus vocabulary.
    */
  def bandKeys(sigs: DataFrame, id: String,
      numHashes: Int, rowsPerBand: Int, carrySigs: Boolean): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val bandCols = (0 until numBands).map { b =>
      val key = concat_ws("_",
        (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*)
      struct(lit(b).as("band"), key.as("key"))
    }
    val carried = if (carrySigs) (0 until numHashes).map(i => col(s"mh$i")) else Nil
    sigs
      .filter(col("mh0").isNotNull)
      .select(col(id) +: explode(array(bandCols: _*)).as("bk") +: carried: _*)
      .select(Seq(col(id), col("bk.band").as("band"), col("bk.key").as("key")) ++
        carried: _*)
  }

  /** Minhash-agreement count between the `a.` and `b.` sides of a band
    * self-join whose rows carry their signatures ([[bandKeys]] with
    * `carrySigs`) — the stage-2 pre-filter of [[prefilterAndVerify]],
    * evaluated inline in the join condition.
    */
  private def sigMatchesInline(numHashes: Int): Column =
    (0 until numHashes)
      .map(i => when(col(s"a.mh$i") === col(s"b.mh$i"), 1).otherwise(0))
      .reduce(_ + _)

  /** Spread a CPU-heavy NARROW computation's input across the cores when the
    * scan would otherwise run at file-count parallelism. A single small
    * parquet file is ONE row group, and a row group is the parquet split
    * atom — no `maxPartitionBytes`/`minPartitionNum` setting can parallelize
    * it — so the md5-per-shingle signature scans and the per-pair
    * verification kernels (this engine's dominant narrow stages) ran 1-3
    * tasks on a 32-core session (SigParProbe: the batch shingle scan drops
    * 0.77 s → 0.22 s at 32 partitions). Scale-adaptive by construction: a
    * corpus-sized input already carries ≥ cores partitions and passes
    * through untouched, so no shuffle is ever added where 100 TB data flows
    * (guide §2 — partitioning must adapt, not be a local-mode constant).
    * ONLY for order-independent math (minhash mins, band equality, exact
    * integer jaccard, per-pair cosine): a round-robin repartition reorders
    * rows, which float AGGREGATIONS would see in their last bits.
    */
  private[graft] def spreadForCompute(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= target) df else df.repartition(target)
  }

  /** Band-collision candidate pairs (id_a < id_b) from a signature frame.
    * With `minSigMatches ≥ 0` the signature similarity pre-filter runs
    * INSIDE the join condition (band rows carry their signatures) — the
    * collision false-positive tail is rejected before the distinct instead
    * of shuffling through it and joining the signatures afterwards.
    */
  private def candidatePairsFromSigs(sigs: DataFrame, id: String,
      numHashes: Int, rowsPerBand: Int, minSigMatches: Int = -1): DataFrame = {
    val banded = bandKeys(sigs, id, numHashes, rowsPerBand,
      carrySigs = minSigMatches >= 0)
    val a = banded.alias("a")
    val b = banded.alias("b")
    val base = col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
      col(s"a.$id") < col(s"b.$id")
    val cond = if (minSigMatches >= 0)
      base && (sigMatchesInline(numHashes) >= minSigMatches) else base
    a.join(b, cond)
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .distinct()
  }

  /** LSH banding: with `rowsPerBand` signature values per band, docs sharing
    * any band key become candidate pairs. Returns (id_a, id_b) with a < b.
    */
  def lshCandidatePairs(df: DataFrame, id: String, text: String, k: Int = 5,
      numHashes: Int = 8, rowsPerBand: Int = 2): DataFrame =
    candidatePairsFromSigs(minhashSignatures(df, id, text, k, numHashes), id,
      numHashes, rowsPerBand)

  /** The scale-shaped near-dup pipeline: LSH candidate generation followed by
    * exact Jaccard verification ON THE CANDIDATES ONLY. The all-pairs shingle
    * self-join ([[ngramJaccardPairs]]) explodes quadratically on common
    * shingles at corpus scale; here the quadratic step never materializes —
    * candidates are band collisions (≈ true near-dups + a small false-positive
    * tail), and verification is a per-pair `array_intersect` over the two
    * shingle sets, no explode.
    */
  def lshVerifiedPairs(df: DataFrame, id: String, text: String, k: Int = 5,
      numHashes: Int = 8, rowsPerBand: Int = 2, minJaccard: Double = 0.5,
      minSigMatchesOverride: Int = -1): DataFrame = {
    // the signature pre-filter must track the requested threshold: a fixed
    // gate of 4/8 would make minJaccard below ~0.5 inoperative (pairs at the
    // requested similarity rarely agree on half the hashes). E[matches] =
    // numHashes * jaccard, so gate one below the expectation for recall.
    val minSigMatches =
      if (minSigMatchesOverride >= 0) minSigMatchesOverride
      else math.max(1, math.floor(numHashes * minJaccard).toInt - 1)
    // signatures are computed ONCE and persisted: banding and the similarity
    // pre-filter both consume them, and without the persist each branch of
    // the plan would redo the md5-per-shingle scan (the most expensive narrow
    // stage in the pipeline). The cached blocks are reclaimed by Spark's
    // ContextCleaner once the returned plan is unreachable.
    val sigs = minhashSignatures(df, id, text, k, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // stages 1+2 fused: band collisions with the signature pre-filter
    // INLINE in the join (the band rows carry their signatures), so the
    // vocabulary-collision tail never reaches the distinct or a second
    // signature join — see [[bandKeys]]
    val cand0 = candidatePairsFromSigs(sigs, id, numHashes, rowsPerBand,
      minSigMatches)
    prefilterAndVerify(cand0, sigs, df, id, text, k, numHashes, minSigMatches,
      minJaccard, releaseAfterCandidates = Some(() => sigs.unpersist(false)),
      prefiltered = true)._1
  }

  /** Stages 2+3 of the LSH pipeline, shared by the full-corpus and
    * incremental variants.
    *
    * Stage 2: signature-similarity pre-filter — the fraction of agreeing
    * minhashes estimates jaccard for free, discarding the vocabulary-overlap
    * false positives BEFORE the expensive array verification. (On a common-
    * vocabulary corpus band collisions are ~quadratic; pairs at jaccard≈0.15
    * agree on ≥4 of 8 hashes with p≈0.03, true near-dups with p≈1.)
    *
    * Stage 3: exact verification on the survivors only. Shingle sets are
    * materialized ONLY for docs appearing in surviving pairs (broadcast
    * semi-join before the projection) — computing them corpus-wide would
    * redo the dominant narrow stage for documents verification never touches.
    *
    * Surviving candidates are few (near-dups + a small FP tail); they are
    * materialized once — they feed BOTH the verification join and the doc
    * semi-join, which would otherwise re-run candidate generation per branch.
    * `releaseAfterCandidates` runs right after that materialization so
    * callers can release persisted signatures instead of leaking cached
    * blocks to the ContextCleaner when looping over corpora.
    *
    * The eager `cand.count()` barrier is MEASURED, not assumed (sf0.1,
    * median of 5 quiet-machine reps): full query 4.1 s with the barrier,
    * 3.7 s without it, 3.8 s with no signature persist at all — the barrier
    * costs ~10% here and is kept WHEN there is a cache to release, because
    * releasing BEFORE materialization would mark the signature cache dead
    * and recompute the corpus-wide signature scan once per consuming branch
    * (3×), the wrong trade at scale. Callers with NOTHING to release (the
    * streaming path: file-backed index, caller-owned batch sigs) pass None
    * and skip the barrier entirely — it would buy nothing. (The 14-23 s
    * figures earlier single-shot benches attributed to this query were
    * CPU-contention noise, resolved by the median-of-N bench.)
    *
    * Returns the pairs plus a hook that releases the materialized candidate
    * set; call it once the pairs have been consumed (a caller looping over
    * batches otherwise keeps one cached RDD per call until GC).
    */
  private def prefilterAndVerify(cand0In: DataFrame, sigs: DataFrame, docs: DataFrame,
      id: String, text: String, k: Int, numHashes: Int, minSigMatches: Int,
      minJaccard: Double, releaseAfterCandidates: Option[() => Unit],
      pointLookupMaxIds: Int = 0,
      prefiltered: Boolean = false): (DataFrame, () => Unit) = {
    // Point-lookup mode (incremental/streaming paths, where sigs and docs are
    // FILE-BACKED index tables): materialize the band-collision candidate set
    // — small by construction, near-dups plus the banding false-positive tail
    // — and push its distinct doc ids into the signature and document reads
    // as literal In predicates. Without this, the prefilter's two signature
    // joins and the verification's text semi-join each stream the ENTIRE
    // accumulated index/corpus through a broadcast join per batch — per-batch
    // cost scaling with corpus size, exactly what incremental dedup exists to
    // avoid. With id-sorted index files the In predicate prunes via parquet
    // row-group stats to the matched groups (ScaleProbe measures scan bytes
    // flat across corpus doublings). A collision blow-up past
    // `pointLookupMaxIds` falls back to the full-scan joins rather than
    // shipping an unbounded literal list to the driver.
    val (cand0, lookupIds, releaseCand0) =
      if (pointLookupMaxIds > 0) {
        val c0 = cand0In.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val ids = c0.select(col("id_a").as(id)).union(c0.select(col("id_b").as(id)))
          .distinct().limit(pointLookupMaxIds + 1).collect().map(_.get(0)).toSeq
        (c0, if (ids.size <= pointLookupMaxIds) Some(ids) else None,
          Some(() => { c0.unpersist(false); () }))
      } else (cand0In, None, None)
    val sigsL = lookupIds.map(ids => sigs.filter(col(id).isin(ids: _*))).getOrElse(sigs)
    val docsIn = lookupIds.map(ids => docs.filter(col(id).isin(ids: _*))).getOrElse(docs)
    val release: Option[() => Unit] = (releaseAfterCandidates, releaseCand0) match {
      case (Some(a), Some(b)) => Some(() => { a(); b() })
      case (a, b) => a.orElse(b)
    }
    // BOTH sides of the prefilter consume the SAME signature frame, and both
    // sides of the verification consume the SAME shingle frame. Renamed
    // copies (toDF per side) plan as two DIFFERENT broadcast subtrees, so
    // Spark built the index broadcast twice and ran the candidate-doc
    // shingle scan twice per call; plain alias() + qualified join conditions
    // canonicalize equal, so the second join's BroadcastExchange becomes a
    // ReusedExchange — one index broadcast, ONE shingle pass (plan-verified;
    // the shingle scan is the dominant narrow stage at corpus scale).
    // `prefiltered`: the caller applied the signature pre-filter INSIDE the
    // band join (band rows carry their signatures — [[bandKeys]]), so the
    // two signature joins here would be no-op re-filtering; cand0 IS the
    // prefiltered candidate set. In point-lookup mode it is already
    // persisted (c0); otherwise persist it here — it feeds both the doc
    // semi-join and the verification join.
    val cand =
      if (prefiltered) {
        if (pointLookupMaxIds > 0) cand0
        else cand0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      } else {
        val sa = sigsL.alias("sa")
        val sb = sigsL.alias("sb")
        val sigMatches = (0 until numHashes)
          .map(i => when(col(s"sa.mh$i") === col(s"sb.mh$i"), 1).otherwise(0))
          .reduce(_ + _)
        cand0.join(sa, col("id_a") === col(s"sa.$id"))
          .join(sb, col("id_b") === col(s"sb.$id"))
          .filter(sigMatches >= minSigMatches)
          .select(col("id_a"), col("id_b"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
    // in prefiltered point-lookup mode cand IS the c0 persist — releasing
    // it here would evict the cache its two downstream consumers read
    val releaseSafe =
      if (prefiltered && pointLookupMaxIds > 0) releaseAfterCandidates
      else release
    releaseSafe.foreach { rel => cand.count(); rel() }
    // no .distinct() on the id union: LEFT SEMI keeps each doc row once
    // however often its id repeats on the build side, and the distinct cost
    // a whole shuffle+aggregate wave per call (the build side is bounded by
    // 2×|cand|, which the broadcast already required to be small)
    val candIds = cand.select(col("id_a").as(id))
      .union(cand.select(col("id_b").as(id)))
    // spread AFTER the semi-join (candidate-sized — spreading docsIn itself
    // would be a corpus-sized shuffle per call), so the shingle projection
    // — the dominant narrow stage — runs at core parallelism even when the
    // doc source is a one-file scan
    val sh = spreadForCompute(docsIn.join(broadcast(candIds), Seq(id), "left_semi"))
      .select(col(id), distinctShingles(col(text), k).as("sh"))
    val shA = sh.alias("sha")
    val shB = sh.alias("shb")
    (cand.join(shA, col("id_a") === col(s"sha.$id"))
      .join(shB, col("id_b") === col(s"shb.$id"))
      // IntersectCountExpr ≡ size(array_intersect(...)) without building
      // the intersection array per pair — the count is all jaccard needs,
      // and at candidate-pair volume the array allocation IS the kernel
      .withColumn("inter", shims.column(graft.functions.IntersectCountExpr(
        shims.expression(col("sha.sh")), shims.expression(col("shb.sh")))))
      // UNROUNDED: jaccard is a ratio of exact integer counts, so IEEE
      // division is bit-exact across engines — round() is the one op that
      // can disagree (HALF_UP on the binary double vs decimal-aware, at
      // values landing on a .xxxx5 boundary). Rounding is for FLOAT
      // accumulations (cosine), never integer ratios.
      .withColumn("jaccard", col("inter").cast("double")
        / (size(col("sha.sh")) + size(col("shb.sh")) - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard")),
      () => { cand.unpersist(false); () })
  }

  /** Incremental near-dup detection: a NEW batch against an already-deduped
    * corpus through its persisted signature index ([[minhashSignatures]]
    * output — the artifact a production pipeline keeps alongside the corpus).
    * Returns verified pairs (id_a < id_b) where AT LEAST ONE side is new:
    * fresh×corpus matches and fresh×fresh matches, never corpus×corpus
    * (the corpus is already deduped by construction).
    *
    * This is the shape that makes dedup sustainable at 100 TB: per-batch
    * cost scales with the batch and its bucket collisions, never with corpus
    * size. The corpus contributes only (a) a narrow scan of the signature
    * index into the (band,key) equi-join — fresh band keys are a tiny
    * broadcast-able set, so at scale this prunes to the matched buckets —
    * and (b) a semi-join point-read of the few matched documents' texts for
    * exact verification. Re-running the full-corpus [[lshVerifiedPairs]] per
    * arriving batch would be quadratic over the pipeline's lifetime.
    *
    * Equivalence contract (what the oracle checks): because signatures,
    * banding, the prefilter and verification are all per-doc/per-pair local,
    * the result is EXACTLY the full-corpus run on `corpus ∪ fresh`
    * restricted to pairs touching `fresh`.
    *
    * Small-scale bench note: below ~10⁵ docs this path measures SLOWER than
    * the full-corpus run — the two signature caches, band union and dual doc
    * scans each add fixed stage overhead that dwarfs the signature work they
    * avoid (signatures at sf0.1 cost <0.5 s of a ~4 s query). The crossover
    * is where corpus/batch gets large: the full run re-pays the whole-corpus
    * scan per batch, this path pays only batch + matched buckets.
    */
  def incrementalLshVerifiedPairs(corpus: DataFrame, corpusSigs: DataFrame,
      fresh: DataFrame, id: String, text: String, k: Int = 5, numHashes: Int = 8,
      rowsPerBand: Int = 2, minJaccard: Double = 0.5,
      minSigMatchesOverride: Int = -1,
      freshSigsPre: Option[DataFrame] = None,
      persistCorpusSigs: Boolean = true,
      corpusBandsPre: Option[DataFrame] = None,
      probeKeyLimit: Int = 0,
      pointLookupMaxIds: Int = 0,
      bandBloom: Option[org.apache.spark.util.sketch.BloomFilter] = None,
      corpusBandsCarrySigs: Boolean = false): DataFrame =
    incrementalLshPairsReleasable(corpus, corpusSigs, fresh, id, text, k, numHashes,
      rowsPerBand, minJaccard, minSigMatchesOverride, freshSigsPre, persistCorpusSigs,
      corpusBandsPre, probeKeyLimit, pointLookupMaxIds, bandBloom, corpusBandsCarrySigs)._1

  /** [[incrementalLshVerifiedPairs]] plus the hook releasing its cached
    * candidate set — for per-batch callers ([[graft.streaming.DedupStream]])
    * that run it once per micro-batch and release after the commit.
    */
  private[graft] def incrementalLshPairsReleasable(corpus: DataFrame,
      corpusSigs: DataFrame, fresh: DataFrame, id: String, text: String, k: Int,
      numHashes: Int, rowsPerBand: Int, minJaccard: Double,
      minSigMatchesOverride: Int, freshSigsPre: Option[DataFrame],
      persistCorpusSigs: Boolean, corpusBandsPre: Option[DataFrame],
      probeKeyLimit: Int, pointLookupMaxIds: Int,
      bandBloom: Option[org.apache.spark.util.sketch.BloomFilter],
      corpusBandsCarrySigs: Boolean): (DataFrame, () => Unit) = {
    val minSigMatches =
      if (minSigMatchesOverride >= 0) minSigMatchesOverride
      else math.max(1, math.floor(numHashes * minJaccard).toInt - 1)
    // The signature pre-filter runs INLINE in the band join whenever both
    // sides can carry their signatures: always when corpus bands derive
    // in-query from the signature index, and for a PERSISTED band table
    // only when the caller declares it was written with carrySigs
    // ([[bandKeys]]) — an explicit flag, because a legacy table read with
    // the carrying schema would null-fill the mh columns and silently
    // reject every corpus-side candidate. Inline, the vocabulary-collision
    // tail (~1000:1 over true candidates) is rejected before the distinct
    // and the two signature-index joins disappear from the per-batch plan.
    val inlinePrefilter = corpusBandsPre.isEmpty || corpusBandsCarrySigs
    // signature computation is the dominant narrow stage: callers that
    // already hold the batch's signatures (e.g. the streaming wrapper, which
    // must also append them to the index) pass them in instead of paying the
    // md5-per-shingle scan twice. Caller-supplied frames keep their
    // caller-owned cache lifecycle — Spark caching is per-plan, so
    // unpersisting here would evict the caller's cache too and force its
    // later consumers (e.g. the index append) to recompute the scan.
    val ownsFreshSigs = freshSigsPre.isEmpty
    val freshSigs = freshSigsPre.getOrElse(
      minhashSignatures(fresh, id, text, k, numHashes)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // The corpus index feeds three consumers (band join left side, sigA,
    // sigB in the prefilter). When its plan is a live recompute (the
    // batch-query path derives it from the corpus text), persist it or the
    // signature scan re-executes per consumer. When it is ALREADY a
    // file-backed table (the streaming path reads the persisted index),
    // pass persistCorpusSigs=false: three narrow parquet scans cost less
    // than materializing the ENTIRE accumulated index into executor memory
    // every batch — per-batch work must never scale with corpus size.
    val corpusSigsP =
      if (persistCorpusSigs)
        corpusSigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else corpusSigs
    val freshBands = bandKeys(freshSigs, id, numHashes, rowsPerBand,
      carrySigs = inlinePrefilter)
    // corpus bands on the LEFT, fresh on the RIGHT: every emitted pair has a
    // fresh side, and corpus×corpus pairs can never form. Callers holding a
    // PERSISTED band table (see [[bandKeys]]) pass it in: the probe then
    // reads a stored join column, which runtime bloom filters / row-group
    // stats can prune to the matched buckets instead of the whole index
    val corpusBands0 = corpusBandsPre
      .getOrElse(bandKeys(corpusSigsP, id, numHashes, rowsPerBand,
        carrySigs = inlinePrefilter))
    // Band-key point probe: a micro-batch's distinct band keys are a small
    // set (≤ batch docs × numBands). Collecting them and pushing an In
    // predicate into the persisted band table's scan turns the probe into a
    // literal point lookup — key-sorted index files prune via row-group
    // min/max stats to just the groups holding matched buckets, so the probe
    // reads a bounded slice of the index no matter how large the corpus has
    // grown (ScaleProbe measures this). Past the cap, fall back to the plain
    // equi-join: a batch that large amortizes a full index scan anyway.
    // Bloom routing (route, never decide — same contract as the exact
    // stream's [[incrementalExactNewRouted]]): `bandBloom` is a filter
    // maintained over the persisted band table's keys. A bloom-NEGATIVE
    // fresh key is authoritatively absent from the corpus index, so it can
    // never contribute a corpus-side pair — drop it from the probe BEFORE
    // the index is touched. In continuous ingest most content is novel, so
    // most band keys are negatives and the literal probe shrinks to the
    // maybe-seen sliver (ScaleProbe mode `lsh_bloom` measures it). False
    // positives only add probe keys for the equi-join to reject; a false
    // NEGATIVE would lose pairs, so the filter must be a SUPERSET of the
    // index's keys (the stream writes it first in each atomic admit).
    // Fresh×fresh candidates come from `freshBands` below and never pass
    // through this routing.
    val freshProbeBands = bandBloom match {
      case Some(bf) => freshBands.filter(shims.column(
        graft.functions.BloomMightContainExpr(shims.expression(col("key")), bf)))
      case None => freshBands
    }
    val corpusBands = if (probeKeyLimit > 0) {
      val keys = freshProbeBands.select(col("key")).distinct()
        .limit(probeKeyLimit + 1).collect().map(_.getString(0)).toSeq
      if (keys.size <= probeKeyLimit) corpusBands0.filter(col("key").isin(keys: _*))
      else corpusBands0
    } else corpusBands0
    val allBands = corpusBands.union(freshBands)
    val joinBase = col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
      col(s"a.$id") =!= col(s"b.$id")
    val joinCond = if (inlinePrefilter)
      joinBase && (sigMatchesInline(numHashes) >= minSigMatches) else joinBase
    val cand0 = allBands.alias("a")
      .join(freshBands.alias("b"), joinCond)
      .select(least(col(s"a.$id"), col(s"b.$id")).as("id_a"),
        greatest(col(s"a.$id"), col(s"b.$id")).as("id_b"))
      .distinct()
    val allSigs = corpusSigsP.union(freshSigs)
    val allDocs = corpus.select(col(id), col(text)).union(fresh.select(col(id), col(text)))
    prefilterAndVerify(cand0, allSigs, allDocs, id, text, k, numHashes,
      minSigMatches, minJaccard,
      releaseAfterCandidates =
        if (!persistCorpusSigs && !ownsFreshSigs) None // nothing cached here
        else Some(() => {
          if (persistCorpusSigs) corpusSigsP.unpersist(false)
          if (ownsFreshSigs) freshSigs.unpersist(false)
        }),
      pointLookupMaxIds = pointLookupMaxIds,
      prefiltered = inlinePrefilter)
  }

  /** Connected components over an undirected pair list (id_a, id_b) —
    * near-dup CLUSTER resolution: pairwise matches must become transitive
    * groups before "keep one per cluster" makes sense (a~b, b~c ⇒ {a,b,c}).
    *
    * Iterative min-label propagation: every vertex starts as its own label;
    * each round takes the min of its own and its neighbors' labels, until a
    * fixpoint. Rounds needed = cluster diameter — near-dup clusters are
    * shallow, and `maxIterations` caps pathological chains. Each round is a
    * broadcast-free join + partial-aggregating min, so the shuffle volume is
    * edge-count per round.
    *
    * Returns (id, component) with component = min id in the cluster.
    */
  def connectedComponents(pairs: DataFrame, maxIterations: Int = 20,
      localThreshold: Long = 1000000L): DataFrame = {
    // both edge orientations from ONE scan of `pairs` — a select/union of two
    // branches evaluates the (potentially expensive, unpersisted) upstream
    // plan twice; explode reads each pair row once
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Adaptive: near-dup graphs are usually TINY relative to the corpus
    // (pairs, not documents). Below the threshold, a driver-side union-find
    // answers in microseconds where the distributed loop pays ~seconds of
    // job overhead PER ROUND; above it, fall through to the scalable
    // propagation. Both produce identical (id, min-id component) labels.
    val edgeCount = edges.count()
    if (edgeCount <= localThreshold) {
      // generic over the id type (long, int, string, ...) — the distributed
      // path below is type-agnostic via least/min, so the fast path must
      // order identically: Spark compares strings as UTF-8 bytes (code-point
      // order), while java.lang.String compares UTF-16 code units — these
      // diverge for supplementary characters, so route strings through
      // UTF8String to keep both paths' component labels identical
      def lt(x: Any, y: Any): Boolean = (x, y) match {
        case (a: String, b: String) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(a)
            .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
        case _ => x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
      }
      val es = edges.collect().map(r => (r.get(0), r.get(1)))
      val parent = scala.collection.mutable.Map[Any, Any]()
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
      }
      val rows = parent.keys.toSeq.sortWith(lt)
        .map(v => org.apache.spark.sql.Row(v, find(v)))
      edges.unpersist()
      val idType = pairs.schema("id_a").dataType
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("component", idType)))
      import scala.jdk.CollectionConverters._
      return pairs.sparkSession.createDataFrame(rows.asJava, schema)
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var it = 0
    var converged = false
    while (it < maxIterations && !converged) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("component")).as("n_comp"))
      // the convergence check rides the propagation job as an observed
      // metric over the rows being materialized anyway — a separate
      // join-with-old + limit-1 count() was a SECOND driver job per round,
      // and scheduler noise multiplies by rounds (clusters are shallow but
      // rounds are serial; two jobs/round doubled the exposure)
      val obs = org.apache.spark.sql.Observation(s"cc_round_$it")
      val next = labels.withColumnRenamed("component", "old")
        .join(viaNeighbors, Seq("id"), "left")
        .select(col("id"),
          least(col("old"), coalesce(col("n_comp"), col("old"))).as("component"),
          col("old"))
        .observe(obs, sum(when(col("component") =!= col("old"), 1L)
          .otherwise(0L)).as("changed"))
        .select(col("id"), col("component"))
      val p = next.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count() // one job: materializes the persist AND fires the observation
      // every few rounds, cut the replayable lineage: a persist chain of N
      // rounds replays the WHOLE loop if a block is evicted, and the plan
      // itself grows by one join per round — localCheckpoint (off the warm
      // cache, so it costs one local copy) truncates both
      val pinned =
        if ((it + 1) % 4 == 0) { val c = p.localCheckpoint(true); p.unpersist(false); c }
        else p
      val changed = obs.get.getOrElse("changed", null) match {
        case null => 0L // zero-row window: sum over nothing is null
        case n: Number => n.longValue()
      }
      labels.unpersist()
      labels = pinned
      converged = changed == 0
      it += 1
    }
    edges.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIterations rounds " +
          "(cluster diameter exceeds the cap); raise maxIterations — returning " +
          "partially-propagated labels would silently split clusters")
    labels
  }

  /** Near-dup dedup end state: one surviving doc per transitive cluster
    * (min id wins), all other cluster members dropped.
    */
  def nearDupDedup(df: DataFrame, id: String, text: String, minJaccard: Double = 0.5,
      k: Int = 5, numHashes: Int = 8, rowsPerBand: Int = 2,
      minSigMatchesOverride: Int = -1): DataFrame =
    survivorsFromComponents(df, id,
      connectedComponents(lshVerifiedPairs(df, id, text, k, numHashes,
        rowsPerBand, minJaccard, minSigMatchesOverride)))

  /** The [[nearDupDedup]] end state from an EXTERNALLY-maintained component
    * map (`(id, component)` — e.g. [[PersistedComponents.components]]): the
    * loser anti-join alone, so continuous ingest refreshes the corpus end
    * state by folding the batch into the incremental graph instead of
    * re-clustering the accumulated pair set.
    */
  def survivorsFromComponents(df: DataFrame, id: String, comps: DataFrame): DataFrame = {
    val losers = comps.filter(col("id") =!= col("component")).select(col("id").as(id))
    df.join(losers, Seq(id), "left_anti")
  }

  /** [[nearDupDedup]] with a caller-chosen survivor POLICY: within each
    * near-dup cluster the row maximizing `prefer` survives (ties broken by
    * smallest id — deterministic). Production curation keeps the
    * highest-quality or longest document, not the smallest id.
    *
    * Shape: the cluster map is pairs-sized (tiny next to the corpus), so
    * picking winners is a broadcast-able aggregation over clustered rows
    * only; untouched rows (no near-dup) never join anything but the
    * pairs-sized loser list.
    */
  def nearDupDedupBy(df: DataFrame, id: String, text: String, prefer: Column,
      minJaccard: Double = 0.5, k: Int = 5, numHashes: Int = 8,
      rowsPerBand: Int = 2, minSigMatchesOverride: Int = -1): DataFrame = {
    val comps = connectedComponents(lshVerifiedPairs(df, id, text, k, numHashes,
      rowsPerBand, minJaccard, minSigMatchesOverride))
    // winner per cluster: max prefer, then min id — expressed as max_by over
    // (prefer, negated-orderable id) would need numeric ids; instead take
    // min id among rows tied on the cluster's max prefer
    val clustered = df.join(comps.withColumnRenamed("id", id), Seq(id))
    val best = clustered.groupBy(col("component"))
      .agg(max(prefer).as("__best"))
    val winners = clustered
      .join(broadcast(best), Seq("component"))
      .filter(prefer === col("__best"))
      .groupBy(col("component")).agg(min(col(id)).as(id))
      .select(col(id))
    val losers = comps.select(col("id").as(id))
      .join(winners, Seq(id), "left_anti")
    // no broadcast hint: losers is bounded by cluster MEMBERSHIP, which a
    // high-duplication corpus can grow past broadcast limits — let AQE pick
    // (it still broadcasts when the runtime size allows, and survives when
    // it doesn't, like the plain left_anti in nearDupDedup)
    df.join(losers, Seq(id), "left_anti")
  }

  /** 60-bit SimHash sketch column (custom single-pass expression). */
  def simhash(text: Column): Column = shims.column(SimHashExpr(shims.expression(text)))

  /** SimHash near-dup pairs: candidates via 4×15-bit band equality (two
    * sketches within Hamming ≤ 3 of each other share a band with high
    * probability), verified by exact Hamming distance ≤ `maxHamming`.
    */
  def simhashPairs(df: DataFrame, id: String, text: String, maxHamming: Int = 3): DataFrame = {
    val sk = df.select(col(id), simhash(col(text)).as("sk"))
    val banded = sk.select(col(id), col("sk"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), shiftright(col("sk"), b * 15).bitwiseAND(lit(0x7fffL)).as("key"))): _*)).as("bk"))
      .select(col(id), col("sk"), col("bk.band").as("band"), col("bk.key").as("key"))
    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"),
        col("a.sk").as("sk_a"), col("b.sk").as("sk_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sk_a").bitwiseXOR(col("sk_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** n-gram Jaccard similarity for all pairs with at least one shared
    * shingle: |A∩B| / (|A|+|B|-|A∩B|), computed distributively via a
    * shingle-equality self-join (candidate generation + verification in one).
    */
  def ngramJaccardPairs(df: DataFrame, id: String, text: String, k: Int = 3,
      minJaccard: Double = 0.0): DataFrame = {
    val sh = df.select(col(id), explode(distinctShingles(col(text), k)).as("sh"))
    val sizes = sh.groupBy(col(id)).agg(count(lit(1)).as("sz"))
    val inter = sh.alias("a").join(sh.alias("b"),
        col("a.sh") === col("b.sh") && col(s"a.$id") < col(s"b.$id"))
      .groupBy(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(id).as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col(id).as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("jaccard", // unrounded integer ratio — see prefilterAndVerify
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Embedding near-duplicate pairs above a cosine threshold (verification
    * kernel; use Similarity.ivfTopK for candidate generation at scale).
    */
  def embeddingNearDupPairs(df: DataFrame, id: String, vec: String,
      threshold: Double): DataFrame = {
    // norms once per vector, dot once per pair (vecCosine would rescan both
    // arrays for their norms on every pair — 3x the flops). The probe side
    // of the nested-loop join runs at the INPUT's partitioning — spread a
    // one-file embedding scan across the cores or the whole O(n²) kernel
    // executes in one task (per-pair math, order-independent)
    val normed = spreadForCompute(df.select(col(id), col(vec)))
      .select(col(id), col(vec), Transforms.vecNorm(col(vec)).as("nrm"))
    val a = normed.select(col(id).as("id_a"), col(vec).as("v_a"), col("nrm").as("n_a"))
    val b = normed.select(col(id).as("id_b"), col(vec).as("v_b"), col("nrm").as("n_b"))
    val cosine = round(
      when(col("n_a") === 0 || col("n_b") === 0, lit(0.0))
        .otherwise(Transforms.vecDot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b"))), 4)
    // BOTH predicates belong in the join condition, cheap one FIRST: a
    // post-join filter gets pushed into the nested-loop condition anyway,
    // but PREPENDED — the plan then ran the 64-float dot for every ordered
    // pair before testing id_a < id_b, paying the kernel twice per
    // unordered pair. With the explicit order the generated condition
    // short-circuits on the id test and half the dot products disappear;
    // survivors (few) recompute the cosine once in the output projection.
    a.join(b, col("id_a") < col("id_b") && cosine >= threshold)
      .withColumn("cosine", cosine)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Substring-level duplication stats (the public concept behind exact
    * substring dedup — Lee et al. 2021, arXiv:2107.06499: training corpora
    * carry verbatim SPANS shared across otherwise-distinct documents, which
    * document-level dedup cannot see). Every `windowTokens`-token sliding
    * window of every document is hashed; a window is DUPLICATED when its
    * hash occurs in ≥2 distinct documents. Returns one row per input
    * document: `(idCol, n_windows, n_dup_windows)` — the duplicated-span
    * fraction is the curation signal (FineWeb's duplicated-line filters are
    * the same idea at line granularity); docs too short for one window (or
    * with null text) report (0, 0) rather than vanishing.
    *
    * 100 TB shape: everything is linear in corpus token count — one
    * tokenization, a window explode (≈ tokens rows), a (hash, doc) distinct
    * + per-hash count (both partial-agged hash shuffles), and a semi-join of
    * the doc windows against the duplicated-hash set. No pairwise step at
    * any point: a span shared by 10k documents costs its 10k (hash, doc)
    * rows, never 10k² pairs. Boilerplate hashes (a header in every doc) are
    * the skew case — counts partial-aggregate map-side, and the semi-join is
    * AQE's skew territory.
    *
    * Tokenization is whitespace-split (`\s+`), deliberately identical to
    * ANSI `regexp_split_to_array` semantics so the `dedup_windows` oracle
    * replays windows + hashes + counts verbatim in SQL.
    */
  def duplicatedWindowStats(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), split(col(textCol), "\\s+").as("t"))
    // window count needs only the token count — never the hashes, so the
    // expensive tokenize+md5 subtree below stays single-referenced (Spark
    // recomputes repeated subplans; a shared `hs` column here would run the
    // hashing once per downstream reference — measured 13.4 s → 1.7 s at
    // sf0.1 together with collapsing the shuffles to aggregated rows)
    val nWin = toks.select(col(idCol),
      greatest(size(col("t")) - windowTokens + 1, lit(0)).cast("long").as("n_windows"))
    val exploded = toks.filter(size(col("t")) >= windowTokens)
      .select(col(idCol), explode(
        transform(sequence(lit(1), size(col("t")) - windowTokens + 1),
          i => md5(concat_ws(" ", slice(col("t"), i, lit(windowTokens)))))).as("h"))
    // one shuffle on (h, doc) collapses to distinct pairs with their
    // occurrence counts (map-side partial agg eats within-doc repeats); the
    // window over h counts DISTINCT docs per hash on the already-collapsed
    // rows, and the final groupBy is doc-sized
    val perHashDoc = exploded.groupBy(col("h"), col(idCol))
      .agg(count(lit(1)).as("occ"))
    val perDoc = perHashDoc
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("nd") >= 2)
      .groupBy(col(idCol)).agg(sum(col("occ")).as("n_dup_windows"))
    docs.select(col(idCol))
      .join(nWin, Seq(idCol), "left")
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
  }

  /** The ACTION to [[duplicatedWindowStats]]'s signal — exact-substring
    * scrubbing (Lee et al. 2021's transformation): every duplicated
    * `windowTokens`-token span is removed from every document EXCEPT the one
    * that saw it first (the min-id document containing the hash — the
    * keep-first convention of [[paragraphDedup]], at window granularity).
    * A document's removed token positions are the union of its non-owned
    * duplicated windows' spans; survivors reassemble in original order.
    *
    * Output: `(idCol, n_kept, n_removed, text_clean)` — `text_clean` is
    * WHITESPACE-NORMALIZED (tokens rejoined with single spaces; exact
    * whitespace cannot survive token surgery), `""` when every token was
    * scrubbed, null only for null-text documents.
    *
    * Scale shape: same all-linear skeleton as the stats pass (window
    * explode, one (hash, doc)-distinct aggregate for the owner/dup table,
    * a span explode bounded by `w ×` duplicated windows, and two doc-keyed
    * aggregates); nothing pairwise. The hash subtree is referenced twice
    * (owner table + removal join) — the unavoidable second pass the stats
    * operator engineered away, paid only over the hashes.
    */
  def scrubDuplicatedWindows(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int): DataFrame = {
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), split(col(textCol), "\\s+").as("t"))
    // (id, p, h): window starting at 1-based token position p
    def win = toks.filter(size(col("t")) >= windowTokens)
      .select(col(idCol), posexplode(
        transform(sequence(lit(1), size(col("t")) - windowTokens + 1),
          i => md5(concat_ws(" ", slice(col("t"), i, lit(windowTokens))))))
        .as(Seq("p0", "h")))
      .select(col(idCol), (col("p0") + 1).as("p"), col("h"))
    val owners = win.select(col("h"), col(idCol)).distinct()
      .groupBy(col("h"))
      .agg(count(lit(1)).as("nd"), min(col(idCol)).as("owner"))
      .filter(col("nd") >= 2)
    val removedPos = win.join(owners, Seq("h"))
      .filter(col(idCol) =!= col("owner"))
      .select(col(idCol), explode(sequence(col("p"),
        col("p") + windowTokens - 1)).as("pos"))
      .distinct()
    val tokPos = toks.select(col(idCol),
      posexplode(col("t")).as(Seq("pos0", "tok")))
      .select(col(idCol), (col("pos0") + 1).as("pos"), col("tok"))
    val rebuilt = tokPos.join(removedPos, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          e => e.getField("tok")), " ").as("text_clean"))
    val removedCount = removedPos.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_removed"))
    docs.select(col(idCol), col(textCol).isNotNull.as("has_text"))
      .join(rebuilt, Seq(idCol), "left")
      .join(removedCount, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        when(col("has_text"), coalesce(col("text_clean"), lit(""))).as("text_clean"))
  }

  /** SemDeDup-style cluster-scoped semantic dedup (the public concept —
    * Abbas et al. 2023, arXiv:2303.09540: k-means the embedding space, then
    * dedup only WITHIN each cluster). The candidate structure is the key to
    * its 100 TB shape: one shuffle keyed on `cell`, with the quadratic
    * pairwise step confined inside a cell — choose `numCells ∝ corpus size ÷
    * target cell width` (the [[Similarity]] √N default, or finer) and the
    * per-cell work stays constant as the corpus grows; a skew-heavy cell is
    * AQE's skew-join case. Cross-cell near-duplicates are out of scope BY
    * DESIGN (that is the SemDeDup trade; [[cosineLshVerifiedPairs]] is the
    * overlapping-bucket alternative when they matter).
    *
    * Drop rule, deterministic and locally decidable: a vector is dropped iff
    * some LOWER-id vector in the SAME cell has cosine ≥ `minCosine` (at the
    * engine's 6-decimal quantization). Note this is not transitive-closure
    * survivorship ([[connectedComponents]]): in a chain A~B~C with A≁C, B
    * drops (A is earlier) and C drops too — B still counts as an earlier
    * near-duplicate even though B itself lost. Every rule here is restated
    * by the `dedup_semantic` DuckDB oracle over the same deterministic
    * centroids.
    *
    * @param centroids (cell, centroid) — caller-provided, e.g.
    *   [[Similarity.trainCentroids]] output or a [[PersistedIvf]]'s persisted
    *   table (semantic dedup and ANN share the partitioning structure).
    * @return survivors as (idCol, cell)
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, minCosine: Double): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    val norm = emb.select(col(idCol).cast(LongType).as("id"),
      col(vecCol).cast(ArrayType(FloatType)).as("vec"))
    val cents = centroids.select(col("cell").cast(LongType).as("cell"),
      col("centroid").cast(ArrayType(FloatType)).as("vec"))
    // (id, cell, vec) — broadcast-centroid argmax, same quantization (and
    // tie-break: min cell) as the ANN family, so the two share oracles
    semanticDedupAssigned(
      Similarity.assignCells(norm, cents, "id", "cell", "vec"), minCosine)
      .select(col("id").as(idCol), col("cell"))
  }

  /** The same drop rule over an ALREADY-ASSIGNED `(id, cell, vec)` frame —
    * which is exactly the shape of a [[PersistedIvf]]'s persisted assignment
    * table: at corpus scale, call this on `ivf.assignments()` so the three
    * subplan references below re-read a cheap columnar table instead of
    * re-running the centroid-assign kernel three times (Spark only reuses
    * repeated subplans at AQE exchange boundaries, not arbitrary DAG
    * sharing — the inline [[semanticDedup]] plan carries the kernel ×3,
    * visible in `tools/PlanAudit`'s operator counts). Semantic dedup and ANN
    * sharing one persisted structure is the point: one k-means, two
    * capabilities.
    */
  def semanticDedupAssigned(cells: DataFrame, minCosine: Double): DataFrame = {
    // norms once per vector (embeddingNearDupPairs' flop argument); the
    // within-cell equi-join is the only shuffle
    val sided = cells.select(col("cell"), col("id"), col("vec"),
      Transforms.vecNorm(col("vec")).as("nrm"))
    val a = sided.select(col("cell"), col("id").as("id_a"),
      col("vec").as("v_a"), col("nrm").as("n_a"))
    val b = sided.select(col("cell"), col("id").as("id_b"),
      col("vec").as("v_b"), col("nrm").as("n_b"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("id_b") < col("id_a"))
      .filter(round(
        when(col("n_a") === 0 || col("n_b") === 0, lit(0.0))
          .otherwise(Transforms.vecDot(col("v_a"), col("v_b"))
            / (col("n_a") * col("n_b"))), 6) >= minCosine)
      .select(col("id_a").as("id")).distinct()
    cells.join(dropped, Seq("id"), "left_anti")
      .select(col("id"), col("cell"))
  }

  /** The embedding-dedup scale path: sign-LSH (random hyperplane) candidate
    * generation + exact cosine verification on the candidates only — the
    * all-pairs scan ([[embeddingNearDupPairs]]) is the verification kernel
    * and goes quadratic at corpus scale; here the shuffle carries
    * (band, bitKey) pairs and the quadratic step only happens inside a
    * bucket (2^bitsPerBand buckets per band, so bucket width tracks corpus
    * size ÷ 2^bits).
    *
    * Determinism across engines: hyperplane signs derive from md5 of
    * "hp:band:bit:dim" (reproducible in the SQL oracle), and each bit
    * thresholds a sum of `floor(x·10⁶)·sign` terms — integer-valued doubles,
    * so the sum is EXACT regardless of accumulation order and no
    * engine-boundary float tie can flip a bit.
    *
    * Recall is the standard sign-LSH curve (P[bit agrees] = 1 − θ/π): tune
    * `nBands` up for near-threshold pairs; precision is exact (verified).
    */
  def cosineLshVerifiedPairs(df: DataFrame, id: String, vec: String, dim: Int,
      bitsPerBand: Int, nBands: Int, minCosine: Double): DataFrame = {
    def sign(b: Int, j: Int, i: Int): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"hp:$b:$j:$i".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) < 8) 1 else -1 // first hex digit < '8'
    }
    val bandCols = (0 until nBands).map { b =>
      val bits = (0 until bitsPerBand).map { j =>
        val signs = array((0 until dim).map(i => lit(sign(b, j, i).toDouble)): _*)
        when(aggregate(
          zip_with(col(vec), signs, (x, s) => floor(x * lit(1000000d)) * s),
          lit(0d), (acc, x) => acc + x) >= 0, lit("1")).otherwise(lit("0"))
      }
      struct(lit(b).as("band"), concat(bits: _*).as("key"))
    }
    // the per-row hyperplane-sign computation (nBands × bitsPerBand × dim
    // fused multiplies) is the dominant narrow stage — spread a one-file
    // embedding scan across the cores first (deterministic per row)
    val dfS = spreadForCompute(df.select(col(id), col(vec)))
    val banded = dfS
      .select(col(id), explode(array(bandCols: _*)).as("bk"))
      .select(col(id), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = banded.alias("a").join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .distinct()
    val normed = dfS.select(col(id), col(vec), Transforms.vecNorm(col(vec)).as("nrm"))
    cand
      .join(normed.select(col(id).as("id_a"), col(vec).as("v_a"), col("nrm").as("n_a")), "id_a")
      .join(normed.select(col(id).as("id_b"), col(vec).as("v_b"), col("nrm").as("n_b")), "id_b")
      .withColumn("cosine", round(
        when(col("n_a") === 0 || col("n_b") === 0, lit(0.0))
          .otherwise(Transforms.vecDot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b"))), 4))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Paragraph-level corpus dedup (the FineWeb/CCNet boilerplate-removal
    * pass): split every document on `sep`, keep only the corpus-wide FIRST
    * occurrence of each distinct paragraph — ordered by (id, position) — and
    * reassemble each document's surviving paragraphs in their original
    * order. Repeated boilerplate (headers, footers, license blocks) survives
    * once, in the document that saw it first; a document whose every
    * paragraph was first seen elsewhere disappears from the output, and a
    * null-text document contributes no paragraphs (posexplode of null).
    *
    * Scale shape: posexplode is narrow; the keep-set IS the result of
    * groupBy(paragraph).agg(min(struct(id, pos))) — no join back, and min()
    * combines map-side, so a paragraph duplicated 10M times (exactly the
    * boilerplate this op exists for) reaches the reducer as one row per map
    * partition instead of one sorted 10M-row window partition. Reassembly is
    * a second groupBy on the document id: two shuffles total. At 100 TB,
    * group by sha2(para) and carry the text on one side to bound
    * shuffle-record width (not done here: grouping by the raw string keeps
    * the oracle free of hash conventions).
    */
  def paragraphDedup(df: DataFrame, id: String, text: String,
      sep: String = "\n\n"): DataFrame = {
    val paras = df.select(col(id),
      posexplode(split(col(text), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "para")))
    val kept = paras.groupBy(col("para"))
      .agg(min(struct(col(id), col("pos"))).as("w"))
      .select(col(s"w.$id").as(id), col("w.pos").as("pos"), col("para"))
    kept.groupBy(col(id))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("para")))),
          e => e.getField("para")), sep).as(text))
  }
}
