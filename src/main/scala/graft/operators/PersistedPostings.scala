package graft.operators

import graft.sources.Warehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Persisted, incrementally-maintained inverted index for BM25 — the
  * dedup-index pattern ([[Dedup]]'s signature index, [[PersistedIvf]]'s cell
  * assignments) applied to full-text retrieval. [[Retrieval.bm25]] tokenizes
  * the whole corpus per query batch, which at 100 TB is a full-corpus scan
  * per lookup; here the expensive structure survives as warehouse tables:
  *
  *   - `fts/Postings` `(t, id, tf, dl, pos)` — one row per (term, document),
  *     written TERM-SORTED within files so parquet min/max stats on `t` are
  *     tight: a query batch reads only the row groups of its own terms (the
  *     dedup band-index layout, same reason). `dl` is denormalized into the
  *     posting (8 bytes/row) so scoring needs NO join against a corpus-sized
  *     doc-length table — matched postings arrive self-contained; `pos`
  *     holds the term's positions for [[phrase]] and is column-pruned away
  *     from every BM25 scan;
  *   - `fts/CorpusStats` `(seq, n, sumdl)` — one row per build/admit batch.
  *     `N` and `Σ dl` are sums of these longs (integer addition commutes —
  *     exact at any batch count), so query-time stats cost a scan of a
  *     batches-sized table, not the corpus.
  *
  * Incremental maintenance: [[addDocs]] tokenizes ONLY the fresh batch and
  * appends. Postings are per-(term, doc) rows and stats are per-batch sums,
  * so for disjoint doc ids the accumulated index is row-identical to a
  * from-scratch [[build]] of the union — and therefore [[query]] is
  * bit-identical to [[Retrieval.bm25]] over the same corpus (RetrievalSpec
  * proves both; the `doc_bm25_persisted` driver oracle IS `doc_bm25`'s,
  * replaying the math over the full corpus).
  *
  * Query cost: the ≤ `probeTermLimit` distinct query terms (human-sized by
  * contract) are pushed into the postings scan as an `In` literal —
  * planning-time row-group pruning, the same mechanism as the dedup point
  * probe and the IVF probed-cell slice. Above the cap the filter degrades to
  * a broadcast semi-join over a full scan (exact either way).
  */
class PersistedPostings(private[graft] val wh: Warehouse, probeTermLimit: Int = 1000) {

  val postingsTable = "fts/Postings"
  val statsTable = "fts/CorpusStats"
  val ingestTable = "fts/IngestLedger"
  val retractTable = "fts/RetractLedger"

  val postingsSchema: StructType = StructType(Seq(
    StructField("t", StringType, nullable = true),
    StructField("id", LongType, nullable = false),
    StructField("tf", LongType, nullable = false),
    StructField("dl", LongType, nullable = false),
    // 1-based positions of `t` in the doc's whitespace-token array, sorted —
    // the positional half of the index ([[phrase]] intersects these).
    // [[query]] never selects the column, so parquet column pruning keeps
    // BM25 scans paying only (t, id, tf, dl); an index built before
    // positions existed reads as null here and [[phrase]] refuses it (via
    // the per-batch `haspos` stats flag, not a postings scan)
    StructField("pos", org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType), nullable = true)))
  val statsSchema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("sumdl", LongType, nullable = false),
    // does this batch's postings carry position lists? Written `true` by
    // every current build/admit; stats rows persisted BEFORE positions
    // existed read as null (parquet null-fills the absent column). [[phrase]]
    // refuses an index with any non-true row — a per-index property answered
    // from the batches-sized stats table instead of the old per-query
    // validation scan over the term-matched postings, and per-BATCH accurate
    // where a footer sniff is not (a legacy index that keeps admitting new
    // position-bearing batches still has position-less rows on disk)
    StructField("haspos", org.apache.spark.sql.types.BooleanType, nullable = true)))
  val ingestSchema: StructType = StructType(Seq(
    StructField("batch_id", LongType, nullable = false)))

  /** One-pass tokenization of a doc batch: `(id, __ts)`. Both the corpus
    * stats (N, Σdl — dl IS `size(tokens)`, `tokenCountWs`'s definition)
    * and the postings derive from THIS frame, persisted batch-sized, so
    * every build/admit tokenizes its input exactly ONCE — the unfused
    * shape (a stats aggregate over the raw text plus a separate postings
    * scan) tokenized the whole input twice, which at corpus scale doubles
    * the ingest's dominant cost.
    */
  private def tokensOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).cast(LongType).as("id"),
      TextOps.tokens(col(textCol)).as("__ts"))

  /** `(n, sumdl)` from the tokenized frame — bit-equal to
    * [[Retrieval.corpusStats]] over the raw docs (null text: `size(null)`
    * is null, skipped by the sum exactly as the unfused aggregate did).
    */
  private def statsOfToks(toks: DataFrame): (Long, Long) = {
    val r = toks.agg(count(lit(1)),
      sum(size(col("__ts")).cast(LongType))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** `(t, id, tf, dl, pos)` of a tokenized batch — [[Retrieval.bm25]]'s tf
    * frame shape with the counts kept integral for storage, plus the
    * sorted 1-based position list the phrase intersection runs on.
    */
  private def postingsOfToks(toks: DataFrame): DataFrame =
    toks.select(col("id"), size(col("__ts")).cast(LongType).as("dl"),
        posexplode(col("__ts")).as(Seq("p0", "t")))
      .groupBy(col("id"), col("t"))
      .agg(count(lit(1)).as("tf"), any_value(col("dl")).as("dl"),
        sort_array(collect_list((col("p0") + 1).cast("int"))).as("pos"))
      .select(col("t"), col("id"), col("tf"), col("dl"), col("pos"))

  /** Tokenize once, hand stats + postings to `body`, release the frame. */
  private def withToks[A](docs: DataFrame, idCol: String, textCol: String)(
      body: (DataFrame, Long, Long) => A): A = {
    val toks = tokensOf(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (n, sumdl) = statsOfToks(toks)
      body(toks, n, sumdl)
    } finally toks.unpersist(false)
  }

  private def statsRow(seq: Long, n: Long, sumdl: Long): DataFrame =
    wh.spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(seq, n, sumdl,
        Boolean.box(true))), statsSchema)

  /** Index the corpus from scratch — replaces both tables. The postings land
    * repartitioned by term and term-sorted within files (see class doc; a
    * build is the one acceptable full-corpus shuffle — every later batch is
    * incremental).
    */
  def build(docs: DataFrame, idCol: String, textCol: String): Unit =
    withToks(docs, idCol, textCol) { (toks, n, sumdl) =>
      wh.atomically { w =>
        w.replace(postingsTable,
          postingsOfToks(toks).repartition(col("t")).sortWithinPartitions("t"))
        w.replace(statsTable, statsRow(0L, n, sumdl))
      }
    }

  /** Tokenize ONLY the fresh batch and append its postings + stats row.
    * Batch-sized work; the existing index is untouched. Caller contract:
    * doc ids are new (re-admitting an id double-counts it — the same
    * first-arrival contract as every incremental index here; route streams
    * through [[addDocsLedgered]] for replay safety).
    */
  def addDocs(fresh: DataFrame, idCol: String, textCol: String): Unit =
    admit(fresh, idCol, textCol, batchId = None)

  /** [[addDocs]] plus a `(batch_id)` ingest-ledger row written in the SAME
    * atomic section: a checkpoint retry of an already-committed micro-batch
    * sees its id and no-ops instead of double-counting every document.
    * Exactly-once therefore needs the admit to be transactional — run
    * streams on an [[graft.sources.AtomicWarehouse]]; on the base warehouse
    * a crash between the sequential appends downgrades this to
    * at-least-once.
    */
  def addDocsLedgered(fresh: DataFrame, idCol: String, textCol: String,
      batchId: Long): Unit =
    if (!ingested(batchId)) admit(fresh, idCol, textCol, Some(batchId))

  /** True when `batchId` was already admitted (a checkpoint replay). */
  def ingested(batchId: Long): Boolean =
    wh.exists(ingestTable) && !wh.read(ingestTable, ingestSchema)
      .filter(col("batch_id") === batchId).isEmpty

  /** `max(seq)` over the stats table as a one-row aggregate FRAME — cross-
    * joined into the other per-commit one-row aggregates so the next
    * sequence number rides the same driver job instead of its own
    * (`crossJoin` of single-row aggregates is one action; three serial
    * `head()`s were three full stage waves per DML commit, the dominant
    * fixed cost of the change-feed sync loop at micro-batch churn).
    */
  private def seqAggFrame: DataFrame =
    wh.read(statsTable, statsSchema).agg(max(col("seq")).as("__maxseq"))

  private def nextSeq(r: org.apache.spark.sql.Row, i: Int): Long =
    if (r.isNullAt(i)) 1L else r.getLong(i) + 1L

  private def admit(fresh: DataFrame, idCol: String, textCol: String,
      batchId: Option[Long]): Unit = {
    require(wh.exists(statsTable), s"$statsTable absent — build() first")
    val toks = tokensOf(fresh, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE fused driver job: batch stats (n, Σdl) + next sequence number
      // (cross join of one-row aggregates; was two serial head()s)
      val r = toks.agg(count(lit(1)).as("__n"),
          sum(size(col("__ts")).cast(LongType)).as("__sumdl"))
        .crossJoin(seqAggFrame).head()
      val n = r.getLong(0)
      val sumdl = if (r.isNullAt(1)) 0L else r.getLong(1)
      val seq = nextSeq(r, 2)
      wh.atomically { w =>
        val writes = Seq(
          () => w.append(postingsTable, postingsOfToks(toks).sortWithinPartitions("t")),
          () => w.append(statsTable, statsRow(seq, n, sumdl))) ++
          batchId.map { b =>
            () => w.append(ingestTable, wh.spark.createDataFrame(
              java.util.Arrays.asList(org.apache.spark.sql.Row(Long.box(b))), ingestSchema))
          }.toSeq
        // concurrent on a transactional view, sequential on the base
        // warehouse (see [[graft.sources.Warehouse.stageAll]])
        w.stageAll(writes)
      }
    } finally toks.unpersist(false)
  }

  def postings(): DataFrame = wh.read(postingsTable, postingsSchema)
  def corpusStats(): DataFrame = wh.read(statsTable, statsSchema)

  /** Top-`k` documents per query by BM25 over the persisted index —
    * bit-identical to [[Retrieval.bm25]] over the indexed corpus (class
    * doc). The corpus never re-tokenizes: the scan reads the ≤ queries×terms
    * matched postings via `In`-literal row-group pruning, stats come from
    * the batches-sized stats table, and the reduction is the shared
    * [[Retrieval.scoreMatched]].
    */
  def query(queries: DataFrame, qIdCol: String, qTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(wh.exists(statsTable), s"$statsTable absent — build() first")
    val sr = corpusStats().agg(sum(col("n")), sum(col("sumdl"))).head()
    val n = sr.getLong(0)
    require(n > 0, "bm25 needs a non-empty corpus")
    val avgdl = sr.getLong(1).toDouble / n

    val qterms = Retrieval.queryTerms(queries, qIdCol, qTextCol)
    val terms = qterms.select(col("t")).distinct()
    val termLits = terms.limit(probeTermLimit + 1).collect().map(_.getString(0))
    val matched =
      if (termLits.length <= probeTermLimit)
        postings().filter(col("t").isin(termLits: _*))
      else postings().join(broadcast(terms), Seq("t"))
    val tf = matched.select(col("id"), col("t"),
      col("tf").cast("double").as("tf"), col("dl").cast("double").as("dl"))
    Retrieval.scoreMatched(tf, qterms, n, avgdl, k1, b, k)
  }

  /** Exact-phrase search over the positional index: top-`k` documents per
    * query by occurrence count ((count desc, id) ties). A phrase occurs at
    * start `s` when for EVERY phrase offset `o` the doc's token `s + o`
    * equals the phrase's o-th term — computed by intersecting the stored
    * position lists (each matched posting position `p` for offset `o` votes
    * for start `p - o`; a start with all `len` distinct offsets voting is an
    * occurrence), never by re-reading text: the scan reads only the phrase
    * terms' postings via the [[query]] `In`-literal pruning, now including
    * the `pos` column. Overlapping occurrences count separately — the
    * sliding-window semantics the `doc_phrase` oracle restates by slicing
    * the token array. Phrases matching nothing are absent; an index
    * persisted before positions existed is refused, not silently empty —
    * via the per-batch `haspos` stats flag (any batch admitted without
    * positions poisons the index for phrase search until a rebuild), a
    * batches-sized stats read replacing the old per-query validation scan
    * over the term-matched postings.
    */
  def phrase(queries: DataFrame, qIdCol: String, qTextCol: String, k: Int): DataFrame = {
    require(wh.exists(statsTable), s"$statsTable absent — build() first")
    require(corpusStats().filter(col("haspos").isNull || !col("haspos")).isEmpty,
      "index has batches without positions — rebuild with a position-aware build()")
    val qt = queries.select(col(qIdCol).cast(LongType).as("q_id"),
        posexplode(TextOps.tokens(col(qTextCol))).as(Seq("off", "t")))
      .select(col("q_id"), col("off").cast("int").as("off"), col("t"))
    val qlen = qt.groupBy(col("q_id")).agg(count(lit(1)).as("len"))
    val terms = qt.select(col("t")).distinct()
    val termLits = terms.limit(probeTermLimit + 1).collect().map(_.getString(0))
    val matched =
      (if (termLits.length <= probeTermLimit)
        postings().filter(col("t").isin(termLits: _*))
      else postings().join(broadcast(terms), Seq("t")))
        .select(col("t"), col("id"), col("pos"))
    val starts = matched.select(col("t"), col("id"), explode(col("pos")).as("p"))
      .join(broadcast(qt), Seq("t"))
      .select(col("q_id"), col("id"), (col("p") - col("off")).as("start"), col("off"))
    val hits = starts.groupBy(col("q_id"), col("id"), col("start"))
      .agg(countDistinct(col("off")).as("noff"))
      .join(broadcast(qlen), Seq("q_id"))
      .filter(col("noff") === col("len"))
    val occ = hits.groupBy(col("q_id"), col("id"))
      .agg(count(lit(1)).cast("double").as("occ"))
    Similarity.topKPerKey(occ, "q_id", "occ", "id", k)
      .select(col("q_id"), col("rank"), col("id"),
        col("occ").cast(LongType).as("occurrences"))
  }

  /** GDPR-style retraction: remove `ids`' postings and their contribution
    * to the corpus stats, WITHOUT rewriting the term-sorted files — a
    * document's postings scatter across every term's file, so a
    * copy-on-write delete would rewrite the whole index; the merge-on-read
    * path commits per-file tombstones ([[graft.sources.AtomicWarehouse.deleteWhereDv]])
    * and a NEGATIVE stats row `(−|ids|, −Σdl)` in the SAME manifest commit,
    * so a crash can never leave postings gone but N undecremented. After
    * retraction [[query]] is bit-identical to a from-scratch [[build]] over
    * the surviving corpus: the stats sums telescope exactly (integer
    * addition), matched postings exclude tombstoned rows, and df is derived
    * from the matched frame. Caller contract mirrors [[addDocs]]'s
    * first-arrival rule: `ids` must be currently-indexed document ids —
    * N is decremented by `|ids|` (a doc whose text tokenized to NOTHING has
    * no postings row to witness it, so presence cannot be derived here),
    * and over-retracting corrupts N exactly as re-admitting double-counts.
    * `ids` is driver-resident and becomes an IN-literal row filter — sized
    * for erasure-request batches (≤ ~100k); larger purges should arrive in
    * batches, each its own atomic retraction. Requires an
    * [[graft.sources.AtomicWarehouse]]; [[compact]] folds the tombstones
    * into clean files when the dead fraction warrants it.
    */
  def retractDocs(ids: Seq[Long]): Long = retract(ids, batchId = None)

  /** [[retractDocs]] plus a `(batch_id)` retraction-ledger row in the SAME
    * commit as the tombstones and the negative stats row — the replay
    * guard [[addDocsLedgered]] gives admits: a retraction is NOT naturally
    * idempotent (replaying the stats decrement corrupts N), so a
    * maintenance driver replaying a change window after a crash must see
    * its batch id and no-op. The ledger is separate from the ingest ledger
    * (their id spaces are different streams).
    */
  def retractDocsLedgered(ids: Seq[Long], batchId: Long): Long =
    if (retracted(batchId)) 0L else retract(ids, Some(batchId))

  /** True when `batchId` was already retracted (a replayed window). */
  def retracted(batchId: Long): Boolean =
    wh.exists(retractTable) && !wh.read(retractTable, ingestSchema)
      .filter(col("batch_id") === batchId).isEmpty

  /** Apply a change window (or its run between two over-cap commits) as
    * ONE atomic index commit — the [[graft.streaming.FtsSync]] hook. The
    * per-commit fixed latency (ledger probes, scalar aggregates, a manifest
    * commit fsync each) dominated small-churn windows; here K corpus
    * commits cost one index commit, and an UPDATE (retract + re-admit of the same ids) or an
    * upserting MERGE lands atomically — no crash window where the old text
    * is gone and the new not yet searchable.
    *
    * Equivalence to the sequential replay (what the `etl_fts_sync` oracle
    * checks — a from-scratch build over the live corpus):
    *   - LIVE postings: sequential application tombstones each commit's
    *     retractees and appends each commit's admissions; intermediate
    *     states (a doc updated twice) are written then tombstoned. The
    *     fused form never writes the intermediates: it tombstones only the
    *     PRE-WINDOW postings of ids whose FIRST window event is a
    *     retraction (set R — an id first admitted inside the window has no
    *     pre-window rows), and appends only the LAST admitted text of ids
    *     whose last event is an admission (set A). Live rows after either
    *     form: pre-window minus R plus A — identical.
    *   - STATS SUMS (all any query reads): per id the sequential window
    *     contribution telescopes to (last-event-admit ? +1+dl_final : 0)
    *     − (first-event-retract ? 1+dl_pre : 0), which is exactly the one
    *     negative row (−|R|, −Σdl_pre) + one positive row (+|A|, +Σdl_final)
    *     the fused commit writes. Individual stats ROWS differ; their sums
    *     (N, Σdl — the only consumers) are bit-equal, integer addition.
    *   - LEDGERS: the same per-version rows land, all-or-nothing; replay of
    *     a crashed window sees none applied and replays whole. A version
    *     whose retraction was ledgered earlier arrives with only its
    *     admission — the pre-window state already holds the applied half.
    *
    * A one-version window (a seed sync, a single UPDATE, a giant retraction's
    * chunk) skips the netting: its retractions all precede its admissions,
    * so R is every retracted id and A every admitted row, and no aggregation
    * shuffles the admitted text. Caller contract
    * ([[graft.streaming.ChangeFeedSync]]): no listed half is already
    * ledgered, and `retracts` holds distinct, census-capped id sets (an
    * empty set ledgers its version without tombstoning anything).
    */
  def applyWindowLedgered(retracts: Seq[(Long, Seq[Long])],
      admits: Seq[(Long, DataFrame)], idCol: String, textCol: String): Unit = {
    val versions = (retracts.map(_._1) ++ admits.map(_._1)).distinct
    if (versions.isEmpty) return
    require(wh.exists(statsTable), s"$statsTable absent — build() first")
    // per-id retract version bounds, driver-side (census-capped sets)
    val retractMin = scala.collection.mutable.Map[Long, Long]()
    val retractMax = scala.collection.mutable.Map[Long, Long]()
    retracts.foreach { case (v, ids) => ids.foreach { id =>
      retractMin(id) = retractMin.get(id).fold(v)(math.min(_, v))
      retractMax(id) = retractMax.get(id).fold(v)(math.max(_, v))
    } }
    // a one-version window needs no netting (see above)
    val single = versions.size == 1
    val ua = admits.map { case (v, df) =>
      df.select(col(idCol).cast(LongType).as("id"), col(textCol).as("__text"),
        lit(v).as("__v"))
    }.reduceOption(_ unionByName _)
    // R: ids whose FIRST window event is a retraction (min retract version ≤
    // min admit version — within one commit the update preimage precedes the
    // postimage, so a tie is retract-first). Ids never admitted in-window
    // are trivially R. One driver job over the admit union, retract ids only.
    val rids = retractMin.keys.toSeq
    val admitMinV: Map[Long, Long] = (ua, rids) match {
      case (Some(u), ids) if ids.nonEmpty && !single =>
        u.filter(col("id").isInCollection(ids))
          .groupBy(col("id")).agg(min(col("__v")).as("mv")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      case _ => Map.empty
    }
    val R: Seq[Long] = rids.filter(id =>
      admitMinV.get(id).forall(retractMin(id) <= _)).sorted
    // A: the last admitted text of ids whose LAST window event is an
    // admission (max admit version ≥ max retract version; a tie is
    // admit-last). The retract bounds ride in as a broadcast local relation.
    val finalDocs: Option[DataFrame] =
      if (single) admits.headOption.map(_._2)
      else ua.map { u =>
        val agg = u.groupBy(col("id")).agg(
          max_by(col("__text"), col("__v")).as("__text"), max(col("__v")).as("__maxv"))
        val filtered =
          if (retractMax.isEmpty) agg
          else {
            val rmax = wh.spark.createDataFrame(
              java.util.Arrays.asList(retractMax.toSeq.sortBy(_._1).map { case (id, v) =>
                org.apache.spark.sql.Row(Long.box(id), Long.box(v)) }: _*),
              StructType(Seq(StructField("id", LongType, nullable = false),
                StructField("__maxrv", LongType, nullable = false))))
            agg.join(broadcast(rmax), Seq("id"), "left")
              .filter(col("__maxrv").isNull || col("__maxrv") <= col("__maxv"))
          }
        filtered.select(col("id").as(idCol), col("__text").as(textCol))
      }
    val toks = finalDocs.map(d => tokensOf(d, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
      val statsRows: Option[DataFrame] =
        if (R.isEmpty && toks.isEmpty) None
        else {
          // ONE fused scalar job: admitted stats + retractee Σdl + next seq
          val statsAgg = toks.map(_.agg(count(lit(1)).as("__n"),
              sum(size(col("__ts")).cast(LongType)).as("__sumdl")))
            .getOrElse(wh.spark.sql("SELECT CAST(0 AS BIGINT) __n, CAST(0 AS BIGINT) __sumdl"))
          val dlAgg =
            if (R.isEmpty) wh.spark.sql("SELECT CAST(0 AS BIGINT) __dlgone")
            else dlGoneAggFrame(R)
          val r0 = statsAgg.crossJoin(dlAgg).crossJoin(seqAggFrame).head()
          val seq = nextSeq(r0, 3)
          val neg = if (R.nonEmpty) Some(statsRow(seq, -R.size.toLong, -r0.getLong(2))) else None
          val pos = toks.map(_ => statsRow(seq + neg.size,
            r0.getLong(0), if (r0.isNullAt(1)) 0L else r0.getLong(1)))
          (neg ++ pos).reduceOption(_ union _)
        }
      def ledgerDf(vs: Seq[Long]): DataFrame = wh.spark.createDataFrame(
        java.util.Arrays.asList(vs.sorted.map(v =>
          org.apache.spark.sql.Row(Long.box(v))): _*), ingestSchema)
      def rest(w: Warehouse): Unit = w.stageAll(Seq(
        statsRows.map(s => () => w.append(statsTable, s)),
        toks.map(t =>
          () => w.append(postingsTable, postingsOfToks(t).sortWithinPartitions("t"))),
        Some(retracts.map(_._1)).filter(_.nonEmpty)
          .map(vs => () => w.append(retractTable, ledgerDf(vs))),
        Some(admits.map(_._1)).filter(_.nonEmpty)
          .map(vs => () => w.append(ingestTable, ledgerDf(vs)))
      ).flatten)
      // token-less retractees tombstone nothing (deleteWhereDv no-ops
      // WITHOUT committing), and an R-less window never calls it — the stats
      // corrections, admissions and ledger rows must still land, atomically
      val deleted =
        if (R.isEmpty) 0L
        else atomicWh("applyWindowLedgered").deleteWhereDv(postingsTable, postingsSchema,
          Seq(graft.sources.ColIn("id", R)), alsoInTx = rest).deleted
      if (deleted == 0L) wh.atomically(rest)
    } finally toks.foreach(_.unpersist(false))
  }

  private def atomicWh(op: String): graft.sources.AtomicWarehouse = wh match {
    case a: graft.sources.AtomicWarehouse => a
    case _ => throw new IllegalStateException(
      s"$op needs an AtomicWarehouse — merge-on-read retraction rides deletion vectors")
  }

  /** Σ dl over the distinct retractee ids, as a one-row aggregate frame —
    * cross-joined with [[seqAggFrame]] so one driver job answers both.
    */
  private def dlGoneAggFrame(distinct: Seq[Long]): DataFrame =
    postings().filter(col("id").isInCollection(distinct))
      .groupBy(col("id")).agg(any_value(col("dl")).as("dl"))
      .agg(coalesce(sum(col("dl")), lit(0L)).as("__dlgone"))

  private def retract(ids: Seq[Long], batchId: Option[Long]): Long = {
    require(ids.nonEmpty, "retractDocs with no ids")
    val awh = atomicWh("retractDocs")
    require(wh.exists(statsTable), s"$statsTable absent — build() first")
    val distinct = ids.distinct
    // ONE fused driver job: Σdl of the retractees + next sequence number
    val r0 = dlGoneAggFrame(distinct).crossJoin(seqAggFrame).head()
    val dlGone = r0.getLong(0)
    val seq = nextSeq(r0, 1)
    val neg = statsRow(seq, -distinct.size.toLong, -dlGone)
    def ledgerRow(w: Warehouse): Unit = batchId.foreach { b =>
      w.append(retractTable, wh.spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(Long.box(b))), ingestSchema))
    }
    val r = awh.deleteWhereDv(postingsTable, postingsSchema,
      Seq(graft.sources.ColIn("id", distinct)),
      alsoInTx = w => { w.append(statsTable, neg); ledgerRow(w) })
    // a purge of only token-less docs tombstones nothing — the stats
    // correction (their count in N) and the ledger row must still land,
    // still atomically
    if (r.deleted == 0L) wh.atomically { w =>
      w.append(statsTable, neg); ledgerRow(w)
    }
    r.deleted
  }

  /** Small-file maintenance: every [[addDocs]] append lands ≥1 file, and the
    * term pruning rides on tight per-row-group `t` min/max stats — the
    * rewrite re-sorts by term ([[PersistedIvf.compact]]'s argument on
    * `cell`). `tools/Maintain` reaches the same layout with a
    * `fts/Postings:t` table spec.
    */
  def compact(targetFiles: Int = 1): Unit =
    wh.compact(postingsTable, postingsSchema, targetFiles, sortCols = Seq("t"))
}
