package graft.operators

import graft.functions.Transforms
import graft.sources.Warehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType, StringType, StructField, StructType}

/** Persisted, incrementally-maintained IVF index — the dedup-index pattern
  * ([[graft.streaming.ExactDedupStream]]'s hash index, [[Dedup]]'s signature
  * index) applied to ANN search. The batch [[Similarity]] entry points
  * retrain centroids and reassign every vector per call, which at 100 TB is
  * a full-corpus k-means per query session; here the expensive structure
  * survives as warehouse tables:
  *
  *   - `ann/Centroids` (cell, centroid) — trained once (or provided), √N
  *     rows, broadcastable by the same contract as [[Similarity.assignCells]];
  *   - `ann/CellAssignments` (id, cell, vec) — one row per corpus vector,
  *     written CELL-SORTED within files so parquet min/max stats on `cell`
  *     are tight: a query batch that probes a handful of cells reads only
  *     the matching row groups (the dedup band-index layout, same reason);
  *   - `ann/AssignStats` (seq, kind, n, mean_cos) — the mean cosine of each
  *     assignment pass to its chosen centroid: one `train` row from the
  *     build, one `batch` row per [[addVectors]]. The drift ledger:
  *     centroids are stale when fresh batches land measurably farther from
  *     their cells than the training data did ([[drifted]]).
  *
  * Incremental maintenance: [[addVectors]] assigns ONLY the new batch
  * against the persisted centroids (per-row argmax — batch-sized work, no
  * retrain, no reassignment of the existing corpus) and appends. Because
  * assignment is a pure per-row function of (vector, centroids), the
  * accumulated table is bit-identical to a from-scratch assignment of the
  * full corpus under the same centroids — TrainingOpsSpec proves it, and the
  * `sim_ivf_persisted` driver oracle checks the whole
  * build → add → persist → probe loop against SQL replaying the same math.
  *
  * Query cost: [[topK]] probes each query's `nProbe` nearest cells
  * ([[Similarity.assignCellsProbes]]), collects the ≤ queries×nProbe probed
  * cell ids (query batches are broadcast-sized by contract), and pushes them
  * into the assignment scan as an `In` literal — planning-time row-group
  * pruning, the same mechanism as the dedup point probe. Above
  * `probeCellLimit` distinct cells the filter is dropped (a full scan beats
  * a 10k-literal predicate).
  */
class PersistedIvf(private[graft] val wh: Warehouse, probeCellLimit: Int = 1000) {

  val centroidsTable = "ann/Centroids"
  val assignTable = "ann/CellAssignments"
  val statsTable = "ann/AssignStats"
  val ingestTable = "ann/IngestLedger"
  val pqCodebookTable = "ann/PqCodebook"
  val pqMetaTable = "ann/PqMeta"
  val retractTable = "ann/RetractLedger"

  val centroidSchema: StructType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("centroid", ArrayType(FloatType), nullable = true)))
  val assignSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("cell", IntegerType, nullable = false),
    StructField("vec", ArrayType(FloatType), nullable = true),
    // SQ8 code of `vec` ([[Transforms.sq8Encode]]), written at admit:
    // [[topKSq8]] scores on THIS column and parquet column pruning turns
    // the 4-bytes-per-dim float read into a 1-byte-per-dim code read —
    // same table, no second structure to maintain
    StructField("code", org.apache.spark.sql.types.BinaryType, nullable = true),
    // PQ codeword ids of `vec` ([[Pq.encode]] against the persisted
    // codebook), written at admit when the index was built with a
    // [[PersistedIvf.PqSpec]] — null otherwise (and for rows admitted
    // before PQ was enabled; parquet fills absent columns with nulls).
    // [[topKPq]] scores on THIS column: m ints per vector, the compression
    // rung past SQ8
    StructField("pq", ArrayType(IntegerType), nullable = true)))
  val pqCodebookSchema: StructType = StructType(Seq(
    StructField("sub", IntegerType, nullable = false),
    StructField("cw", LongType, nullable = false),
    StructField("cvec", ArrayType(DoubleType), nullable = true)))
  // one row: does the persisted codebook quantize RESIDUALS (x − centroid,
  // the IVFADC formulation) or raw vectors? Part of the index's on-disk
  // self-description: encode and scoring must agree forever after, so the
  // flag rides the warehouse, not a constructor argument. Absent table =
  // raw (indexes persisted before residual encoding existed)
  val pqMetaSchema: StructType = StructType(Seq(
    StructField("residual", org.apache.spark.sql.types.BooleanType, nullable = false)))
  val statsSchema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("mean_cos", DoubleType, nullable = true)))
  val ingestSchema: StructType = StructType(Seq(
    StructField("batch_id", LongType, nullable = false)))

  /** Assignment keeping the winning cosine (the drift statistic's input).
    * Same argmax as [[Similarity.assignCells]]: max_by over
    * struct(cos6, -cell) = cosine desc, cell asc — aggregation, not a
    * window, so the exchange carries one row per vector (map-side combined).
    */
  private def assignWithCos(df: DataFrame, cents: DataFrame): DataFrame =
    df.crossJoin(broadcast(cents.select(col("cell"), col("centroid").as("cent_vec"))))
      .withColumn("cos6", round(Transforms.vecCosine(col("vec"), col("cent_vec")), 6))
      .groupBy(col("id"))
      .agg(
        max_by(struct(col("cell"), col("cos6")), struct(col("cos6"), -col("cell"))).as("w"),
        any_value(col("vec")).as("vec"))
      .select(col("id"), col("w.cell").as("cell"), col("vec"), col("w.cos6").as("cos6"))

  private def normalized(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).cast(LongType).as("id"),
      col(vecCol).cast(ArrayType(FloatType)).as("vec"))

  private def withCode(df: DataFrame): DataFrame =
    df.withColumn("code", Transforms.sq8Encode(col("vec")))

  /** `df` (id, cell, vec, …) with each row's RESIDUAL against its own cell
    * centroid — `rvec = vec − centroid(cell)`, element-wise on exact
    * float→double widenings (the IVFADC encode input: residual magnitudes
    * are a fraction of vector magnitudes, so the same codebook budget
    * quantizes them much more finely). Broadcast centroid join; a plain
    * projection otherwise.
    */
  private def withResidual(df: DataFrame, cents: DataFrame): DataFrame =
    df.join(broadcast(cents.select(col("cell"),
        col("centroid").cast(ArrayType(DoubleType)).as("cent_d"))), Seq("cell"))
      .withColumn("rvec", zip_with(col("vec").cast(ArrayType(DoubleType)),
        col("cent_d"), (x, y) => x - y))
      .drop("cent_d")

  /** PQ-encode `df`'s vectors against `cbOpt` (None → null codes). Encoding
    * is a pure per-row function of (vector, codebook) — the same incremental
    * ≡ full argument as cell assignment — shaped as [[Pq.encode]]'s exploded
    * argmin folded back to an id-ordered codeword array. In residual mode
    * the encode input is `vec − centroid(cell)` ([[withResidual]]) — still a
    * pure per-row function, now of (vector, cell, centroids, codebook), and
    * the centroids are frozen at build time, so incremental ≡ full still
    * holds.
    */
  private def withPq(df: DataFrame, cbOpt: Option[DataFrame],
      residual: Boolean, cents: => DataFrame): DataFrame =
    cbOpt match {
      case None =>
        df.withColumn("pq", lit(null).cast(ArrayType(IntegerType)))
      case Some(cb) =>
        val (m, subDim) = pqParams(cb)
        val encodeIn =
          if (residual) withResidual(df.select(col("id"), col("cell"), col("vec")), cents)
            .select(col("id"), col("rvec").as("vec"))
          else df.select(col("id"), col("vec"))
        val codes = Pq.encode(encodeIn, "id", "vec", cb, m, subDim)
          .groupBy(col("id"))
          .agg(array_sort(collect_list(struct(col("sub"), col("cw")))).as("sc"))
          .select(col("id"),
            transform(col("sc"), s => s.getField("cw").cast(IntegerType)).as("pq"))
        df.join(codes, Seq("id"), "left")
    }

  /** (m, subDim) read off the codebook itself — the persisted index is
    * self-describing, no caller-side config to drift. Refuses an EMPTY
    * codebook (a PqSpec built from zero seed rows) with a diagnosable
    * message instead of the opaque NPE the null aggregate row would throw
    * later, and refuses codeword ids above Int.MaxValue: the assignment
    * table stores codes as array<int> (the narrow on-disk shape), so a
    * wider seed id would silently WRAP at encode time and every LUT join
    * on the wrapped id would drop that subspace's partial — wrong cosines
    * with no error.
    */
  private def pqParams(cb: DataFrame): (Int, Int) = {
    val r = cb.agg(max(col("sub")), min(size(col("cvec"))), max(col("cw"))).head()
    require(!r.isNullAt(0),
      s"$pqCodebookTable is empty — buildWith(pq = Some(...)) needs non-empty seeds")
    require(r.getLong(2) <= Int.MaxValue.toLong,
      s"codeword id ${r.getLong(2)} exceeds Int.MaxValue; the stored array<int> " +
        "codes would wrap — use seed ids that fit in Int")
    (r.getInt(0) + 1, r.getInt(1))
  }

  /** The persisted codebook when PQ is enabled on this index. */
  def pqCodebook(): DataFrame = wh.read(pqCodebookTable, pqCodebookSchema)

  /** Whether the persisted codebook quantizes residuals (see pqMetaSchema).
    * Absent meta table = raw, the pre-residual on-disk format.
    */
  def pqResidual(): Boolean =
    wh.exists(pqMetaTable) &&
      wh.read(pqMetaTable, pqMetaSchema).head().getBoolean(0)

  /** The codebook to encode an admit batch with: None when the index was
    * built without PQ.
    */
  private def currentCb(): Option[DataFrame] =
    if (wh.exists(pqCodebookTable)) Some(pqCodebook()) else None

  private def statsRow(seq: Long, kind: String, n: Long, meanCos: Option[Double]): DataFrame =
    wh.spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(seq, kind, n,
        meanCos.map(Double.box).orNull)), statsSchema)

  /** (rows, mean winning cosine) of an assignment pass — one aggregate job. */
  private def meanCosOf(assigned: DataFrame): (Long, Option[Double]) = {
    val r = assigned.agg(count(lit(1)), avg(col("cos6"))).head()
    (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))
  }

  /** Build the index with CALLER-PROVIDED centroids (cell, centroid) —
    * replaces all three tables. The assignment lands repartitioned by cell
    * and cell-sorted within files (see class doc; a build is the one
    * acceptable full-corpus shuffle — every later batch is incremental).
    *
    * `pq`: enable product-quantized scoring ([[topKPq]]) — the codebook
    * derives from the spec's seeds and persists alongside the index; every
    * assignment row (this build and all later admits) carries its PQ codes.
    * With `residual = true` the codebook is built over the seeds' residuals
    * against THEIR assigned cells and every row encodes `vec −
    * centroid(cell)` — the IVFADC formulation (Jégou et al. 2011, §IV):
    * residuals are smaller than vectors, so the same code budget buys a
    * finer quantization (the published fix for the raw-encode recall
    * ceiling the rung table measures). A rebuild WITHOUT a spec (e.g.
    * [[retrain]]) keeps an already-persisted codebook (and its
    * raw/residual mode) and keeps encoding: the codebook is
    * corpus-independent once built, and silently losing the codes would
    * break [[topKPq]] callers — residual codes are re-derived against the
    * NEW centroids, which is exactly IVFADC's re-encode-on-retrain.
    */
  def buildWith(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, pq: Option[PersistedIvf.PqSpec] = None): Unit = {
    val cents = centroids.select(col("cell").cast(IntegerType).as("cell"),
      col("centroid").cast(ArrayType(FloatType)).as("centroid"))
    val residual = pq.map(_.residual).getOrElse(pqResidual())
    val assigned = assignWithCos(normalized(corpus, idCol, vecCol), cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cbNew = pq.map { p =>
      val raw = (p.trained, p.residual) match {
        case (false, false) => Pq.codebook(p.seeds, p.seedId, p.vecCol, p.m, p.subDim)
        case (false, true) => Pq.codebook(
          withResidual(assignWithCos(normalized(p.seeds, p.seedId, p.vecCol), cents)
            .drop("cos6"), cents),
          "id", "rvec", p.m, p.subDim)
        // trained books learn from the BUILD corpus itself (or its
        // residuals) — Lloyd's from the deterministic first-k init
        case (true, false) => Pq.trainedCodebook(
          assigned.select(col("id"), col("vec")), "id", "vec",
          p.m, p.subDim, p.k, p.iterations)
        case (true, true) => Pq.trainedCodebook(
          withResidual(assigned.drop("cos6"), cents)
            .select(col("id"), col("rvec").as("vec")),
          "id", "vec", p.m, p.subDim, p.k, p.iterations)
      }
      raw.select(col("sub"), col("cw"), col("cvec").cast(ArrayType(DoubleType)).as("cvec"))
    }
    val cbOpt = cbNew.orElse(currentCb())
    try {
      val (n, meanCos) = meanCosOf(assigned)
      wh.atomically { w =>
        w.replace(centroidsTable, cents)
        // a fresh codebook replaces; a reused one is NOT rewritten (its
        // encode plan reads the very files a replace would overwrite on the
        // base warehouse)
        cbNew.foreach { cb =>
          w.replace(pqCodebookTable, cb)
          w.replace(pqMetaTable, wh.spark.createDataFrame(
            java.util.Arrays.asList(org.apache.spark.sql.Row(Boolean.box(residual))),
            pqMetaSchema))
        }
        w.replace(assignTable,
          withCode(withPq(assigned.drop("cos6"), cbOpt, residual, cents))
            .repartition(col("cell")).sortWithinPartitions("cell"))
        w.replace(statsTable, statsRow(0L, "train", n, meanCos))
      }
    } finally assigned.unpersist(false)
  }

  /** Train centroids on the corpus ([[Similarity.trainCentroids]] — spherical
    * Lloyd's from deterministic seeds), then [[buildWith]] them.
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
      numCells: Int, iterations: Int = 3): Unit = {
    // normalize FIRST: a caller-side `cell` column (e.g. retrain() feeding
    // assignments back in) must not collide with training's internal names
    val norm = normalized(corpus, idCol, vecCol)
    buildWith(norm, "id", "vec",
      Similarity.trainCentroids(norm, "id", "vec", numCells, iterations)
        .select(col("cell_id").as("cell"), col("centroid")))
  }

  /** Assign ONLY the fresh batch against the persisted centroids and append
    * (+ its drift-ledger row). Batch-sized work; the existing corpus is
    * untouched. Fails fast when the index was never built.
    */
  def addVectors(fresh: DataFrame, idCol: String, vecCol: String): Unit =
    commit(None, Some(normalized(fresh, idCol, vecCol)), batchId = None)

  /** [[addVectors]] plus a `(batch_id)` ingest-ledger row written in the SAME
    * atomic section — the streaming-replay guard ([[graft.streaming.IvfStream]]):
    * a checkpoint retry of an already-committed micro-batch sees its id in the
    * ledger and no-ops instead of double-appending assignment rows (which would
    * duplicate candidates into every later probe). Exactly-once therefore needs
    * the admit to be transactional — run streams on an
    * [[graft.sources.AtomicWarehouse]]; on the base warehouse a crash between
    * the sequential appends downgrades this to at-least-once.
    */
  def addVectorsLedgered(fresh: DataFrame, idCol: String, vecCol: String,
      batchId: Long): Unit =
    if (!ingested(batchId)) commit(None, Some(normalized(fresh, idCol, vecCol)), Some(batchId))

  /** True when `batchId` was already admitted (a checkpoint replay). */
  def ingested(batchId: Long): Boolean =
    wh.exists(ingestTable) && !wh.read(ingestTable, ingestSchema)
      .filter(col("batch_id") === batchId).isEmpty

  def ingestLedger(): DataFrame = wh.read(ingestTable, ingestSchema)

  /** GDPR-style retraction: remove `ids`' cell assignments WITHOUT
    * rewriting the cell-sorted files — ids scatter across every cell, so a
    * copy-on-write delete would rewrite the index; merge-on-read
    * tombstones ([[graft.sources.AtomicWarehouse.deleteWhereDv]]) commit
    * with a `kind="retract"` stats row (negative n; ignored by [[drifted]],
    * which compares train/batch cosines) in the SAME manifest. Every probe
    * path ([[topK]]/[[topKSq8]]/[[topKPq]]/[[topKPqRerank]]) reads through
    * the tombstones, so purged vectors leave all results at once; with
    * unchanged centroids the post-retraction top-k is exactly the
    * pre-retraction ranking with the purged ids filtered out. Centroids
    * keep their training history — [[drifted]]/[[retrain]] remain the
    * recalibration path. Returns tombstoned assignment rows.
    */
  def retractVectors(ids: Seq[Long]): Long = retract(ids, batchId = None)

  private def retract(ids: Seq[Long], batchId: Option[Long]): Long = {
    require(ids.nonEmpty, "retractVectors with no ids")
    commit(Some(ids), None, batchId)
  }

  /** [[retractVectors]] plus a `(batch_id)` retraction-ledger row in the
    * SAME commit — the replay guard a change-feed maintenance driver needs
    * (the [[graft.streaming.FtsSync]] pattern): a replayed window sees its
    * batch id and no-ops. Ledger separate from the ingest ledger (different
    * id streams).
    */
  def retractVectorsLedgered(ids: Seq[Long], batchId: Long): Long =
    if (retracted(batchId)) 0L else retract(ids, Some(batchId))

  /** True when `batchId` was already retracted (a replayed window). */
  def retracted(batchId: Long): Boolean =
    wh.exists(retractTable) && !wh.read(retractTable, ingestSchema)
      .filter(col("batch_id") === batchId).isEmpty

  /** Apply a run of change-feed commits — the [[graft.streaming.VectorSync]]
    * hook — as ONE atomic index commit PER corpus version, ascending: the
    * version's tombstones and `retract` stats row, its fresh assignments and
    * `batch` stats row, and a ledger row per present half publish together,
    * so an UPDATE's re-embedded vector replaces its predecessor atomically
    * and the `batch` rows [[drifted]] reads stay one per corpus commit.
    * Caller contract ([[graft.streaming.ChangeFeedSync]]): no listed half is
    * already ledgered; an empty retraction id set ledgers its version
    * without tombstoning anything.
    */
  def applyWindowLedgered(retracts: Seq[(Long, Seq[Long])],
      admits: Seq[(Long, DataFrame)], idCol: String, vecCol: String): Unit = {
    val outs = retracts.toMap
    val ins = admits.toMap
    (outs.keySet ++ ins.keySet).toSeq.sorted.foreach { v =>
      commit(outs.get(v), ins.get(v).map(normalized(_, idCol, vecCol)), Some(v))
    }
  }

  /** ONE index commit of a retraction and/or an admission: `out`'s
    * merge-on-read tombstones with a `retract` stats row (negative n), the
    * normalized `fresh` batch assigned against the persisted centroids with
    * its `batch` stats row, and — under `batchId` — a ledger row per present
    * half. The scalar aggregates (batch n, mean cosine, next seq) are ONE
    * fused driver job and the staged writes run concurrently on a
    * transactional view; an admission-only commit also runs on the base
    * warehouse, its ledger row last. Returns tombstoned assignment rows.
    */
  private def commit(out: Option[Seq[Long]], fresh: Option[DataFrame],
      batchId: Option[Long]): Long = {
    if (fresh.isDefined)
      require(wh.exists(centroidsTable), s"$centroidsTable absent — build() first")
    require(wh.exists(statsTable), s"$statsTable absent — build() first")
    val ids = out.getOrElse(Nil).distinct
    val assigned = fresh.map(f => assignWithCos(f, centroids())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
      val statsRows: Option[DataFrame] =
        if (ids.isEmpty && assigned.isEmpty) None
        else {
          val r = assigned.map(_.agg(count(lit(1)).as("__n"), avg(col("cos6")).as("__mc")))
            .getOrElse(wh.spark.sql("SELECT CAST(0 AS BIGINT) __n, CAST(NULL AS DOUBLE) __mc"))
            .crossJoin(wh.read(statsTable, statsSchema).agg(max(col("seq")).as("__s")))
            .head()
          val seq = if (r.isNullAt(2)) 1L else r.getLong(2) + 1L
          val retractRow =
            if (ids.nonEmpty) Some(statsRow(seq, "retract", -ids.size.toLong, None)) else None
          val batchRow = assigned.map(_ => statsRow(seq + retractRow.size, "batch",
            r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
          (retractRow ++ batchRow).reduceOption(_ union _)
        }
      def ledgerRow(w: Warehouse, table: String): Option[() => Unit] = batchId.map { b =>
        () => w.append(table, wh.spark.createDataFrame(
          java.util.Arrays.asList(org.apache.spark.sql.Row(Long.box(b))), ingestSchema))
      }
      def rest(w: Warehouse): Unit = w.stageAll(Seq(
        assigned.map(a => () => w.append(assignTable,
          withCode(withPq(a.drop("cos6"), currentCb(), pqResidual(), centroids()))
            .sortWithinPartitions("cell"))),
        statsRows.map(s => () => w.append(statsTable, s)),
        out.flatMap(_ => ledgerRow(w, retractTable)),
        fresh.flatMap(_ => ledgerRow(w, ingestTable))
      ).flatten)
      val deleted =
        if (ids.isEmpty) 0L
        else (wh match {
          case a: graft.sources.AtomicWarehouse => a
          case _ => throw new IllegalStateException(
            "retractVectors needs an AtomicWarehouse — merge-on-read " +
              "retraction rides deletion vectors")
        }).deleteWhereDv(assignTable, assignSchema,
          Seq(graft.sources.ColIn("id", ids)), alsoInTx = rest).deleted
      // ids that match no live assignment tombstone nothing (deleteWhereDv
      // no-ops WITHOUT committing), but the stats, the admission and the
      // ledger rows must still land — atomically
      if (deleted == 0L) wh.atomically(rest)
      deleted
    } finally assigned.foreach(_.unpersist(false))
  }

  def centroids(): DataFrame = wh.read(centroidsTable, centroidSchema)
  def assignments(): DataFrame = wh.read(assignTable, assignSchema)
  def assignStats(): DataFrame = wh.read(statsTable, statsSchema)

  /** Top-k over the persisted index; `nProbe = numCells` degenerates to
    * exact brute force over the indexed corpus (every cell probed — the
    * exactness anchor, same as [[Similarity.ivfTopKProbes]]).
    */
  def topK(queries: DataFrame, queryId: String, vecCol: String,
      k: Int, nProbe: Int = 1): DataFrame = {
    val q = queries.select(col(queryId).cast(LongType).as("q_id"),
      col(vecCol).cast(ArrayType(FloatType)).as("v"))
    val probes = queryProbes(q, nProbe)
      .join(q.select(col("q_id"), col("v").as("q_vec")), Seq("q_id"))
    val scored = probedSlice(probes).join(broadcast(probes), Seq("cell"))
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id").as("c_id"),
        round(Transforms.vecCosine(col("vec"), col("q_vec")), 4).as("cosine"))
    Similarity.topKPerKey(scored, "q_id", "cosine", "c_id", k)
  }

  /** [[topK]] scored on the stored SQ8 codes instead of the float vectors —
    * the IVF-SQ split ([[graft.functions.Sq8Ops]]): the coarse quantizer
    * (which cells to probe) stays float-exact, the fine scoring runs on
    * 1-byte-per-dim codes. Parquet column pruning makes the candidate scan
    * read `(id, cell, code)` and skip the float `vec` column entirely — the
    * 4× I/O saving needs no second table. Approximate scores, fully
    * deterministic: `nProbe = numCells` here equals
    * [[Similarity.bruteForceTopKSq8]] over the indexed corpus exactly
    * (TrainingOpsSpec), and the `sim_ivf_sq8` driver oracle replays
    * cells + codes + ranking in SQL.
    */
  def topKSq8(queries: DataFrame, queryId: String, vecCol: String,
      k: Int, nProbe: Int = 1): DataFrame = {
    val q = queries.select(col(queryId).cast(LongType).as("q_id"),
      col(vecCol).cast(ArrayType(FloatType)).as("v"))
    val probes = queryProbes(q, nProbe)
      .join(q.select(col("q_id"), Transforms.sq8Encode(col("v")).as("q_code")),
        Seq("q_id"))
    val scored = probedSlice(probes).select(col("id"), col("cell"), col("code"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id").as("c_id"),
        round(Transforms.sq8Cosine(col("code"), col("q_code")), 4).as("cosine"))
    Similarity.topKPerKey(scored, "q_id", "cosine", "c_id", k)
  }

  /** [[topK]] scored by PQ asymmetric distance computation from the stored
    * codeword ids — the compression rung past [[topKSq8]]: the coarse
    * quantizer (which cells to probe) stays float-exact, the fine scoring
    * reads `(id, cell, pq)` — m ints per candidate, a 64× shrink of the
    * candidate column at m=4/dim=64 — and reconstructs nothing: each
    * (query, candidate) pair sums m broadcast-LUT partials ([[Pq]] class
    * doc). Fully deterministic: `nProbe = numCells` equals [[Pq.topK]] over
    * the indexed corpus with the same codebook exactly (TrainingOpsSpec),
    * and the `sim_ivf_pq` driver oracle replays cells + encode + LUT +
    * ranking in SQL.
    */
  def topKPq(queries: DataFrame, queryId: String, vecCol: String,
      k: Int, nProbe: Int = 1): DataFrame = {
    require(wh.exists(pqCodebookTable),
      s"$pqCodebookTable absent — buildWith(pq = Some(...)) first")
    val cb = pqCodebook()
    val (m, subDim) = pqParams(cb)
    val q = queries.select(col(queryId).cast(LongType).as("q_id"),
      col(vecCol).cast(ArrayType(FloatType)).as("v"))
    val probes = queryProbes(q, nProbe)
    val l = Pq.lut(queries, queryId, vecCol, cb, m, subDim)
    val cand = probedSlice(probes)
      .select(col("id"), col("cell"), col("pq"))
      .filter(col("pq").isNotNull)
      .select(col("id"), col("cell"), posexplode(col("pq")).as(Seq("sub", "cw")))
      .select(col("id"), col("cell"), col("sub").cast(IntegerType).as("sub"),
        col("cw").cast(LongType).as("cw"))
    val scored =
      if (!pqResidual()) {
        val joined = cand.join(broadcast(l), Seq("sub", "cw"))
          .join(broadcast(probes.select(col("q_id"), col("cell"))), Seq("q_id", "cell"))
          .filter(col("id") =!= col("q_id"))
        Pq.adcReduce(joined)
      } else residualAdc(cand, probes, q, l, cb, m, subDim)
    Similarity.topKPerKey(scored, "q_id", "cosine", "c_id", k)
  }

  /** Residual-ADC reduction (IVFADC scoring): the implicit reconstruction is
    * `x̂ = c_cell + r̂`, so against query `q`
    *
    *   `dot(q, x̂)  = dot(q, c_cell) + Σ_j dot(q_j, r̂_j)`
    *   `‖x̂‖²       = ‖c_cell‖² + 2·Σ_j dot(c_cell,j, r̂_j) + Σ_j ‖r̂_j‖²`
    *
    * — every term a LOOKUP: the query LUT carries `dot(q_j, r̂_j)` and
    * `‖r̂_j‖²` exactly as in raw ADC, and the two cell terms come from
    * per-probed-cell tables (`qcell`: queries × probed centroids;
    * `cellLut`: probed centroids × codebook — both broadcast-sized by the
    * query-batch and probed-cell contracts). Scoring a candidate still
    * costs m lookups + one (q, cell) and one (cell) join — no
    * reconstruction, no per-candidate d-dim loop. Fully deterministic
    * (same index-ordered double sums as the raw path), so `sim_ivf_pq_
    * residual` replays it in SQL.
    */
  private def residualAdc(cand: DataFrame, probes: DataFrame, q: DataFrame,
      l: DataFrame, cb: DataFrame, m: Int, subDim: Int): DataFrame = {
    val dcents = centroids().select(col("cell"),
      col("centroid").cast(ArrayType(DoubleType)).as("cvecd"))
    val qcell = probes.join(
        q.select(col("q_id"), col("v").cast(ArrayType(DoubleType)).as("qv")), Seq("q_id"))
      .join(broadcast(dcents), Seq("cell"))
      .select(col("q_id"), col("cell"), Pq.dotD(col("qv"), col("cvecd")).as("qc"))
    val probedCents = dcents
      .join(broadcast(probes.select(col("cell")).distinct()), Seq("cell"))
    val cellLut = probedCents
      .select(col("cell"), explode(sequence(lit(0), lit(m - 1))).as("s"), col("cvecd"))
      .select(col("cell"), col("s").cast(IntegerType).as("sub"),
        slice(col("cvecd"), col("s") * subDim + 1, lit(subDim)).as("csv"))
      .join(broadcast(cb), Seq("sub"))
      .select(col("cell"), col("sub"), col("cw"),
        Pq.dotD(col("csv"), col("cvec")).as("cdotp"))
    val cellN2 = probedCents.select(col("cell"),
      Pq.dotD(col("cvecd"), col("cvecd")).as("cn2"))
    val joined = cand.join(broadcast(l), Seq("sub", "cw"))
      .join(broadcast(probes.select(col("q_id"), col("cell"))), Seq("q_id", "cell"))
      .join(broadcast(cellLut), Seq("cell", "sub", "cw"))
      .filter(col("id") =!= col("q_id"))
    val n2 = col("cn2") + lit(2d) * col("cd") + col("n2r")
    joined.groupBy(col("q_id"), col("id"), col("cell"))
      .agg(sum(col("dotp")).as("dotr"), sum(col("n2p")).as("n2r"),
        sum(col("cdotp")).as("cd"), any_value(col("qn")).as("qn"))
      .join(broadcast(qcell), Seq("q_id", "cell"))
      .join(broadcast(cellN2), Seq("cell"))
      .select(col("q_id"), col("id").as("c_id"),
        // ‖x̂‖² is mathematically ≥ 0 but the expanded form can round a
        // hair below zero when r̂ ≈ −c — guard ≤ 0, same CASE in the oracle
        round(when(col("qn") === 0 || n2 <= 0, lit(0d))
          .otherwise((col("qc") + col("dotr")) / (col("qn") * sqrt(n2))), 4)
          .as("cosine"))
  }

  /** Two-stage retrieve-then-rerank over the persisted index: [[topKPq]]
    * GENERATES each query's top-`c` candidates from the stored codes (the
    * 64×-narrower scan), then ONLY those candidates are re-scored with the
    * float-exact cosine ([[Similarity.rerankExact]]) and reduced to top-`k`
    * — the composition the compression-rung table exists for: PQ's recall
    * ceiling applies to its RANKING, not its candidate pool, so an exact
    * rescore of a small candidate fraction recovers near-exact recall while
    * the float vectors are only fetched for ≤ queries×c rows. The fetch
    * reuses the probed-cell slice (same In-literal row-group pruning as
    * stage 1 — the float read is confined to the probed cells too).
    * Deterministic end to end: stage 1 is the oracle-replayable ADC, stage
    * 2 exact cosine on a deterministic pair set (`sim_rerank`). With
    * `c` ≥ the probed candidate count and `nProbe` = numCells this is
    * exactly [[topK]] (the spec anchor).
    */
  def topKPqRerank(queries: DataFrame, queryId: String, vecCol: String,
      k: Int, c: Int, nProbe: Int = 1): DataFrame = {
    require(c >= k, s"candidate count c=$c must be ≥ k=$k")
    val cand = topKPq(queries, queryId, vecCol, c, nProbe)
      .select(col("q_id"), col("c_id"))
    val q = queries.select(col(queryId).cast(LongType).as("q_id"),
      col(vecCol).cast(ArrayType(FloatType)).as("v"))
    val slice = probedSlice(queryProbes(q, nProbe))
      .select(col("id"), col("vec"))
    Similarity.rerankExact(cand, slice,
      q.select(col("q_id"), col("v").as("vec")), "id", "q_id", "vec", k)
  }

  /** Each query's `nProbe` nearest cells as (q_id, cell). */
  private def queryProbes(q: DataFrame, nProbe: Int): DataFrame =
    Similarity.assignCellsProbes(q,
      centroids().select(col("cell"), col("centroid").as("v")),
      "q_id", "cell", "v", nProbe)
      .select(col("q_id"), col("cell"))

  /** The probed-cell slice of the assignment table: probed-cell literal
    * pushdown (≤ queries×nProbe ids) gives parquet row-group pruning on the
    * cell-sorted assignment files — the scan reads the probed cells, not the
    * corpus. assignCellsProbes emits the cell through TopKAgg's long id
    * slot; narrow back to the table's int so the In predicate stays on the
    * raw column (a cast would defeat pushdown). Above `probeCellLimit`
    * distinct cells the filter is dropped (a full scan beats a 10k-literal
    * predicate).
    */
  private def probedSlice(probes: DataFrame): DataFrame = {
    val cellIds = probes.select(col("cell")).distinct()
      .limit(probeCellLimit + 1).collect().map(_.getLong(0).toInt)
    val all = assignments()
    if (cellIds.length <= probeCellLimit)
      all.filter(col("cell").isin(cellIds.map(Int.box): _*)) else all
  }

  /** Centroid staleness: true when the LATEST batch's mean winning cosine
    * fell more than `margin` below the training-time mean — fresh data is
    * landing measurably farther from every centroid than the data the
    * centroids were fit to, the standard cheap re-train trigger (the
    * expensive alternative is recall measurement against brute force, which
    * needs ground truth). Statistical by nature → spec-pinned
    * (TrainingOpsSpec) rather than oracle-checked; `tools/AnnRecallProbe`
    * measures the recall decay the flag predicts.
    */
  def drifted(margin: Double = 0.05): Boolean = {
    val rows = assignStats().collect()
    val train = rows.find(_.getString(1) == "train").flatMap(r =>
      if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    val latest = rows.filter(_.getString(1) == "batch").sortBy(_.getLong(0)).lastOption
      .flatMap(r => if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    (train, latest) match {
      case (Some(t), Some(b)) => b < t - margin
      case _ => false
    }
  }

  /** Re-train from the persisted corpus and rebuild — the action [[drifted]]
    * triggers. Assignments already hold every vector, so no external corpus
    * hand-off is needed.
    */
  def retrain(numCells: Int, iterations: Int = 3): Unit =
    build(assignments(), "id", "vec", numCells, iterations)

  /** Small-file maintenance: every [[addVectors]] append lands ≥1 file, and
    * the probe pruning rides on tight per-row-group `cell` min/max stats —
    * so the rewrite re-sorts by cell, exactly like the dedup band index
    * ([[graft.streaming.DedupStream.compactAll]] documents why a plain
    * concatenating rewrite would ruin the stats). `tools/Maintain` reaches
    * the same layout with a `ann/CellAssignments:cell` table spec.
    */
  def compact(targetFiles: Int = 1): Unit =
    wh.compact(assignTable, assignSchema, targetFiles, sortCols = Seq("cell"))
}

object PersistedIvf {
  /** PQ configuration for [[PersistedIvf.buildWith]]: `seeds` supply the
    * per-subspace codebooks ([[Pq.codebook]] — codeword `cw = seed id`,
    * vector = the seed's subspace slice), `m` subspaces × `subDim` dims
    * each must tile the embedding dimension. `residual = true` switches
    * the index to the IVFADC formulation: the codebook is built over the
    * seeds' residuals against their assigned cells and every stored code
    * quantizes `vec − centroid(cell)` (see [[PersistedIvf.buildWith]]).
    * `trained = true` replaces the seed-slice codebook with
    * [[Pq.trainedCodebook]] run over the BUILD corpus (or its residuals
    * when `residual`) — `k` codewords per subspace, `iterations` Lloyd's
    * rounds, deterministic first-k init; `seeds` are then unused. The
    * production configuration is `trained + residual` (codebook quality is
    * what recall rides on — AnnRecallProbe's rung table); the seed-slice
    * books exist for the SQL-replayable driver oracles.
    */
  case class PqSpec(seeds: DataFrame, seedId: String, vecCol: String,
      m: Int = 4, subDim: Int = 16, residual: Boolean = false,
      trained: Boolean = false, k: Int = 64, iterations: Int = 3)
}
