package graft

import graft.model.Schemas
import graft.model.Schemas.{FileStatus, InvoiceProcessingResult, ProcessingResult, StagingSummary}
import graft.operators._
import graft.sources.{CsvSource, InvoiceExtractor, Warehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end orchestrator mirroring the reference's entry points
  * (SURVEY.md §3):
  *   - EP1 `processCsv`       ≈ process_csv_from_stream (etl_orchestrator.py:280-350)
  *   - EP2 `processInvoice`   ≈ process_invoice_image (:369-415)
  *   - EP3 `processCsvPath`   ≈ process_csv_from_blob (:352-366)
  *   - EP4 `validateCsv`      ≈ process_csv_from_string (:418-464)
  *
  * Steps 5-9 of EP1 (parse → canonicalize → transform → staging) stay one
  * lazy logical plan; only the merge layer and the ledger touch storage.
  */
class Pipeline(val spark: SparkSession, val wh: Warehouse) {

  val ledger = new Ledger(wh)

  final case class Dims(provider: DataFrame, product: DataFrame, providerProduct: DataFrame,
      unitOfMeasure: DataFrame, providerSynonym: DataFrame, uomAcronym: DataFrame)

  private def dims(w: Warehouse): Dims = Dims(
    provider = w.read("dims/Provider", Schemas.provider),
    product = w.read("dims/Product", Schemas.product),
    providerProduct = w.read("dims/Provider_Product", Schemas.providerProduct),
    unitOfMeasure = w.read("dims/UnitOfMeasure", Schemas.unitOfMeasure),
    providerSynonym = w.read("lookup/ProviderSynonym", Schemas.providerSynonym),
    uomAcronym = w.read("lookup/UnitOfMeasureAcronym", Schemas.unitOfMeasureAcronym))

  /** EP1 steps 6-10 on an already-parsed raw frame; returns staging counts. */
  def runBatch(raw: DataFrame): StagingSummary = {
    val batchGuid = java.util.UUID.randomUUID().toString // F16, per-batch constant

    val transformed = TransformPipeline(Canonicalize.canonicalize(Canonicalize.dropJunkColumns(raw)))
    val batch = Staging.build(transformed, batchGuid)

    // persist staging (batch-scoped, mirrors Staging.* tables; cleaned below).
    // The summary counts ride the writes as OBSERVED metrics (rows written ≡
    // rows read back — the three read-back count() jobs were pure overhead),
    // and the three independent appends run concurrently so their job
    // latencies collapse into one stage wave (guide §1.5/§2.6): a processCsv
    // run paid 6 serial driver jobs here, now 1 wave. They stage as ONE
    // transaction (one manifest commit on an AtomicWarehouse; pass-through,
    // same concurrency, on the base warehouse).
    val stagingDir = s"staging/$batchGuid"
    import org.apache.spark.sql.{functions => F, Observation}
    val staged = Seq(
      ("Provider", batch.provider), ("Product", batch.product),
      ("Provider_Product", batch.providerProduct)).map { case (t, df) =>
      val obs = Observation(s"staging-$batchGuid-$t")
      (t, df.observe(obs, F.count(F.lit(1)).as("n")), obs)
    }
    wh.atomically { w =>
      Warehouse.settleAll(wh.spark, staged.map { case (t, df, _) =>
        () => w.append(s"$stagingDir/$t", df) })
    }
    def observedCount(obs: Observation): Long =
      obs.get("n") match { case n: Number => n.longValue(); case _ => 0L }
    // read back with the staged schemas: an inferring read runs one
    // footer-schema driver job per table
    val Seq(sp, spr, spp) = staged.map { case (t, df, _) =>
      wh.spark.read.schema(df.schema).parquet(wh.path(s"$stagingDir/$t")) }
    val summary = StagingSummary(observedCount(staged(0)._3),
      observedCount(staged(1)._3), observedCount(staged(2)._3))

    // merge staging → dims (J1-J5), in dependency order, as ONE declared
    // transaction — the boundary the reference gets from SQL Server
    // (etl_orchestrator.py:168-189). On the base warehouse `atomically` is
    // pass-through (the documented re-run-converges contract applies,
    // CrashConsistencySpec); on an AtomicWarehouse a crash mid-merge leaves
    // every dim at its pre-batch snapshot. Later merges read dims the
    // earlier replaces wrote, so the transactional view's reads must see
    // its own staged writes. Each merged frame is consumed exactly once
    // (replace stages BEFORE swapping/publishing, so the plan's reads of
    // the old dim stay valid during the write) — no cache/materialize
    // step; each merge is one job. Staging-table writes stay OUTSIDE this
    // transaction: they are batch-scoped scratch, deleted at commit and
    // orphaned (not corrupted) by a crash.
    wh.atomically { w =>
      val d = dims(w)
      w.replace("dims/UnitOfMeasure",
        Merge.mergeUnitsOfMeasure(d.unitOfMeasure, d.uomAcronym, spr))

      w.replace("dims/Provider",
        Merge.mergeProviders(d.provider, d.providerSynonym, sp))

      val d2 = dims(w)
      w.replace("dims/Product",
        Merge.mergeProducts(d2.product, d2.unitOfMeasure, d.uomAcronym, spr))

      val d3 = dims(w)
      w.replace("dims/Provider_Product",
        Merge.mergeProviderProducts(
          d3.providerProduct, d3.provider, d.providerSynonym, d3.product, spp))

      // post-merge staging cleanup (etl_orchestrator.py:182-184)
      w.delete(stagingDir)
    }
    summary
  }

  /** EP1 — full CSV pipeline with ledger lifecycle (skip-if-done, 2 → 3/4). */
  def processCsv(raw: DataFrame, container: String, fileName: String): ProcessingResult = {
    if (ledger.statusOf(container, fileName) == FileStatus.Success)
      return ProcessingResult(status = true, s"File $fileName already processed successfully, skipping")

    val attemptId = ledger.markInProgress(container, fileName)
    try {
      if (raw.isEmpty) {
        ledger.setStatus(attemptId, FileStatus.Failed)
        return ProcessingResult(status = false, "CSV file is empty")
      }
      val summary = runBatch(raw)
      ledger.setStatus(attemptId, FileStatus.Success)
      ProcessingResult(status = true,
        s"Processed $fileName: providers=${summary.providers} products=${summary.products} provider_products=${summary.providerProducts}")
    } catch {
      case e: Exception =>
        ledger.setStatus(attemptId, FileStatus.Failed)
        ProcessingResult(status = false, s"Error processing $fileName: ${e.getMessage}")
    }
  }

  /** EP3 — CSV from a path (the blob-download entry point). */
  def processCsvPath(path: String, container: String = "products"): ProcessingResult = {
    val name = new org.apache.hadoop.fs.Path(path).getName
    processCsv(CsvSource.readPath(spark, path), container, name)
  }

  /** EP2 — invoice image → extractor → persisted CSV → same pipeline.
    * Note: like the reference, this path skips the ledger (no idempotency
    * for images, etl_orchestrator.py:369-415).
    */
  def processInvoice(imageContent: Array[Byte], imageName: String,
      extractor: InvoiceExtractor,
      outputContainer: String = "products-from-invoices"): InvoiceProcessingResult = {
    try {
      val csvText = InvoiceExtractor.stripMarkdownFence(extractor.extract(imageContent, imageName))
      val raw = CsvSource.readString(spark, csvText)
      if (raw.isEmpty)
        return InvoiceProcessingResult(status = false,
          s"No products extracted from $imageName", 0, None, None)

      val csvName = imageName.replaceAll("\\.[^.]+$", "") + "_extracted.csv"
      // S11 — persist the extracted table as a single CSV artifact. The
      // writer's whitespace trimming is OFF (it defaults ON, unlike the
      // reader): cell text must round-trip exactly — the reference's pandas
      // to_csv preserves e.g. trailing-space provider names, and the merge
      // layer is what decides which fields get trimmed
      raw.coalesce(1).write.mode("overwrite").option("header", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(wh.path(s"$outputContainer/$csvName"))

      val n = raw.count()
      runBatch(raw)
      InvoiceProcessingResult(status = true,
        s"Extracted and processed $n products from $imageName", n, Some(csvName), Some(outputContainer))
    } catch {
      case e: Exception =>
        InvoiceProcessingResult(status = false,
          s"Error processing invoice $imageName: ${e.getMessage}", 0, None, None)
    }
  }

  /** EP4 — header validation + store only (csv-from-string). */
  def validateCsv(csvText: String, fileName: String,
      container: String = "products-upload"): ProcessingResult = {
    val df = CsvSource.readString(spark, csvText)
    val v = Canonicalize.validateHeaders(df.columns.toIndexedSeq)
    if (!v.ok) return ProcessingResult(status = false, v.message)
    df.coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(wh.path(s"$container/$fileName"))
    ProcessingResult(status = true,
      if (v.extra.nonEmpty) v.message else s"Stored $fileName")
  }
}
