package graft

import java.nio.file.Files

import graft.model.Schemas
import graft.operators.Canonicalize
import graft.sources.{AtomicWarehouse, CsvSource, InvoiceExtractor, Warehouse}
import org.apache.spark.sql.functions._

/** Component/integration tier (reference tier-2, SURVEY.md §5): full EP1-EP4
  * flows against a temp warehouse, including the merge end-state semantics
  * the stored procedures produced (camel-case provider unification, trailing
  * space key folding, idempotency skip).
  */
class PipelineSpec extends SparkSpec {

  private def freshPipeline(): Pipeline = {
    val dir = Files.createTempDirectory("graft-wh-").toString
    new Pipeline(spark, new AtomicWarehouse(spark, dir))
  }

  private val sampleCsv =
    """Producto,Fecha 1,Provedor,Precio,,,,
      |Aceite Capullo 500ml *,07/03/2025,Vicente,1.347,,,,
      |Arroz Premium 1kg x 12,07/03/2025,DosPinos,2.500,,,,
      |Arroz Premium 1kg x 12,08/03/2025,Dos Pinos,2.600,,,,
      |Queso Tierno 400g,1/07/2025,Serrano ,1.800,,,,
      |Queso Tierno 400g,23/04/20025,Serrano,1.900,,,,
      |MINI PAPA KITTY 1X30(G13),07/03/2025,Kitty,350,,,,
      |""".stripMargin

  test("EP1 end-to-end: clean, stage, merge into dims") {
    val p = freshPipeline()
    val raw = CsvSource.readString(spark, sampleCsv)
    val res = p.processCsv(raw, "products", "lista.csv")
    assert(res.status, res.message)

    val providers = p.wh.read("dims/Provider", Schemas.provider).collect()
    // DosPinos + Dos Pinos unify via camel-case separation (F4);
    // "Serrano " and "Serrano" fold into ONE dim row via rtrim merge key
    val names = providers.map(_.getString(1)).sorted
    assert(names.toSeq == Seq("Dos Pinos", "Kitty", "Serrano", "Vicente"), names.mkString("|"))

    val products = p.wh.read("dims/Product", Schemas.product).collect()
    assert(products.length == 4) // distinct raw descriptions
    val capullo = products.find(_.getString(2).contains("Aceite Capullo")).get
    assert(capullo.getDecimal(3) == new java.math.BigDecimal("500.00")) // Measure

    val pp = p.wh.read("dims/Provider_Product", Schemas.providerProduct)
    assert(pp.count() == 4) // one per (provider, product) pair after dedup
    val capId = capullo.getInt(0)
    val capPp = pp.filter(col("ProductId") === capId).collect().head
    assert(capPp.getDecimal(7) == new java.math.BigDecimal("1347.00")) // Price

    // the WHOLE latest-review row wins: Queso has (1/07/2025, 1.800) and a
    // malformed-date row (price 1.900) — the valid-date row's price must win,
    // NOT a fabricated mix of max(date) with max(price)
    val queso = products.find(_.getString(2).startsWith("Queso Tierno")).get
    val quesoPp = pp.filter(col("ProductId") === queso.getInt(0)).collect().head
    assert(quesoPp.getTimestamp(4).toString.startsWith("2025-07-01"), "latest valid date")
    assert(quesoPp.getDecimal(7) == new java.math.BigDecimal("1800.00"),
      s"price must come from the winning row, got ${quesoPp.getDecimal(7)}")

    // UOM auto-created from extracted units (ml, kg, g — plus "x" from
    // "1X30", where the measure regex legitimately matches measure=1 unit=X,
    // exactly as the reference's regex does)
    val uoms = p.wh.read("dims/UnitOfMeasure", Schemas.unitOfMeasure).collect().map(_.getString(1)).sorted
    assert(uoms.toSeq == Seq("g", "kg", "ml", "x"), uoms.mkString("|"))

    // ledger reached Success
    assert(p.ledger.statusOf("products", "lista.csv") == Schemas.FileStatus.Success)
  }

  test("EP1 idempotency: second run skips, reprocessing updates not duplicates") {
    val p = freshPipeline()
    val raw = CsvSource.readString(spark, sampleCsv)
    assert(p.processCsv(raw, "products", "a.csv").status)
    val res2 = p.processCsv(raw, "products", "a.csv")
    assert(res2.status && res2.message.contains("already processed"))

    // same content under a new name: merge must UPSERT, not duplicate
    assert(p.processCsv(raw, "products", "b.csv").status)
    assert(p.wh.read("dims/Provider", Schemas.provider).count() == 4)
    assert(p.wh.read("dims/Product", Schemas.product).count() == 4)
    assert(p.wh.read("dims/Provider_Product", Schemas.providerProduct).count() == 4)
  }

  test("EP1 resumes over a directory-laid root: replay skips, a new file merges like a fresh run") {
    // a price list that re-prices one product and adds a provider
    val secondCsv =
      """Producto,Fecha 1,Provedor,Precio,,,,
        |Aceite Capullo 500ml *,09/03/2025,Vicente,1.400,,,,
        |Leche Entera 1L,09/03/2025,Dos Pinos,0.950,,,,
        |Galleta Maria 200g,09/03/2025,Pozuelo,0.700,,,,
        |""".stripMargin
    def seeded(): AtomicWarehouse = {
      val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-resume-").toString)
      wh.append("lookup/ProviderSynonym", spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(1, "DosPinos", 1)), Schemas.providerSynonym))
      wh.append("lookup/UnitOfMeasureAcronym", spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(1, "ml", 1)), Schemas.unitOfMeasureAcronym))
      wh
    }
    def dimState(wh: Warehouse) = (
      wh.read("dims/Provider", Schemas.provider).collect().map(_.getString(1)).sorted.toSeq,
      wh.read("dims/Product", Schemas.product).collect().map(_.getString(2)).sorted.toSeq,
      wh.read("dims/Provider_Product", Schemas.providerProduct).collect()
        .map(r => (r.getInt(1), r.getInt(2), r.getDecimal(7))).sorted.toSeq,
      wh.read("dims/UnitOfMeasure", Schemas.unitOfMeasure).collect().map(_.getString(1)).sorted.toSeq)

    // reference: both files on a fresh warehouse
    val fresh = seeded()
    val pf = new Pipeline(spark, fresh)
    assert(pf.processCsv(CsvSource.readString(spark, sampleCsv), "products", "a.csv").status)
    assert(pf.processCsv(CsvSource.readString(spark, secondCsv), "products", "b.csv").status)
    val want = dimState(fresh)

    // the old root: after file A, every table as a plain parquet directory
    // (no manifest log), the layout a directory-swap writer leaves behind
    val src = seeded()
    assert(new Pipeline(spark, src)
      .processCsv(CsvSource.readString(spark, sampleCsv), "products", "a.csv").status)
    val legacyRoot = Files.createTempDirectory("graft-resume-legacy-").toString
    Seq("dims/Provider", "dims/Product", "dims/Provider_Product", "dims/UnitOfMeasure",
      "lookup/ProviderSynonym", "lookup/UnitOfMeasureAcronym", "ledger/ProcessFile").foreach { t =>
      src.read(t, src.inferSchema(t).get).write.parquet(s"$legacyRoot/$t")
    }
    assert(!Files.exists(java.nio.file.Paths.get(legacyRoot, "_txlog")))

    val legacy = new AtomicWarehouse(spark, legacyRoot)
    val p = new Pipeline(spark, legacy)
    val replay = p.processCsv(CsvSource.readString(spark, sampleCsv), "products", "a.csv")
    assert(replay.status && replay.message.contains("already processed"), replay.message)
    assert(p.processCsv(CsvSource.readString(spark, secondCsv), "products", "b.csv").status)
    assert(dimState(legacy) == want)
    assert(p.ledger.statusOf("products", "b.csv") == Schemas.FileStatus.Success)
  }

  test("generated classes survive across files: a replay compiles none, a later file few") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val p = new Pipeline(spark,
      new AtomicWarehouse(spark, Files.createTempDirectory("graft-wh-cg-").toString))
    // Janino compiles run by `step` (one histogram sample per compile)
    def compiles(step: => Unit): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      step
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    def ingest(name: String, csv: String): Long = compiles {
      val res = p.processCsv(CsvSource.readString(spark, csv), "products", name)
      assert(res.status, res.message)
    }
    def file(k: Int) = sampleCsv
      .replace("Vicente,1.347", s"Vicente,1.3$k")
      .replace("Kitty,350", s"Kitty $k,35$k") +
      s"Galleta $k 200g,0$k/04/2025,Proveedor $k,9${k}0,,,,\n"
    val steps = Seq("fresh A" -> ingest("a.csv", file(1)), "replay A" -> ingest("a.csv", file(1)),
      "fresh B" -> ingest("b.csv", file(2)), "replay B" -> ingest("b.csv", file(2)),
      "fresh C" -> ingest("c.csv", file(3)))
    info(steps.mkString("compiles: ", ", ", ""))
    val n = steps.toMap
    // at Spark's default cap (100 classes) a file's ~150 classes evict each
    // other between files: ~22 compiles per replay and ~145 per fresh file
    assert(n("replay B") == 0, steps.mkString(", "))
    assert(n("fresh C") < 30, steps.mkString(", "))
  }

  test("EP1 update semantics: price/date change flows into Provider_Product") {
    val p = freshPipeline()
    assert(p.processCsv(CsvSource.readString(spark, sampleCsv), "products", "v1.csv").status)
    val updated = sampleCsv.replace("07/03/2025,Vicente,1.347", "09/03/2025,Vicente,1.400")
    assert(p.processCsv(CsvSource.readString(spark, updated), "products", "v2.csv").status)

    val prod = p.wh.read("dims/Product", Schemas.product)
      .filter(col("Description").contains("Aceite Capullo")).collect().head
    val pp = p.wh.read("dims/Provider_Product", Schemas.providerProduct)
      .filter(col("ProductId") === prod.getInt(0)).collect()
    assert(pp.length == 1)
    assert(pp.head.getDecimal(7) == new java.math.BigDecimal("1400.00"))
    assert(pp.head.getTimestamp(4).toString.startsWith("2025-03-09"))
  }

  test("empty CSV fails with ledger status 4") {
    val p = freshPipeline()
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("Producto", org.apache.spark.sql.types.StringType))))
    val res = p.processCsv(empty, "products", "empty.csv")
    assert(!res.status)
    assert(p.ledger.statusOf("products", "empty.csv") == Schemas.FileStatus.Failed)
  }

  test("EP2 invoice extraction with fenced LLM output (mock, like the reference)") {
    val p = freshPipeline()
    val fenced =
      "```csv\nProducto,Provedor,Precio,Porcentaje de IVA\nHarina 1kg,ProveedorX,900,13\nAzucar 2kg,ProveedorX,1.200,13\n```"
    val res = p.processInvoice(Array[Byte](1, 2, 3), "factura001.jpg", InvoiceExtractor.Stub(fenced))
    assert(res.status, res.message)
    assert(res.productsExtracted == 2)
    assert(res.csvFilename.contains("factura001_extracted.csv"))
    assert(p.wh.read("dims/Product", Schemas.product).count() == 2)
    // PercentageIVA came from the column (not re-extracted from description)
    val pp = p.wh.read("dims/Provider_Product", Schemas.providerProduct).collect()
    assert(pp.forall(_.getDecimal(6) == new java.math.BigDecimal("13.00")))
  }

  test("EP2 invoice variants: unfenced CSV works; empty extraction fails cleanly") {
    val p = freshPipeline()
    // unfenced model output passes straight through (fence strip is a no-op)
    val plain = "Producto,Provedor,Precio,Porcentaje de IVA\nCafe 340g,ProveedorY,2.100,13\n"
    val r1 = p.processInvoice(Array[Byte](9), "plain.jpg", InvoiceExtractor.Stub(plain))
    assert(r1.status && r1.productsExtracted == 1, r1.message)

    // header-only extraction → zero products → failure result, nothing staged
    val empty = "```csv\nProducto,Provedor,Precio\n```"
    val r2 = p.processInvoice(Array[Byte](9), "empty.jpg", InvoiceExtractor.Stub(empty))
    assert(!r2.status && r2.productsExtracted == 0)
  }

  test("EP4 header validation: missing => error, extra => warn+store") {
    val p = freshPipeline()
    val bad = "Producto,Precio\nArroz,100"
    val r1 = p.validateCsv(bad, "bad.csv")
    assert(!r1.status && r1.message.contains("Fecha"))

    val extra = "Producto,Fecha,Provedor,Precio,IVA,Extra\nArroz,01/01/2024,X,100,13,zz"
    val r2 = p.validateCsv(extra, "ok.csv")
    assert(r2.status && r2.message.contains("Extra"))
  }

  test("junk trailing columns are tolerated and dropped (P1 real-data shape)") {
    val raw = CsvSource.readString(spark, sampleCsv)
    val cleaned = Canonicalize.dropJunkColumns(raw)
    assert(cleaned.columns.toSeq == Seq("Producto", "Fecha 1", "Provedor", "Precio"))
  }

  test("failed file can be reprocessed (status 4 does not block, unlike 3)") {
    val p = freshPipeline()
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("Producto", org.apache.spark.sql.types.StringType))))
    assert(!p.processCsv(empty, "products", "retry.csv").status)
    assert(p.ledger.statusOf("products", "retry.csv") == Schemas.FileStatus.Failed)
    // second attempt with good content goes through
    val ok = p.processCsv(CsvSource.readString(spark, sampleCsv), "products", "retry.csv")
    assert(ok.status, ok.message)
    assert(p.ledger.statusOf("products", "retry.csv") == Schemas.FileStatus.Success)
  }

  test("canonicalize: partial columns rename, unknown columns pass through") {
    import spark.implicits._
    val df = Seq(("Test Product", "1000", "zz")).toDF("Producto", "Precio", "OtherColumn")
    val out = Canonicalize.canonicalize(df)
    assert(out.columns.toSeq == Seq("Description", "Price", "OtherColumn"))
    // both Fecha variants present: first mapping wins, no duplicate column
    val df2 = Seq(("a", "b")).toDF("Fecha 1", "Fecha")
    val out2 = Canonicalize.canonicalize(df2)
    assert(out2.columns.count(_ == "LastReviewDt") == 1)
  }

  test("streaming runner: AvailableNow drains a directory with per-file ledger") {
    val p = freshPipeline()
    val inDir = Files.createTempDirectory("graft-in-").toString
    val cp = Files.createTempDirectory("graft-cp-").toString
    Files.writeString(java.nio.file.Paths.get(s"$inDir/f1.csv"), sampleCsv)
    Files.writeString(java.nio.file.Paths.get(s"$inDir/f2.csv"),
      "Producto,Fecha 1,Provedor,Precio,,,,\nNuevo Item 250g,01/02/2025,NuevoProv,500,,,,\n")

    val q = new streaming.StreamRunner(p).start(inDir, "stream", cp)
    assert(q.awaitTermination(120000), "stream failed to drain within 120 s")

    assert(p.ledger.statusOf("stream", "f1.csv") == Schemas.FileStatus.Success)
    assert(p.ledger.statusOf("stream", "f2.csv") == Schemas.FileStatus.Success)
    val names = p.wh.read("dims/Provider", Schemas.provider).collect().map(_.getString(1)).sorted
    assert(names.toSeq == Seq("Dos Pinos", "Kitty", "Nuevo Prov", "Serrano", "Vicente"))
  }
}
