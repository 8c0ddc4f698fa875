package graft

import java.nio.file.Files

import graft.model.Schemas
import graft.model.Schemas.FileStatus
import graft.operators.Dedup
import graft.sources.{AtomicWarehouse, CsvSource, Warehouse}
import graft.streaming.DedupStream
import org.apache.spark.sql.functions._

/** Adversarial proof of the crash-recovery contract: every batch is one
  * manifest commit, so a crash anywhere inside it leaves NO partial state,
  * and the replay lands the batch exactly once:
  *
  *   - EP1/ledger: a crash mid-merge leaves every dim at its pre-batch
  *     snapshot and the attempt non-Success; a plain RE-RUN converges the
  *     dims to exactly the clean-run end-state, with the failed attempt
  *     preserved in ledger history.
  *   - Streams: a checkpoint replay of a crashed batch admits it once — no
  *     duplicate rows in any table, nothing lost.
  *
  * Crashes are injected at the warehouse boundary ([[FailingWarehouse]]),
  * at the worst points: after some-but-not-all dim replaces, and after the
  * other writes of a stream batch have staged.
  */
class CrashConsistencySpec extends SparkSpec {
  import spark.implicits._

  private def failing(prefix: String) =
    new FailingWarehouse(spark, Files.createTempDirectory(prefix).toString)

  private val sampleCsv =
    """Producto,Fecha 1,Provedor,Precio,,,,
      |Aceite Capullo 500ml *,07/03/2025,Vicente,1.347,,,,
      |Arroz Premium 1kg x 12,07/03/2025,DosPinos,2.500,,,,
      |Arroz Premium 1kg x 12,08/03/2025,Dos Pinos,2.600,,,,
      |Queso Tierno 400g,1/07/2025,Serrano ,1.800,,,,
      |""".stripMargin

  private def dimState(wh: Warehouse): (Seq[String], Seq[String], Long, Seq[String]) = (
    wh.read("dims/Provider", Schemas.provider).collect().map(_.getString(1)).sorted.toSeq,
    wh.read("dims/Product", Schemas.product).collect().map(_.getString(2)).sorted.toSeq,
    wh.read("dims/Provider_Product", Schemas.providerProduct).count(),
    wh.read("dims/UnitOfMeasure", Schemas.unitOfMeasure).collect().map(_.getString(1)).sorted.toSeq)

  test("EP1 crash mid-merge: re-run converges dims to the clean end-state") {
    // clean reference run
    val cleanWh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-crash-clean-").toString)
    assert(new Pipeline(spark, cleanWh)
      .processCsv(CsvSource.readString(spark, sampleCsv), "products", "lista.csv").status)
    val want = dimState(cleanWh)

    // crashed run: UoM and Provider merge, then the Product replace dies —
    // the merge transaction aborts whole, the attempt stays non-Success
    val wh = failing("graft-crash-")
    val p = new Pipeline(spark, wh)
    wh.failOn = Some("dims/Product")
    val crashed = p.processCsv(CsvSource.readString(spark, sampleCsv), "products", "lista.csv")
    assert(!crashed.status && crashed.message.contains("injected crash"))
    assert(p.ledger.statusOf("products", "lista.csv") == FileStatus.Failed)
    assert(Seq("dims/UnitOfMeasure", "dims/Provider", "dims/Product", "dims/Provider_Product")
      .forall(t => !wh.exists(t)), "no dim of the crashed batch may be visible")

    // recovery = plain re-run, no cleanup step required
    wh.failOn = None
    assert(p.processCsv(CsvSource.readString(spark, sampleCsv), "products", "lista.csv").status)
    assert(dimState(wh) == want)
    assert(p.ledger.statusOf("products", "lista.csv") == FileStatus.Success)
    // the failed attempt is preserved as history, not erased
    assert(p.ledger.all().filter(col("StatusId") === FileStatus.Failed).count() == 1)
  }

  test("DedupStream crash after partial admit: replay keeps pairs/corpus set-exact") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id".cast("long").as("doc_id"), $"text")
      .orderBy("doc_id").limit(150).as[(Long, String)].collect()
    val Seq(b1, b2, b3) = docs.grouped(50).map(_.toSeq.toDF("doc_id", "text")).toSeq

    val wh = failing("graft-crash-ds-")
    val ds = new DedupStream(wh, minJaccard = 0.35, minSigMatchesOverride = 4)
    ds.processBatch(b1)
    val pairsAfterB1 = ds.pairs().count()

    // crash at the WORST point: pairs, bands and corpus staged, the
    // signature index write died (the concurrent admits settle before the
    // failure propagates) — none of the batch may be visible
    wh.failOn = Some(ds.indexTable)
    val boom = intercept[java.io.IOException](ds.processBatch(b2))
    assert(boom.getMessage.contains("injected crash"))
    assert(ds.corpus().count() == 50 && ds.pairs().count() == pairsAfterB1)
    assert(wh.read(ds.bandTable, ds.bandSchema).select("doc_id").distinct().count() == 50)

    // recovery = checkpoint replays the batch; then life goes on with b3
    wh.failOn = None
    ds.processBatch(b2)
    ds.processBatch(b3)

    val streamed = ds.pairs().select("id_a", "id_b", "jaccard").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val scratch = Dedup.lshVerifiedPairs(docs.toSeq.toDF("doc_id", "text"), "doc_id", "text",
        minJaccard = 0.35, minSigMatchesOverride = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == scratch, s"streamed ${streamed.size} distinct pairs vs ${scratch.size}")

    // exactly-once admission: no table holds a duplicate row
    assert(ds.pairs().count() == scratch.size)
    assert(ds.corpus().count() == 150 && ds.corpus().select("doc_id").distinct().count() == 150)
    assert(wh.read(ds.indexTable, ds.sigSchema).count() == 150)
  }

  test("SemanticDedupStream crash mid-admit: replay survivor SET crash-free-exact") {
    def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id".cast("long").as("vec_id"),
        $"embedding".cast("array<float>").as("embedding"))
    def seeds = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("cell"), $"embedding".as("centroid"))
    val Seq(b1, b2, b3) = Seq(
      emb.filter($"vec_id" < 150),
      emb.filter($"vec_id" >= 150 && $"vec_id" < 300),
      emb.filter($"vec_id" >= 300))

    // crash-free reference run
    val cleanSd = new graft.streaming.SemanticDedupStream(
      new AtomicWarehouse(spark, Files.createTempDirectory("graft-crash-sem-clean-").toString),
      minCosine = 0.45)
    cleanSd.init(seeds)
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) => cleanSd.processBatch(b, i.toLong) }
    val want = cleanSd.survivors().select("id").collect().map(_.getLong(0)).toSet

    // crashed run: the index append staged (the batch's own rows would be
    // ghosts its replay probes against), the survivors write died — the
    // whole admit aborts
    val wh = failing("graft-crash-sem-")
    val sd = new graft.streaming.SemanticDedupStream(wh, minCosine = 0.45)
    sd.init(seeds)
    sd.processBatch(b1, 0L)
    wh.failOn = Some(sd.survivorsTable)
    assert(intercept[java.io.IOException](sd.processBatch(b2, 1L))
      .getMessage.contains("injected crash"))
    assert(sd.index().count() == 150, "no index row of the crashed batch may be visible")
    assert(!sd.ingested(1L), "batch 1 must not be marked applied after the crash")
    wh.failOn = None
    sd.processBatch(b2, 1L) // checkpoint replay
    sd.processBatch(b3, 2L)

    assert(sd.survivors().select("id").collect().map(_.getLong(0)).toSet == want,
      "replay changed the survivor set")
    // exactly-once: every arrived id indexed once, every survivor once
    assert(sd.index().count() == 500 && sd.index().select("id").distinct().count() == 500)
    assert(sd.survivors().count() == want.size)

    // second window: survivors and the replay mark staged, the stats append
    // crashed — the replay admits the batch once
    val wh2 = failing("graft-crash-sem2-")
    val sd2 = new graft.streaming.SemanticDedupStream(wh2, minCosine = 0.45)
    sd2.init(seeds)
    sd2.processBatch(b1, 0L)
    wh2.failOn = Some(sd2.statsTable)
    assert(intercept[java.io.IOException](sd2.processBatch(b2, 1L))
      .getMessage.contains("injected crash"))
    wh2.failOn = None
    sd2.processBatch(b2, 1L)
    sd2.processBatch(b3, 2L)
    assert(sd2.survivors().select("id").collect().map(_.getLong(0)).toSet == want)
    assert(sd2.survivors().count() == want.size)
  }

  test("IvfStream crash between appends: replay keeps the assignment ID set intact") {
    def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id".cast("long").as("vec_id"),
        $"embedding".cast("array<float>").as("embedding"))
    val wh = failing("graft-crash-ivf-")
    val st = new graft.streaming.IvfStream(wh)
    st.ivf.buildWith(emb.filter($"vec_id" < 300), "vec_id", "embedding",
      emb.filter($"vec_id" < 8).select($"vec_id".as("cell"), $"embedding".as("centroid")))

    // assignment append staged, the stats write crashed: nothing lands
    wh.failOn = Some(st.ivf.statsTable)
    assert(intercept[java.io.IOException](
      st.processBatch(emb.filter($"vec_id" >= 300), 0L))
      .getMessage.contains("injected crash"))
    assert(st.ivf.assignments().count() == 300)
    wh.failOn = None
    st.processBatch(emb.filter($"vec_id" >= 300), 0L) // checkpoint replay

    // exactly-once: every id assigned once, the batch marked applied
    val ids = st.ivf.assignments().select("id").distinct().count()
    assert(ids == 500, s"assignment id set $ids != 500")
    assert(st.ivf.assignments().count() == 500)
    assert(st.ivf.lastIngested == Some(0L))
  }
}
