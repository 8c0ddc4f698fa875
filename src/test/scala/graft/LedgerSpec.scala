package graft

import java.nio.file.Files

import graft.model.Schemas
import graft.model.Schemas.FileStatus
import graft.operators.Ledger
import graft.sources.{AtomicWarehouse, ColEq}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** The ledger's driver-side view: a replay is answered without a Spark job,
  * and every answer the view gives equals the one the `all()` table gives,
  * whoever changed the log and however.
  */
class LedgerSpec extends SparkSpec {
  private val table = "ledger/ProcessFile"
  private val logSchema = StructType(
    Schemas.processFile.fields :+ StructField("SeqNo", IntegerType, nullable = false))

  private def tempWh(prefix: String) =
    new AtomicWarehouse(spark, Files.createTempDirectory(prefix).toString)

  /** Spark jobs started while `body` runs: the listener bus is asynchronous
    * but ordered, so every job of `body` is counted once the marker job
    * after it has been seen.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = s"ledger-marker-${java.util.UUID.randomUUID()}"
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val done = new java.util.concurrent.CountDownLatch(1)
    def mark(): Unit = {
      sc.setJobDescription(marker)
      try spark.range(1).count() finally sc.setJobDescription(null)
    }
    @volatile var counting = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties.getProperty("spark.job.description")).contains(marker)) {
          if (counting) done.countDown() else counting = true
        } else if (counting) started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      mark(); body; mark()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never seen")
    } finally sc.removeSparkListener(listener)
    started.get()
  }

  private val csv =
    """Producto,Fecha 1,Provedor,Precio,,,,
      |Aceite Capullo 500ml *,07/03/2025,Vicente,1.347,,,,
      |Arroz Premium 1kg x 12,07/03/2025,DosPinos,2.500,,,,
      |""".stripMargin

  test("a replay through processCsvPath runs no Spark job, and skips once the CSV is gone") {
    val wh = tempWh("graft-ledger-replay-")
    val p = new Pipeline(spark, wh)
    val dir = Files.createTempDirectory("graft-ledger-in-")
    val f = dir.resolve("lista.csv")
    Files.write(f, csv.getBytes("UTF-8"))
    val fresh = p.processCsvPath(f.toString)
    assert(fresh.status && !fresh.message.contains("skipping"), fresh.message)

    var replay: Schemas.ProcessingResult = null
    val jobs = jobsDuring { replay = p.processCsvPath(f.toString) }
    assert(replay.status && replay.message.contains("already processed successfully, skipping"),
      replay.message)
    assert(jobs == 0, s"a replay ran $jobs Spark jobs")

    Files.delete(f)
    val gone = p.processCsvPath(f.toString)
    assert(gone.status && gone.message.contains("already processed"), gone.message)
    // a fresh Pipeline (empty view) on the same root still skips the replay
    assert(new Pipeline(spark, wh).processCsvPath(f.toString).message.contains("skipping"))
    assert(p.ledger.all().count() == 1)
  }

  test("the view answers like all() after another instance, a DV delete, compaction and restore") {
    val wh = tempWh("graft-ledger-view-")
    val a = new Ledger(wh)
    val b = new Ledger(wh)
    val files = Seq("f1.csv", "f2.csv", "f3.csv", "never.csv")
    def latestRows(): Map[Int, org.apache.spark.sql.Row] =
      a.all().collect().map(r => r.getInt(0) -> r).toMap
    // statusOf, the next minted id and a flip, each against all()
    def agrees(stage: String): Unit = {
      val rows = latestRows().values.toSeq
      files.foreach { f =>
        val want = rows.filter(r => r.getString(1) == "c" && r.getString(2) == f)
          .sortBy(-_.getInt(0)).headOption.map(_.getInt(3)).getOrElse(FileStatus.NotSeen)
        assert(a.statusOf("c", f) == want, s"$stage: statusOf($f)")
      }
      val wantId = (0 +: rows.map(_.getInt(0))).max + 1
      val probe = s"probe-$wantId.csv"
      val id = a.markInProgress("c", probe)
      assert(id == wantId, s"$stage: minted id")
      a.setStatus(id, FileStatus.Failed)
      val r = latestRows()(id)
      assert((r.getString(2), r.getInt(3)) == ((probe, FileStatus.Failed)), s"$stage: flip")
      assert(a.statusOf("c", probe) == FileStatus.Failed, s"$stage: own flip")
    }

    val i1 = a.markInProgress("c", "f1.csv"); a.setStatus(i1, FileStatus.Success)
    val i2 = a.markInProgress("c", "f2.csv"); a.setStatus(i2, FileStatus.Failed)
    agrees("own writes")
    val restorePoint = wh.versions().last

    // a second instance appends attempts the first has not folded
    val i3 = b.markInProgress("c", "f2.csv"); b.setStatus(i3, FileStatus.Success)
    b.markInProgress("c", "f3.csv")
    assert(a.statusOf("c", "f2.csv") == FileStatus.Success)
    agrees("second instance")

    // a flip of an attempt the view no longer holds (f2's first attempt was
    // superseded by i3): re-emits that attempt's latest row, as before
    val before = latestRows()(i2)
    a.setStatus(i2, FileStatus.Success)
    val flipped = latestRows()(i2)
    assert(flipped.getInt(3) == FileStatus.Success &&
      flipped.getString(2) == "f2.csv" && flipped.get(4) == before.get(4))
    a.setStatus(999, FileStatus.Success) // unknown id: nothing appended
    assert(!latestRows().contains(999))
    agrees("superseded flip")

    // compaction replaces every folded file
    wh.compact(table, logSchema)
    agrees("compaction")

    // a DV delete of f2's latest row (i3's Success flip) inside the
    // compacted file: f2 falls back to i3's InProgress row
    val hit = wh.deleteWhereDv(table, logSchema, Seq(ColEq("Id", i3), ColEq("SeqNo", 1)))
    assert(hit.deleted == 1 && hit.filesTombstoned == 1, hit)
    assert(a.statusOf("c", "f2.csv") == FileStatus.InProgress)
    agrees("deletion vector")
    // deleting the newest attempt outright lowers the next minted id
    val newest = latestRows().keys.max
    wh.deleteWhereDv(table, logSchema, Seq(ColEq("Id", newest)))
    agrees("newest attempt deleted")

    // restore to before the second instance wrote
    wh.restore(table, restorePoint)
    assert(a.statusOf("c", "f2.csv") == FileStatus.Failed)
    assert(a.statusOf("c", "f3.csv") == FileStatus.NotSeen)
    agrees("restore")
    assert(b.statusOf("c", "f3.csv") == FileStatus.NotSeen)
  }

  test("an armed FailingWarehouse aborts the ledger's own append") {
    val wh = new FailingWarehouse(spark, Files.createTempDirectory("graft-ledger-crash-").toString)
    val l = new Ledger(wh)
    val id = l.markInProgress("c", "a.csv")
    wh.failOn = Some(table)
    val e = intercept[java.io.IOException](l.setStatus(id, FileStatus.Success))
    assert(e.getMessage.contains("injected crash"))
    intercept[java.io.IOException](l.markInProgress("c", "b.csv"))
    wh.failOn = None
    // nothing of the aborted appends is visible, to the view or to all()
    assert(l.statusOf("c", "a.csv") == FileStatus.InProgress)
    assert(l.statusOf("c", "b.csv") == FileStatus.NotSeen)
    assert(l.all().filter(col("StatusId") =!= FileStatus.InProgress).count() == 0)
    assert(l.markInProgress("c", "b.csv") == id + 1)
  }
}
