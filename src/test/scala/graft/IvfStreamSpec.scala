package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.operators.PersistedIvf
import graft.sources.AtomicWarehouse
import graft.streaming.IvfStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The streaming IVF loop's contracts: micro-batch ingest builds the SAME
  * index as batch ingest (assignment is a pure per-row function of vector ×
  * persisted centroids), checkpoint replays are ledgered no-ops, and the
  * drift trigger retrains mid-stream when fresh data moves away from the
  * trained centroids. The `sim_ivf_stream` driver oracle restates the
  * equivalence end-to-end in SQL; these cases pin the mechanisms directly.
  */
class IvfStreamSpec extends SparkSpec {
  import spark.implicits._

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select($"vec_id".cast("long").as("vec_id"),
      $"embedding".cast("array<float>").as("embedding"))

  private def seeds = emb.filter($"vec_id" < 8)
    .select($"vec_id".as("cell"), $"embedding".as("centroid"))

  private def writeChunks(inDir: String, parts: Seq[DataFrame]): Unit =
    parts.zipWithIndex.foreach { case (p, i) =>
      val tmp = Files.createTempDirectory(s"graft-ivfs-c$i-").toString + "/out"
      p.coalesce(1).write.parquet(tmp)
      val part = graft.LocalFs.onlyParquet(tmp)
      Files.move(part, Paths.get(inDir, f"chunk_$i%02d.parquet"), StandardCopyOption.ATOMIC_MOVE)
    }

  private def assignSet(ivf: PersistedIvf): Set[(Long, Int)] =
    ivf.assignments().select($"id", $"cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet

  private def streamed(): (IvfStream, Long => DataFrame) = {
    val inDir = Files.createTempDirectory("graft-ivfs-in-").toString
    val ckpt = Files.createTempDirectory("graft-ivfs-ck-").toString
    val whDir = Files.createTempDirectory("graft-ivfs-wh-").toString
    val tail = emb.filter($"vec_id" >= 300)
    writeChunks(inDir, (0 until 2).map(i => tail.filter(pmod($"vec_id", lit(2)) === i)))
    val st = new IvfStream(new AtomicWarehouse(spark, whDir))
    st.ivf.buildWith(emb.filter($"vec_id" < 300), "vec_id", "embedding", seeds)
    val q = st.start(inDir, ckpt, Trigger.AvailableNow())
    assert(q.awaitTermination(300000), "stream failed to drain within 300 s")
    (st, i => tail.filter(pmod($"vec_id", lit(2)) === i))
  }

  test("stream-ingested index is bit-identical to batch addVectors") {
    val (st, _) = streamed()
    val whDir = Files.createTempDirectory("graft-ivfb-wh-").toString
    val batch = new PersistedIvf(new AtomicWarehouse(spark, whDir))
    batch.buildWith(emb.filter($"vec_id" < 300), "vec_id", "embedding", seeds)
    batch.addVectors(emb.filter($"vec_id" >= 300), "vec_id", "embedding")

    assert(assignSet(st.ivf) == assignSet(batch))
    val a = st.ivf.topK(emb.filter($"vec_id" >= 8 && $"vec_id" < 18),
      "vec_id", "embedding", 5, nProbe = 2).collect().toSet
    val b = batch.topK(emb.filter($"vec_id" >= 8 && $"vec_id" < 18),
      "vec_id", "embedding", 5, nProbe = 2).collect().toSet
    assert(a == b, "streamed vs batch top-k diverged")
  }

  test("checkpoint replay of a committed batch is a ledgered no-op") {
    val (st, chunk) = streamed()
    assert(st.ivf.lastIngested == Some(1L),
      s"expected batch ids 0,1 under the high-water, got ${st.ivf.lastIngested}")
    val before = assignSet(st.ivf)
    val statsBefore = st.ivf.assignStats().count()
    st.processBatch(chunk(0), batchId = 0L) // what a checkpoint retry delivers
    assert(assignSet(st.ivf) == before, "replay duplicated assignment rows")
    assert(st.ivf.assignStats().count() == statsBefore, "replay appended a stats row")
  }

  test("drift trigger retrains mid-stream; ledger survives the rebuild") {
    // train on vectors clustered near axis 0, then stream a batch clustered
    // near axis 1: the mean winning cosine collapses, drifted() fires, and
    // the stream retrains from the persisted corpus
    def cluster(ids: Range, axis: Int): DataFrame =
      ids.map { i =>
        val v = Array.fill(4)(0.05f * (i % 3))
        v(axis) = 1f
        (i.toLong, v.toSeq)
      }.toDF("vec_id", "embedding").select($"vec_id", $"embedding".cast("array<float>").as("embedding"))

    val inDir = Files.createTempDirectory("graft-ivfd-in-").toString
    val ckpt = Files.createTempDirectory("graft-ivfd-ck-").toString
    val whDir = Files.createTempDirectory("graft-ivfd-wh-").toString
    writeChunks(inDir, Seq(cluster(100 until 140, axis = 1)))
    val st = new IvfStream(new AtomicWarehouse(spark, whDir),
      retrainNumCells = 2, retrainIterations = 2, driftMargin = 0.05)
    st.ivf.build(cluster(0 until 40, axis = 0), "vec_id", "embedding",
      numCells = 2, iterations = 2)
    val centsBefore = st.ivf.centroids().collect().map(_.toString).toSet

    val q = st.start(inDir, ckpt, Trigger.AvailableNow())
    assert(q.awaitTermination(300000), "stream failed to drain within 300 s")

    assert(!st.ivf.drifted(0.05), "retrain should have reset the drift ledger")
    assert(st.ivf.centroids().collect().map(_.toString).toSet != centsBefore,
      "centroids unchanged — retrain did not run")
    // every vector (train + streamed) is still exactly once in the index
    assert(st.ivf.assignments().select($"id").collect().map(_.getLong(0)).sorted.toSeq ==
      ((0L until 40L) ++ (100L until 140L)).toSeq)
    // and the replay high-water survived build()'s table replacement
    assert(st.ivf.lastIngested == Some(0L))
  }

  test("a legacy ingest ledger is adopted: its last batch's replay no-ops, the next commit retires it") {
    val tail = emb.filter($"vec_id" >= 300)
    def chunk(i: Int) = tail.filter(pmod($"vec_id", lit(2)) === i)
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-ivfs-legacy-").toString)
    // batch 0 admitted the way an older build did: assignments and stats
    // plus a row in its parquet `(batch_id)` ingest ledger
    val old = new PersistedIvf(wh)
    old.buildWith(emb.filter($"vec_id" < 300), "vec_id", "embedding", seeds)
    old.addVectors(chunk(0), "vec_id", "embedding")
    wh.append("ann/IngestLedger", Seq(0L).toDF("batch_id"))

    val st = new IvfStream(wh) // the restarted stream
    val before = assignSet(st.ivf)
    val head = wh.versions().last
    st.processBatch(chunk(0), batchId = 0L) // the checkpoint's replay of batch 0
    assert(assignSet(st.ivf) == before && wh.versions().last == head,
      "the replay of a legacy-ledgered batch was admitted again")
    assert(st.ivf.lastIngested == Some(0L))
    st.processBatch(chunk(1), batchId = 1L)
    assert(!wh.exists("ann/IngestLedger"), "the first new commit must retire the legacy ledger")
    assert(st.ivf.lastIngested == Some(1L))
    assert(st.ivf.assignments().count() == 500L && assignSet(st.ivf).size == 500)
    // a log fold keeps every answer, and the ledger stays gone
    val want = assignSet(st.ivf)
    wh.vacuum(0L)
    val resumed = new IvfStream(wh)
    assert(resumed.ivf.lastIngested == Some(1L) && assignSet(resumed.ivf) == want)
    assert(!wh.exists("ann/IngestLedger"))
  }
}
