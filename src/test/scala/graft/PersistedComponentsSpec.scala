package graft

import java.nio.file.Files

import graft.operators.{Dedup, PersistedComponents}
import graft.sources.AtomicWarehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The incremental dedup graph's contract: any batching of the edge set
  * accumulates to the one-shot [[Dedup.connectedComponents]] labels — lazy
  * merge journaling, label takeover by smaller ids, cross-batch merge
  * chains, and fold() amortization all preserve min-id labels exactly.
  */
class PersistedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): (AtomicWarehouse, PersistedComponents) = {
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-pcc-").toString)
    (wh, new PersistedComponents(wh))
  }

  private def labels(cc: PersistedComponents): Map[Long, Long] =
    cc.components().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def edges(es: (Long, Long)*): DataFrame = es.toDF("id_a", "id_b")

  test("hand-built: takeover by smaller id, cross-batch merge chain, fold, empty batch") {
    val (wh, cc) = fresh()
    intercept[IllegalArgumentException](cc.addEdges(edges((1L, 2L))))
    cc.build(edges((10L, 11L), (20L, 21L)))
    assert(labels(cc) == Map(10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    // a NEW node with a smaller id takes over an existing component's label
    cc.addEdges(edges((5L, 11L)))
    assert(labels(cc) == Map(5L -> 5L, 10L -> 5L, 11L -> 5L, 20L -> 20L, 21L -> 20L))
    // cross-batch chain: bridge the two components (journal depth 2 on one side)
    cc.addEdges(edges((21L, 10L)))
    assert(labels(cc) == Map(5L -> 5L, 10L -> 5L, 11L -> 5L, 20L -> 5L, 21L -> 5L))
    // fold amortizes the journal; labels unchanged, journal empty
    cc.fold()
    assert(labels(cc) == Map(5L -> 5L, 10L -> 5L, 11L -> 5L, 20L -> 5L, 21L -> 5L))
    assert(wh.read(cc.mergesTable, cc.mergesSchema).isEmpty, "fold left journal rows")
    // empty batch no-ops; isolated new pair starts its own component
    cc.addEdges(edges())
    cc.addEdges(edges((30L, 31L)))
    assert(labels(cc)(30L) == 30L && labels(cc)(31L) == 30L)
  }

  test("real pairs in arbitrary batches ≡ one-shot connectedComponents") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id".cast("long").as("doc_id"), $"text")
    val pairs = Dedup.lshVerifiedPairs(docs, "doc_id", "text",
        k = 5, numHashes = 8, rowsPerBand = 2, minJaccard = 0.35, minSigMatchesOverride = 4)
      .persist()
    val want = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // three interleaved batches (mod, not range — maximally bridging), a
    // fold mid-way, then compare labels exactly
    val (_, cc) = fresh()
    cc.build(pairs.filter(pmod($"id_b", lit(3)) === 0))
    cc.addEdges(pairs.filter(pmod($"id_b", lit(3)) === 1))
    cc.fold()
    cc.addEdges(pairs.filter(pmod($"id_b", lit(3)) === 2))
    val got = cc.components().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs.unpersist()
    assert(got == want, "incremental labels diverged from one-shot CC")
  }
}
