package graft

import java.nio.file.Files

import graft.operators.{PersistedIvf, PersistedPostings}
import graft.sources.AtomicWarehouse
import graft.streaming.ExactDedupStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derived-state retraction (GDPR purge propagation): the inverted index,
  * the ANN cell assignments, and the exact-dedup survivor/hash pair all
  * un-learn purged documents via merge-on-read deletion vectors — zero
  * data-file rewrites — with their bookkeeping corrected in the SAME
  * manifest commit. Contracts under test: post-retraction BM25 ≡ a
  * from-scratch build over survivors (bit-exact, stats telescoping through
  * the negative row), ANN top-k ≡ the pre-purge ranking minus purged ids
  * (same centroids ⇒ same scores), and the dedup purge frees the sha
  * atomically so identical text re-admits as NEW (while the un-retractable
  * bloom may still route — it never decides).
  */
class RetractionSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  test("postings retraction ≡ from-scratch build over survivors, stats included") {
    val corpus = docsDf(Seq(
      (1L, "alpha beta gamma"), (2L, "beta beta delta"),
      (3L, "alpha delta delta epsilon"), (4L, ""), // token-less doc
      (5L, "gamma gamma gamma beta"), (6L, "epsilon alpha")))
    val queries = Seq((1L, "alpha delta"), (2L, "beta gamma")).toDF("q_id", "qtext")
    val purged = Seq(2L, 4L, 5L)

    val whA = new AtomicWarehouse(spark, Files.createTempDirectory("graft-rt-a-").toString)
    val ftsA = new PersistedPostings(whA)
    ftsA.build(corpus, "doc_id", "text")
    val gone = ftsA.retractDocs(purged)
    assert(gone > 0L)

    val whB = new AtomicWarehouse(spark, Files.createTempDirectory("graft-rt-b-").toString)
    val ftsB = new PersistedPostings(whB)
    ftsB.build(corpus.filter(!col("doc_id").isInCollection(purged)), "doc_id", "text")

    def res(f: PersistedPostings): Seq[(Long, Long, Long, Double)] =
      f.query(queries, "q_id", "qtext", k = 10)
        .select(col("q_id"), col("rank").cast("long"), col("id"), col("bm25"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq.sortBy(t => (t._1, t._2))
    assert(res(ftsA) == res(ftsB), "retracted index diverges from a fresh build")
    // the stats telescoped exactly (N counts the token-less doc too)
    val sr = ftsA.corpusStats().agg(sum(col("n")), sum(col("sumdl"))).head()
    assert(sr.getLong(0) == 3L)
    // zero data files rewritten: visible postings files unchanged
    // (merge-on-read), tombstones carry the deletes
    assert(whA.deletionVectors(ftsA.postingsTable).nonEmpty)
  }

  test("a purge of only token-less docs still corrects N") {
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-rt-n-").toString)
    val fts = new PersistedPostings(wh)
    fts.build(docsDf(Seq((1L, "alpha"), (2L, ""))), "doc_id", "text")
    assert(fts.retractDocs(Seq(2L)) == 0L) // no postings rows to tombstone
    val sr = fts.corpusStats().agg(sum(col("n"))).head()
    assert(sr.getLong(0) == 1L, "token-less purge must still decrement N")
  }

  test("IVF retraction = pre-purge ranking minus purged ids; drift gauge unaffected") {
    def vec(seed: Int): Array[Float] =
      Array.tabulate(8)(i => math.sin(seed * 13.7 + i * 2.3).toFloat)
    val vecs = (0L until 24L).map(i => (i, vec(i.toInt))).toDF("id", "vec")
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-rt-ivf-").toString)
    val ivf = new PersistedIvf(wh)
    ivf.build(vecs, "id", "vec", numCells = 4, iterations = 2)
    val queries = (100L until 103L).map(i => (i, vec(i.toInt))).toDF("id", "vec")
    def top(k: Int): Seq[(Long, Int, Long)] =
      ivf.topK(queries, "id", "vec", k = k, nProbe = 4)
        .select(col("q_id"), col("rank"), col("c_id")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val before = top(10)
    val purged = Seq(1L, 7L, 19L)
    assert(ivf.retractVectors(purged) == 3L)
    val after = top(7).map(t => (t._1, t._3))
    val expected = before.filterNot(p => purged.contains(p._3))
      .groupBy(_._1).toSeq.flatMap { case (_, l) =>
        l.sortBy(_._2).take(7).map(t => (t._1, t._3)) }
    assert(after.toSet == expected.toSet,
      "post-retraction top-k must be the old ranking minus purged ids")
    assert(after.forall(p => !purged.contains(p._2)))
    assert(wh.deletionVectors(ivf.assignTable).nonEmpty, "expected tombstones, not rewrites")
    assert(!ivf.drifted(), "retract stats rows must not trip the drift gauge")
    val nRetract = ivf.assignStats().filter(col("kind") === "retract").count()
    assert(nRetract == 1L, s"one retraction wrote $nRetract retract stats rows")
  }

  test("dedup retract frees the sha atomically; identical text re-admits as new") {
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-rt-dd-").toString)
    val st = new ExactDedupStream(wh, bloomMinIndexBytes = 0L) // bloom ON from batch 1
    st.processBatch(docsDf(Seq(
      (1L, "the quick brown fox"), (2L, "lazy dog"), (3L, "the quick brown fox"))))
    // 3 arrived, 2 survived (3L was an exact dup of 1L)
    assert(wh.read(st.corpusTable, st.docSchema).count() == 2L)
    val (docsGone, shasGone) = st.retract(Seq(1L))
    assert(docsGone == 1L && shasGone == 1L)
    assert(wh.read(st.corpusTable, st.docSchema).count() == 1L)
    // the SAME text arrives again: admitted as NEW (the sha was freed),
    // even though the un-retractable bloom still routes it to the probe
    st.processBatch(docsDf(Seq((9L, "the quick brown fox"))))
    val ids = wh.read(st.corpusTable, st.docSchema)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids == Set(2L, 9L), s"re-admission failed: $ids")
    // retracting an unknown id is a no-op
    assert(st.retract(Seq(777L)) == ((0L, 0L)))
  }
}
