package graft

import graft.operators.Retrieval
import org.apache.spark.sql.functions._

/** BM25 full-text retrieval: hand-derived goldens on a 3-doc corpus, the
  * length-normalization ordering, unknown-term no-op, and edge shapes.
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private val K1 = 1.2
  private val B = 0.75

  private def docs = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "durian durian durian durian")).toDF("doc_id", "text")
  // N = 3, sumdl = 9, avgdl = 3.0

  /** The operator's exact arithmetic, restated independently: idf·sat
    * floored to micro-units, /1e6, HALF_UP at 4dp.
    */
  private def expected(tf: Double, df: Long, dl: Double,
      terms: Seq[(Double, Long, Double)] = Nil): Double = {
    val parts = if (terms.nonEmpty) terms else Seq((tf, df, dl))
    val micro = parts.map { case (tfv, dfv, dlv) =>
      val idf = math.log((3.0 - dfv + 0.5) / (dfv + 0.5) + 1.0)
      val sat = (tfv * (K1 + 1.0)) / (tfv + K1 * ((1.0 - B) + B * dlv / 3.0))
      math.floor(1e6 * idf * sat).toLong
    }.sum
    BigDecimal(micro.toDouble / 1e6)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  private def run(queries: Seq[(Long, String)], k: Int = 10) =
    Retrieval.bm25(docs, "doc_id", "text",
        queries.toDF("q_id", "qtext"), "q_id", "qtext", k)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))

  test("single-term golden: tf saturation and exact micro-unit score") {
    val got = run(Seq((1L, "apple")))
    assert(got.toSeq == Seq((1L, 1, 1L, expected(tf = 2, df = 1, dl = 3))))
  }

  test("length normalization: same tf, shorter doc wins") {
    val got = run(Seq((1L, "banana")))
    assert(got.map(_._3).toSeq == Seq(2L, 1L), "shorter doc must rank first")
    assert(got.toSeq == Seq(
      (1L, 1, 2L, expected(tf = 1, df = 2, dl = 2)),
      (1L, 2, 1L, expected(tf = 1, df = 2, dl = 3))))
  }

  test("unknown query term contributes nothing") {
    assert(run(Seq((1L, "cherry zzz"))).toSeq == run(Seq((1L, "cherry"))).toSeq)
  }

  test("multi-term sum, k bound, duplicate query terms collapse") {
    // doc1 matches apple+banana, doc2 banana+cherry — doc1 wins on tf=2 apple
    val got = run(Seq((1L, "apple banana cherry")))
    assert(got.length == 2)
    assert(got(0) == ((1L, 1, 1L, expected(0, 0, 0, terms = Seq(
      (2.0, 1L, 3.0), (1.0, 2L, 3.0))))))
    assert(got(1) == ((1L, 2, 2L, expected(0, 0, 0, terms = Seq(
      (1.0, 2L, 2.0), (1.0, 1L, 2.0))))))
    // set-of-terms semantics: repeating a term must not double its weight
    assert(run(Seq((2L, "apple apple"))).map(r => (r._3, r._4)).toSeq ==
      run(Seq((2L, "apple"))).map(r => (r._3, r._4)).toSeq)
    // k bound
    assert(run(Seq((3L, "banana")), k = 1).length == 1)
  }

  test("no-match query yields no rows; empty query text yields no rows") {
    assert(run(Seq((1L, "zzz"))).isEmpty)
    assert(run(Seq((1L, ""))).isEmpty)
  }

  test("rrf: integer-exact fusion golden, overlap wins, equal-score ties by id") {
    def c(rank: Int): Long = 1000000000L / (60 + rank)
    def d(s: Long): Double = BigDecimal(s.toDouble / 1e9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r1 = Seq((1L, 10L, 1), (1L, 20L, 2)).toDF("q_id", "id", "rank")
    val r2 = Seq((1L, 20L, 1), (1L, 30L, 2)).toDF("q_id", "id", "rank")
    val got = Retrieval.rrf(Seq(r1, r2), k = 10).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // doc 20 appears in both lists → fused contribution beats either single
    assert(got.toSeq == Seq(
      (1L, 1, 20L, d(c(1) + c(2))),
      (1L, 2, 10L, d(c(1))),
      (1L, 3, 30L, d(c(2)))))
    // same fused score (both rank-1 in one list each) → lower id first
    val ties = Retrieval.rrf(Seq(
        Seq((2L, 5L, 1)).toDF("q_id", "id", "rank"),
        Seq((2L, 3L, 1)).toDF("q_id", "id", "rank")), k = 10)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(ties.toSeq == Seq((1, 3L), (2, 5L)))
  }

  test("weighted rrf: all-1000 ≡ unweighted, weights skew, cuts drop tail ranks") {
    import graft.operators.Retrieval
    import graft.operators.Retrieval.RrfLeg
    val a = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3)).toDF("q_id", "id", "rank")
    val b = Seq((1L, 11L, 1), (1L, 12L, 2), (1L, 13L, 3)).toDF("q_id", "id", "rank")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rank", "id", "rrf").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    // all-1000 weights reproduce the unweighted fusion digit for digit
    assert(rows(Retrieval.rrfWeighted(Seq(RrfLeg(a), RrfLeg(b)), k = 10)) ==
      rows(Retrieval.rrf(Seq(a, b), k = 10)),
      "weight 1000 per mille must equal the unweighted path exactly")
    // a dominant leg drags its exclusive picks above the shared ones:
    // with a at 1000 and b at 1, a's rank-1 (id 10) must beat b's rank-1
    // (id 11, which a only has at rank 2)
    val skew = rows(Retrieval.rrfWeighted(Seq(RrfLeg(a, 1000), RrfLeg(b, 1)), k = 10))
    assert(skew.head._3 == 10L, s"dominant leg's top pick lost: $skew")
    // golden: id 10 scores 1000·(1e9 div 61) = 16393442000 → 0.016393
    assert(skew.head._4 == 0.016393, s"weighted score drifted: ${skew.head}")
    // a topN cut removes tail contributions entirely: cutting b to depth 1
    // leaves id 13 (b rank 3) out of the fused candidates
    val cut = rows(Retrieval.rrfWeighted(Seq(RrfLeg(a), RrfLeg(b, 1000, Some(1))), k = 10))
    assert(!cut.exists(_._3 == 13L), s"cut leg leaked tail rank: $cut")
    intercept[IllegalArgumentException](
      Retrieval.rrfWeighted(Seq(RrfLeg(a, 0)), k = 10))
  }

  test("phrase search: overlaps count, duplicate-term phrases, single term ≡ tf, misses absent") {
    import graft.operators.PersistedPostings
    val corpus = Seq(
      (1L, "a b a b a"),       // "a b a" occurs at 1 and 3 (overlapping)
      (2L, "a a a"),           // "a a" occurs at 1 and 2
      (3L, "x a b y"),         // "a b" once; "a b a" never
      (4L, "b a b a b")).toDF("doc_id", "text")
    val wh = new graft.sources.AtomicWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-phr-").toString)
    val fts = new PersistedPostings(wh)
    fts.build(corpus, "doc_id", "text")
    def run(ps: Seq[(Long, String)]) =
      fts.phrase(ps.toDF("q_id", "qtext"), "q_id", "qtext", 10)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // overlapping occurrences count separately; ranking by count desc, id
    assert(run(Seq((1L, "a b a"))).toSeq == Seq((1L, 1, 1L, 2L), (1L, 2, 4L, 1L)))
    // duplicate-term phrase intersects the SAME position list at two offsets
    assert(run(Seq((2L, "a a"))).toSeq == Seq((2L, 1, 2L, 2L)))
    // single-term phrase = term frequency
    assert(run(Seq((3L, "a"))).toSeq ==
      Seq((3L, 1, 1L, 3L), (3L, 2, 2L, 3L), (3L, 3, 4L, 2L), (3L, 4, 3L, 1L)))
    // no-match phrase absent
    assert(run(Seq((4L, "b x"))).isEmpty)
    // an index built WITHOUT positions is refused, not silently empty:
    // rewrite BOTH tables to the pre-positions on-disk shape (postings
    // lacking pos, stats lacking haspos — parquet null-fills on read)
    val legacyWh = new graft.sources.AtomicWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-phr-legacy-").toString)
    val legacy = new PersistedPostings(legacyWh)
    legacy.build(corpus, "doc_id", "text")
    legacyWh.replace(legacy.postingsTable,
      legacyWh.read(legacy.postingsTable, legacy.postingsSchema).drop("pos"))
    legacyWh.replace(legacy.statsTable,
      legacyWh.read(legacy.statsTable, legacy.statsSchema).drop("haspos"))
    intercept[IllegalArgumentException](
      legacy.phrase(Seq((1L, "a b")).toDF("q_id", "qtext"), "q_id", "qtext", 10))
    // BM25 over the legacy index still works (positions are phrase-only)
    assert(legacy.query(Seq((1L, "a")).toDF("q_id", "qtext"), "q_id", "qtext", 2)
      .count() > 0)
    // an admit to the legacy index does NOT resurrect phrase search: the
    // new batch carries positions but the old rows still don't
    legacy.addDocs(Seq((9L, "a b c")).toDF("doc_id", "text"), "doc_id", "text")
    intercept[IllegalArgumentException](
      legacy.phrase(Seq((1L, "a b")).toDF("q_id", "qtext"), "q_id", "qtext", 10))
  }

  test("persisted index ≡ inline bm25; term pruning pinned; cap fallback; replay no-ops") {
    import graft.operators.PersistedPostings
    // empty and null texts count toward N (and nothing else) on BOTH paths
    val allDocs = docs.union(
      Seq((4L, ""), (5L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val queries = Seq(
      (1L, "apple banana cherry"), (2L, "durian"), (3L, "zzz")).toDF("q_id", "qtext")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    def inlineOn(ds: org.apache.spark.sql.DataFrame) =
      rows(Retrieval.bm25(ds, "doc_id", "text", queries, "q_id", "qtext", 10))

    val wh = new graft.sources.AtomicWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-fts-").toString)
    val fts = new PersistedPostings(wh)
    // query-before-build refuses
    intercept[IllegalArgumentException](fts.query(queries, "q_id", "qtext", 10))
    fts.build(allDocs.filter($"doc_id" <= 2), "doc_id", "text")
    fts.addDocs(allDocs.filter($"doc_id" > 2), "doc_id", "text")
    val persisted = fts.query(queries, "q_id", "qtext", 10)
    assert(rows(persisted) == inlineOn(allDocs),
      "persisted-index ranking diverged from the inline corpus scan")
    // the query-term In literal must reach the postings scan (planning-time
    // row-group pruning — the scan reads matched terms, not the corpus)
    val plan = persisted.queryExecution.executedPlan.toString
    assert(plan.contains("In(t"),
      s"query-term literals did not reach the postings scan:\n${plan.take(2000)}")
    // above the literal cap the filter degrades to a broadcast semi-join —
    // gone from the scan, results identical (a pure scan optimization)
    val fb = new PersistedPostings(wh, probeTermLimit = 1)
      .query(queries, "q_id", "qtext", 10)
    assert(!fb.queryExecution.executedPlan.toString.contains("In(t"))
    assert(rows(fb) == inlineOn(allDocs))

    // ledgered admit: a checkpoint replay of the same batch id no-ops
    val batch = Seq((9L, "apple")).toDF("doc_id", "text")
    val before = fts.postings().count()
    fts.addDocsLedgered(batch, "doc_id", "text", batchId = 7L)
    assert(fts.postings().count() == before + 1)
    fts.addDocsLedgered(batch, "doc_id", "text", batchId = 7L)
    assert(fts.postings().count() == before + 1, "replayed batch was double-counted")
    assert(rows(fts.query(queries, "q_id", "qtext", 10)) ==
      inlineOn(allDocs.union(batch)),
      "index after ledgered admit diverged from the grown corpus")
  }
}
