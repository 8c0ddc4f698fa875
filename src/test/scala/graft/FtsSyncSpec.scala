package graft

import java.nio.file.Files

import graft.operators.PersistedPostings
import graft.sources.{AtomicWarehouse, ColEq, ColIn, ColLt}
import graft.streaming.FtsSync
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The inverted index maintained as a materialized view of a corpus table's
  * change feed. Contract under test: after ANY row-level DML mix (append,
  * update, merge, DV delete) one sync makes BM25 over the index bit-exact
  * to a from-scratch build over the live corpus, applying the window as ONE
  * index commit (split only at over-cap commits, whose retraction chunks);
  * replays (wound-back cursor, repeated sync, a half-applied legacy commit)
  * drop every step the replay high-water (or an adopted legacy ledger)
  * already covers instead of corrupting N; un-reconstructible windows
  * refuse.
  */
class FtsSyncSpec extends SparkSpec {
  import spark.implicits._

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))

  private val queries = Seq(
    (1L, "alpha delta"), (2L, "beta gamma"), (3L, "zulu epsilon")).toDF("q_id", "qtext")

  private def fixture(): (AtomicWarehouse, PersistedPostings, FtsSync) = {
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-ftssync-").toString)
    wh.setChangeFeed("corpus", on = true)
    val fts = new PersistedPostings(wh)
    fts.build(Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
    (wh, fts, new FtsSync(wh, "corpus", docSchema, "doc_id", "text", fts))
  }

  private def bm25(f: PersistedPostings): Seq[(Long, Long, Long, Double)] =
    f.query(queries, "q_id", "qtext", k = 10)
      .select(col("q_id"), col("rank").cast("long"), col("id"), col("bm25"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(t => (t._1, t._2))

  private def freshOver(live: DataFrame): PersistedPostings = {
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-ftsref-").toString)
    val f = new PersistedPostings(wh)
    f.build(live, "doc_id", "text")
    f
  }

  test("index ≡ from-scratch build across append/update/merge/DV-delete, sync by sync") {
    val (wh, fts, mv) = fixture()
    def liveEq(): Unit =
      assert(bm25(fts) == bm25(freshOver(wh.read("corpus", docSchema))),
        "synced index diverges from a fresh build over the live corpus")
    wh.append("corpus", Seq(
      (1L, "alpha beta gamma"), (2L, "beta beta delta"),
      (3L, "alpha delta delta epsilon")).toDF("doc_id", "text").coalesce(1))
    wh.append("corpus", Seq(
      (4L, "gamma gamma beta"), (5L, "epsilon alpha zulu")).toDF("doc_id", "text").coalesce(1))
    mv.sync(); liveEq()
    // UPDATE: text edit = retraction + re-admission of the same id
    wh.updateWhere("corpus", docSchema, Seq(ColLt("doc_id", 3L)),
      Seq("text" -> concat(col("text"), lit(" zulu"))))
    mv.sync(); liveEq()
    // scattered DV delete + an upserting merge in the same window
    wh.deleteWhereDv("corpus", docSchema, Seq(ColIn("doc_id", Seq(2L, 5L))))
    wh.mergeInto("corpus", docSchema,
      Seq((3L, "delta only now"), (9L, "zulu zulu epsilon")).toDF("doc_id", "text"),
      Seq("doc_id"))
    mv.sync(); liveEq()
    // stats never drift: N equals the live corpus count
    val n = fts.corpusStats().agg(sum(col("n"))).head().getLong(0)
    assert(n == wh.read("corpus", docSchema).count())
    // idempotent: another sync moves nothing
    val c = mv.sync()
    assert(mv.sync() == c); liveEq()
  }

  test("a wound-back cursor replays the window; ledgers make it converge") {
    val (wh, fts, mv) = fixture()
    wh.append("corpus", Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text").coalesce(1))
    mv.sync()
    wh.updateWhere("corpus", docSchema, Seq(ColEq("doc_id", 1L)),
      Seq("text" -> lit("alpha delta")))
    wh.deleteWhereDv("corpus", docSchema, Seq(ColEq("doc_id", 2L)))
    mv.sync()
    val want = bm25(fts)
    val nWant = fts.corpusStats().agg(sum(col("n"))).head().getLong(0)
    // restored-from-backup maintenance driver: cursor back to genesis,
    // replay EVERYTHING — every half of every version is ledgered, so the
    // index hook never runs and only the cursor commits
    fts.wh.replace(mv.cursorTable, Seq(0L).toDF("version"))
    val before = wh.versions().last
    mv.sync()
    assert(wh.versions().last == before + 1,
      s"expected only the cursor commit; head moved ${wh.versions().last - before}")
    assert(bm25(fts) == want, "replay corrupted the index")
    assert(fts.corpusStats().agg(sum(col("n"))).head().getLong(0) == nWant,
      "replay corrupted N through a re-applied stats row")
  }

  test("idle syncs remember verified-empty windows; later churn and wind-backs still apply") {
    val (wh, fts, mv) = fixture()
    wh.append("corpus", Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text").coalesce(1))
    mv.sync()
    // index-only commits (shared warehouse) raise head with zero corpus churn
    fts.wh.append("scratch/Idle", Seq(1L).toDF("x"))
    fts.wh.append("scratch/Idle", Seq(2L).toDF("x"))
    val c1 = mv.sync() // walks the window once, finds it empty, remembers the scan
    assert(mv.sync() == c1, "idle sync moved the cursor")
    // churn AFTER the remembered empty window still applies on the next sync
    wh.updateWhere("corpus", docSchema, Seq(ColEq("doc_id", 1L)),
      Seq("text" -> lit("alpha zulu")))
    mv.sync()
    assert(bm25(fts) == bm25(freshOver(wh.read("corpus", docSchema))),
      "a commit landing after an idle scan was skipped")
    // an external cursor wind-back invalidates the remembered scan entirely
    fts.wh.replace(mv.cursorTable, Seq(0L).toDF("version"))
    mv.sync()
    assert(bm25(fts) == bm25(freshOver(wh.read("corpus", docSchema))),
      "wind-back after an idle scan failed to replay")
  }

  test("fused multi-commit window: churn algebra stays bit-exact (insert→delete, update×2, delete→reinsert)") {
    // the window-fusion equivalence argument's hard cases, all in ONE
    // multi-commit window (applyWindow's R/A classification):
    //   - doc 10 inserted then deleted inside the window → net zero (never
    //     in R: first event is an admit; never in A: last is a retract)
    //   - doc 1 updated twice → one tombstone of the PRE-window rows, one
    //     admit of the FINAL text, intermediate text never written
    //   - doc 2 deleted then re-inserted → in R and in A
    val (wh, fts, mv) = fixture()
    wh.append("corpus", Seq((1L, "alpha beta"), (2L, "beta gamma"), (3L, "zulu"))
      .toDF("doc_id", "text").coalesce(1))
    mv.sync()
    wh.append("corpus", Seq((10L, "gamma gamma")).toDF("doc_id", "text").coalesce(1))
    wh.updateWhere("corpus", docSchema, Seq(ColEq("doc_id", 1L)),
      Seq("text" -> lit("alpha mid")))
    wh.deleteWhereDv("corpus", docSchema, Seq(ColIn("doc_id", Seq(2L, 10L))))
    wh.updateWhere("corpus", docSchema, Seq(ColEq("doc_id", 1L)),
      Seq("text" -> lit("alpha delta final")))
    wh.mergeInto("corpus", docSchema,
      Seq((2L, "beta gamma reborn")).toDF("doc_id", "text"), Seq("doc_id"))
    mv.sync() // 5-commit window → one fused index commit
    assert(bm25(fts) == bm25(freshOver(wh.read("corpus", docSchema))),
      "fused window diverges from a fresh build over the live corpus")
    assert(fts.corpusStats().agg(sum(col("n"))).head().getLong(0) ==
      wh.read("corpus", docSchema).count(), "fused window corrupted N")
    // the intermediate text never reached the index (live or dead rows)
    assert(fts.postings().filter(col("t") === "mid").isEmpty,
      "fused window wrote an intermediate update's postings")
    // replay converges: wind the cursor back, every ledgered half is dropped
    val want = bm25(fts)
    fts.wh.replace(mv.cursorTable, Seq(0L).toDF("version"))
    mv.sync()
    assert(bm25(fts) == want, "replay of a fused window corrupted the index")
  }

  test("a giant-churn commit routes its retraction set around the driver (censusIdCap)") {
    val wh = new AtomicWarehouse(spark,
      Files.createTempDirectory("graft-churncap-").toString)
    wh.setChangeFeed("corpus", on = true)
    wh.append("corpus", (0L until 100L).map(i => (i, s"doc $i"))
      .toDF("doc_id", "text").coalesce(1))
    // every hook call's retraction sets, in call order
    val calls = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Seq[(Long, Seq[Long])]]())
    val mv = new graft.streaming.ChangeFeedSync(wh, "corpus", docSchema, "doc_id") {
      protected def cursorWh: graft.sources.Warehouse = wh
      val cursorTable = "sync/Cursor"
      override protected def censusIdCap: Int = 10
      protected def applyWindow(retracts: Seq[(Long, Seq[Long])],
          admits: Seq[(Long, DataFrame)]): Unit = calls.add(retracts)
    }
    // one small delete (under the cap) and one giant delete (over it)
    wh.deleteWhere("corpus", docSchema, Seq(ColIn("doc_id", Seq(1L, 2L, 3L))))
    val small = wh.versions().last.toLong
    wh.deleteWhere("corpus", docSchema,
      Seq(ColIn("doc_id", (10L until 60L))))
    val giant = wh.versions().last.toLong
    mv.sync()
    import scala.jdk.CollectionConverters._
    val sets = calls.asScala.toSeq.flatten
    // chunks carry negative sub-ids; corpus versions are positive
    val (chunks, plain) = sets.partition(_._1 < 0L)
    assert(plain.map { case (v, ids) => (v, ids.toSet) } ==
      Seq((small, Set(1L, 2L, 3L)), (giant, Set.empty[Long])),
      "exactly the over-cap commit takes the chunked path (its version " +
        s"arrives as an id-less completion marker): $plain")
    assert(sets.map(_._2.size).max <= 10,
      s"no driver-side id set may exceed the cap (saw ${sets.map(_._2.size).max})")
    assert(chunks.flatMap(_._2).sorted == (10L until 60L),
      "the giant commit's ids must converge exactly, each in one chunk")
    // idempotent: the cursor advanced, nothing replays
    val n = calls.size
    val c = mv.sync()
    assert(mv.sync() == c && calls.size == n)
  }

  test("FtsSync giant-churn retraction applies in bounded chunks, stays bit-exact, replays convergent") {
    val (wh, fts, _) = fixture()
    wh.append("corpus", (0L until 60L).map(i => (i, s"alpha doc$i beta gamma"))
      .toDF("doc_id", "text").coalesce(1))
    // the first attempt crashes after one chunk landed
    var chunksBeforeCrash = 1
    val mv = new FtsSync(wh, "corpus", docSchema, "doc_id", "text", fts) {
      override protected def censusIdCap: Int = 7
      override protected def applyWindow(retracts: Seq[(Long, Seq[Long])],
          admits: Seq[(Long, DataFrame)]): Unit = {
        if (retracts.exists(_._1 < 0L)) { // a chunk (negative sub-id)
          if (chunksBeforeCrash == 0) {
            chunksBeforeCrash = -1
            throw new IllegalStateException("crash between chunks")
          }
          chunksBeforeCrash -= 1
        }
        super.applyWindow(retracts, admits)
      }
    }
    mv.sync()
    // 40 retraction ids >> the cap → 6 chunks of ≤7
    wh.deleteWhere("corpus", docSchema, Seq(ColLt("doc_id", 40L)))
    intercept[IllegalStateException](mv.sync())
    // the retry skips the ledgered chunk instead of decrementing N twice
    mv.sync()
    assert(bm25(fts) == bm25(freshOver(wh.read("corpus", docSchema))),
      "chunked giant retraction diverged from a fresh build")
    assert(fts.corpusStats().agg(sum(col("n"))).head().getLong(0) == 20L,
      "N must telescope to the live count through the chunked stats rows")
    // a wound-back cursor replays: the completion marker drops the giant
    // commit's retraction, never a double decrement
    fts.wh.replace(mv.cursorTable, Seq(0L).toDF("version"))
    mv.sync()
    assert(bm25(fts) == bm25(freshOver(wh.read("corpus", docSchema))),
      "replay after a chunked retraction corrupted the index")
    assert(fts.corpusStats().agg(sum(col("n"))).head().getLong(0) == 20L)
  }

  test("VectorSync maintains the IVF index over an embeddings corpus the same way") {
    import graft.operators.PersistedIvf
    import graft.streaming.VectorSync
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    def vec(seed: Int): Array[Float] =
      Array.tabulate(8)(i => math.sin(seed * 13.7 + i * 2.3).toFloat)
    val vecSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("vec", ArrayType(FloatType), nullable = true)))
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-vsync-").toString)
    wh.setChangeFeed("emb", on = true)
    val seed = (0L until 12L).map(i => (i, vec(i.toInt))).toDF("id", "vec")
    wh.append("emb", seed.coalesce(1))
    val ivf = new PersistedIvf(wh)
    ivf.build(wh.read("emb", vecSchema), "id", "vec", numCells = 3, iterations = 2)
    val mv = new VectorSync(wh, "emb", vecSchema, "id", "vec", ivf)
    // the index was built FROM the seed state, so the cursor starts at the
    // feed head — the "seed via build on the corpus state at feed-enable
    // time" contract
    val seedHead = wh.versions().last.toLong
    wh.replace(mv.cursorTable, Seq(seedHead).toDF("version"))
    // churn: fresh vectors, a re-embedding UPDATE (the fused
    // retract+admit single-commit branch), and a scattered purge — one window
    wh.append("emb", (12L until 18L).map(i => (i, vec(i.toInt)))
      .toDF("id", "vec").coalesce(1))
    wh.updateWhere("emb", vecSchema, Seq(ColIn("id", Seq(3L, 7L))),
      Seq("vec" -> typedLit(vec(99).toSeq).cast(
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    wh.deleteWhereDv("emb", vecSchema, Seq(ColIn("id", Seq(2L, 5L, 13L))))
    mv.sync()
    // the re-embedded vectors live exactly once, under their new embedding
    assert(ivf.assignments().filter(col("id").isin(3L, 7L)).count() == 2L,
      "fused update duplicated or dropped re-embedded assignments")
    val liveIds = wh.read("emb", vecSchema).select(col("id"))
      .collect().map(_.getLong(0)).toSet
    val idxIds = ivf.assignments().select(col("id"))
      .collect().map(_.getLong(0)).toSet
    assert(idxIds == liveIds, "index ids diverge from the live corpus")
    // probes read through: purged never surface, fresh do
    val q = Seq((100L, vec(13))).toDF("id", "vec")
    val got = ivf.topK(q, "id", "vec", k = 5, nProbe = 3)
      .select(col("c_id")).collect().map(_.getLong(0)).toSet
    assert(!got.exists(Seq(2L, 5L, 13L).contains))
    // replay convergence through the ledgers — wound back to the SEED
    // head (never past it: the build-seeded window predates the ledgers,
    // which is exactly the "cursor starts at seed head" contract)
    val want = idxIds
    ivf.wh.replace(mv.cursorTable, Seq(seedHead).toDF("version"))
    mv.sync()
    assert(ivf.assignments().select(col("id"))
      .collect().map(_.getLong(0)).toSet == want, "replay corrupted the index")
    assert(ivf.assignments().count() == liveIds.size.toLong,
      "replay duplicated assignment rows")
  }

  test("VectorSync giant churn retracts in chunks and replays convergent") {
    import graft.operators.PersistedIvf
    import graft.streaming.VectorSync
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    def vec(seed: Int): Array[Float] =
      Array.tabulate(8)(i => math.cos(seed * 7.3 + i * 1.9).toFloat)
    val vecSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("vec", ArrayType(FloatType), nullable = true)))
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-vsyncg-").toString)
    wh.setChangeFeed("emb", on = true)
    wh.append("emb", (0L until 30L).map(i => (i, vec(i.toInt))).toDF("id", "vec").coalesce(1))
    val ivf = new PersistedIvf(wh)
    ivf.build(wh.read("emb", vecSchema), "id", "vec", numCells = 3, iterations = 2)
    val mv = new VectorSync(wh, "emb", vecSchema, "id", "vec", ivf) {
      override protected def censusIdCap: Int = 6
    }
    val seedHead = wh.versions().last.toLong
    wh.replace(mv.cursorTable, Seq(seedHead).toDF("version"))
    // 20 retraction ids >> cap 6 → the chunked frame path (4 chunks)
    wh.deleteWhereDv("emb", vecSchema, Seq(ColIn("id", (0L until 20L))))
    mv.sync()
    val liveIds = wh.read("emb", vecSchema).select(col("id"))
      .collect().map(_.getLong(0)).toSet
    assert(ivf.assignments().select(col("id")).collect().map(_.getLong(0)).toSet
      == liveIds, "chunked retraction diverged from the live corpus")
    // wound-back replay to the SEED head (never past it — the build-seeded
    // window predates the ledgers): the giant retraction must no-op
    // through its completion marker, not re-chunk
    val cur = mv.cursor()
    ivf.wh.replace(mv.cursorTable, Seq(seedHead).toDF("version"))
    mv.sync()
    assert(ivf.assignments().select(col("id")).collect().map(_.getLong(0)).toSet
      == liveIds, "replay corrupted the index")
    assert(ivf.assignments().count() == liveIds.size.toLong,
      "replay duplicated assignment rows")
    // the replay re-walked to the CURRENT head (the index's own commits
    // raised it past the pre-replay cursor on this shared warehouse)
    assert(mv.cursor() >= cur)
  }

  test("an UPDATE applies to the index in ONE fused commit (+1 cursor)") {
    val (wh, fts, mv) = fixture()
    wh.append("corpus", Seq(
      (1L, "alpha beta gamma"), (2L, "beta beta delta"))
      .toDF("doc_id", "text").coalesce(1))
    mv.sync()
    val before = wh.versions().last
    wh.updateWhere("corpus", docSchema, Seq(ColEq("doc_id", 1L)),
      Seq("text" -> lit("alpha zulu")))
    mv.sync()
    // corpus UPDATE (+1), the window's one retract+admit index commit (+1),
    // cursor (+1) — separate retract and admit commits would cost 4
    assert(wh.versions().last == before + 3,
      s"expected 3 commits (update, fused apply, cursor); head moved " +
        s"${wh.versions().last - before}")
    assert(bm25(fts) == bm25(freshOver(wh.read("corpus", docSchema))))
    // the replay high-water covers both halves of the corpus commit — one
    // atomic publish
    val v = (before + 1).toLong
    assert(mv.synced(v))
  }

  /** A root as an older build's sync left it: the corpus commits through
    * `through` applied to the index (`fts.addDocs`, as its admission did),
    * the cursor at `through`, and the applied versions in the two parquet
    * `(batch_id)` replay ledgers that build kept beside the index.
    */
  private def legacyRoot(wh: AtomicWarehouse, fts: PersistedPostings, mv: FtsSync,
      admitted: Seq[Long]): Unit = {
    fts.addDocs(wh.read("corpus", docSchema), "doc_id", "text")
    plantLedgers(wh, Nil, admitted)
    wh.replace(mv.cursorTable, Seq(wh.versions().last.toLong).toDF("version"))
  }

  private def plantLedgers(wh: AtomicWarehouse, retracted: Seq[Long],
      admitted: Seq[Long]): Unit = wh.atomically { w =>
    if (retracted.nonEmpty) w.append("fts/RetractLedger", retracted.toDF("batch_id"))
    if (admitted.nonEmpty) w.append("fts/IngestLedger", admitted.toDF("batch_id"))
  }

  test("a legacy half-applied commit (retract landed, admit lost) finishes") {
    val (wh, fts, mv) = fixture()
    wh.append("corpus", Seq(
      (1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text").coalesce(1))
    legacyRoot(wh, fts, mv, admitted = Seq(wh.versions().last.toLong))
    wh.updateWhere("corpus", docSchema, Seq(ColEq("doc_id", 1L)),
      Seq("text" -> lit("alpha delta")))
    // the OLD two-commit driver crashed between its halves: the retraction
    // landed with its ledger row under the corpus commit version, no admit
    val v = wh.versions().last.toLong
    fts.retractDocs(Seq(1L))
    plantLedgers(wh, Seq(v), Nil)
    mv.sync() // must skip the done retraction, land only the admission
    assert(bm25(fts) == bm25(freshOver(wh.read("corpus", docSchema))),
      "recovery from a half-applied commit diverged")
    assert(fts.corpusStats().agg(sum(col("n"))).head().getLong(0)
      == wh.read("corpus", docSchema).count())
    // the admission's commit retired both legacy ledgers; the high-water
    // alone now covers every step: a full replay no-ops
    assert(!wh.exists("fts/RetractLedger") && !wh.exists("fts/IngestLedger"))
    assert(mv.synced(v))
    val want = bm25(fts)
    wh.replace(mv.cursorTable, Seq(0L).toDF("version"))
    new FtsSync(wh, "corpus", docSchema, "doc_id", "text", new PersistedPostings(wh)).sync()
    assert(bm25(fts) == want, "replay after adoption corrupted the index")
    // and a log fold keeps every answer
    wh.vacuum(0L)
    val resumed = new FtsSync(wh, "corpus", docSchema, "doc_id", "text",
      new PersistedPostings(wh))
    assert(resumed.synced(v) && bm25(fts) == want)
    assert(!wh.exists("fts/RetractLedger") && !wh.exists("fts/IngestLedger"))
  }

  test("legacy ledgers that are not a prefix of the window refuse with LegacyLedgerGap") {
    val (wh, fts, mv) = fixture()
    wh.append("corpus", Seq((1L, "alpha beta")).toDF("doc_id", "text").coalesce(1))
    val v1 = wh.versions().last.toLong
    wh.append("corpus", Seq((2L, "beta gamma")).toDF("doc_id", "text").coalesce(1))
    val v2 = wh.versions().last.toLong
    // v2's admission is ledgered, v1's is not: a high-water through v2
    // would skip v1's documents
    plantLedgers(wh, Nil, Seq(v2))
    val e = intercept[graft.streaming.ChangeFeedSync.LegacyLedgerGap](mv.sync())
    assert(e.getMessage.contains(s"version $v1's admission"), e.getMessage)
    assert(mv.cursor() == 0 && wh.exists("fts/IngestLedger"), "a refused sync changed state")
    assert(fts.corpusStats().agg(sum(col("n"))).head().getLong(0) == 0L)
  }

  test("a window mixing a legacy half-applied commit with fresh ones lands as ONE index commit") {
    val (wh, fts, mv) = fixture()
    wh.append("corpus", Seq((1L, "alpha beta"), (2L, "beta gamma"),
      (3L, "gamma delta")).toDF("doc_id", "text").coalesce(1))
    legacyRoot(wh, fts, mv, admitted = Seq(wh.versions().last.toLong))
    wh.updateWhere("corpus", docSchema, Seq(ColEq("doc_id", 1L)),
      Seq("text" -> lit("alpha delta")))
    // the OLD two-commit driver crashed between its halves of this commit
    val v = wh.versions().last.toLong
    fts.retractDocs(Seq(1L))
    plantLedgers(wh, Seq(v), Nil)
    // fresh churn behind it, including the half-applied doc again
    wh.updateWhere("corpus", docSchema, Seq(ColEq("doc_id", 1L)),
      Seq("text" -> lit("alpha zulu")))
    wh.deleteWhereDv("corpus", docSchema, Seq(ColEq("doc_id", 2L)))
    wh.append("corpus", Seq((4L, "epsilon zulu")).toDF("doc_id", "text").coalesce(1))
    val before = wh.versions().last
    mv.sync()
    assert(wh.versions().last == before + 2,
      s"expected one index commit plus the cursor; head moved ${wh.versions().last - before}")
    assert(bm25(fts) == bm25(freshOver(wh.read("corpus", docSchema))),
      "mixed legacy/fresh window diverged from a fresh build")
    assert(fts.corpusStats().agg(sum(col("n"))).head().getLong(0)
      == wh.read("corpus", docSchema).count())
  }

  test("a replace window refuses (rebuild contract), like every feed consumer") {
    val (wh, _, mv) = fixture()
    wh.append("corpus", Seq((1L, "alpha")).toDF("doc_id", "text").coalesce(1))
    mv.sync()
    wh.replace("corpus", Seq((9L, "omega")).toDF("doc_id", "text"))
    val e = intercept[IllegalStateException](mv.sync())
    assert(e.getMessage.contains("not a row-level change"))
  }
}
