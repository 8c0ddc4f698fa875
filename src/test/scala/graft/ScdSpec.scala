package graft

import graft.operators.Scd
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}

/** SCD Type-2 contracts: real transitions open/close windows, identical
  * re-presentation is a no-op (no version churn), late-arriving keys start
  * their history at their first batch, null attrs transition null-safely,
  * and `asOf`/`current` slice the history exactly.
  */
class ScdSpec extends SparkSpec {
  import spark.implicits._

  private val genesis = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(StructField("k", LongType), StructField("a", StringType),
      StructField("valid_from", LongType), StructField("valid_to", LongType),
      StructField("is_current", BooleanType))))

  private def rows(df: DataFrame): Set[(Long, Option[String], Long, Option[Long], Boolean)] =
    df.collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2),
      if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4))).toSet

  test("transitions, no-op re-presentation, late key, null-safe attrs, asOf/current") {
    val b1 = Seq((1L, "x"), (2L, "y"), (3L, null.asInstanceOf[String])).toDF("k", "a")
    val b2 = Seq((1L, "x"), (2L, "y2"), (3L, "z")).toDF("k", "a") // 1 unchanged, 2 changed, 3 null→z
    val b3 = Seq((2L, "y2"), (4L, "w")).toDF("k", "a")            // 2 re-presented same, 4 late-arriving
    val h = Seq(b1 -> 1L, b2 -> 2L, b3 -> 3L).foldLeft(genesis) {
      case (acc, (b, i)) => Scd.scd2Upsert(acc, b, Seq("k"), Seq("a"), i)
    }
    assert(rows(h) == Set(
      (1L, Some("x"), 1L, None, true),       // never changed — ONE row
      (2L, Some("y"), 1L, Some(2L), false),  // closed at its change
      (2L, Some("y2"), 2L, None, true),      // re-presentation at 3 was a no-op
      (3L, None, 1L, Some(2L), false),       // null → value is a real transition
      (3L, Some("z"), 2L, None, true),
      (4L, Some("w"), 3L, None, true)))      // late key starts at ITS batch
    // windows tile: per key, ordered by valid_from, each close = next open
    h.collect().groupBy(_.getLong(0)).foreach { case (k, rs) =>
      val sorted = rs.sortBy(_.getLong(2))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(3) == b.getLong(2),
          s"key $k windows do not tile")
        case _ =>
      }
      assert(sorted.init.forall(!_.getBoolean(4)) && sorted.last.getBoolean(4))
    }
    // current ≡ SCD1 end state; asOf replays each batch's view
    assert(rows(Scd.current(h)).map(r => (r._1, r._2)) ==
      Set(1L -> Some("x"), 2L -> Some("y2"), 3L -> Some("z"), 4L -> Some("w")))
    assert(rows(Scd.asOf(h, 1L)).map(r => (r._1, r._2)) ==
      Set(1L -> Some("x"), 2L -> Some("y"), 3L -> None))
    assert(rows(Scd.asOf(h, 2L)).map(r => (r._1, r._2)) ==
      Set(1L -> Some("x"), 2L -> Some("y2"), 3L -> Some("z")))
  }

  test("broadcast decomposition ≡ full-outer fold; plan is shuffle-free") {
    // the fixture covers every branch: unchanged, changed, null→value,
    // value→null, a NULL key (null-safe equality must pair it), a
    // late-arriving key, and a key absent from the batch
    val b1 = Seq[(java.lang.Long, String)]((1L, "x"), (2L, "y"), (3L, null),
      (4L, "v"), (null, "n1")).toDF("k", "a")
    val b2 = Seq[(java.lang.Long, String)]((1L, "x"), (2L, "y2"), (3L, "z"),
      (4L, null), (null, "n2"), (5L, "new")).toDF("k", "a")
    def fold(up: (DataFrame, DataFrame, Seq[String], Seq[String], Long) => DataFrame) =
      up(up(genesis, b1, Seq("k"), Seq("a"), 1L), b2, Seq("k"), Seq("a"), 2L)
    def rowsN(df: DataFrame) = df.collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        Option(r.getString(1)), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4))).toSet
    val classic = fold(Scd.scd2Upsert)
    val bcast = fold(Scd.scd2UpsertBroadcast)
    assert(rowsN(bcast) == rowsN(classic),
      s"broadcast fold diverged:\n got ${rowsN(bcast)}\nwant ${rowsN(classic)}")
    // the whole point: zero shuffles — only broadcast joins in the plan
    val plan = bcast.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Exchange hashpartitioning"),
      s"broadcast fold plan shuffles:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
  }

  test("ScdDimension lifecycle: persisted ≡ pure fold on both warehouses; crash-mid-batch atomic") {
    import graft.operators.ScdDimension
    import graft.sources.{AtomicWarehouse, Warehouse}
    import java.nio.file.Files
    val baseSchema = StructType(Seq(StructField("k", LongType), StructField("a", StringType)))
    val b1 = Seq((1L, "x"), (2L, "y")).toDF("k", "a")
    val b2 = Seq((2L, "y2"), (3L, "z")).toDF("k", "a")
    val pure = Scd.scd2Upsert(Scd.scd2Upsert(genesis, b1, Seq("k"), Seq("a"), 1L),
      b2, Seq("k"), Seq("a"), 2L)

    Seq(
      new AtomicWarehouse(spark, Files.createTempDirectory("graft-scddim-b-").toString),
      new AtomicWarehouse(spark, Files.createTempDirectory("graft-scddim-a-").toString)
    ).foreach { wh =>
      val dim = new ScdDimension(wh, "d", Seq("k"), Seq("a"), baseSchema)
      assert(dim.nextSeq() == 1L, "genesis sequence")
      dim.upsert(b1, dim.nextSeq())
      dim.upsert(b2, dim.nextSeq())
      assert(dim.nextSeq() == 3L)
      assert(rows(dim.history()) == rows(pure),
        s"persisted history diverged from the pure fold on ${wh.getClass.getSimpleName}")
      assert(rows(dim.current()) == rows(Scd.current(pure)))
      assert(rows(dim.asOf(1L)) == rows(Scd.asOf(pure, 1L)))
    }

    // crash mid-transaction: the history replace lands in the txn, then the
    // SCD1-view write dies before commit — NOTHING becomes visible (history
    // cannot drift a batch ahead of the dim it describes); the retry
    // converges to the same end state as the pure fold
    val awh = new AtomicWarehouse(spark,
      Files.createTempDirectory("graft-scddim-crash-").toString)
    val dim = new ScdDimension(awh, "d", Seq("k"), Seq("a"), baseSchema)
    dim.upsert(b1, 1L)
    val before = rows(dim.history())
    val boom = intercept[RuntimeException](awh.atomically { w =>
      dim.upsertIn(w, b2, 2L)
      throw new RuntimeException("injected crash after history replace")
    })
    assert(boom.getMessage.contains("injected crash"))
    assert(rows(dim.history()) == before,
      "aborted transaction leaked history")
    awh.atomically { w =>
      dim.upsertIn(w, b2, 2L)
      w.replace("dim/d/Current",
        Scd.current(w.read(dim.historyTable, dim.historySchema)))
    }
    assert(rows(dim.history()) == rows(pure), "retry did not converge")
    assert(rows(awh.read("dim/d/Current", dim.historySchema)) == rows(Scd.current(pure)),
      "the SCD1 view must see the history replaced in its own transaction")
  }

  test("ScdStream: per-batch fold ≡ pure fold; replays no-op; empty batches burn nothing") {
    import graft.sources.AtomicWarehouse
    import graft.streaming.ScdStream
    import java.nio.file.Files
    val baseSchema = StructType(Seq(StructField("k", LongType), StructField("a", StringType)))
    val b1 = Seq((1L, "x"), (2L, "y")).toDF("k", "a")
    val b2 = Seq((2L, "y2"), (3L, "z")).toDF("k", "a")
    val pure = Scd.scd2Upsert(Scd.scd2Upsert(genesis, b1, Seq("k"), Seq("a"), 1L),
      b2, Seq("k"), Seq("a"), 2L)
    val wh = new AtomicWarehouse(spark,
      Files.createTempDirectory("graft-scdstream-").toString)
    val st = new ScdStream(wh, "d", Seq("k"), Seq("a"), baseSchema)
    st.processBatch(b1, 0L)
    st.processBatch(b2, 1L)
    assert(rows(st.dim.history()) == rows(pure), "streamed fold diverged from pure fold")
    // checkpoint replay of a committed batch: ledgered no-op — history
    // files untouched, no sequence burned
    val before = rows(st.dim.history())
    st.processBatch(b2, 1L)
    assert(rows(st.dim.history()) == before, "replay mutated history")
    assert(st.dim.nextSeq() == 3L, "replay burned a sequence")
    // an empty micro-batch ledgers but neither versions nor rewrites
    st.processBatch(b1.filter($"k" < 0), 2L)
    assert(rows(st.dim.history()) == before && st.dim.nextSeq() == 3L,
      "empty batch disturbed the dimension")
    assert(st.ingested(2L), "empty batch must still ledger (its replay would re-run)")
    // a NEW batch that changes nothing (identical re-presentation under a
    // fresh id) ledgers but consumes no sequence — the in-memory cursor
    // must track the DERIVED value (opened-rows observation), not count
    // batches
    st.processBatch(b2, 3L)
    assert(st.ingested(3L) && st.dim.nextSeq() == 3L,
      "all-unchanged batch must not burn a sequence")
    // a later real batch lands at the next sequence as if the gap never was
    st.processBatch(Seq((1L, "x9")).toDF("k", "a"), 4L)
    assert(rows(Scd.current(st.dim.history())).map(r => (r._1, r._2))
      .contains(1L -> Some("x9")))
    assert(st.dim.nextSeq() == 4L)
  }

  test("a batch with duplicate keys is refused, not silently fanned out") {
    val b1 = Seq((1L, "x")).toDF("k", "a")
    val h1 = Scd.scd2Upsert(genesis, b1, Seq("k"), Seq("a"), 1L)
    val dup = Seq((1L, "y"), (1L, "z")).toDF("k", "a")
    val e = intercept[IllegalArgumentException](
      Scd.scd2Upsert(h1, dup, Seq("k"), Seq("a"), 2L))
    assert(e.getMessage.contains("duplicate keys"))
    // the streaming fold's one-job admission path carries the same refusal
    val wh = new graft.sources.AtomicWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-scddup-").toString)
    val st = new graft.streaming.ScdStream(wh, "d", Seq("k"), Seq("a"),
      StructType(Seq(StructField("k", LongType), StructField("a", StringType))))
    val es = intercept[IllegalArgumentException](st.processBatch(dup, 0L))
    assert(es.getMessage.contains("duplicate keys"))
    assert(!st.ingested(0L), "a refused batch must not ledger")
  }
}
