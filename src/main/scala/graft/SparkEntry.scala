package graft

import graft.functions.{Transforms => T}
import graft.operators.{Corpus, Dedup, Merge, Multimodal, PersistedIvf, PersistedPostings, Pq, Retrieval, Similarity, TextOps, TimeJoins}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType}

/** Driver contract: one query per operator family from SURVEY.md §2 plus the
  * training-data operator suite, each with a DuckDB oracle over the same
  * parquet tables.
  *
  * Oracle-parity conventions (cross-engine determinism):
  *   - money/double aggregates: sum exact DECIMAL, cast DOUBLE, round — float
  *     accumulation order can differ between engines, decimal sums cannot;
  *   - cosine doubles (FLOAT accumulations, order-nondeterministic) rounded
  *     to 4dp; jaccard (exact integer ratio) deliberately UNROUNDED — IEEE
  *     division is bit-exact, round() at a .xxxx5 boundary is not;
  *   - every integer aggregate cast to BIGINT on both sides;
  *   - every query ends in a total ORDER BY;
  *   - hashes via md5 (portable), never engine-private xxhash/murmur.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // catalog plugin instances cache per session BY NAME, so each SQL-catalog
  // query run registers a fresh name for its fresh temp warehouse
  private val sqlCatSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The events table with `ts` ALWAYS a nanos-since-epoch long, whatever the
    * parquet generation stored. Early testdata wrote parquet
    * TIMESTAMP(NANOS), which Spark reads as a long under
    * `spark.sql.legacy.parquet.nanosAsLong` (set in GraftSession); the
    * current generation writes TIMESTAMP(MICROS), which arrives as
    * TIMESTAMP_NTZ — normalize it to the same nanos long so every event-time
    * query, stream fixture, and probe keeps ONE time arithmetic (the session
    * timezone is UTC, so the NTZ → instant conversion is exact). The oracles
    * are already type-agnostic: DuckDB reads either generation as a
    * timestamp and they use epoch_us(ts)/date_trunc on it.
    */
  def eventsTable(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ => df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
    }
  }

  private val dec2 = DecimalType(18, 2)
  private def sumMoney(c: Column): Column = sum(c.cast(dec2)).cast("double")

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("etl_clean")(spark, "/root/testdata/sf0.001")

  /** Session-lifetime cache of the stream fixtures' INPUT chunk dirs, keyed
    * by (fixture, sf dir). Bench reps re-run the STREAM end to end — fresh
    * checkpoint/warehouse/sink every rep — but rebuilding the byte-identical
    * chunk files each rep buried the operator's median under fixture-prep
    * noise (3 write+move jobs/rep; single-query attribution swung 4.4–8.1 s
    * on identical code). Correctness is unaffected: same bytes either way.
    */
  private val chunkDirs = new scala.collection.concurrent.TrieMap[(String, String), String]
  private def chunkedInput(fixture: String, dir: String)(build: String => Unit): String =
    chunkDirs.getOrElseUpdate((fixture, dir), {
      val inDir = java.nio.file.Files.createTempDirectory(s"graft-$fixture-in-").toString
      build(inDir)
      inDir
    })

  /** The exact-dedup streams' shared input fixture: `documents` split into 3
    * deterministic micro-batch chunk files by doc_id mod 3 (so the oracle can
    * state the arrival order). Shared by `dedup_exact_stream` and its
    * bloom-forced twin — same bytes, cached once per sf dir.
    */
  private def xstreamChunks(s: SparkSession, dir: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val docs = t(s, dir, "documents")
      .select(col("doc_id").cast(LongType).as("doc_id"), col("text"))
    chunkedInput("xstream", dir) { inDir =>
      (0 until 3).foreach { i =>
        val tmp = Files.createTempDirectory(s"graft-xstream-c$i-").toString + "/out"
        docs.filter(pmod(col("doc_id"), lit(3)) === i).coalesce(1).write.parquet(tmp)
        val part = graft.LocalFs.onlyParquet(tmp)
        Files.move(part, Paths.get(inDir, f"chunk_$i%02d.parquet"),
          StandardCopyOption.ATOMIC_MOVE)
      }
    }
  }

  /** The IVF stream's input fixture: the incremental tail of `embeddings`
    * (vec_id ≥ 300 — the same build/add split as `sim_ivf_persisted`) as 2
    * deterministic micro-batch chunk files by vec_id mod 2. Batch ORDER is
    * immaterial to the final index (assignment is a pure per-row function of
    * (vector, persisted centroids)), which is why the persisted-path oracle
    * states this stream's result too.
    */
  private def ivfStreamChunks(s: SparkSession, dir: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val emb = t(s, dir, "embeddings").select(
      col("vec_id").cast(LongType).as("vec_id"),
      col("embedding").cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)).as("embedding"))
    chunkedInput("ivfstream", dir) { inDir =>
      (0 until 2).foreach { i =>
        val tmp = Files.createTempDirectory(s"graft-ivfs-c$i-").toString + "/out"
        emb.filter(col("vec_id") >= 300 && pmod(col("vec_id"), lit(2)) === i)
          .coalesce(1).write.parquet(tmp)
        val part = graft.LocalFs.onlyParquet(tmp)
        Files.move(part, Paths.get(inDir, f"chunk_$i%02d.parquet"),
          StandardCopyOption.ATOMIC_MOVE)
      }
    }
  }

  /** The semantic-dedup stream's input fixture: ALL of `embeddings` as 3
    * ID-ORDERED range chunks — id order is what makes first-arrival-wins
    * coincide with batch semanticDedup's lower-id-wins rule, letting the
    * stream share `dedup_semantic`'s oracle.
    */
  private def semStreamChunks(s: SparkSession, dir: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val emb = t(s, dir, "embeddings").select(
      col("vec_id").cast(LongType).as("vec_id"),
      col("embedding").cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)).as("embedding"))
    chunkedInput("semstream", dir) { inDir =>
      // range bounds from the data, not a literal — a regenerated testdata
      // with a different corpus size must still stream EVERY vector
      val width = emb.agg(max(col("vec_id"))).head().getLong(0) / 3 + 1
      (0 until 3).foreach { i =>
        val tmp = Files.createTempDirectory(s"graft-sems-c$i-").toString + "/out"
        emb.filter(col("vec_id") >= i * width && col("vec_id") < (i + 1) * width)
          .coalesce(1).write.parquet(tmp)
        val part = graft.LocalFs.onlyParquet(tmp)
        Files.move(part, Paths.get(inDir, f"chunk_$i%02d.parquet"),
          StandardCopyOption.ATOMIC_MOVE)
      }
    }
  }

  /** Deterministic merge-layer scenario (J1-J5): a synthetic staging batch
    * from `part` runs through all three MERGE procedures against seeded,
    * non-empty dims. Exercises every key rule the reference delegates to the
    * database: CI-AS + rtrim name keys (3 spellings per provider), synonym
    * resolution (one staged name is a synonym of seed provider 1), UoM alias
    * + auto-create ('gr' aliases 'g'; 'ml' is novel), product upsert on
    * description hash (seed product 1 is restaged -> updated; 'Producto
    * Legado' is never staged -> survives untouched), whole-row latest-review
    * winner per (provider, product), and max-id + row_number id assignment.
    */
  private def mergeEndState(s: SparkSession, dir: String): Merge.MergeResult = {
    val src = t(s, dir, "part").filter(col("p_partkey") <= 300)
      .select(col("p_partkey").as("pk"), col("p_brand"),
        col("p_size"), col("p_retailprice").cast(dec2).as("rp"))
    val base = concat(lit("Proveedor "), col("p_brand"))
    val stg = src.select(
      when(pmod(col("pk"), lit(37)) === 0, lit("Proveedor Marca Especial"))
        .when(pmod(col("pk"), lit(3)) === 0, upper(base))
        .when(pmod(col("pk"), lit(3)) === 1, concat(base, lit("  ")))
        .otherwise(base).as("ProviderName"),
      concat(lit("Producto "), col("p_brand"), lit(" N"),
        pmod(col("pk"), lit(6)).cast("string")).as("Description"),
      col("p_size").cast("string").as("Measure"),
      when(pmod(col("pk"), lit(4)) === 0, lit("g"))
        .when(pmod(col("pk"), lit(4)) === 1, lit("G "))
        .when(pmod(col("pk"), lit(4)) === 2, lit("gr"))
        .otherwise(lit("ml")).as("UnitOfMeasure"),
      col("rp").as("UnitPrice"),
      (col("rp") + pmod(col("pk"), lit(7))).cast("string").as("Price"),
      pmod(col("pk"), lit(5)).cast("string").as("PackageUnits"),
      (pmod(col("pk"), lit(3)) * 5).cast("string").as("IVA"),
      date_format(date_add(to_date(lit("2024-01-01")),
        pmod(col("pk"), lit(28)).cast("int")), "yyyy-MM-dd").as("LastReviewDt"))

    // seeds derive from the pk=1 row so the scenario is sf-agnostic: seed
    // provider 1 / product 1 are restaged by the batch (update path), the
    // "Legado" rows never are (must survive untouched)
    val anchor = src.filter(col("pk") === 1)
    val anchorDesc = concat(lit("Producto "), col("p_brand"), lit(" N1"))
    def intl(v: Int): Column = lit(v).cast(IntegerType)
    val seedProvider = anchor
      .select(intl(1).as("Id"), base.as("Name"), lit(null).cast("timestamp").as("CreateDt"))
      .unionByName(anchor.select(intl(2).as("Id"), lit("Proveedor Legado").as("Name"),
        lit(null).cast("timestamp").as("CreateDt")))
    // synonym/acronym seeds as LocalRelations with DATA rows, not literal
    // columns over `anchor`: FoldablePropagation turns a single-literal-row
    // frame's join key into a constant, which degrades the merge layer's
    // broadcast anti-joins to BroadcastNestedLoopJoin (no equi column left).
    // Real lookup tables are data, so the fixture should plan like data.
    import s.implicits._
    val synonyms = Seq((1, "Proveedor Marca Especial", 1))
      .toDF("Id", "Synonym", "ProviderId")
    val seedUom = anchor
      .select(intl(1).as("Id"), lit("g").as("Acronym"), lit("Gram").as("Name"))
      .unionByName(anchor.select(intl(2).as("Id"), lit("kg").as("Acronym"),
        lit("Kilogram").as("Name")))
    val uomAcronyms = Seq((1, "gr", 1)).toDF("Id", "Acronym", "UnitOfMeasureId")
    def seedProd(id: Int, price: String, desc: Column) = anchor.select(
      intl(id).as("Id"), lit(price).cast(dec2).as("UnitPrice"), desc.as("Description"),
      lit(null).cast(dec2).as("Measure"), intl(2).as("UnitOfMeasureId"),
      to_timestamp(lit("2020-01-01")).as("CreatedDt"),
      lit(null).cast("timestamp").as("UpdatedDt"),
      Merge.descHash(desc).as("DescriptionHash"))
    val seedProduct = seedProd(1, "1.00", anchorDesc)
      .unionByName(seedProd(2, "2.00", lit("Producto Legado")))
    // data rows, not foldable literals: the PP upsert joins on this dim's
    // (ProviderId, ProductId) and folded keys degrade those joins to
    // nested loops (same reason as the synonym seed above)
    val seedPP = Seq((1, 1, 1, true, "2019-01-01", 99, "0.00", "9.99"))
      .toDF("Id", "ProductId", "ProviderId", "IsValidated", "dt", "PackageUnits", "iva", "pr")
      .select(col("Id"), col("ProductId"), col("ProviderId"), col("IsValidated"),
        to_timestamp(col("dt")).as("LastReviewDt"), col("PackageUnits"),
        col("iva").cast(dec2).as("IVA"), col("pr").cast(dec2).as("Price"))

    val provider = Merge.mergeProviders(seedProvider, synonyms,
      stg.select(col("ProviderName").as("Name")))
    val uom = Merge.mergeUnitsOfMeasure(seedUom, uomAcronyms, stg)
    val product = Merge.mergeProducts(seedProduct, uom, uomAcronyms, stg)
    val pp = Merge.mergeProviderProducts(seedPP, provider, synonyms, product,
      stg.withColumn("ProductDescription", col("Description")))
    Merge.MergeResult(provider, uom, product, pp)
  }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val q = scala.collection.mutable.LinkedHashMap[String, (SparkSession, String) => DataFrame]()

    // A: grouped aggregation with partial (map-side) aggregation — TPC-H Q1 shape
    q("q1_pricing_summary") = (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sumMoney(col("l_quantity")), 2).as("sum_qty"),
          round(sumMoney(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(28, 6)))
            .cast("double"), 2).as("sum_disc_price"),
          // exact decimal sum → double, then IEEE division: bit-identical in
          // any engine, so no round() (whose half-tie behavior differs)
          (sumMoney(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }

    // P: predicate pushdown + column pruning + deterministic top-k
    q("q2_filter_topk") = (s, dir) =>
      t(s, dir, "lineitem")
        .filter(to_date(col("l_shipdate")).between(lit("1995-01-01"), lit("1995-12-31"))
          && col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .limit(500)

    // J: multiway join, dims broadcast
    q("q3_join_revenue") = (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          round(sumMoney(col("o_totalprice")), 2).as("revenue"),
          countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("r_name"), col("n_name"))
    }

    // A1-style distinct
    q("q4_distinct") = (s, dir) =>
      t(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_nationkey"))
        .distinct()
        .orderBy(col("c_mktsegment"), col("c_nationkey"))

    // agg + broadcast join + order/limit
    q("q5_top_customers") = (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.groupBy(col("o_custkey"))
        .agg(round(sumMoney(col("o_totalprice")), 2).as("total_spent"),
          count(lit(1)).as("n_orders"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("total_spent"), col("n_orders"))
        .orderBy(col("total_spent").desc, col("c_custkey"))
        .limit(10)
    }

    // window function (the merge layer's id-assignment primitive)
    q("q6_window_rank") = (s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer")
        .withColumn("rnk", row_number().over(w).cast(LongType))
        .filter(col("rnk") <= 3)
        .select(col("c_nationkey"), col("rnk"), col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy(col("c_nationkey"), col("rnk"))
    }

    // anti join (merge-layer "insert new, skip existing" primitive); the
    // order set is date-filtered so the anti side is non-trivial
    q("q7_customers_without_orders") = (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders")
            .filter(to_date(col("o_orderdate")) < lit("1995-01-01")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_nationkey"))

    // upsert shape (J2): staged aggregate LEFT-joined into the dim
    q("q8_merge_upsert") = (s, dir) => {
      val staged = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg((sumMoney(col("l_extendedprice")) / count(lit(1))).as("new_price"),
          count(lit(1)).as("n_lines"))
      t(s, dir, "part")
        .join(staged, col("p_partkey") === col("l_partkey"), "left")
        .select(col("p_partkey"), col("p_name"),
          coalesce(col("new_price"),
            col("p_retailprice").cast(dec2).cast("double")).as("merged_price"),
          col("new_price").isNotNull.as("was_updated"),
          col("n_lines"))
        .orderBy(col("p_partkey"))
    }

    // set operations
    q("q9_setops") = (s, dir) => {
      val buyers = t(s, dir, "orders").select(col("o_custkey").as("k"))
      val building = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("k"))
      val withO = building.intersect(buyers).agg(count(lit(1)).as("n"))
        .withColumn("grp", lit("building_with_orders"))
      val withoutO = building.except(buyers).agg(count(lit(1)).as("n"))
        .withColumn("grp", lit("building_without_orders"))
      withO.unionByName(withoutO).select(col("grp"), col("n")).orderBy(col("grp"))
    }

    // event-time tumbling aggregation (batch equivalent of the streaming agg).
    // ts arrives as nanos-since-epoch long (see GraftSession nanosAsLong).
    q("q10_events_hourly") = (s, dir) =>
      eventsTable(s, dir)
        .withColumn("tsm", timestamp_micros(expr("ts DIV 1000")))
        .groupBy(
          date_format(date_trunc("hour", col("tsm")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sumMoney(col("value")), 2).as("total_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("hour"), col("event_type"))

    // the hourly aggregation as a 3-micro-batch STREAM (events split by
    // event_id mod 3 — equivalence holds for any batching): watermarked
    // tumbling window, complete-mode drain. Oracle = the batch SQL, minus
    // n_users (streaming forbids exact distinct; approx_count_distinct is
    // the production path and no exact oracle can match it)
    q("q10_stream") = (s, dir) => {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val inDir = chunkedInput("estream", dir) { inDir =>
        val ev = eventsTable(s, dir)
        (0 until 3).foreach { i =>
          val tmp = Files.createTempDirectory(s"graft-estream-c$i-").toString + "/out"
          ev.filter(pmod(col("event_id"), lit(3)) === i).coalesce(1).write.parquet(tmp)
          val part = graft.LocalFs.onlyParquet(tmp)
          Files.move(part, Paths.get(inDir, f"chunk_$i%02d.parquet"),
            StandardCopyOption.ATOMIC_MOVE)
        }
      }
      graft.streaming.EventStream.hourlyAgg(s, inDir, "q10_stream_out")
        .orderBy(col("hour"), col("event_type"))
    }

    // the stateful sessionizer (flatMapGroupsWithState, constant state per
    // user) driven as a 3-micro-batch stream over time-ordered chunks; every
    // update batch appends its cumulative per-user counts with the batch id,
    // and the final answer is each user's LAST emission (max_by batch id) —
    // distributed end to end, no driver-side state. Oracle = the q11 batch
    // window SQL: chunked time-ordered arrival reproduces it exactly
    q("q11_stream") = (s, dir) => {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      import org.apache.spark.sql.Dataset
      val ckpt = Files.createTempDirectory("graft-sstream-ck-").toString
      val outDir = Files.createTempDirectory("graft-sstream-out-").toString + "/state"
      val ev = eventsTable(s, dir).select(col("user_id"), expr("ts DIV 1000").as("us"))
      val inDir = chunkedInput("sstream", dir) { inDir =>
        // event_id makes the ntile order TOTAL: (us, user_id) alone can tie,
        // and the chunked plan is recomputed once per filter pass below — a
        // tie ordered differently across the three jobs would drop or
        // duplicate a row. event_id is carried only for ordering, never
        // written (the stream schema stays ev's)
        val chunked = eventsTable(s, dir)
          .select(col("user_id"), expr("ts DIV 1000").as("us"), col("event_id"))
          .withColumn("c",
            ntile(3).over(Window.orderBy(col("us"), col("user_id"), col("event_id"))))
        (1 to 3).foreach { i =>
          val tmp = Files.createTempDirectory(s"graft-sstream-c$i-").toString + "/out"
          chunked.filter(col("c") === i).select(col("user_id"), col("us"))
            .coalesce(1).write.parquet(tmp)
          val part = graft.LocalFs.onlyParquet(tmp)
          Files.move(part, Paths.get(inDir, f"chunk_$i%02d.parquet"),
            StandardCopyOption.ATOMIC_MOVE)
        }
      }
      // state partitions sized to the 33k-rows/batch fixture volume — the
      // checkpoint freezes the count, so it must be chosen here (see
      // GraftSession.streamSession; StreamProbe measures the 32→8 win)
      val ss = GraftSession.streamSession(s)
      import ss.implicits._
      val stream = ss.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
        .as[graft.streaming.Sessionize.Event]
      val q2 = graft.streaming.Sessionize.sessions(stream, gapUs = 1800000000L)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: Dataset[graft.streaming.Sessionize.PerUser], bid: Long) =>
          b.toDF().withColumn("bid", lit(bid)).write.mode("append").parquet(outDir)
        }
        .start()
      val drainMs = GraftSession.streamDrainTimeoutMs
      if (!q2.awaitTermination(drainMs)) {
        q2.stop()
        throw new IllegalStateException(s"q11_stream failed to drain within ${drainMs / 1000} s")
      }
      s.read.parquet(outDir)
        .groupBy(col("user_id"))
        .agg(max_by(struct(col("n_sessions"), col("n_events")), col("bid")).as("w"))
        .select(col("user_id"), col("w.n_sessions").as("n_sessions"),
          col("w.n_events").as("n_events"))
        .orderBy(col("user_id"))
    }

    // sessionization: lag + gap flag (stateful-stream shape as a batch window)
    q("q11_sessionize") = (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      eventsTable(s, dir)
        .withColumn("us", expr("ts DIV 1000"))
        .withColumn("prev", lag(col("us"), 1).over(w))
        .withColumn("new_session",
          when(col("prev").isNull || col("us") - col("prev") > 1800000000L, 1).otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }

    // conditional aggregation (TPC-H Q14 shape): promo revenue share
    q("q13_conditional_agg") = (s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      val rev = (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(28, 6))
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_type"))
        .agg(
          sum(when(col("p_brand") === "Brand#1", rev).otherwise(lit(0).cast(DecimalType(28, 6))))
            .cast("double").as("brand1_rev"),
          sum(rev).cast("double").as("total_rev"),
          count(lit(1)).as("n_lines"))
        .select(col("p_type"),
          (col("brand1_rev") / col("total_rev")).as("brand1_share"),
          col("n_lines"))
        .orderBy(col("p_type"))
    }

    // correlated-subquery shape: orders priced far above their customer's own
    // average (decorrelated into an aggregate + self-join, the plan Catalyst
    // produces for the subquery form)
    q("q14_above_avg_orders") = (s, dir) => {
      val o = t(s, dir, "orders")
      val avgP = o.groupBy(col("o_custkey").as("k"))
        .agg((sumMoney(col("o_totalprice")) / count(lit(1))).as("avg_price"))
      o.join(avgP, col("o_custkey") === col("k"))
        .filter(col("o_totalprice") > col("avg_price") * 1.5)
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_above"),
          round(sumMoney(col("o_totalprice")), 2).as("above_revenue"))
        .orderBy(col("c_mktsegment"))
    }

    // as-of join (operator Spark lacks natively): attribute each purchase to the
    // user's latest click at-or-before it. Implemented as the scale-correct
    // union+running-window shape — ONE shuffle on user_id, linear in events —
    // rather than an inequality join (quadratic explode) or per-row subquery.
    // Oracle uses DuckDB's native ASOF LEFT JOIN as an independent implementation.
    q("q15_asof_attribution") = (s, dir) => {
      val ev = eventsTable(s, dir)
        .select(col("user_id"), expr("ts DIV 1000").as("us"), col("event_type"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
      val clicks = ev.filter(col("event_type") === "click").select("user_id", "us")
      graft.operators.TimeJoins
        .asOfJoin(purchases, clicks, Seq("user_id"), "us", "us", Seq("us"), "click_")
        .withColumn("gap_min",
          when(col("click_us").isNull, lit(-1L))
            .otherwise(expr("(us - click_us) DIV 60000000")))
        .groupBy(col("gap_min"))
        .agg(count(lit(1)).as("n_purchases"),
          round(sumMoney(col("value")), 2).as("attributed_value"))
        .orderBy(col("gap_min"))
    }

    // same attribution workload through the hot-key scale path: per-key
    // sequential work bounded by time-range/bucket instead of row count.
    // Oracle identical to q15 — the two forms must agree exactly
    q("q15b_asof_bucketed") = (s, dir) => {
      val ev = eventsTable(s, dir)
        .select(col("user_id"), expr("ts DIV 1000").as("us"), col("event_type"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
      val clicks = ev.filter(col("event_type") === "click").select("user_id", "us")
      graft.operators.TimeJoins
        .asOfJoinBucketed(purchases, clicks, Seq("user_id"), "us", "us", Seq("us"),
          bucketWidth = 3600000000L, "click_") // 1-hour buckets
        .withColumn("gap_min",
          when(col("click_us").isNull, lit(-1L))
            .otherwise(expr("(us - click_us) DIV 60000000")))
        .groupBy(col("gap_min"))
        .agg(count(lit(1)).as("n_purchases"),
          round(sumMoney(col("value")), 2).as("attributed_value"))
        .orderBy(col("gap_min"))
    }

    // range join (operator Spark lacks natively): same-user event pairs within a
    // 5-minute window. Implemented as the bucketed equi-join shape — each left
    // row explodes to its two candidate 5-min buckets, the join is a pure
    // (user_id, bucket) equi-join, and the range predicate filters after — so
    // the shuffle keys are uniform and nothing goes quadratic at scale.
    // Oracle is DuckDB's native inequality (IE) join.
    q("q16_range_pairs") = (s, dir) => {
      val win = 300000000L // 5 minutes in microseconds
      val ev = eventsTable(s, dir)
        .select(col("user_id"), expr("ts DIV 1000").as("us"), col("event_type"))
      graft.operators.TimeJoins
        .rangeJoin(
          ev.withColumnRenamed("event_type", "a_type"), ev,
          Seq("user_id"), "us", "us", win, Seq("us", "event_type"), "b_")
        .groupBy(col("a_type"), col("b_event_type").as("b_type"))
        .agg(count(lit(1)).as("n_pairs"),
          // exact integer sum → double, then IEEE division (bit-exact; no round)
          (sum(col("b_us") - col("us")).cast("double") / count(lit(1))).as("avg_gap_us"))
        .orderBy(col("a_type"), col("b_type"))
    }

    // explicit salt-and-replicate skew join (plan-level tool for hot fact
    // keys where AQE can't help, e.g. broadcast-ineligible mediums):
    // semantically identical to the plain inner join, which IS the oracle
    q("q17_salted_agg") = (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("suppkey"), col("l_quantity"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      graft.operators.Skew.saltedJoin(li, sup, "suppkey", 8)
        .groupBy(col("s_nationkey"))
        .agg(
          round(sum(col("l_quantity").cast(dec2)).cast("double"), 2).as("sum_qty"),
          count(lit(1)).cast(LongType).as("n_items"))
        .orderBy(col("s_nationkey"))
    }

    // point-in-interval join: events against synthesized per-user 45-minute
    // campaign windows (every 10th event opens one) — m:n matches where
    // windows overlap; oracle is DuckDB's plain inequality join
    q("q20_interval_join") = (s, dir) => {
      val ev = eventsTable(s, dir)
        .select(col("user_id"), col("event_id"), expr("ts DIV 1000").as("us"))
      val iv = ev.filter(pmod(col("event_id"), lit(10)) === 0)
        .select(col("user_id"), col("event_id").as("campaign_id"),
          col("us").as("start_us"), (col("us") + lit(2700000000L)).as("end_us"))
      TimeJoins.intervalJoin(ev, iv, Seq("user_id"), "us", "start_us", "end_us",
        rightCols = Seq("campaign_id"), bucketWidth = 1800000000L)
        .select(col("event_id"), col("iv_campaign_id").as("campaign_id"))
        .orderBy(col("event_id"), col("campaign_id"))
    }

    // ---- the STREAM-STREAM twin of q20: clicks and impressions arrive as
    // two independent micro-batch streams, joined on user + a 45-minute
    // event-time window (StreamingSymmetricHashJoinExec — per-side
    // watermark state, bounded by skew×rate, never stream length). The
    // replay watermark keeps every row live, so the drained appends restate
    // q20's batch oracle exactly
    q("q22_attribution_stream") = (s, dir) => {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val ev = eventsTable(s, dir)
        .select(col("user_id"), col("event_id"),
          timestamp_micros(expr("ts DIV 1000")).as("tsm"))
      val imps = ev.filter(pmod(col("event_id"), lit(10)) === 0)
        .select(col("user_id"), col("event_id").as("campaign_id"),
          col("tsm").as("imp_tsm"))
      def chunks(tag: String, frames: Seq[DataFrame]): String =
        chunkedInput(tag, dir) { inDir =>
          frames.zipWithIndex.foreach { case (c, i) =>
            val tmp = Files.createTempDirectory(s"graft-$tag-c$i-").toString + "/out"
            c.coalesce(1).write.parquet(tmp)
            val part = graft.LocalFs.onlyParquet(tmp)
            Files.move(part, Paths.get(inDir, f"chunk_$i%02d.parquet"),
              StandardCopyOption.ATOMIC_MOVE)
          }
        }
      val lDir = chunks("sjclicks",
        (0 until 3).map(i => ev.filter(pmod(col("event_id"), lit(3)) === i)))
      val rDir = chunks("sjimps",
        (0 until 2).map(i => imps.filter(pmod(col("campaign_id"), lit(2)) === i)))
      graft.streaming.StreamJoins.fileIntervalJoin(s, lDir, rDir,
        Seq("user_id"), "tsm", "imp_tsm", "45 minutes",
        "3650 days", "3650 days", "q22_stream_out")
        .select(col("event_id"), col("campaign_id"))
        .orderBy(col("event_id"), col("campaign_id"))
    }

    // ---- approximate distinct-SET algebra (theta sketches): the user
    // overlap between two event slices — |A|, |B|, |A∩B|, |A∪B| of distinct
    // users in ONE tagged-union aggregate pass, no join. Estimates aren't
    // cross-engine-reproducible, so the query validates them in-line
    // against the exact counts (>6% drift errors out) and outputs the
    // exact values the oracle restates
    q("q23_user_overlap_sketch") = (s, dir) => {
      val ev = eventsTable(s, dir)
      val mid = ev.agg(max(col("event_id"))).head().getLong(0) / 2
      val a = ev.filter(col("event_id") <= mid).select(col("user_id"))
      val b = ev.filter(col("event_id") > mid).select(col("user_id"))
      val est = graft.operators.SketchSetOps.overlap(a, "user_id", b, "user_id").head()
      val da = a.distinct(); val db = b.distinct()
      val na = da.count(); val nb = db.count()
      val ninter = da.join(db, Seq("user_id"), "left_semi").count()
      val nunion = na + nb - ninter
      Seq(("n_a", na, est.getLong(0)), ("n_b", nb, est.getLong(1)),
        ("n_inter", ninter, est.getLong(2)), ("n_union", nunion, est.getLong(3)))
        .foreach { case (what, exact, e) =>
          if (math.abs(e - exact.toDouble) / math.max(exact, 1L) >= 0.06)
            sys.error(s"theta estimate $e drifted from exact $exact for $what")
        }
      import s.implicits._
      Seq((na, nb, ninter, nunion)).toDF("n_a", "n_b", "n_inter", "n_union")
    }

    // ---- Z-order (Morton) kernel over (user_id, seconds): the bit
    // interleave the zorder layout sorts by — integer-exact shifts/masks
    // only, so the oracle restates the identical formula (Layout.zvalueSql)
    // and the curve itself is what's pinned, not a sample of its effects.
    // The layout's row-group pruning benefit is probe-measured
    // (tools/ZOrderProbe, BASELINE.md) — a LAYOUT choice has no
    // result-visible behavior to oracle beyond this kernel
    q("q21_zvalue") = (s, dir) =>
      eventsTable(s, dir)
        .select(col("event_id"),
          operators.Layout.zvalue(
            col("user_id"), 0L, 0,
            expr("ts DIV 1000000000"), 1704067200L, 6, bits = 16).as("zval"))
        .orderBy(col("zval"), col("event_id")).limit(50)

    // exact group percentiles via the sort+window rewrite (one spill-able
    // sort; no per-group value map like the built-in `percentile`, whose
    // single-threaded per-group merge costs ~5s at sf0.1 and whose maps
    // can't fit at 100 TB). approx_percentile stays the lossy alternative
    // (t-digest, not oracle-matchable); PercentilesSpec pins equality with
    // the built-in
    q("q18_percentiles") = (s, dir) =>
      graft.operators.Percentiles.exactGroupPercentiles(
        t(s, dir, "lineitem"), Seq("l_returnflag"), "l_extendedprice",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9),
        extraAggs = Seq(count(lit(1)).cast(LongType).as("n_items")))
        .orderBy(col("l_returnflag"))

    // ---- the reference ETL's scalar surface over synthesized Spanish rows ----

    // F1/F2/F5/F8-F13 end-to-end on constructed Producto/Fecha/Precio columns
    q("etl_clean") = (s, dir) => {
      val p = t(s, dir, "part")
      val d = date_add(to_date(lit("2024-01-01")), col("p_size"))
      val producto = concat(col("p_name"), lit(" "), col("p_size").cast("string"), lit("g x "),
        (col("p_partkey") % 24 + 1).cast("string"), lit(" (G"),
        (col("p_partkey") % 19 + 1).cast("string"), lit(")"))
      val fecha = when(col("p_partkey") % 3 === 0, date_format(d, "dd/MM/yyyy"))
        .when(col("p_partkey") % 3 === 1, date_format(d, "MMMM d, yyyy"))
        .otherwise(date_format(d, "yyyy-MM-dd"))
      val precio = concat(lit("$ "), col("p_retailprice").cast(dec2).cast("string"))
      // F11 STRUCT form drives measure/unit/package: the driver row proves
      // the struct builder end-to-end (fields are extracted back out because
      // the hasher renders nested structs engine-specifically; Catalyst
      // folds CreateNamedStruct+GetStructField to the scalar exprs, so the
      // plan is identical to the scalar form)
      val mu = T.extractMeasureAndUnit(producto)
      p.select(
        col("p_partkey"),
        T.cleanDescription(col("p_name")).as("clean_name"),
        mu.getField("measure").as("measure"),
        mu.getField("unit").as("unit"),
        mu.getField("package_units").as("package_units"),
        T.extractIva(producto).cast(LongType).as("iva"),
        // DOUBLE not raw DECIMAL: the driver hasher renders Decimal
        // differently per engine; CRC prices are integer-valued so the
        // cast is exact (oracle casts identically)
        T.cleanPrice(precio).cast("double").as("clean_price"),
        T.inferDate(fecha).as("clean_date"))
        .orderBy(col("p_partkey"))
    }

    // F12/F15/P6: package-unit removal, pandas astype(str) raw preservation
    // ("nan" for missing cells), and price validity — the three scalar
    // surfaces etl_clean doesn't exercise
    q("etl_clean2") = (s, dir) => {
      val p = t(s, dir, "part")
      val pk = col("p_partkey")
      val producto = concat(col("p_name"), lit(" "), col("p_size").cast("string"),
        lit("g x "), (pk % 24 + 1).cast("string"))
      // 1-in-7 missing cell (F15 must yield "nan"), 1-in-5 unparseable (P6
      // must yield false with the raw cell preserved), rest well-formed
      val precio = when(pk % 7 === 0, lit(null).cast("string"))
        .when(pk % 5 === 0, lit("N/A"))
        .otherwise(concat(lit("$ "), col("p_retailprice").cast(dec2).cast("string")))
      val clean = T.cleanPrice(precio)
      p.select(
        pk,
        T.removePackageUnits(producto).as("no_pkg"),
        T.rawString(precio).as("raw_precio"),
        clean.cast("double").as("clean_price"),
        T.isValidPrice(precio, clean).as("is_valid_price"))
        .orderBy(pk)
    }

    // P8 + P1: upload-validation header check and header canonicalization on
    // canned header sets (plan-time logic over df.columns — made
    // driver-visible as literal result rows; oracle = the same literals)
    q("etl_headers") = (s, dir) => {
      import org.apache.spark.sql.types.{StructField, StructType, StringType}
      val cases = Seq(
        // the upload contract's exact required set
        "exact" -> Seq("Producto", "Fecha", "Provedor", "Precio", "IVA"),
        // docs/Lista Precios.csv:1 real shape: "Fecha 1" variant + unnamed
        // junk columns (Spark's CSV reader surfaces them as _cN)
        "real_file" -> Seq("Producto", "Fecha 1", "Provedor", "Precio", "IVA", "_c5", "_c6"),
        "missing_price" -> Seq("Producto", "Fecha", "Provedor", "IVA"),
        // padded header + a genuinely extra named column
        "padded_extra" -> Seq(" Producto", "Fecha", "Provedor", "Precio", "IVA", "Nota"))
      val rows = cases.map { case (id, hdrs) =>
        val v = graft.operators.Canonicalize.validateHeaders(hdrs)
        val empty = s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(hdrs.map(h => StructField(h, StringType))))
        val canon = graft.operators.Canonicalize.canonicalize(
          graft.operators.Canonicalize.dropJunkColumns(empty)).columns.mkString(",")
        org.apache.spark.sql.Row(id, v.ok, v.missing.mkString(","), v.extra.mkString(","), canon)
      }
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.asJava, StructType(Seq(
        StructField("case_id", StringType), StructField("ok", org.apache.spark.sql.types.BooleanType),
        StructField("missing", StringType), StructField("extra", StringType),
        StructField("canonical", StringType))))
        .orderBy(col("case_id"))
    }

    // ---- merge layer end state (J1-J5): the reference's MERGE procedures
    // run against seeded dims on a deterministic synthetic staging batch;
    // the oracle restates the same MERGE semantics as DuckDB CTEs
    // (insert-if-absent on lower(rtrim(name)), upsert on
    // sha256(lower(rtrim(desc))), FK resolution, max-id + row_number ids).

    q("etl_merge_endstate") = (s, dir) => {
      val r = mergeEndState(s, dir)
      r.providerProduct.alias("pp")
        .join(r.provider.alias("pr"), col("pp.ProviderId") === col("pr.Id"))
        .join(r.product.alias("pd"), col("pp.ProductId") === col("pd.Id"))
        .join(r.unitOfMeasure.alias("u"), col("pd.UnitOfMeasureId") === col("u.Id"), "left")
        .select(
          col("pp.Id").cast(LongType).as("pp_id"),
          col("pp.ProviderId").cast(LongType).as("provider_id"),
          col("pr.Name").as("provider_name"),
          col("pp.ProductId").cast(LongType).as("product_id"),
          col("pd.Description").as("description"),
          col("pd.Measure").cast("double").as("measure"),
          col("u.Acronym").as("uom"),
          col("pd.UnitPrice").cast("double").as("unit_price"),
          col("pd.UpdatedDt").isNotNull.as("product_updated"),
          col("pp.IsValidated").as("is_validated"),
          date_format(col("pp.LastReviewDt"), "yyyy-MM-dd").as("last_review"),
          col("pp.PackageUnits").cast(LongType).as("package_units"),
          col("pp.IVA").cast("double").as("iva"),
          col("pp.Price").cast("double").as("price"))
        .orderBy(col("pp_id"))
    }

    // provider dim end state alone: proves insert-if-absent keeps seeded
    // rows (incl. one never staged), skips synonym-resolved names, and
    // assigns dense key-ordered ids to novelty
    q("etl_merge_providers") = (s, dir) => {
      val r = mergeEndState(s, dir)
      r.provider
        .select(col("Id").cast(LongType).as("provider_id"), col("Name").as("provider_name"))
        .orderBy(col("provider_id"))
    }

    // ---- ledger lifecycle (S8/S10/EP1): success, skip-if-done (no second
    // attempt row), empty-file failure, failed-is-retryable — run against a
    // fresh temp warehouse; the sorted ProcessFile ledger IS the result.
    // Oracle = the literal expected lifecycle rows
    // (core/etl_orchestrator.py:280-350 status machine).
    q("etl_ledger") = (s, dir) => {
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-ledger-").toString)
      val p = new Pipeline(s, wh)
      val good = graft.sources.CsvSource.readString(s, ledgerCsv)
      val empty = s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("Producto", StringType))))
      p.processCsv(good, "products", "a.csv")  // attempt 1 → success (3)
      p.processCsv(good, "products", "a.csv")  // skip-if-done: NO new row
      p.processCsv(empty, "products", "b.csv") // attempt 2 → failed (4)
      p.processCsv(good, "products", "b.csv")  // attempt 3 → success: failed retries
      p.ledger.all()
        .select(col("Id").cast(LongType).as("attempt_id"),
          col("Container").as("container"), col("FileName").as("file_name"),
          col("StatusId").cast(LongType).as("status_id"))
        .orderBy(col("attempt_id"))
    }

    // ---- invoice extraction path (EP2/F17/S6): canned fenced model output
    // through fence strip + string-CSV parse + the composite transform;
    // oracle = the literal expected cleaned rows
    q("etl_invoice") = (s, dir) => {
      val text = graft.sources.InvoiceExtractor.stripMarkdownFence(
        graft.sources.InvoiceExtractor.Stub(invoiceFencedCsv)
          .extract(Array[Byte](1), "invoice.jpg"))
      val raw = graft.sources.CsvSource.readString(s, text)
      graft.operators.TransformPipeline(
        graft.operators.Canonicalize.canonicalize(
          graft.operators.Canonicalize.dropJunkColumns(raw)))
        .select(
          col("RawDescription").as("raw_desc"),
          col("CleanDescription").as("clean_desc"),
          col("Measure").cast("double").as("measure"),
          col("UnitOfMeasure").as("unit"),
          col("PackageUnits").cast(LongType).as("package_units"),
          col("PercentageIVA").cast(LongType).as("iva"),
          col("RawPrice").as("raw_price"),
          col("CleanPrice").cast("double").as("clean_price"),
          col("IsValidPrice").as("is_valid_price"),
          col("CleanProviderName").as("provider"),
          col("CleanLastReviewDt").as("clean_date"))
        .orderBy(col("clean_desc"))
    }

    // ---- EP2 end-to-end (S11/A2): processInvoice against a temp warehouse —
    // extractor stub → fence strip → parse → SINGLE-CSV artifact persist →
    // full merge pipeline. The result is the artifact read back (exact cell
    // text round-trips, incl. the trailing-space provider) plus the
    // reference's result envelope (count / status / artifact name —
    // core/etl_orchestrator.py:369-415). Oracle = literal expected rows
    q("etl_invoice_persist") = (s, dir) => {
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-invpersist-").toString)
      val p = new Pipeline(s, wh)
      val res = p.processInvoice(Array[Byte](1), "invoice.jpg",
        graft.sources.InvoiceExtractor.Stub(invoiceFencedCsv))
      assert(res.status, s"processInvoice failed: ${res.message}")
      s.read.option("header", "true").option("inferSchema", "false")
        .csv(wh.path(s"${res.outputContainer.get}/${res.csvFilename.get}"))
        .select(col("Producto").as("producto"), col("Fecha").as("fecha"),
          col("Provedor").as("provedor"), col("Precio").as("precio"))
        .withColumn("n_products", lit(res.productsExtracted))
        .withColumn("csv_name", lit(res.csvFilename.get))
        .orderBy(col("producto"))
    }

    // ---- EP4 (P8): validateCsv on exact / missing-required / extra-column
    // headers — status, message, and whether the upload was stored
    // (core/etl_orchestrator.py:418-464: missing ⇒ reject, extra ⇒ warn +
    // store). Oracle = literal expected rows
    q("etl_validate") = (s, dir) => {
      import s.implicits._
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-validate-").toString)
      val p = new Pipeline(s, wh)
      val cases = Seq(
        ("ok", "Producto,Fecha,Provedor,Precio,IVA\nQueso,01/02/2025,Serrano,100,13\n", "ok.csv"),
        ("missing_price", "Producto,Fecha,Provedor,IVA\nQueso,01/02/2025,Serrano,13\n", "missing.csv"),
        ("extra_ignored", "Producto,Fecha,Provedor,Precio,IVA,Nota\nQueso,01/02/2025,Serrano,100,13,x\n", "extra.csv"))
      cases.map { case (id, csv, name) =>
        val r = p.validateCsv(csv, name)
        (id, r.status, r.message, wh.exists(s"products-upload/$name"))
      }.toDF("case_id", "accepted", "message", "stored")
        .orderBy(col("case_id"))
    }

    // ---- A2: the staging-count summary EP1 reports after steps 6-10
    // (providers deduped, products, provider_products) on the canned ledger
    // batch — pins the counts the reference's success message carries
    // (core/etl_orchestrator.py:327-336). Oracle = literal expected counts
    q("etl_staging_counts") = (s, dir) => {
      import s.implicits._
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-staging-").toString)
      val sum = new Pipeline(s, wh)
        .runBatch(graft.sources.CsvSource.readString(s, ledgerCsv))
      Seq((sum.providers, sum.products, sum.providerProducts))
        .toDF("n_providers", "n_products", "n_provider_products")
        .orderBy(col("n_providers"))
    }

    // ---- J6: the ledger status dimension the ProcessFile FK points into
    // (1/2/3/4 — core/etl_orchestrator.py:288,305,330,343 use the raw ids).
    // Oracle = the literal dimension
    q("etl_status_dim") = (s, dir) => {
      import s.implicits._
      val F = graft.model.Schemas.FileStatus
      Seq((F.NotSeen.toLong, "not_seen"), (F.InProgress.toLong, "in_progress"),
        (F.Success.toLong, "success"), (F.Failed.toLong, "failed"))
        .toDF("status_id", "status_name")
        .orderBy(col("status_id"))
    }

    // ---- S5: blob/table existence + row-count properties through the
    // warehouse lifecycle (exists → append → append → delete), the
    // list/properties surface the reference reads off the blob SDK.
    // Oracle = literal expected lifecycle flags
    q("etl_warehouse_props") = (s, dir) => {
      import s.implicits._
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-wprops-").toString)
      val before = wh.exists("t")
      wh.append("t", Seq((1L, "a")).toDF("id", "v"))
      val afterWrite = wh.exists("t")
      val n1 = s.read.parquet(wh.path("t")).count()
      wh.append("t", Seq((2L, "b")).toDF("id", "v"))
      val n2 = s.read.parquet(wh.path("t")).count()
      wh.delete("t")
      val afterDelete = wh.exists("t")
      Seq(("t", before, afterWrite, n1, n2, afterDelete))
        .toDF("tbl", "exists_before", "exists_after_write",
          "rows_after_append1", "rows_after_append2", "exists_after_delete")
        .orderBy(col("tbl"))
    }

    // ---- time travel on the transactional warehouse: four commits (two
    // appends, a replace, a multi-table transaction), then every version
    // read back AS OF its commit plus CDC reads of the append-only windows;
    // the window crossing the replace must refuse (file diff != row diff
    // there). All observations collapse to one literal-checkable row
    q("etl_time_travel") = (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.{LongType => LT, StringType => ST, StructField => SF, StructType => STT}
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-ttravel-").toString)
      val sch = STT(Seq(SF("id", LT), SF("v", ST)))
      wh.append("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))         // v1
      wh.append("t", Seq((3L, "c")).toDF("id", "v"))                    // v2
      wh.replace("t", Seq((9L, "z")).toDF("id", "v"))                   // v3
      wh.atomically { w =>                                              // v4
        w.append("t", Seq((10L, "y")).toDF("id", "v"))
        w.append("u", Seq((100L, "q")).toDF("id", "v"))
      }
      def sumN(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
        val r = df.agg(coalesce(sum(col("id")), lit(0L)), count(lit(1))).head()
        (r.getLong(0), r.getLong(1))
      }
      val (s1, n1) = sumN(wh.readAt("t", sch, 1))
      val (s2, n2) = sumN(wh.readAt("t", sch, 2))
      val (s3, n3) = sumN(wh.readAt("t", sch, 3))
      val (s4, n4) = sumN(wh.readAt("t", sch, 4))
      val (_, u3) = sumN(wh.readAt("u", sch, 3))
      val (_, u4) = sumN(wh.readAt("u", sch, 4))
      val (d12, dn12) = sumN(wh.appendsBetween("t", sch, 1, 2))
      val (d34, dn34) = sumN(wh.appendsBetween("t", sch, 3, 4))
      val refused =
        try { wh.appendsBetween("t", sch, 2, 3); false }
        catch { case _: IllegalStateException => true }
      // restore = the rollback ACTION on the same history: back to v2
      // (metadata-only truncate+re-add, v5), then forward again to the v4
      // state (v6) — pre-restore history stays readable through both
      wh.restore("t", 2)                                              // v5
      val (r2s, r2n) = sumN(wh.read("t", sch))
      wh.restore("t", 4)                                              // v6
      val (r4s, r4n) = sumN(wh.read("t", sch))
      val (h3s, h3n) = sumN(wh.readAt("t", sch, 3)) // history through restores
      Seq((wh.versions().mkString(","), s1, n1, s2, n2, s3, n3, s4, n4,
          u3, u4, d12, dn12, d34, dn34, refused, r2s, r2n, r4s, r4n, h3s, h3n))
        .toDF("versions", "t1_sum", "t1_n", "t2_sum", "t2_n", "t3_sum", "t3_n",
          "t4_sum", "t4_n", "u3_n", "u4_n", "d12_sum", "d12_n", "d34_sum",
          "d34_n", "replace_window_refused", "r2_sum", "r2_n", "r4_sum", "r4_n",
          "h3_sum", "h3_n")
        .orderBy(col("versions"))
    }

    // ---- CDC-driven incremental materialized aggregate: lineitem committed
    // in three append batches with a refresh folding each delta into the
    // persisted state, then a replace (same logical rows, new files) forces
    // the invalidation path — rebuild as-of head. End state ≡ a one-shot
    // GROUP BY over the whole table, which is exactly what the oracle runs.
    // Sums are order-proof by the sumMoney discipline (integer-valued qty,
    // decimal-cast price), so the incremental fold is oracle-exact
    q("etl_materialized_agg") = (s, dir) => {
      val li = t(s, dir, "lineitem")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-mv-").toString)
      val agg = new graft.operators.IncrementalAgg(wh, "li", "src/lineitem",
        li.schema, Seq("l_returnflag", "l_linestatus"),
        Seq("sum_qty" -> col("l_quantity"),
          "sum_base" -> col("l_extendedprice").cast(DecimalType(18, 2))))
      (0 to 2).foreach { i =>
        wh.append("src/lineitem", li.filter(col("l_orderkey") % 3 === i))
        agg.refresh()
      }
      wh.replace("src/lineitem", li) // truncate in window → rebuild path
      agg.refresh()
      agg.state()
        .select(col("l_returnflag"), col("l_linestatus"), col("cnt"),
          col("sum_qty"), round(col("sum_base").cast("double"), 2).as("sum_base"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }

    // ---- the APPROXIMATE twin: count(DISTINCT) maintained as per-group
    // HLL sketches (SketchDistinct) — append windows union delta sketches,
    // a retraction window recomputes ONLY the affected groups (sketches
    // can't forget). Estimates aren't reproducible outside Datasketches,
    // so the query VALIDATES them in-line against the exact distincts
    // (erroring on drift >5%) and outputs the exact values the oracle
    // restates from the raw table
    q("etl_sketch_distinct") = (s, dir) => {
      val orders = t(s, dir, "orders")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-skmv-").toString)
      wh.setChangeFeed("facts/orders", on = true)
      val maxKey = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val qtr = maxKey / 4
      val sd = new graft.operators.SketchDistinct(wh, "cust", "facts/orders",
        orders.schema, Seq("o_orderstatus"), "o_custkey")
      wh.append("facts/orders", orders.filter(col("o_orderkey") < qtr * 2))
      sd.refresh()
      wh.append("facts/orders", orders.filter(col("o_orderkey") >= qtr * 2))
      sd.refresh() // append-only union path
      wh.deleteWhere("facts/orders", orders.schema,
        Seq(graft.sources.ColGe("o_orderkey", qtr * 3)))
      sd.refresh() // retraction path: affected groups recompute
      val exact = wh.read("facts/orders", orders.schema)
        .groupBy(col("o_orderstatus"))
        .agg(count_distinct(col("o_custkey")).as("n_cust"))
      val est = sd.estimate().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      exact.collect().foreach { r =>
        val (g, n) = (r.getString(0), r.getLong(1))
        val e = est.getOrElse(g, sys.error(s"sketch view lost group $g"))
        if (math.abs(e - n.toDouble) / math.max(n, 1L) >= 0.05)
          sys.error(s"sketch estimate $e drifted from exact $n for group $g")
      }
      exact.orderBy(col("o_orderstatus"))
    }

    // ---- mergeable QUANTILE sketches (KLL) as an incremental MV: per-group
    // percentiles maintained from the log — append windows merge delta
    // sketches, the delete window recomputes only the affected groups.
    // KLL guarantees RANK error (~1.65% at k=200), so the query validates
    // each estimate's true rank in-line and outputs the exact percentiles
    // (quantile_cont ≡ Spark percentile, the q18-proven bit-exact pair)
    q("etl_quantile_sketch") = (s, dir) => {
      val orders = t(s, dir, "orders")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-skqmv-").toString)
      wh.setChangeFeed("facts/orders", on = true)
      val maxKey = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val qtr = maxKey / 4
      val sq = new graft.operators.SketchQuantile(wh, "price", "facts/orders",
        orders.schema, Seq("o_orderstatus"), "o_totalprice")
      wh.append("facts/orders", orders.filter(col("o_orderkey") < qtr * 2))
      sq.refresh()
      wh.append("facts/orders", orders.filter(col("o_orderkey") >= qtr * 2))
      sq.refresh() // append-only merge path
      wh.deleteWhere("facts/orders", orders.schema,
        Seq(graft.sources.ColGe("o_orderkey", qtr * 3)))
      sq.refresh() // retraction: affected groups recompute
      val base = wh.read("facts/orders", orders.schema)
      // ONE fused validation pass: the per-group estimate thresholds fold
      // into when-chains, so every (group, p) rank check rides a single
      // aggregate job instead of 2×groups count jobs
      val est = sq.quantiles(Seq(0.5, 0.9)).collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      def thrCol(pick: ((Double, Double)) => Double) =
        est.foldLeft(lit(Double.NaN)) { case (acc, (g, es)) =>
          when(col("o_orderstatus") === g, lit(pick(es))).otherwise(acc)
        }
      val checks = base.groupBy(col("o_orderstatus")).agg(
        count(lit(1)).as("n"),
        sum(when(col("o_totalprice") <= thrCol(_._1), 1L).otherwise(0L)).as("le50"),
        sum(when(col("o_totalprice") <= thrCol(_._2), 1L).otherwise(0L)).as("le90"))
        .collect()
      checks.foreach { r =>
        val (g, n) = (r.getString(0), r.getLong(1).toDouble)
        Seq((0.5, r.getLong(2)), (0.9, r.getLong(3))).foreach { case (p, le) =>
          if (math.abs(le / n - p) >= 0.03)
            sys.error(s"KLL p$p estimate has true rank ${le / n} for group $g")
        }
      }
      base.groupBy(col("o_orderstatus"))
        .agg(percentile(col("o_totalprice"), lit(0.5)).as("p50"),
          percentile(col("o_totalprice"), lit(0.9)).as("p90"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    }

    // ---- the sketch layer's SQL-ops surface: the SAME HLL distinct MV as
    // etl_sketch_distinct, but defined, refreshed, and read entirely at a
    // spark.sql prompt — CALL graft.system.sketch_refresh persists the MV
    // definition next to its state (later refreshes are name-only; a
    // drifted redefinition is refused), and estimates come back through a
    // plain SELECT + the built-in hll_sketch_estimate over the state table.
    // Estimates validated in-line against the exact distincts; exact values
    // oracled (shares etl_sketch_distinct's oracle by construction)
    q("etl_sql_sketch") = (s, dir) => {
      val orders = t(s, dir, "orders")
      val root = java.nio.file.Files.createTempDirectory("graft-sqlsk-").toString
      val wh = new graft.sources.AtomicWarehouse(s, root)
      val cat = s"gsql${sqlCatSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      wh.setChangeFeed("facts/orders", on = true)
      val maxKey = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val qtr = maxKey / 4
      wh.append("facts/orders", orders.filter(col("o_orderkey") < qtr * 2))
      s.sql(s"""CALL $cat.system.sketch_refresh('cust', 'distinct',
        'facts.orders', 'o_orderstatus', 'o_custkey')""")
      wh.append("facts/orders", orders.filter(col("o_orderkey") >= qtr * 2))
      s.sql(s"CALL $cat.system.sketch_refresh('cust')") // name-only: def persisted
      s.sql(s"DELETE FROM $cat.facts.orders WHERE o_orderkey >= ${qtr * 3}")
      s.sql(s"CALL $cat.system.sketch_refresh('cust')") // retraction window
      val est = s.sql(s"""SELECT o_orderstatus,
          hll_sketch_estimate(sk) AS n_est FROM $cat.mv.cust.SketchState""")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = s.sql(s"""SELECT o_orderstatus,
          count(DISTINCT o_custkey) AS n_cust FROM $cat.facts.orders
          GROUP BY o_orderstatus ORDER BY o_orderstatus""")
      exact.collect().foreach { r =>
        val (g, n) = (r.getString(0), r.getLong(1))
        val e = est.getOrElse(g, sys.error(s"sketch view lost group $g"))
        if (math.abs(e - n.toDouble) / math.max(n, 1L) >= 0.05)
          sys.error(s"sketch estimate $e drifted from exact $n for group $g")
      }
      exact
    }

    // ---- the quantile kind through the same SQL-only loop: define/refresh
    // via CALL (name-only second refresh, SQL DELETE drives the retraction
    // recompute), p50/p90 estimates read back with the built-in
    // kll_sketch_get_quantile_double over the state table and RANK-validated
    // in-line (KLL guarantees rank error, ~1.65% at the k=200 default);
    // output = exact percentiles over the surviving rows (etl_quantile_sketch's
    // oracle verbatim — same construction, SQL-driven)
    q("etl_sql_sketch_quantile") = (s, dir) => {
      val orders = t(s, dir, "orders")
      val root = java.nio.file.Files.createTempDirectory("graft-sqlskq-").toString
      val wh = new graft.sources.AtomicWarehouse(s, root)
      val cat = s"gsql${sqlCatSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      wh.setChangeFeed("facts/orders", on = true)
      val maxKey = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val qtr = maxKey / 4
      wh.append("facts/orders", orders.filter(col("o_orderkey") < qtr * 2))
      s.sql(s"""CALL $cat.system.sketch_refresh('price', 'quantile',
        'facts.orders', 'o_orderstatus', 'o_totalprice')""")
      wh.append("facts/orders", orders.filter(col("o_orderkey") >= qtr * 2))
      s.sql(s"CALL $cat.system.sketch_refresh('price')") // name-only
      s.sql(s"DELETE FROM $cat.facts.orders WHERE o_orderkey >= ${qtr * 3}")
      s.sql(s"CALL $cat.system.sketch_refresh('price')") // retraction window
      val est = s.sql(s"""SELECT o_orderstatus,
          kll_sketch_get_quantile_double(sk, 0.5) AS p50,
          kll_sketch_get_quantile_double(sk, 0.9) AS p90
          FROM $cat.mv.price.SketchState""")
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      val base = s.sql(s"SELECT o_orderstatus, o_totalprice FROM $cat.facts.orders")
      def thrCol(pick: ((Double, Double)) => Double) =
        est.foldLeft(lit(Double.NaN)) { case (acc, (g, es)) =>
          when(col("o_orderstatus") === g, lit(pick(es))).otherwise(acc)
        }
      val checks = base.groupBy(col("o_orderstatus")).agg(
        count(lit(1)).as("n"),
        sum(when(col("o_totalprice") <= thrCol(_._1), 1L).otherwise(0L)).as("le50"),
        sum(when(col("o_totalprice") <= thrCol(_._2), 1L).otherwise(0L)).as("le90"))
        .collect()
      checks.foreach { r =>
        val (g, n) = (r.getString(0), r.getLong(1).toDouble)
        Seq((0.5, r.getLong(2)), (0.9, r.getLong(3))).foreach { case (p, le) =>
          if (math.abs(le / n - p) >= 0.03)
            sys.error(s"SQL KLL p$p estimate has true rank ${le / n} for group $g")
        }
      }
      base.groupBy(col("o_orderstatus"))
        .agg(percentile(col("o_totalprice"), lit(0.5)).as("p50"),
          percentile(col("o_totalprice"), lit(0.9)).as("p90"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    }

    // ---- CALL sketch_overlap at a SQL prompt over two warehouse tables:
    // theta set algebra without materializing either side; estimates
    // validated in-line against the exact counts (q23's 6% gate), exact
    // values oracled (q23's oracle verbatim — same event halves)
    q("etl_sql_sketch_overlap") = (s, dir) => {
      val ev = eventsTable(s, dir)
      val root = java.nio.file.Files.createTempDirectory("graft-sqlsko-").toString
      val wh = new graft.sources.AtomicWarehouse(s, root)
      val cat = s"gsql${sqlCatSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val mid = ev.agg(max(col("event_id"))).head().getLong(0) / 2
      val a = ev.filter(col("event_id") <= mid).select(col("user_id"))
      val b = ev.filter(col("event_id") > mid).select(col("user_id"))
      wh.append("ev/a", a)
      wh.append("ev/b", b)
      val est = s.sql(
        s"CALL $cat.system.sketch_overlap('ev.a', 'user_id', 'ev.b', 'user_id')").head()
      val da = a.distinct(); val db = b.distinct()
      val na = da.count(); val nb = db.count()
      val ninter = da.join(db, Seq("user_id"), "left_semi").count()
      val nunion = na + nb - ninter
      Seq(("n_a", na, est.getLong(0)), ("n_b", nb, est.getLong(1)),
        ("n_inter", ninter, est.getLong(2)), ("n_union", nunion, est.getLong(3)))
        .foreach { case (what, exact, e) =>
          if (math.abs(e - exact.toDouble) / math.max(exact, 1L) >= 0.06)
            sys.error(s"SQL theta estimate $e drifted from exact $exact for $what")
        }
      import s.implicits._
      Seq((na, nb, ninter, nunion)).toDF("n_a", "n_b", "n_inter", "n_union")
    }

    // ---- CALL top_tokens at a SQL prompt: the Misra-Gries bounded-state
    // heavy hitters as a CALL over a warehouse corpus table — the result is
    // certified-EXACT by construction (candidates recounted, k-th result
    // cleared against the MG error bound), so the rows themselves are
    // oracled (doc_top_tokens' oracle verbatim)
    q("etl_sql_top_tokens") = (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val root = java.nio.file.Files.createTempDirectory("graft-sqltt-").toString
      val wh = new graft.sources.AtomicWarehouse(s, root)
      val cat = s"gsql${sqlCatSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      wh.append("docs/corpus", docs)
      s.sql(s"CALL $cat.system.top_tokens('docs.corpus', 'text', 20)")
        .orderBy(col("cnt").desc, col("token"))
    }

    // ---- time travel COMPOSED with the materialized view: the mv state
    // lives in the same manifest log, so readAt() answers "what did the
    // aggregate say after the second fold" — the audit/debug read IVM
    // tables usually can't offer. Commit layout is deterministic (append=v1,
    // refresh=v2, append=v3, refresh=v4, ...), so state-as-of-v4 ≡ a GROUP
    // BY over the first two source thirds, which is exactly the oracle
    q("etl_agg_asof") = (s, dir) => {
      val li = t(s, dir, "lineitem")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-mvasof-").toString)
      val agg = new graft.operators.IncrementalAgg(wh, "li", "src/lineitem",
        li.schema, Seq("l_returnflag", "l_linestatus"),
        Seq("sum_qty" -> col("l_quantity"),
          "sum_base" -> col("l_extendedprice").cast(DecimalType(18, 2))))
      (0 to 2).foreach { i =>
        wh.append("src/lineitem", li.filter(col("l_orderkey") % 3 === i))
        agg.refresh()
      }
      wh.readAt(agg.stateTable, agg.stateSchema, 4) // after the SECOND fold
        .select(col("l_returnflag"), col("l_linestatus"), col("cnt"),
          col("sum_qty"), round(col("sum_base").cast("double"), 2).as("sum_base"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }

    // ---- SCD Type 2 on the supplier dimension: three upsert batches (full
    // load, then two partial attribute changes) folded through Scd
    // .scd2Upsert with batch-sequence validity — every state survives with
    // its half-open [from, to) window, unchanged keys never grow version
    // rows. The oracle reconstructs the identical history from the raw
    // batches with LAG-dedup + LEAD windows — deterministic because
    // validity is the sequence, never a clock
    q("etl_scd2") = (s, dir) => {
      import org.apache.spark.sql.types.{BooleanType => BT, LongType => LT, StructField => SF, StructType => STT}
      val sup = t(s, dir, "supplier")
      val b1 = sup.select(col("s_suppkey"),
        col("s_nationkey").cast(LongType).as("attr"))
      val b2 = sup.filter(col("s_suppkey") % 4 === 0).select(col("s_suppkey"),
        (col("s_nationkey") + 100).cast(LongType).as("attr"))
      val b3 = sup.filter(col("s_suppkey") % 6 === 0).select(col("s_suppkey"),
        (col("s_nationkey") + 200).cast(LongType).as("attr"))
      val genesis = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        STT(Seq(SF("s_suppkey", LT), SF("attr", LT), SF("valid_from", LT),
          SF("valid_to", LT), SF("is_current", BT))))
      val h = Seq(b1 -> 1L, b2 -> 2L, b3 -> 3L).foldLeft(genesis) {
        case (acc, (b, i)) =>
          graft.operators.Scd.scd2Upsert(acc, b, Seq("s_suppkey"), Seq("attr"), i)
      }
      h.orderBy(col("s_suppkey"), col("valid_from"))
    }

    // ---- the same history maintained by STRUCTURED STREAMING (ScdStream):
    // the three supplier update batches arrive as parquet files in order
    // (maxFilesPerTrigger=1), each micro-batch folds as one SCD2 upsert
    // with a ledgered atomic admit (replay no-ops). Stream ≡ the pure
    // fold, so the oracle is etl_scd2's verbatim
    q("etl_scd2_stream") = (s, dir) => {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      import org.apache.spark.sql.types.{LongType => LT, StructField => SF, StructType => STT}
      val sup = t(s, dir, "supplier")
      val batches = Seq(
        sup.select(col("s_suppkey"), col("s_nationkey").cast(LongType).as("attr")),
        sup.filter(col("s_suppkey") % 4 === 0).select(col("s_suppkey"),
          (col("s_nationkey") + 100).cast(LongType).as("attr")),
        sup.filter(col("s_suppkey") % 6 === 0).select(col("s_suppkey"),
          (col("s_nationkey") + 200).cast(LongType).as("attr")))
      val inDir = chunkedInput("scdstream", dir) { d =>
        batches.zipWithIndex.foreach { case (df, i) =>
          val tmp = Files.createTempDirectory(s"graft-scds-c$i-").toString + "/out"
          df.coalesce(1).write.parquet(tmp)
          val part = graft.LocalFs.onlyParquet(tmp)
          Files.move(part, Paths.get(d, f"chunk_$i%02d.parquet"),
            StandardCopyOption.ATOMIC_MOVE)
        }
      }
      val ckpt = Files.createTempDirectory("graft-scds-ck-").toString
      val whDir = Files.createTempDirectory("graft-scds-wh-").toString
      val st = new graft.streaming.ScdStream(
        new graft.sources.AtomicWarehouse(GraftSession.streamSession(s), whDir),
        "provider", Seq("s_suppkey"), Seq("attr"),
        STT(Seq(SF("s_suppkey", LT), SF("attr", LT))))
      val sq = st.start(inDir, ckpt)
      val drainMs = GraftSession.streamDrainTimeoutMs
      if (!sq.awaitTermination(drainMs)) {
        sq.stop()
        throw new IllegalStateException(
          s"etl_scd2_stream failed to drain within ${drainMs / 1000} s")
      }
      st.dim.history().orderBy(col("s_suppkey"), col("valid_from"))
    }

    // ---- streaming CDC APPLY (ApplyChangesStream): ordered change batches
    // (upsert/delete ops with per-key sequences) stream into a warehouse
    // table, each micro-batch collapsing to last-change-per-key and
    // applying as ONE ledgered mergeInto — the Debezium-feed consumer.
    // b1 loads every supplier, b2 bumps %4 keys and deletes %5 keys (a
    // %20 key gets both changes in one batch; the higher-seq delete wins
    // the collapse), b3 re-upserts %10 keys — resurrecting the deleted
    // evens among them. The oracle restates the surviving keys and final
    // attributes directly from the supplier table
    q("etl_apply_changes_stream") = (s, dir) => {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      import org.apache.spark.sql.types.{LongType => LT, StructField => SF, StructType => STT}
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey").cast(LongType).as("attr"))
      val k = col("s_suppkey")
      val batches = Seq(
        sup.select(k, col("attr"), lit("u").as("_op"), k.as("_seq")),
        sup.filter(k % 4 === 0)
          .select(k, (col("attr") + 100).as("attr"), lit("u").as("_op"),
            (k + 1000000L).as("_seq"))
          .unionByName(sup.filter(k % 5 === 0)
            .select(k, col("attr"), lit("d").as("_op"), (k + 2000000L).as("_seq"))),
        sup.filter(k % 10 === 0)
          .select(k, (col("attr") + 500).as("attr"), lit("u").as("_op"),
            (k + 3000000L).as("_seq")))
      val inDir = chunkedInput("cdcapply", dir) { d =>
        batches.zipWithIndex.foreach { case (df, i) =>
          val tmp = Files.createTempDirectory(s"graft-cdca-c$i-").toString + "/out"
          df.coalesce(1).write.parquet(tmp)
          val part = graft.LocalFs.onlyParquet(tmp)
          Files.move(part, Paths.get(d, f"chunk_$i%02d.parquet"),
            StandardCopyOption.ATOMIC_MOVE)
        }
      }
      val ckpt = Files.createTempDirectory("graft-cdca-ck-").toString
      val whDir = Files.createTempDirectory("graft-cdca-wh-").toString
      val baseSch = STT(Seq(SF("s_suppkey", LT), SF("attr", LT)))
      val wh = new graft.sources.AtomicWarehouse(GraftSession.streamSession(s), whDir)
      val acs = new graft.streaming.ApplyChangesStream(wh, "dim/sup", Seq("s_suppkey"), baseSch)
      val sq = acs.start(inDir, ckpt)
      val drainMs = GraftSession.streamDrainTimeoutMs
      if (!sq.awaitTermination(drainMs)) {
        sq.stop()
        throw new IllegalStateException(
          s"etl_apply_changes_stream failed to drain within ${drainMs / 1000} s")
      }
      acs.currentState().orderBy(col("s_suppkey"))
    }

    // ---- the SAME change feed applied OUT OF ORDER (b3, b1, b2 — with b2
    // also replayed) through the batch surface: the sequence-guarded apply
    // (every matched clause gated on s._seq >= t._seq, deletes retained as
    // tombstones) makes application COMMUTATIVE and idempotent, so the
    // shuffled fold must converge to the ordered oracle key-for-key — the
    // order-insensitivity contract a real change feed (parallel partitions,
    // redelivery) needs
    q("etl_apply_changes_unordered") = (s, dir) => {
      import org.apache.spark.sql.types.{LongType => LT, StructField => SF, StructType => STT}
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey").cast(LongType).as("attr"))
      val k = col("s_suppkey")
      val b1 = sup.select(k, col("attr"), lit("u").as("_op"), k.as("_seq"))
      val b2 = sup.filter(k % 4 === 0)
        .select(k, (col("attr") + 100).as("attr"), lit("u").as("_op"),
          (k + 1000000L).as("_seq"))
        .unionByName(sup.filter(k % 5 === 0)
          .select(k, col("attr"), lit("d").as("_op"), (k + 2000000L).as("_seq")))
      val b3 = sup.filter(k % 10 === 0)
        .select(k, (col("attr") + 500).as("attr"), lit("u").as("_op"),
          (k + 3000000L).as("_seq"))
      val whDir = java.nio.file.Files.createTempDirectory("graft-cdcu-wh-").toString
      val baseSch = STT(Seq(SF("s_suppkey", LT), SF("attr", LT)))
      val wh = new graft.sources.AtomicWarehouse(s, whDir)
      val acs = new graft.streaming.ApplyChangesStream(wh, "dim/sup", Seq("s_suppkey"), baseSch)
      Seq(b3, b1, b2, b2).foreach(acs.applyChanges(_))
      acs.currentState().orderBy(col("s_suppkey"))
    }

    // ---- row-level data-quality expectations (the P8 header validation
    // extended to row contents — dbt-tests shape): six rules over orders,
    // compiled into one fused aggregate scan (all row-local rules), one
    // unique-key aggregate, and one broadcast anti-join FK probe. The
    // range and set rules are chosen to FAIL (TPC-H totalprice exceeds
    // 100k; status P exists) so the report proves it counts, not rubber-
    // stamps. Exact long counts, so the oracle replays each rule as SQL
    q("etl_expectations") = (s, dir) => {
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      import graft.operators.Expectations
      Expectations.check(orders, Seq(
        Expectations.NotNull("o_custkey"),
        Expectations.Unique(Seq("o_orderkey")),
        Expectations.RefIn("o_custkey", customer, "c_custkey"),
        Expectations.InRange("o_totalprice", 0, 100000),
        Expectations.InSet("o_orderstatus", Seq("O", "F")),
        Expectations.Matches("o_orderpriority", "^[1-5]-.*")))
        .orderBy(col("rule_id"))
    }

    // ---- quality as a TIME SERIES: Expectations composed with the CDC
    // reads (the IncrementalAgg cursor discipline). Three ingest commits
    // are each measured delta-only; a cleanup REPLACE then makes the
    // window non-append-only and the monitor rebases on the full as-of
    // state, flagging the row — per-commit attributable quality, itself
    // riding the same manifest log as the data
    q("etl_quality_monitor") = (s, dir) => {
      import graft.operators.{Expectations, QualityMonitor}
      val orders = t(s, dir, "orders")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-qm-").toString)
      val rules = Seq(
        Expectations.NotNull("o_custkey"),
        Expectations.InRange("o_totalprice", 0, 100000),
        Expectations.InSet("o_orderstatus", Seq("O", "F")))
      val qm = new QualityMonitor(wh, "facts/Orders", orders.schema, rules)
      (0 until 3).foreach { i =>
        wh.append("facts/Orders", orders.filter(col("o_orderkey") % 3 === i))
        qm.refresh()
      }
      wh.replace("facts/Orders", orders.filter(col("o_orderkey") % 3 <= 1))
      qm.refresh()
      qm.report().orderBy(col("to_version"), col("rule_id"))
    }

    // ---- deterministic train/val/test split: membership is a pure
    // function of the document ID (md5Long(id) mod 100, cumulative 80/10/10
    // ranges) — reruns, engines, and corpus growth agree row-for-row, and
    // an edited document can never migrate between splits (the eval-leak
    // content addressing would allow). Joinless narrow projection
    q("doc_split") = (s, dir) =>
      Corpus.assignSplit(t(s, dir, "documents").select(col("doc_id")), "doc_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))

    // ---- schema evolution on the transactional warehouse: v1 lands the
    // narrow (key, name) dimension, v2 evolves it by appending wider rows
    // with a region column. The manifest records each write's shape, so
    // the as-of read of v1 comes back in ITS era's 2-column schema while
    // the live read (through the recorded current schema) null-fills the
    // pre-evolution rows — the add-column story of the pointer-commit
    // table formats, driver-proven
    q("etl_schema_evolution") = (s, dir) => {
      val nat = t(s, dir, "nation")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-se-").toString)
      wh.append("dim/nation",
        nat.filter(col("n_nationkey") < 10).select(col("n_nationkey"), col("n_name")))
      wh.append("dim/nation",
        nat.filter(col("n_nationkey") >= 10)
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey")))
      val asOf1Cols = wh.readAt("dim/nation", 1).columns.mkString(",")
      wh.read("dim/nation", wh.currentSchema("dim/nation").get)
        .withColumn("asof1_cols", lit(asOf1Cols))
        .orderBy(col("n_nationkey"))
    }

    // ---- column rename WITHOUT rewrite (column mapping): v1 lands the
    // dimension, one metadata commit renames n_name → nation_name (zero
    // data files touched — physical names are stable), and a post-rename
    // append writes under the new logical name. The live read serves BOTH
    // eras' files under the renamed schema while the as-of read of v1
    // keeps ITS era's column name — restated by the oracle as a rename
    // over the raw table plus the literal era column list
    q("etl_rename_column") = (s, dir) => {
      val nat = t(s, dir, "nation")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-rn-").toString)
      wh.append("dim/nation",
        nat.filter(col("n_nationkey") < 10).select(col("n_nationkey"), col("n_name")))
      wh.renameColumn("dim/nation", "n_name", "nation_name")
      wh.append("dim/nation",
        nat.filter(col("n_nationkey") >= 10)
          .select(col("n_nationkey"), col("n_name").as("nation_name")))
      val asOf1Cols = wh.readAt("dim/nation", 1).columns.mkString(",")
      wh.read("dim/nation", wh.currentSchema("dim/nation").get)
        .withColumn("asof1_cols", lit(asOf1Cols))
        .orderBy(col("n_nationkey"))
    }

    // ---- DROP COLUMN without rewrite: v1 lands the 3-column dimension,
    // one metadata commit drops n_regionkey (bytes linger in the old files
    // but are no longer a column — zero files touched), a post-drop append
    // writes the narrow shape. Live read = 2 columns over both eras' files;
    // the as-of read of v1 keeps its era's 3-column shape (literal list)
    q("etl_drop_column") = (s, dir) => {
      val nat = t(s, dir, "nation")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-dropc-").toString)
      wh.append("dim/nation", nat.filter(col("n_nationkey") < 10)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey")))
      wh.dropColumn("dim/nation", "n_regionkey")
      wh.append("dim/nation", nat.filter(col("n_nationkey") >= 10)
        .select(col("n_nationkey"), col("n_name")))
      val asOf1Cols = wh.readAt("dim/nation", 1).columns.mkString(",")
      wh.read("dim/nation", wh.currentSchema("dim/nation").get)
        .withColumn("asof1_cols", lit(asOf1Cols))
        .orderBy(col("n_nationkey"))
    }

    // ---- TYPE WIDENING without rewrite: v1 lands the dimension with an
    // INT key, one metadata commit widens it to BIGINT (zero files
    // touched — Spark's parquet reader upcasts the narrow era natively),
    // and a post-widen append carries keys only the wide type can hold
    // (beyond Int.MaxValue). ONE scan serves both eras under the widened
    // schema; the as-of read of v1 keeps its era's INT type (literal in
    // the oracle) — the remaining Delta-parity schema-evolution move after
    // add/rename/drop
    q("etl_type_widening") = (s, dir) => {
      val nat = t(s, dir, "nation")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-widen-").toString)
      wh.append("dim/nation", nat.filter(col("n_nationkey") < 10)
        .select(col("n_nationkey").cast(org.apache.spark.sql.types.IntegerType)
          .as("n_nationkey"), col("n_name")))
      val preWiden = wh.versions().last
      wh.widenColumn("dim/nation", "n_nationkey", LongType)
      wh.append("dim/nation", nat.filter(col("n_nationkey") >= 10)
        .select((col("n_nationkey") + lit(4000000000L)).as("n_nationkey"), col("n_name")))
      val asof1Type = wh.schemaAt("dim/nation", preWiden).get("n_nationkey")
        .dataType.simpleString
      val liveType = wh.currentSchema("dim/nation").get("n_nationkey")
        .dataType.simpleString
      wh.read("dim/nation", wh.currentSchema("dim/nation").get)
        .withColumn("asof1_type", lit(asof1Type))
        .withColumn("live_type", lit(liveType))
        .orderBy(col("n_nationkey"))
    }

    /** Orders laid out as four single-file o_orderkey quartile bands, each
      * commit recording its footer min/max in the manifest — the fixture
      * the data-skipping and row-level-DML queries share. Returns the
      * warehouse and the quartile boundary (maxKey/4, floor).
      */
    def bandedOrdersWh(s: SparkSession, orders: DataFrame, tag: String)
        : (graft.sources.AtomicWarehouse, Long) = {
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory(s"graft-$tag-").toString)
      val maxKey = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val qtr = maxKey / 4
      wh.append("facts/orders", orders.filter(col("o_orderkey") < qtr).coalesce(1))
      wh.append("facts/orders", orders.filter(col("o_orderkey") >= qtr &&
        col("o_orderkey") < qtr * 2).coalesce(1))
      wh.append("facts/orders", orders.filter(col("o_orderkey") >= qtr * 2 &&
        col("o_orderkey") < qtr * 3).coalesce(1))
      wh.append("facts/orders", orders.filter(col("o_orderkey") >= qtr * 3).coalesce(1))
      (wh, qtr)
    }

    // order-proof money: totalprice cents as exact longs
    def centsAgg = Seq(count(lit(1)).as("n"),
      sum(round(col("o_totalprice") * 100).cast(LongType)).as("cents"))

    // ---- manifest data skipping: a one-band range scan over the banded
    // layout. planFiles must keep exactly the covering band file and skip
    // the other three FROM DRIVER METADATA (footer min/max riding the
    // commit log) — the kept/skipped counts are literals in the oracle, so
    // the driver gate verifies the pruning DECISION itself, not just the
    // rows; scanWhere's row result ≡ a plain filter, which the oracle
    // restates over the raw table
    q("etl_skipping_scan") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val (wh, qtr) = bandedOrdersWh(s, orders, "skip")
      val preds = Seq(graft.sources.ColGe("o_orderkey", qtr),
        graft.sources.ColLt("o_orderkey", qtr * 2))
      val (kept, skipped) = wh.planFiles("facts/orders", preds)
      val r = wh.scanWhere("facts/orders", orders.schema, preds)
        .agg(centsAgg.head, centsAgg.tail: _*).head()
      Seq((kept.size, skipped.size, r.getLong(0), r.getLong(1)))
        .toDF("files_kept", "files_skipped", "n", "cents")
        .orderBy(col("n"))
    }

    // ---- copy-on-write DELETE: the second quartile band deleted by
    // predicate. Stats confine the rewrite to the one covering file, the
    // commit is remove+add in one manifest, and the pre-delete state stays
    // readable as-of the prior version — deleted count, end state, and the
    // time-travel read all restated by the oracle from the raw table
    q("etl_delete_where") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val (wh, qtr) = bandedOrdersWh(s, orders, "del")
      val headBefore = wh.versions().last
      val deleted = wh.deleteWhere("facts/orders", orders.schema,
        Seq(graft.sources.ColGe("o_orderkey", qtr),
          graft.sources.ColLt("o_orderkey", qtr * 2)))
      def cn(df: DataFrame): (Long, Long) = {
        val r = df.agg(centsAgg.head, centsAgg.tail: _*).head(); (r.getLong(0), r.getLong(1))
      }
      val (an, ac) = cn(wh.read("facts/orders", orders.schema))
      val (bn, bc) = cn(wh.readAt("facts/orders", orders.schema, headBefore))
      Seq((deleted, an, ac, bn, bc))
        .toDF("deleted", "after_n", "after_cents", "before_n", "before_cents")
        .orderBy(col("deleted"))
    }

    // ---- CHANGE DATA FEED (Delta CDF shape): with the per-table
    // `changefeed` property on, every row-level DML commit records its
    // exact row changes into <table>/_changes IN THE SAME manifest commit;
    // changesBetween stitches a version window — pure-append commits read
    // back as inserts from their data files (no write amplification), DML
    // commits read their recorded slice. The window here crosses an
    // update, a copy-on-write delete, and a DV delete — exactly where
    // appendsBetween must refuse — and the per-type row counts and key
    // sums are restated by the oracle from the raw table
    q("etl_change_feed") = (s, dir) => {
      val orders = t(s, dir, "orders")
      val (wh, qtr) = bandedOrdersWh(s, orders, "cdf")
      wh.setChangeFeed("facts/orders", on = true)
      wh.updateWhere("facts/orders", orders.schema,
        Seq(graft.sources.ColLt("o_orderkey", qtr / 2)),
        Seq("o_orderpriority" -> concat(lit("X-"), col("o_orderpriority"))))
      wh.deleteWhere("facts/orders", orders.schema,
        Seq(graft.sources.ColGe("o_orderkey", qtr),
          graft.sources.ColLt("o_orderkey", qtr * 3 / 2)))
      val dvKeys = orders.filter(col("o_orderkey") % 101 === 0 &&
          !(col("o_orderkey") >= qtr && col("o_orderkey") < qtr * 3 / 2))
        .select(col("o_orderkey")).collect().map(_.getLong(0)).toSeq
      wh.deleteWhereDv("facts/orders", orders.schema,
        Seq(graft.sources.ColIn("o_orderkey", dvKeys)))
      wh.changesBetween("facts/orders", orders.schema, 0, wh.versions().last)
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
        .orderBy(col("_change_type"))
    }

    // ---- change-feed RETENTION: purgeChanges drops the recorded slices
    // below a version floor in ONE metadata commit. The sub-floor window
    // refuses with the reseed message (flag literal), the at-floor window
    // replays exactly (the delete aggregate, oracle-restated), and vacuum
    // reclaims the freed slice bytes — the lever that keeps a DML-heavy
    // table's `_changes` history from growing without bound
    q("etl_change_feed_retention") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val (wh, qtr) = bandedOrdersWh(s, orders, "cdfret")
      wh.setChangeFeed("facts/orders", on = true)
      wh.updateWhere("facts/orders", orders.schema,
        Seq(graft.sources.ColLt("o_orderkey", qtr / 2)),
        Seq("o_orderpriority" -> concat(lit("X-"), col("o_orderpriority"))))
      val midV = wh.versions().last
      wh.deleteWhere("facts/orders", orders.schema,
        Seq(graft.sources.ColGe("o_orderkey", qtr),
          graft.sources.ColLt("o_orderkey", qtr * 3 / 2)))
      val head = wh.versions().last
      val freed = wh.purgeChanges("facts/orders", midV + 1)
      val refused =
        try { wh.changesBetween("facts/orders", orders.schema, 0, head); false }
        catch { case e: IllegalStateException =>
          e.getMessage.contains("purged below version") }
      val d = wh.changesBetween("facts/orders", orders.schema, midV, head)
        .filter(col("_change_type") === "delete")
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum")).head()
      Seq((wh.changeFeedFloor("facts/orders") == midV + 1, freed >= 1, refused,
          d.getLong(0), d.getLong(1)))
        .toDF("floor_set", "purged_any", "refused", "del_n", "del_key_sum")
        .orderBy(col("del_n"))
    }

    // ---- MERGE INTO through SQL: the reference's MERGE stored procedures
    // in their native tongue — the analyzer translates the statement to
    // the engine's mergeInto (exact-key-set candidate pruning, the SQL
    // cardinality rule, delete-before-update clause order preserved), the
    // USING source reads through the catalog. Same DML mix as
    // etl_merge_into; end state restated by the oracle.
    q("etl_sql_merge") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val (wh, qtr) = bandedOrdersWh(s, orders, "sqlmerge")
      val cat = s"gsql${sqlCatSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", wh.root)
      val inQ2 = col("o_orderkey") >= qtr && col("o_orderkey") < qtr * 2 &&
        col("o_orderkey") % 16 === 0
      val src = orders.filter(inQ2)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(orders
          .filter(col("o_orderkey") < qtr / 2 && col("o_orderkey") % 16 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(qtr * 10)))
      wh.append("staging/src", src)
      s.sql(
        s"""MERGE INTO $cat.facts.orders t USING $cat.staging.src s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED AND s.o_orderstatus = 'P' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.sql(
        s"""SELECT count(*) AS n,
           | sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
           |FROM $cat.facts.orders ORDER BY n""".stripMargin)
    }

    // ---- SQL MERGE's full clause set: NOT MATCHED BY SOURCE delete +
    // update (Delta's shape) and a computed INSERT assignment list. The
    // NMBS conditions' translatable conjuncts join the candidate pruning
    // (ColOr with the source-key branch), so the second band is never
    // rewritten; the oracle restates the end state from the raw table
    q("etl_sql_merge_nmbs") = (s, dir) => {
      val orders = t(s, dir, "orders")
      val (wh, qtr) = bandedOrdersWh(s, orders, "sqlnmbs")
      val cat = s"gsql${sqlCatSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", wh.root)
      val inQ2 = col("o_orderkey") >= qtr && col("o_orderkey") < qtr * 2 &&
        col("o_orderkey") % 16 === 0
      val src = orders.filter(inQ2)
        .unionByName(orders.filter(inQ2)
          .withColumn("o_orderkey", col("o_orderkey") + lit(qtr * 10)))
      wh.append("staging/src", src)
      s.sql(
        s"""MERGE INTO $cat.facts.orders t USING $cat.staging.src s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice * 2
           |WHEN NOT MATCHED THEN INSERT
           |  (o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           |   o_orderdate, o_orderpriority)
           |  VALUES (s.o_orderkey, s.o_custkey, s.o_orderstatus,
           |   s.o_totalprice * 3, s.o_orderdate, s.o_orderpriority)
           |WHEN NOT MATCHED BY SOURCE
           |  AND t.o_orderkey >= ${qtr * 3} AND t.o_orderkey % 16 = 0
           |  THEN DELETE""".stripMargin)
      // a second pass: NMBS UPDATE touching only the first band's rows
      // (the source row matches nothing and there is no INSERT clause)
      wh.append("staging/faraway",
        orders.limit(1).withColumn("o_orderkey", lit(qtr * 100)))
      s.sql(
        s"""MERGE INTO $cat.facts.orders t USING $cat.staging.faraway s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN NOT MATCHED BY SOURCE
           |  AND t.o_orderkey < $qtr AND t.o_orderkey % 16 = 0
           |  THEN UPDATE SET o_orderpriority = concat('OLD-', t.o_orderpriority)
           |""".stripMargin)
      s.sql(
        s"""SELECT count(*) AS n,
           | sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents,
           | sum(CASE WHEN o_orderpriority LIKE 'OLD-%' THEN 1 ELSE 0 END) AS old_n
           |FROM $cat.facts.orders ORDER BY n""".stripMargin)
    }

    // ---- MERGE WITH SCHEMA EVOLUTION: the source carries a column the
    // target lacks; the merge ADOPTS it (metadata-only addColumn in the
    // engine — Spark's own evolution rule only fires for row-level-op
    // tables), updates/inserts carry values, pre-merge rows null-fill
    q("etl_sql_merge_evolve") = (s, dir) => {
      val orders = t(s, dir, "orders")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-sqlevo-").toString)
      val cat = s"gsql${sqlCatSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", wh.root)
      val maxKey = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val qtr = maxKey / 4
      wh.append("facts/slim", orders.filter(col("o_orderkey") < qtr * 2)
        .select(col("o_orderkey"), col("o_totalprice")))
      wh.append("staging/wide", orders
        .filter(col("o_orderkey") >= qtr && col("o_orderkey") < qtr * 3)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")))
      s.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.facts.slim t
           |USING $cat.staging.wide s ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      // coalesce the adopted column: Spark and DuckDB order NULLs on
      // opposite ends, and the driver compare preserves row order
      s.sql(
        s"""SELECT coalesce(o_orderstatus, '-') AS st, count(*) AS n,
           | sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
           |FROM $cat.facts.slim
           |GROUP BY 1 ORDER BY st""".stripMargin)
    }

    // ---- the change feed through SQL: graft_changes (the Delta
    // table_changes shape, registered by GraftExtensions) replays the
    // SAME DML mix as etl_change_feed via spark.sql — per-type totals
    // restated by the oracle from the raw table, proving the SQL TVF and
    // the Scala changesBetween are one surface
    q("etl_sql_changes") = (s, dir) => {
      val orders = t(s, dir, "orders")
      val (wh, qtr) = bandedOrdersWh(s, orders, "sqlcdf")
      wh.setChangeFeed("facts/orders", on = true)
      wh.updateWhere("facts/orders", orders.schema,
        Seq(graft.sources.ColLt("o_orderkey", qtr / 2)),
        Seq("o_orderpriority" -> concat(lit("X-"), col("o_orderpriority"))))
      wh.deleteWhere("facts/orders", orders.schema,
        Seq(graft.sources.ColGe("o_orderkey", qtr),
          graft.sources.ColLt("o_orderkey", qtr * 3 / 2)))
      val dvKeys = orders.filter(col("o_orderkey") % 101 === 0 &&
          !(col("o_orderkey") >= qtr && col("o_orderkey") < qtr * 3 / 2))
        .select(col("o_orderkey")).collect().map(_.getLong(0)).toSeq
      wh.deleteWhereDv("facts/orders", orders.schema,
        Seq(graft.sources.ColIn("o_orderkey", dvKeys)))
      s.sql(
        s"""SELECT _change_type, count(*) AS n,
           | sum(o_orderkey) AS key_sum
           |FROM graft_changes('${wh.root}', 'facts/orders', 0, ${wh.versions().last})
           |GROUP BY _change_type
           |ORDER BY _change_type""".stripMargin)
    }

    // ---- cross-warehouse CDC REPLICATION: the source's write-time change
    // feed applied to a SECOND warehouse through the sequence-guarded
    // merge — the produce/consume composition of the whole change stack.
    // The first refresh seeds the replica from version 0 (band appends
    // read back as inserts); the second pulls one window holding an
    // update + a copy-on-write range delete + a scattered DV delete and
    // converges the replica to the source's live state, which the oracle
    // restates row-for-row (grouped to keep the frame small)
    q("etl_replicate") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val (src, qtr) = bandedOrdersWh(s, orders, "repl")
      src.setChangeFeed("facts/orders", on = true)
      val dst = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-repl-dst-").toString)
      val repl = new graft.streaming.Replicator(src, "facts/orders",
        orders.schema, Seq("o_orderkey"), dst, "facts/orders")
      repl.refresh() // seed: the four band appends replicate as inserts
      src.updateWhere("facts/orders", orders.schema,
        Seq(graft.sources.ColLt("o_orderkey", qtr / 2)),
        Seq("o_totalprice" -> (col("o_totalprice") * 2)))
      src.deleteWhere("facts/orders", orders.schema,
        Seq(graft.sources.ColGe("o_orderkey", qtr),
          graft.sources.ColLt("o_orderkey", qtr * 3 / 2)))
      val dvKeys = orders.filter(col("o_orderkey") % 101 === 0 &&
          !(col("o_orderkey") >= qtr && col("o_orderkey") < qtr * 3 / 2))
        .select(col("o_orderkey")).collect().map(_.getLong(0)).toSeq
      src.deleteWhereDv("facts/orders", orders.schema,
        Seq(graft.sources.ColIn("o_orderkey", dvKeys)))
      repl.refresh() // one window: update + delete + DV delete
      repl.state().groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"),
          sum(round(col("o_totalprice") * 100).cast(LongType)).as("cents"))
        .orderBy(col("o_orderstatus"))
    }

    // ---- snapshot-seeded replication: the reseed exit ramp every feed
    // refusal points at, exercised end to end. The source lives BEFORE its
    // change feed (a pre-feed UPDATE the feed can never reconstruct), so
    // from-genesis replication REFUSES (flag literal in the oracle);
    // seed() copies the consistent as-of snapshot with the cursor in the
    // same commit, and the post-seed DML window flows through the normal
    // sequence-guarded apply. Oracle restates the final state: the
    // pre-feed update baked into the seed plus the post-seed deletes.
    q("etl_replicate_seed") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val (src, qtr) = bandedOrdersWh(s, orders, "rsd")
      src.updateWhere("facts/orders", orders.schema,
        Seq(graft.sources.ColLt("o_orderkey", qtr / 2)),
        Seq("o_totalprice" -> (col("o_totalprice") * 2))) // pre-feed: unrecorded
      src.setChangeFeed("facts/orders", on = true)
      val dst = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-rsd-dst-").toString)
      val repl = new graft.streaming.Replicator(src, "facts/orders",
        orders.schema, Seq("o_orderkey"), dst, "facts/orders")
      val refusedGenesis =
        try { repl.refresh(); false }
        catch { case _: IllegalStateException => true }
      repl.seed()
      src.deleteWhere("facts/orders", orders.schema,
        Seq(graft.sources.ColGe("o_orderkey", qtr),
          graft.sources.ColLt("o_orderkey", qtr * 3 / 2)))
      val dvKeys = orders.filter(col("o_orderkey") % 101 === 0 &&
          !(col("o_orderkey") >= qtr && col("o_orderkey") < qtr * 3 / 2))
        .select(col("o_orderkey")).collect().map(_.getLong(0)).toSeq
      src.deleteWhereDv("facts/orders", orders.schema,
        Seq(graft.sources.ColIn("o_orderkey", dvKeys)))
      repl.refresh()
      repl.state().groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"),
          sum(round(col("o_totalprice") * 100).cast(LongType)).as("cents"))
        .withColumn("refused_genesis", lit(refusedGenesis))
        .orderBy(col("o_orderstatus"))
    }

    // ---- small-file bin-packing (OPTIMIZE's other half): one adequate
    // file plus six tiny ingest leftovers (the streaming tail); compactSmall
    // merges ONLY the six under-threshold files into one output — the big
    // file is never opened (routing literal in the oracle) — and the table
    // lands at 2 files with every row intact (multiplicity restatement:
    // the i-th leftover re-appends the first 10+i orderkeys)
    q("etl_compact_small") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-bp-").toString)
      wh.append("facts/orders", orders.coalesce(1))
      (0 until 6).foreach(i =>
        wh.append("facts/orders",
          orders.orderBy(col("o_orderkey")).limit(10 + i).coalesce(1)))
      val sizes = wh.fileStats("facts/orders").keySet.map(f =>
        f -> new java.io.File(wh.path("facts/orders") + "/" + f).length).toMap
      val cut = sizes.values.max // everything smaller than the big file merges
      val r = wh.compactSmall("facts/orders", orders.schema, minBytes = cut)
      val filesAfter = wh.describe("facts/orders").files
      val e = wh.read("facts/orders", orders.schema)
        .agg(centsAgg.head, centsAgg.tail: _*).head()
      Seq((r.filesRewritten, r.filesUntouched, filesAfter, e.getLong(0), e.getLong(1)))
        .toDF("files_rewritten", "files_untouched", "files_after", "n", "cents")
        .orderBy(col("n"))
    }

    // ---- retraction IVM: the materialized aggregate maintained ACROSS
    // row-level DML via the change feed — inserts/update-postimages fold
    // as +1 partials, deletes/update-preimages as −1 (the classic
    // retraction form), so an update+delete+DV-delete window that
    // appendsBetween must refuse stays DELTA-SIZED instead of forcing the
    // rebuild. End state ≡ a one-shot GROUP BY over the post-DML table —
    // exactly what the oracle restates (cents as exact longs, so
    // retraction arithmetic is drift-free)
    q("etl_mv_retraction") = (s, dir) => {
      val orders = t(s, dir, "orders")
      val (wh, qtr) = bandedOrdersWh(s, orders, "mvr")
      wh.setChangeFeed("facts/orders", on = true)
      val agg = new graft.operators.IncrementalAgg(wh, "ord", "facts/orders",
        orders.schema, Seq("o_orderstatus"),
        Seq("cents" -> round(col("o_totalprice") * 100).cast(LongType)))
      agg.refresh() // append-only fold of the 4 band commits
      wh.updateWhere("facts/orders", orders.schema,
        Seq(graft.sources.ColLt("o_orderkey", qtr / 2)),
        Seq("o_totalprice" -> (col("o_totalprice") * 2)))
      wh.deleteWhere("facts/orders", orders.schema,
        Seq(graft.sources.ColGe("o_orderkey", qtr),
          graft.sources.ColLt("o_orderkey", qtr * 3 / 2)))
      val dvKeys = orders.filter(col("o_orderkey") % 101 === 0 &&
          !(col("o_orderkey") >= qtr && col("o_orderkey") < qtr * 3 / 2))
        .select(col("o_orderkey")).collect().map(_.getLong(0)).toSeq
      wh.deleteWhereDv("facts/orders", orders.schema,
        Seq(graft.sources.ColIn("o_orderkey", dvKeys)))
      agg.refresh() // retraction fold over the feed — no rebuild
      agg.state().orderBy(col("o_orderstatus"))
    }

    // ---- INCREMENTAL recluster (OPTIMIZE-style): the band layout eroded
    // by 6 scattered appends that each span the whole key range — a band
    // scan must open band + all 6 intruders (kept_before literal). The
    // incremental pass re-bands ONLY the eroded tail (the 6 intruders; the
    // 4 clean bands overlap ≤ maxOverlap others and are never opened —
    // routing literal in the oracle), after which the same scan opens
    // strictly fewer files and stays row-exact against the multiplicity
    // restatement. At 100 TB this is the difference between rewriting the
    // table and rewriting the day's intruders
    q("etl_recluster_incremental") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val (wh, qtr) = bandedOrdersWh(s, orders, "rci")
      (2 to 7).foreach { k =>
        wh.append("facts/orders", orders.filter(col("o_orderkey") % k === 0).coalesce(1))
      }
      val band = Seq(graft.sources.ColGe("o_orderkey", qtr),
        graft.sources.ColLt("o_orderkey", qtr * 2))
      val keptBefore = wh.planFiles("facts/orders", band)._1.size
      val r = wh.reclusterIncremental("facts/orders", orders.schema, Seq("o_orderkey"),
        maxOverlap = 6, outFiles = 4)
      val keptAfter = wh.planFiles("facts/orders", band)._1.size
      val e = wh.scanWhere("facts/orders", orders.schema, band)
        .agg(centsAgg.head, centsAgg.tail: _*).head()
      Seq((r.filesRewritten, r.filesUntouched, keptBefore,
          keptAfter < keptBefore, r.bytesRewritten > 0, e.getLong(0), e.getLong(1)))
        .toDF("files_rewritten", "files_untouched", "kept_before",
          "pruning_restored", "tail_bytes_only", "n", "cents")
        .orderBy(col("n"))
    }

    // ---- DISJUNCTION in the skipping algebra (DNF): real predicates are
    // rarely pure conjunctions — `key < a OR key >= b` must still prune.
    // Over the 4-band layout the OR of the two edges keeps bands 0 and 3
    // and skips 1-2 FROM DRIVER METADATA (literals in the oracle); a
    // second predicate with a band-covering disjunct answers its count
    // for band 3 metadata-only; a cross-column OR (key range OR status
    // equality) can prune nothing here — the routing says so honestly —
    // but stays row-exact. scanWhere ≡ the plain filter restatement
    q("etl_skipping_or") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val (wh, qtr) = bandedOrdersWh(s, orders, "or")
      import graft.sources.{ColOr => Or}
      val edges = Seq(Or(Seq(
        Seq(graft.sources.ColLt("o_orderkey", qtr / 2)),
        Seq(graft.sources.ColGe("o_orderkey", qtr * 3 + qtr / 2)))))
      val (kept, skipped) = wh.planFiles("facts/orders", edges)
      val e = wh.scanWhere("facts/orders", orders.schema, edges)
        .agg(centsAgg.head, centsAgg.tail: _*).head()
      val c = wh.countWhere("facts/orders", orders.schema, Seq(Or(Seq(
        Seq(graft.sources.ColLt("o_orderkey", qtr / 2)),
        Seq(graft.sources.ColGe("o_orderkey", qtr * 3))))))
      val cross = wh.scanWhere("facts/orders", orders.schema, Seq(Or(Seq(
        Seq(graft.sources.ColLt("o_orderkey", qtr / 2)),
        Seq(graft.sources.ColEq("o_orderstatus", "P"))))))
        .count()
      Seq((kept.size, skipped.size, e.getLong(0), e.getLong(1),
          c.count, c.filesMetadata, c.filesRead, c.filesSkipped, cross))
        .toDF("files_kept", "files_skipped", "n", "cents",
          "cnt_n", "cnt_meta", "cnt_read", "cnt_skipped", "cross_n")
        .orderBy(col("n"))
    }

    // ---- SQL catalog (DataSource V2): the SAME band scan as
    // etl_skipping_scan, but issued through `spark.sql` against the
    // warehouse registered as a catalog plugin — the SQL filter reaches
    // planFiles through GraftFileIndex, so the manifest prunes 1-of-4 band
    // files BEFORE any file opens (kept/skipped literals in the oracle),
    // while the scan stays the native vectorized parquet reader. This is
    // the reference's relational surface (its consumers speak SQL,
    // core/etl_orchestrator.py:173-180) over the engine's tables.
    q("etl_sql_catalog") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val (wh, qtr) = bandedOrdersWh(s, orders, "sqlcat")
      val cat = s"gsql${sqlCatSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", wh.root)
      val r = s.sql(
        s"""SELECT count(*) AS n,
           | sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
           |FROM $cat.facts.orders
           |WHERE o_orderkey >= $qtr AND o_orderkey < ${qtr * 2}""".stripMargin).head()
      val (kept, skipped) = graft.sql.GraftFileIndex
        .lastPlanFor(wh.root, "facts/orders").getOrElse((-1, -1))
      Seq((kept, skipped, r.getLong(0), r.getLong(1)))
        .toDF("files_kept", "files_skipped", "n", "cents")
        .orderBy(col("n"))
    }

    // ---- SQL DML composition over the catalog: an INSERT INTO ... SELECT
    // whose source scan prunes through the manifest (ins_kept/ins_skipped
    // literals), a scattered DV delete through the API killing BOTH copies
    // of its keys, the live state read back through spark.sql, and the
    // pre-DML state through SQL `VERSION AS OF` — SQL writers get the same
    // transactional append (invariants, change feed) as API writers
    q("etl_sql_dml") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val (wh, qtr) = bandedOrdersWh(s, orders, "sqldml")
      val cat = s"gsql${sqlCatSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", wh.root)
      val head0 = wh.versions().last
      s.sql(s"INSERT INTO $cat.facts.orders " +
        s"SELECT * FROM $cat.facts.orders WHERE o_orderkey < ${qtr / 4}")
      val (insKept, insSkipped) = graft.sql.GraftFileIndex
        .lastPlanFor(wh.root, "facts/orders").getOrElse((-1, -1))
      val dvKeys = orders.filter(col("o_orderkey") % 101 === 0)
        .select(col("o_orderkey")).collect().map(_.getLong(0)).toSeq
      wh.deleteWhereDv("facts/orders", orders.schema,
        Seq(graft.sources.ColIn("o_orderkey", dvKeys)))
      val live = s.sql(s"SELECT count(*) AS n, sum(o_orderkey) AS key_sum " +
        s"FROM $cat.facts.orders").head()
      val before = s.sql(s"SELECT count(*) AS n " +
        s"FROM $cat.facts.orders VERSION AS OF $head0").head()
      Seq((insKept, insSkipped, live.getLong(0), live.getLong(1), before.getLong(0)))
        .toDF("ins_kept", "ins_skipped", "n", "key_sum", "before_n")
        .orderBy(col("n"))
    }

    // ---- SQL schema evolution (ALTER TABLE → the engine's metadata-only
    // moves): rename n_name (column mapping — zero files touched), widen
    // n_nationkey int→bigint, ADD COLUMN (pre-add rows null-fill), a
    // post-evolution INSERT landing all three, then constraint DDL — a
    // CHECK added through SQL refuses the violating INSERT (refused
    // literal). End state read back through spark.sql
    q("etl_sql_alter") = (s, dir) => {
      import s.implicits._
      val nat = t(s, dir, "nation")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-sqlalter-").toString)
      wh.append("dim/nation", nat.select(
        col("n_nationkey").cast("int").as("n_nationkey"), col("n_name")))
      val cat = s"gsql${sqlCatSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", wh.root)
      s.sql(s"ALTER TABLE $cat.dim.nation RENAME COLUMN n_name TO nation_name")
      s.sql(s"ALTER TABLE $cat.dim.nation ALTER COLUMN n_nationkey TYPE BIGINT")
      s.sql(s"ALTER TABLE $cat.dim.nation ADD COLUMN flag STRING")
      s.sql(s"INSERT INTO $cat.dim.nation VALUES (900, 'NEWLAND', 'x')")
      s.sql(s"ALTER TABLE $cat.dim.nation ADD CONSTRAINT key_pos CHECK (n_nationkey >= 0)")
      val refused =
        try { s.sql(s"INSERT INTO $cat.dim.nation VALUES (-5, 'BAD', 'y')"); false }
        catch { case _: Exception => true }
      // RENAME TABLE is one metadata commit (r16): the CHECK above and all
      // data survive the round trip, and DML lands through the new name
      s.sql(s"ALTER TABLE $cat.dim.nation RENAME TO $cat.archive.nation_v2")
      val refusedRenamed =
        try { s.sql(s"INSERT INTO $cat.archive.nation_v2 VALUES (-6, 'BAD', 'y')"); false }
        catch { case _: Exception => true }
      s.sql(s"INSERT INTO $cat.archive.nation_v2 VALUES (901, 'RENAMELAND', 'z')")
      s.sql(s"ALTER TABLE $cat.archive.nation_v2 RENAME TO $cat.dim.nation")
      s.sql(s"SELECT n_nationkey, nation_name, flag FROM $cat.dim.nation")
        .withColumn("refused", lit(refused && refusedRenamed))
        .orderBy(col("n_nationkey"))
    }

    // ---- SQL maintenance surface (CALL procedures): compactSmall through
    // CALL optimize (4 band files → 1; the engine's literal routing as the
    // procedure's result rows), DESCRIBE HISTORY through CALL history (one
    // row per commit touching the table, recorded commit clocks monotone),
    // RESTORE through CALL (rewind to the first append)
    q("etl_sql_maintenance") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val (wh, _) = bandedOrdersWh(s, orders, "sqlmaint")
      val cat = s"gsql${sqlCatSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", wh.root)
      val opt = s.sql(s"CALL $cat.system.optimize('facts.orders')").head()
      val hist = s.sql(s"CALL $cat.system.history('facts.orders')").collect()
      val ts = hist.map(_.getAs[Long]("commit_ms"))
      val tsMonotone = ts.zip(ts.drop(1)).forall { case (a, b) => a <= b }
      val live = s.sql(s"SELECT count(*) AS n FROM $cat.facts.orders").head().getLong(0)
      val v1 = hist.head.getAs[Int]("version")
      s.sql(s"CALL $cat.system.restore('facts.orders', $v1)")
      val restored = s.sql(s"SELECT count(*) AS n FROM $cat.facts.orders").head().getLong(0)
      Seq((opt.getAs[Int]("files_rewritten"), opt.getAs[Int]("files_untouched"),
          hist.length, tsMonotone, live, restored))
        .toDF("files_rewritten", "files_untouched", "hist_n", "ts_monotone",
          "live_n", "restored_n")
        .orderBy(col("live_n"))
    }

    // ---- the warehouse as a STRUCTURED STREAMING source (readStream
    // .table — Delta's streaming-table shape): offsets are commit
    // versions, so a checkpointed stream resumes at the recorded version
    // and each batch is exactly the manifest's window files. Phase 1
    // replays the 4 band appends from genesis (startingVersion 0) into a
    // file sink; an extra slice lands; phase 2 RESUMES the same checkpoint
    // and must append exactly the new file — the accumulated sink count
    // proves exactly-once (any replay would double a band)
    q("etl_stream_table") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val (wh, qtr) = bandedOrdersWh(s, orders, "streamtbl")
      val cat = s"gsql${sqlCatSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", wh.root)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-streamtbl-ckpt-").toString
      val out = java.nio.file.Files.createTempDirectory("graft-streamtbl-out-").toString
      def drain(startingVersion: Option[Int]): Unit = {
        val reader = s.readStream
        startingVersion.foreach(v => reader.option("startingVersion", v.toString))
        val q = reader.table(s"$cat.facts.orders")
          .writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        require(q.awaitTermination(graft.GraftSession.streamDrainTimeoutMs),
          "etl_stream_table: stream did not drain in time")
      }
      drain(Some(0))
      val phase1 = s.read.parquet(out).count()
      wh.append("facts/orders",
        orders.filter(col("o_orderkey") < qtr / 4).coalesce(1))
      drain(None)
      s.read.parquet(out)
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
        .withColumn("phase1_n", lit(phase1))
        .select(col("phase1_n"), col("n"), col("key_sum"))
        .orderBy(col("n"))
    }

    // ---- ADMISSION CONTROL on the streaming table source: a genesis
    // replay must land as RATE-LIMITED micro-batches planned from the
    // manifest, never one all-or-nothing unit stat-ing every file on the
    // driver. Fixture: 4 single-file commits + ONE 4-file commit (the
    // (version, index) split regime), cap 2 files/trigger → exactly 4
    // data-bearing batches; zero planning filesystem calls (counter);
    // totals restate orders — any dropped or replayed file breaks them.
    q("etl_stream_backlog") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-backlogq-").toString)
      val maxKey = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val qtr = maxKey / 4
      def band(i: Int): DataFrame =
        if (i == 0) orders.filter(col("o_orderkey") < qtr)
        else if (i == 3) orders.filter(col("o_orderkey") >= qtr * 3)
        else orders.filter(col("o_orderkey") >= qtr * i &&
          col("o_orderkey") < qtr * (i + 1))
      (0 until 3).foreach(i => wh.append("facts/orders", band(i).coalesce(1)))
      wh.append("facts/orders", band(3).repartition(4)) // the large commit
      val cat = s"gsql${sqlCatSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", wh.root)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-backlogq-ckpt-").toString
      val fsBefore = wh.streamPlanFsCalls.get()
      val q = s.readStream
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "2")
        .table(s"$cat.facts.orders")
        .writeStream.format("memory").queryName(s"backlog$cat")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      require(q.awaitTermination(graft.GraftSession.streamDrainTimeoutMs),
        "etl_stream_backlog: stream did not drain in time")
      val batches = q.recentProgress.count(_.numInputRows > 0)
      val planFsCalls = wh.streamPlanFsCalls.get() - fsBefore
      s.table(s"backlog$cat")
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
        .withColumn("rate_limited", lit(batches == 4))
        .withColumn("plan_fs_calls", lit(planFsCalls))
        .orderBy(col("n"))
    }

    // ---- the CHANGE FEED as a streaming source (graft-cdf, Delta's
    // readChangeFeed shape): row-level CDC where the append-only table
    // stream refuses — appends stream as insert rows, the recorded DML
    // slice as its delete rows, each labeled with its commit version.
    // One AvailableNow drain replays the window from genesis; the result
    // aggregates per change type against the oracle's restatement
    q("etl_stream_changes") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val (wh, _) = bandedOrdersWh(s, orders, "streamcdf")
      wh.setChangeFeed("facts/orders", on = true)
      val delKeys = orders.filter(col("o_orderkey") % 101 === 0)
        .select(col("o_orderkey")).collect().map(_.getLong(0)).toSeq
      wh.deleteWhere("facts/orders", orders.schema,
        Seq(graft.sources.ColIn("o_orderkey", delKeys)))
      val ckpt = java.nio.file.Files.createTempDirectory("graft-streamcdf-ckpt-").toString
      val out = java.nio.file.Files.createTempDirectory("graft-streamcdf-out-").toString
      val q = s.readStream.format("graft-cdf")
        .option("root", wh.root).option("table", "facts/orders")
        .option("startingVersion", "0").load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      require(q.awaitTermination(graft.GraftSession.streamDrainTimeoutMs),
        "etl_stream_changes: stream did not drain in time")
      s.read.parquet(out)
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
        .orderBy(col("_change_type"))
    }

    // ---- exactly-once streaming SINK (Delta's txn action): appendOnce
    // commits each batch's data files and its (appId, batchId) high-water
    // in ONE manifest — replayed batches (Structured Streaming re-runs the
    // last uncommitted batch after every recovery) are metadata-only
    // no-ops. Four band batches land with two injected replays (skipped
    // literals), then a REAL stream — readStream.table over the source
    // (dogfooding the streaming source) with foreachBatch+appendOnce —
    // mirrors the table into a sink table, exactly-once end to end
    q("etl_stream_sink") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-streamsink-").toString)
      val maxKey = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val qtr = maxKey / 4
      def band(i: Int): DataFrame =
        if (i == 0) orders.filter(col("o_orderkey") < qtr)
        else if (i == 3) orders.filter(col("o_orderkey") >= qtr * 3)
        else orders.filter(col("o_orderkey") >= qtr * i &&
          col("o_orderkey") < qtr * (i + 1))
      require(wh.appendOnce("facts/orders", "etl", 0L, band(0).coalesce(1)))
      require(wh.appendOnce("facts/orders", "etl", 1L, band(1).coalesce(1)))
      val replay1Skipped = !wh.appendOnce("facts/orders", "etl", 1L, band(1).coalesce(1))
      require(wh.appendOnce("facts/orders", "etl", 2L, band(2).coalesce(1)))
      val replay0Skipped = !wh.appendOnce("facts/orders", "etl", 0L, band(0).coalesce(1))
      require(wh.appendOnce("facts/orders", "etl", 3L, band(3).coalesce(1)))
      // real stream: the new streaming SOURCE feeding the new SINK
      val cat = s"gsql${sqlCatSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", wh.root)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-streamsink-ckpt-").toString
      val q = s.readStream.option("startingVersion", "0")
        .table(s"$cat.facts.orders")
        .writeStream.foreachBatch { (df: DataFrame, id: Long) =>
          wh.appendOnce("facts/sink", "mirror", id, df); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      require(q.awaitTermination(graft.GraftSession.streamDrainTimeoutMs),
        "etl_stream_sink: stream did not drain in time")
      val src = wh.read("facts/orders", orders.schema)
        .agg(count(lit(1)).as("src_n"), sum(col("o_orderkey")).as("src_key_sum")).head()
      val sink = wh.read("facts/sink", orders.schema)
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("s")).head()
      Seq((replay1Skipped, replay0Skipped, src.getLong(0), src.getLong(1),
          sink.getLong(0), sink.getLong(1)))
        .toDF("replay1_skipped", "replay0_skipped", "src_n", "src_key_sum",
          "sink_n", "sink_key_sum")
        .orderBy(col("src_n"))
    }

    // ---- the exactly-once streaming sink as a FIRST-CLASS V2 table sink:
    // the same warehouse→warehouse mirror as etl_stream_sink but through
    // `writeStream.toTable` — no hand-rolled foreachBatch: executors write
    // the parquet once, the driver epoch-commit moves files in with the
    // (appId, batchId) ledger in the same manifest commit, and an injected
    // replay at the committed high-water is a metadata no-op. Oracle
    // restates source == sink == orders.
    q("etl_stream_sink_table") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-sinktable-").toString)
      val maxKey = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val qtr = maxKey / 4
      def band(i: Int): DataFrame =
        if (i == 0) orders.filter(col("o_orderkey") < qtr)
        else if (i == 3) orders.filter(col("o_orderkey") >= qtr * 3)
        else orders.filter(col("o_orderkey") >= qtr * i &&
          col("o_orderkey") < qtr * (i + 1))
      (0 until 4).foreach(i => wh.append("facts/orders", band(i).coalesce(1)))
      val cat = s"gsql${sqlCatSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", wh.root)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-sinktable-ckpt-").toString
      val q = s.readStream.option("startingVersion", "0")
        .table(s"$cat.facts.orders")
        .writeStream.option("checkpointLocation", ckpt)
        .option("txnAppId", "mirror")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"$cat.facts.sink")
      require(q.awaitTermination(graft.GraftSession.streamDrainTimeoutMs),
        "etl_stream_sink_table: stream did not drain in time")
      val hw = wh.lastCommittedBatch("facts/sink", "mirror").getOrElse(
        throw new IllegalStateException("epoch ledger missing from the manifest"))
      // injected replay at the committed high-water: pre-staged rows must
      // NOT land, and the staging dir is cleaned
      val stage = java.nio.file.Files.createTempDirectory("graft-sinktable-rp-").toString
      orders.limit(3).coalesce(1).write.mode("overwrite").parquet(stage)
      val leaf = new java.io.File(stage).listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).head
      val replaySkipped = !wh.appendOnceStaged("facts/sink", "mirror", hw,
        stage, Seq(leaf), orders.schema)
      val src = wh.read("facts/orders", orders.schema)
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("s")).head()
      val sink = wh.read("facts/sink", orders.schema)
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("s")).head()
      Seq((replaySkipped, src.getLong(0), src.getLong(1),
          sink.getLong(0), sink.getLong(1)))
        .toDF("replay_skipped", "src_n", "src_key_sum", "sink_n", "sink_key_sum")
        .orderBy(col("src_n"))
    }

    // ---- SQL DML outside the FilePred algebra (the fallback rewrite):
    // DELETE with a LIKE leg — the translatable o_orderkey conjunct prunes
    // to the top band, the exact condition decides the rows — then an
    // UPDATE whose WHERE is a LIKE and whose SET is an expression. End
    // state restated by the oracle under the same three-valued semantics
    q("etl_sql_dml_fallback") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val (wh, qtr) = bandedOrdersWh(s, orders, "sqlfall")
      val cat = s"gsql${sqlCatSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", wh.root)
      s.sql(s"DELETE FROM $cat.facts.orders " +
        s"WHERE o_orderkey >= ${qtr * 3} AND o_orderpriority LIKE '%URGENT%'")
      s.sql(s"UPDATE $cat.facts.orders SET o_orderstatus = lower(o_orderstatus) " +
        "WHERE o_orderpriority LIKE '1%'")
      s.sql(
        s"""SELECT count(*) AS n, sum(o_orderkey) AS key_sum,
           | count(CASE WHEN o_orderstatus = lower(o_orderstatus)
           |   THEN 1 END) AS lowered_n
           |FROM $cat.facts.orders""".stripMargin)
        .orderBy(col("n"))
    }

    // ---- merge-on-read DELETE (deletion vectors): a scattered by-key
    // purge (o_orderkey % 101 — rows in EVERY band) that copy-on-write
    // would answer by rewriting the whole table commits ONE manifest line
    // of tombstone ordinals per touched file and rewrites ZERO data files
    // (files_rewritten literal in the oracle, the visible file set asserted
    // identical). The live read ≡ the plain filter restatement, time travel
    // still reads the pre-delete rows, and a compaction FOLDS the DV into
    // new files (dv_after_compact = 0 literal) with the same live rows
    q("etl_delete_dv") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val (wh, _) = bandedOrdersWh(s, orders, "dv")
      val filesBefore = wh.describe("facts/orders").files
      val keys = orders.filter(col("o_orderkey") % 101 === 0)
        .select(col("o_orderkey")).collect().map(_.getLong(0)).toSeq
      val headBefore = wh.versions().last
      val r = wh.deleteWhereDv("facts/orders", orders.schema,
        Seq(graft.sources.ColIn("o_orderkey", keys)))
      val sameFiles = wh.describe("facts/orders").files == filesBefore
      def cn(df: DataFrame): (Long, Long) = {
        val x = df.agg(centsAgg.head, centsAgg.tail: _*).head(); (x.getLong(0), x.getLong(1))
      }
      val (an, ac) = cn(wh.read("facts/orders", orders.schema))
      val (bn, _) = cn(wh.readAt("facts/orders", orders.schema, headBefore))
      wh.compact("facts/orders", orders.schema, targetFiles = 2)
      val dvLeft = wh.deletionVectors("facts/orders").size
      val (pn, pc) = cn(wh.read("facts/orders", orders.schema))
      Seq((r.deleted, r.filesTombstoned, r.filesRewritten, sameFiles,
          an, ac, bn, dvLeft, pn == an && pc == ac))
        .toDF("deleted", "files_tombstoned", "files_rewritten", "zero_rewrite",
          "after_n", "after_cents", "before_n", "dv_after_compact", "compact_identity")
        .orderBy(col("deleted"))
    }

    // ---- copy-on-write UPDATE: first-quartile rows get a rewritten
    // priority; assignments may reference the row's own columns and only
    // the covering band file is rewritten. End-state distribution + the
    // updated count ≡ the oracle's CASE restatement
    q("etl_update_where") = (s, dir) => {
      val orders = t(s, dir, "orders")
      val (wh, qtr) = bandedOrdersWh(s, orders, "upd")
      val updated = wh.updateWhere("facts/orders", orders.schema,
        Seq(graft.sources.ColLt("o_orderkey", qtr)),
        Seq("o_orderpriority" -> concat(lit("X-"), col("o_orderpriority"))))
      wh.read("facts/orders", orders.schema)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("updated", lit(updated))
        .orderBy(col("o_orderpriority"))
    }

    // ---- table CHECK constraints (the Delta ADD CONSTRAINT CHECK surface):
    // declared invariants enforced on every batch entering the table, SQL
    // null semantics (only FALSE violates). The query proves the three
    // enforcement moments in one lifecycle — a violating APPEND refuses
    // atomically, a violating UPDATE refuses with rows keeping their
    // pre-image, and after DROP the same update lands — so the oracle can
    // restate the final table as orders with ONLY the post-drop update
    // applied: refused writes contributed nothing. Flags and the surviving
    // constraint count are literal in the oracle.
    q("etl_constraints") = (s, dir) => {
      val orders = t(s, dir, "orders")
      val (wh, qtr) = bandedOrdersWh(s, orders, "chk")
      wh.addConstraint("facts/orders", "price_positive",
        "o_totalprice > 0", orders.schema)
      wh.addConstraint("facts/orders", "status_known",
        "o_orderstatus IN ('O','F','P')", orders.schema)
      val refusedAppend =
        try {
          wh.append("facts/orders",
            orders.limit(5).withColumn("o_totalprice", lit(-1.0)))
          false
        } catch { case _: IllegalArgumentException => true }
      val refusedUpdate =
        try {
          wh.updateWhere("facts/orders", orders.schema,
            Seq(graft.sources.ColLt("o_orderkey", qtr)),
            Seq("o_orderstatus" -> lit("Z")))
          false
        } catch { case _: IllegalArgumentException => true }
      wh.dropConstraint("facts/orders", "status_known")
      val updated = wh.updateWhere("facts/orders", orders.schema,
        Seq(graft.sources.ColLt("o_orderkey", qtr)),
        Seq("o_orderstatus" -> lit("Z")))
      wh.read("facts/orders", orders.schema)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast(LongType)).as("cents"))
        .withColumn("refused_append", lit(refusedAppend))
        .withColumn("refused_update", lit(refusedUpdate))
        .withColumn("updated", lit(updated))
        .withColumn("n_constraints",
          lit(wh.describe("facts/orders").constraints.size.toLong))
        .orderBy(col("o_orderstatus"))
    }

    // ---- FOREIGN KEY constraints: referential integrity as an engine
    // invariant (the reference's Provider/Provider_Product FK domain made
    // declarative — core/etl_orchestrator.py:168-189's merge family relies
    // on SQL Server enforcing exactly this; Delta and Iceberg do not
    // enforce FKs at all). Child batches verify keys against the parent
    // via a stats-prunable point probe; parent row deletes RESTRICT while
    // referenced. The query proves the lifecycle — dangling insert
    // refused, parent delete refused while referenced, child-first delete
    // then parent delete lands — so the oracle restates the final state as
    // nation/customer minus exactly the deliberate deletes.
    q("etl_foreign_keys") = (s, dir) => {
      import s.implicits._
      val nation = t(s, dir, "nation")
      val customer = t(s, dir, "customer")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-fk-").toString)
      wh.append("dim/nation", nation.coalesce(1))
      wh.append("fact/customer", customer.coalesce(1))
      wh.addForeignKey("fact/customer", "c_nationkey",
        "dim/nation", "n_nationkey", "fk_nation")
      val refusedInsert =
        try {
          wh.append("fact/customer",
            customer.limit(3).withColumn("c_nationkey", lit(999L)))
          false
        } catch { case _: IllegalArgumentException => true }
      val refusedDelete =
        try {
          wh.deleteWhere("dim/nation", nation.schema,
            Seq(graft.sources.ColEq("n_nationkey", 3L)))
          false
        } catch { case _: IllegalArgumentException => true }
      val deletedChildren = wh.deleteWhere("fact/customer", customer.schema,
        Seq(graft.sources.ColEq("c_nationkey", 3L)))
      val deletedParent = wh.deleteWhere("dim/nation", nation.schema,
        Seq(graft.sources.ColEq("n_nationkey", 3L)))
      Seq((wh.read("dim/nation", nation.schema).count(),
          wh.read("fact/customer", customer.schema).count(),
          refusedInsert, refusedDelete, deletedChildren, deletedParent))
        .toDF("n_nations", "n_customers", "refused_insert", "refused_delete",
          "deleted_children", "deleted_parent")
        .orderBy(col("n_nations"))
    }

    // ---- COMPOSITE foreign keys: the reference's Provider_Product keys on
    // the (ProductId, ProviderId) PAIR (database_schema.mmd) — the tuple is
    // the key, not the columns. The fixture derives a pair-keyed parent
    // from nation ((n, 2n+1)) so a CROSS pair (3, 9) has both values live
    // per-column while the pair is absent — per-column enforcement would
    // wrongly admit it; the tuple probe refuses. RESTRICT and the
    // child-first release are pair-exact. Oracle restates the final state.
    q("etl_fk_composite") = (s, dir) => {
      import s.implicits._
      val nation = t(s, dir, "nation")
      val customer = t(s, dir, "customer")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-fkc-").toString)
      val pairs = nation.select(col("n_nationkey").as("a"),
        (col("n_nationkey") * 2 + 1).as("b"), col("n_name"))
      val children = customer.select(col("c_custkey"),
        col("c_nationkey").as("a"), (col("c_nationkey") * 2 + 1).as("b"),
        col("c_acctbal"))
      wh.append("dim/pairs", pairs.coalesce(1))
      wh.append("fact/c", children.coalesce(1))
      wh.addForeignKey("fact/c", Seq("a", "b"), "dim/pairs", Seq("a", "b"),
        "fk_pair")
      val refusedPair = // (3, 9): both values live per-column, pair absent
        try {
          wh.append("fact/c", Seq((999999L, 3L, 9L, 0.0))
            .toDF("c_custkey", "a", "b", "c_acctbal"))
          false
        } catch { case _: IllegalArgumentException => true }
      val refusedDelete = // the referenced pair (3, 7) RESTRICTs
        try {
          wh.deleteWhere("dim/pairs", pairs.schema,
            Seq(graft.sources.ColEq("a", 3L), graft.sources.ColEq("b", 7L)))
          false
        } catch { case _: IllegalArgumentException => true }
      val deletedChildren = wh.deleteWhere("fact/c", children.schema,
        Seq(graft.sources.ColEq("a", 3L)))
      val deletedParent = wh.deleteWhere("dim/pairs", pairs.schema,
        Seq(graft.sources.ColEq("a", 3L), graft.sources.ColEq("b", 7L)))
      val fin = wh.read("fact/c", children.schema)
        .agg(count(lit(1)).as("n_children"),
          sum(round(col("c_acctbal") * 100).cast(LongType)).as("cents"))
        .head()
      Seq((wh.read("dim/pairs", pairs.schema).count(),
          fin.getLong(0), fin.getLong(1),
          refusedPair, refusedDelete, deletedChildren, deletedParent))
        .toDF("n_pairs", "n_children", "cents", "refused_pair",
          "refused_delete", "deleted_children", "deleted_parent")
        .orderBy(col("n_pairs"))
    }

    // ---- UNIQUE constraints, the third declared invariant: a duplicate
    // append refuses, while MERGE — the upsert that candidates every file
    // sharing its keys — updates in place and inserts fresh keys without
    // ever false-refusing. Oracle restates the final state as supplier
    // with the merge applied; the refused duplicate batch contributed
    // nothing and the merge counts are literal.
    q("etl_unique_key") = (s, dir) => {
      val sup = t(s, dir, "supplier")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-uniq-").toString)
      wh.append("dim/supplier", sup.coalesce(1))
      wh.addUniqueKey("dim/supplier", "s_suppkey", "pk_supplier")
      val refusedDup =
        try { wh.append("dim/supplier", sup.limit(2)); false }
        catch { case _: IllegalArgumentException => true }
      val src = sup.filter(col("s_suppkey") <= 3)
        .withColumn("s_acctbal", col("s_acctbal") + lit(100.0))
        .unionByName(sup.filter(col("s_suppkey") === 1)
          .withColumn("s_suppkey", col("s_suppkey") + lit(100000L))
          .withColumn("s_acctbal", col("s_acctbal") + lit(100.0)))
      val m = wh.mergeInto("dim/supplier", sup.schema, src, Seq("s_suppkey"))
      wh.read("dim/supplier", sup.schema)
        .agg(count(lit(1)).as("n"),
          sum(round(col("s_acctbal") * 100).cast(LongType)).as("cents"))
        .withColumn("refused_dup", lit(refusedDup))
        .withColumn("updated", lit(m.updated))
        .withColumn("inserted", lit(m.inserted))
        .orderBy(col("n"))
    }

    // ---- metadata-assisted COUNT: a range straddling the band layout —
    // band 1 is FULLY inside the range (counted from its manifest-recorded
    // row count, never read), band 0 straddles the lower edge (the one
    // boundary file actually scanned), bands 2-3 are excluded. The file
    // breakdown is literal in the oracle, so the driver verifies the
    // metadata/read/skip routing itself; the count is exact either way
    q("etl_stats_count") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val (wh, qtr) = bandedOrdersWh(s, orders, "cnt")
      val r = wh.countWhere("facts/orders", orders.schema,
        Seq(graft.sources.ColGe("o_orderkey", qtr / 2),
          graft.sources.ColLt("o_orderkey", qtr * 2)))
      Seq((r.count, r.filesMetadata, r.filesRead, r.filesSkipped))
        .toDF("n", "files_meta", "files_read", "files_skipped")
        .orderBy(col("n"))
    }

    // ---- MERGE INTO with source-bounds file pruning: the generalized form
    // of the reference's staging→dimension merges run against the banded
    // fact table. One statement updates quartile-2 rows (doubled price via
    // the default upsert), deletes its P-status rows (matched-delete
    // clause), and inserts re-keyed low-quartile rows beyond the key range —
    // the source's key bounds confine the rewrite to 3 of 4 band files,
    // band 0 is never opened. Clause counts, file routing, and the merged
    // end state are all restated by the oracle from the raw table
    q("etl_merge_into") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val (wh, qtr) = bandedOrdersWh(s, orders, "mi")
      // %16 keeps the source's distinct keys under the exact-key-set
      // pruning cap at BOTH driver scales, so the file routing is the
      // key-set path's at both: the one band-1 file rewritten, the insert
      // keys living in no file, bands 0/2/3 never opened
      val inQ2 = col("o_orderkey") >= qtr && col("o_orderkey") < qtr * 2 &&
        col("o_orderkey") % 16 === 0
      val src = orders.filter(inQ2)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(orders
          .filter(col("o_orderkey") < qtr / 2 && col("o_orderkey") % 16 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(qtr * 10)))
      val r = wh.mergeInto("facts/orders", orders.schema, src, Seq("o_orderkey"),
        whenMatchedDelete = Some(col("s.o_orderstatus") === lit("P")))
      val e = wh.read("facts/orders", orders.schema)
        .agg(centsAgg.head, centsAgg.tail: _*).head()
      Seq((r.updated, r.deleted, r.inserted, r.filesRewritten, r.filesUntouched,
          e.getLong(0), e.getLong(1)))
        .toDF("updated", "deleted", "inserted", "files_rewritten",
          "files_untouched", "n", "cents")
        .orderBy(col("n"))
    }

    // ---- dictionary value-set skipping: orders committed as one file per
    // o_orderstatus — the orderkey ranges of the three files fully overlap,
    // so min/max bounds can prune NOTHING here; the files' dictionary pages
    // (exact value sets, recorded in the manifest) prune the equality scan
    // to 1 of 3 files and answer the IN-list count for 2 of 3 files from
    // metadata alone. All file routing is literal in the oracle
    q("etl_valueset_scan") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-vset-").toString)
      Seq("O", "F", "P").foreach(st =>
        wh.append("facts/orders", orders.filter(col("o_orderstatus") === st).coalesce(1)))
      val eq = Seq(graft.sources.ColEq("o_orderstatus", "P"))
      val (kept, skipped) = wh.planFiles("facts/orders", eq)
      val pRows = wh.scanWhere("facts/orders", orders.schema, eq).count()
      val c = wh.countWhere("facts/orders", orders.schema,
        Seq(graft.sources.ColIn("o_orderstatus", Seq("P", "F"))))
      Seq((kept.size, skipped.size, pRows, c.count, c.filesMetadata, c.filesRead, c.filesSkipped))
        .toDF("files_kept", "files_skipped", "p_rows", "pf_rows",
          "pf_meta", "pf_read", "pf_skipped")
        .orderBy(col("p_rows"))
    }

    // ---- per-file Bloom index: the point-lookup regime the OTHER skipping
    // machinery cannot serve — the fixture HASH-bands orders by
    // o_orderkey % 4, so every file's [min,max] spans the whole key domain
    // (bounds prune nothing) and the key's cardinality is far past the
    // 64-value dictionary cap (value sets never recorded). With the index
    // declared BEFORE the appends, each band file commits with a sidecar
    // Bloom filter over o_orderkey in the SAME manifest, and a point
    // lookup opens ~1 of 4 files (no false negatives ⇒ row-exact; false
    // positives at fpp 1e-4 only cost an open, and the oracle claim is
    // the tolerant "majority skipped"). Probes: the smallest key of each
    // of three residue classes + a provably absent key; per-probe row
    // count and cents are restated exactly by the oracle
    q("etl_bloom_lookup") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-bloom-").toString)
      wh.setBloomIndex("facts/orders", Seq("o_orderkey"), fpp = 1e-4)
      (0 until 4).foreach(r =>
        wh.append("facts/orders", orders.filter(col("o_orderkey") % 4 === r).coalesce(1)))
      val present = (0L until 3L).map(r => orders.filter(col("o_orderkey") % 4 === r)
        .agg(min(col("o_orderkey"))).head().getLong(0))
      val absent = orders.agg(max(col("o_orderkey"))).head().getLong(0) + 101L
      val rows = (present :+ absent).map { k =>
        val (_, skipped) = wh.planFiles("facts/orders",
          Seq(graft.sources.ColEq("o_orderkey", k)))
        val got = wh.scanWhere("facts/orders", orders.schema,
            Seq(graft.sources.ColEq("o_orderkey", k)))
          .agg(count(lit(1)),
            sum(round(col("o_totalprice") * 100).cast(LongType))).head()
        (k, got.getLong(0), if (got.isNullAt(1)) -1L else got.getLong(1),
          skipped.size >= 2)
      }
      rows.toDF("k", "n", "cents", "pruned_majority").orderBy(col("k"))
    }

    // ---- metadata-only MIN/MAX: numeric parquet chunk bounds are exact
    // values, so over the fully-stats-covered band layout both extremes of
    // o_orderkey (long) and o_totalprice (double) are answered without
    // reading a single row — files_read = 0 is a literal in the oracle
    q("etl_stats_minmax") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val (wh, _) = bandedOrdersWh(s, orders, "mm")
      val k = wh.statsMinMax("facts/orders", orders.schema, "o_orderkey")
      val p = wh.statsMinMax("facts/orders", orders.schema, "o_totalprice")
      Seq((k.min.get.asInstanceOf[Long], k.max.get.asInstanceOf[Long],
          p.min.get.asInstanceOf[Double], p.max.get.asInstanceOf[Double],
          k.filesRead + p.filesRead, k.filesMetadata))
        .toDF("key_min", "key_max", "price_min", "price_max", "files_read", "files_meta")
        .orderBy(col("key_min"))
    }

    // ---- exact STRING MIN/MAX from dictionary value sets: parquet string
    // bounds may be truncated (bounds, not values) so they are never
    // trusted — but a recorded dictionary value set is the file's exact
    // non-null values, so the status-banded layout answers min/max of
    // o_orderstatus AND o_orderpriority from driver metadata alone
    // (files_read = 0 literal); the spec covers the high-cardinality
    // fallback where no value set is recorded and files are read
    q("etl_stats_minmax_str") = (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-mmstr-").toString)
      Seq("O", "F", "P").foreach(st =>
        wh.append("facts/orders", orders.filter(col("o_orderstatus") === st).coalesce(1)))
      val st = wh.statsMinMax("facts/orders", orders.schema, "o_orderstatus")
      val pr = wh.statsMinMax("facts/orders", orders.schema, "o_orderpriority")
      Seq((st.min.get.toString, st.max.get.toString, pr.min.get.toString,
          pr.max.get.toString, st.filesRead + pr.filesRead, st.filesMetadata))
        .toDF("st_min", "st_max", "pr_min", "pr_max", "files_read", "files_meta")
        .orderBy(col("st_min"))
    }

    // ---- the same history as a WAREHOUSE LIFECYCLE (ScdDimension): each
    // batch persists through the transactional warehouse — b1/b2 as their
    // own commits with the sequence derived from the persisted history
    // (nextSeq), b3 through upsertIn INSIDE a caller transaction beside a
    // rebuild of the SCD1 view it feeds (one manifest commit covers both,
    // read-your-own-writes lets the view read the history replaced two
    // lines up). End state ≡ the pure fold, so the oracle is etl_scd2's
    q("etl_scd2_lifecycle") = (s, dir) => {
      import org.apache.spark.sql.types.{LongType => LT, StructField => SF, StructType => STT}
      val sup = t(s, dir, "supplier")
      val b1 = sup.select(col("s_suppkey"),
        col("s_nationkey").cast(LongType).as("attr"))
      val b2 = sup.filter(col("s_suppkey") % 4 === 0).select(col("s_suppkey"),
        (col("s_nationkey") + 100).cast(LongType).as("attr"))
      val b3 = sup.filter(col("s_suppkey") % 6 === 0).select(col("s_suppkey"),
        (col("s_nationkey") + 200).cast(LongType).as("attr"))
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-scdlc-").toString)
      val dim = new graft.operators.ScdDimension(wh, "provider",
        Seq("s_suppkey"), Seq("attr"),
        STT(Seq(SF("s_suppkey", LT), SF("attr", LT))))
      dim.upsert(b1, dim.nextSeq())
      dim.upsert(b2, dim.nextSeq())
      wh.atomically { w =>
        dim.upsertIn(w, b3, 3L)
        w.replace("dim/provider/Current",
          graft.operators.Scd.current(w.read(dim.historyTable, dim.historySchema))
            .select(col("s_suppkey"), col("attr")))
      }
      dim.history().orderBy(col("s_suppkey"), col("valid_from"))
    }

    // F7 + A1: provider-name pipeline + distinct aggregation
    q("etl_provider_dedup") = (s, dir) =>
      t(s, dir, "part")
        .select(T.cleanProviderName(concat(lit("Proveedor"), col("p_brand"))).as("provider"))
        .groupBy(col("provider"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("provider"))

    // ---- text analysis over documents ----

    q("doc_stats") = (s, dir) =>
      t(s, dir, "documents")
        .withColumn("p", TextOps.textProfile(col("text")))
        .select(
          col("doc_id"),
          length(col("text")).cast(LongType).as("n_chars"),
          element_at(col("p"), 1).as("ws_tokens"),
          TextOps.tokenCountBpe(col("text")).cast(LongType).as("bpe_tokens"),
          TextOps.distinctShingleCount(col("text"), 3).as("n_shingles3"),
          element_at(col("p"), 2).as("n_alpha"),
          element_at(col("p"), 3).as("n_punct"))
        .orderBy(col("doc_id"))

    q("doc_quality_lang") = (s, dir) =>
      t(s, dir, "documents")
        .withColumn("p", TextOps.textProfile(col("text")))
        .select(
          col("doc_id"),
          TextOps.languageIdFromProfile(col("p")).as("lang_guess"),
          TextOps.qualityScoreFromProfile(col("text"), col("p")).as("quality"))
        .orderBy(col("doc_id"))

    // intra-doc repetition quality rules (duplicate-trigram fraction,
    // top-token fraction) from the one-pass counts. Ratios are UNROUNDED:
    // integer-valued doubles divide bit-exactly in both engines, while
    // round() on a derived division is the one op they disagree on
    q("doc_repetition") = (s, dir) =>
      t(s, dir, "documents")
        .withColumn("rs", TextOps.repetitionStats(col("text")))
        .select(
          col("doc_id"),
          element_at(col("rs"), 1).as("n_toks"),
          when(element_at(col("rs"), 1) > 0,
            element_at(col("rs"), 2).cast("double") / element_at(col("rs"), 1))
            .otherwise(lit(0.0)).as("top_tok_frac"),
          when(element_at(col("rs"), 3) > 0,
            lit(1.0) - element_at(col("rs"), 4).cast("double") / element_at(col("rs"), 3))
            .otherwise(lit(0.0)).as("dup_trigram_frac"))
        .orderBy(col("doc_id"))

    // sliding token-window chunking (chunk=40 tokens, overlap=10): the
    // standard long-document split before tokenizer-bounded model input.
    // posexplode keeps (doc, position) — empty docs vanish, short docs get
    // exactly one whole-doc chunk
    q("doc_chunks") = (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextOps.chunkByTokens(col("text"), chunkSize = 40, overlap = 10)))
        .select(col("doc_id"), col("pos").cast(LongType).as("chunk_idx"),
          col("col").as("chunk"))
        .orderBy(col("doc_id"), col("chunk_idx"))

    // PII masking over text with synthetic PII injected from doc_id (the
    // testdata contains none) — URL, then email, then long digit runs, the
    // order-sensitive cascade redactPii fixes
    q("doc_redact") = (s, dir) =>
      t(s, dir, "documents")
        .withColumn("noisy", concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.org or "),
          lit("https://ex.org/d/"), col("doc_id").cast("string"),
          lit("?t=1 ref 1234567"), col("doc_id").cast("string")))
        .select(col("doc_id"), TextOps.redactPii(col("noisy")).as("redacted"))
        .orderBy(col("doc_id"))

    // corpus-level top-k tokens: explode → partial-agg count → per-partition
    // top-k merge (TakeOrderedAndProject) — the full vocabulary never
    // reaches the driver
    q("doc_top_tokens") = (s, dir) =>
      Corpus.topTokens(t(s, dir, "documents"), "text", 20)
        .orderBy(col("cnt").desc, col("token"))

    // the bounded-state twin: Misra-Gries summaries (≤2×4096 counters per
    // partition, tree-merged) pick a provably complete candidate set, one
    // hash-set-filtered pass recounts it EXACTLY — same answer as
    // doc_top_tokens with state independent of vocabulary size, certified
    // in-operator against the MG error bound (fails loudly, never silently
    // approximate). Same oracle as doc_top_tokens
    q("doc_top_tokens_sketch") = (s, dir) =>
      Corpus.topTokensSketch(t(s, dir, "documents"), "text", 20)
        .orderBy(col("cnt").desc, col("token"))

    // per-(doc, token) TF-IDF from ONE tokenization pass (df derived from
    // the tf frame); weights rounded 4dp to absorb cross-engine ln ulp noise
    q("doc_tfidf") = (s, dir) =>
      Corpus.tfidf(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("token"))

    // benchmark decontamination: train docs (19/20 of corpus) sharing any
    // 5-token-gram with the held-out eval slice (doc_id ≡ 0 mod 20) —
    // eval grams broadcast, train side never shuffles
    q("doc_decontaminate") = (s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.contaminated(
        docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(20)) === 0),
        "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))
    }

    // sequence packing into 2000-token training shards, grouped by language
    // (homogeneous shards) — two-pass distributed prefix sum, so a corpus
    // that is 90% one language never funnels through one reducer task
    q("doc_shards") = (s, dir) =>
      Corpus.packShards(
        t(s, dir, "documents")
          .withColumn("lang", TextOps.languageId(col("text"))),
        "doc_id", "text", col("lang"), budgetTokens = 2000)
        .select(col("doc_id"), col("lang"), col("n_toks"), col("shard"))
        .orderBy(col("doc_id"))

    // the composite curation pipeline a training-data run actually executes:
    // quality + length + repetition filters first (filters are one narrow
    // pass; dedup is the expensive stage — shrink its input), then near-dup
    // cluster resolution over the filtered set only
    q("doc_curated") = (s, dir) => {
      val filtered = t(s, dir, "documents")
        .withColumn("p", TextOps.textProfile(col("text")))
        .withColumn("rs", TextOps.repetitionStats(col("text")))
        .withColumn("quality", TextOps.qualityScoreFromProfile(col("text"), col("p")))
        .withColumn("dup3",
          when(element_at(col("rs"), 3) > 0,
            lit(1.0) - element_at(col("rs"), 4).cast("double") / element_at(col("rs"), 3))
            .otherwise(lit(0.0)))
        .filter(col("quality") >= 0.63 && element_at(col("rs"), 1) >= 18
          && col("dup3") <= 0.015)
        .select(col("doc_id"), col("text"))
      Dedup.nearDupDedup(filtered, "doc_id", "text",
        minJaccard = 0.35, minSigMatchesOverride = 4)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }

    // grouping sets: region/nation revenue with rollup totals
    q("q12_rollup") = (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(round(sumMoney(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .select(coalesce(col("r_name"), lit("ALL")).as("region"),
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          col("revenue"), col("n_orders"))
        .orderBy(col("region"), col("nation"))
    }

    // arbitrary GROUPING SETS (q12 covers only the rollup lattice): the
    // (nation)-alone set is NOT in the rollup hierarchy — one aggregation
    // pass expands each row to its grouping sets, no per-set re-scan
    q("q19_grouping_sets") = (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupingSets(
          Seq(Seq(col("r_name"), col("n_name")), Seq(col("n_name")), Seq()),
          col("r_name"), col("n_name"))
        .agg(round(sumMoney(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).cast(LongType).as("n_orders"))
        .select(coalesce(col("r_name"), lit("ALL")).as("region"),
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          col("revenue"), col("n_orders"))
        .orderBy(col("region"), col("nation"))
    }

    // deterministic content-hash sampling: the standard held-out-split
    // mechanism (stable across runs/engines, unlike rand(seed))
    q("doc_sample") = (s, dir) =>
      t(s, dir, "documents")
        .filter(pmod(TextOps.md5Long(col("text")), lit(100)) < 10)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))

    // per-language quality quota: top-5 docs per guessed language — the
    // curation shape "best N per stratum"
    q("doc_quota") = (s, dir) => {
      val scored = t(s, dir, "documents")
        .withColumn("p", TextOps.textProfile(col("text")))
        .select(col("doc_id"),
          TextOps.languageIdFromProfile(col("p")).as("lang_guess"),
          TextOps.qualityScoreFromProfile(col("text"), col("p")).as("quality"))
      val w = Window.partitionBy(col("lang_guess"))
        .orderBy(col("quality").desc, col("doc_id"))
      scored.withColumn("rnk", row_number().over(w).cast(LongType))
        .filter(col("rnk") <= 5)
        .orderBy(col("lang_guess"), col("rnk"))
    }

    q("doc_fingerprint") = (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.fingerprint(col("text"), 8).as("fp"))
        .orderBy(col("doc_id"))

    // ---- dedup suite over documents ----

    q("dedup_exact") = (s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("text_sha"))

    q("dedup_minhash") = (s, dir) =>
      Dedup.minhashSignatures(t(s, dir, "documents"), "doc_id", "text", k = 5, numHashes = 8)
        .orderBy(col("doc_id"))

    q("dedup_lsh_pairs") = (s, dir) =>
      Dedup.lshCandidatePairs(t(s, dir, "documents"), "doc_id", "text", k = 5,
        numHashes = 8, rowsPerBand = 2)
        .orderBy(col("id_a"), col("id_b"))

    q("dedup_simhash") = (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), Dedup.simhash(col("text")).as("simhash"))
        .orderBy(col("doc_id"))

    // the simhash PAIRS path: 4x15-bit band candidates + exact Hamming
    // verify. At maxHamming=3 the banding is lossless (pigeonhole: 3 flipped
    // bits touch at most 3 of the 4 bands, so one band always matches
    // exactly), which is why the oracle can be a direct all-pairs bit_count
    // cross-check with no banding at all.
    q("dedup_simhash_pairs") = (s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .withColumn("hamming", col("hamming").cast(LongType))
        .orderBy(col("id_a"), col("id_b"))

    // incremental dedup: a new batch (doc_id >= 400) against the persisted
    // signature index of an already-deduped corpus (doc_id < 400). Result ==
    // the full-corpus run restricted to pairs touching the batch — which is
    // exactly what the oracle checks (lshVerifiedCore + id_b >= 400)
    q("dedup_incremental") = (s, dir) => {
      val docs = t(s, dir, "documents")
      // scale-relative 80/20 split: at sf0.01 (max id 499) this is exactly
      // the oracle's literal 400; at bench scale the batch stays batch-sized
      // so the measured cost reflects the operator's actual per-batch shape
      val split = (docs.agg(max(col("doc_id"))).head().getLong(0) + 1) * 4 / 5
      val corpus = docs.filter(col("doc_id") < split)
      val fresh = docs.filter(col("doc_id") >= split)
      val idx = Dedup.minhashSignatures(corpus, "doc_id", "text")
      Dedup.incrementalLshVerifiedPairs(corpus, idx, fresh, "doc_id", "text",
        k = 5, numHashes = 8, rowsPerBand = 2, minJaccard = 0.35, minSigMatchesOverride = 4)
        .orderBy(col("id_a"), col("id_b"))
    }

    // the same incremental probe with BLOOM ROUTING on the band keys:
    // bloom-negative fresh keys (novel content) skip the corpus probe
    // entirely, and the literal In pushed into the index holds only the
    // maybe-seen sliver. fpp deliberately 0.3 so false positives actually
    // occur — the oracle (identical to dedup_incremental's) checks that
    // pairs are exact DESPITE them: the bloom routes, never decides.
    q("dedup_incremental_bloom") = (s, dir) => {
      val docs = t(s, dir, "documents")
      val split = (docs.agg(max(col("doc_id"))).head().getLong(0) + 1) * 4 / 5
      val corpus = docs.filter(col("doc_id") < split)
      val fresh = docs.filter(col("doc_id") >= split)
      val idx = Dedup.minhashSignatures(corpus, "doc_id", "text")
      // the filter a stream would persist: built over the corpus's band keys
      val bloom = Dedup.bandKeys(idx, "doc_id", 8, 2).select(col("key"))
        .stat.bloomFilter("key", math.max(split * 4, 64L), 0.3)
      Dedup.incrementalLshVerifiedPairs(corpus, idx, fresh, "doc_id", "text",
        k = 5, numHashes = 8, rowsPerBand = 2, minJaccard = 0.35,
        minSigMatchesOverride = 4, probeKeyLimit = 1000, bandBloom = Some(bloom))
        .orderBy(col("id_a"), col("id_b"))
    }

    // streaming incremental dedup: the corpus arrives as 3 micro-batches
    // (split by doc_id mod 3 — the invariant holds for ANY batching); each
    // batch dedups against the accumulated signature index, then joins the
    // corpus. Oracle = the FULL-corpus LSH SQL: accumulated pairs after the
    // drain equal the from-scratch batch run exactly
    q("dedup_stream") = (s, dir) => {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val ckpt = Files.createTempDirectory("graft-dstream-ck-").toString
      val whDir = Files.createTempDirectory("graft-dstream-wh-").toString
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast(LongType).as("doc_id"), col("text"))
      val inDir = chunkedInput("dstream", dir) { inDir =>
        (0 until 3).foreach { i =>
          val tmp = Files.createTempDirectory(s"graft-dstream-c$i-").toString + "/out"
          docs.filter(pmod(col("doc_id"), lit(3)) === i).coalesce(1).write.parquet(tmp)
          val part = graft.LocalFs.onlyParquet(tmp)
          Files.move(part, Paths.get(inDir, f"chunk_$i%02d.parquet"),
            StandardCopyOption.ATOMIC_MOVE)
        }
      }
      // AtomicWarehouse (not the base): every micro-batch's 4-table admit
      // commits as one manifest transaction, so the oracle gate also proves
      // the transactional write path end-to-end every round
      // (AtomicWarehouseSpec proves base ≡ atomic on this exact pipeline)
      // the stream session sizes state/shuffle partitions to per-batch
      // volume; the warehouse carries it, so every per-batch plan (sig
      // compute, band join, admits) and every warehouse file write uses it —
      // fewer sink files per commit is also less compaction pressure
      val ds = new graft.streaming.DedupStream(
        new graft.sources.AtomicWarehouse(GraftSession.streamSession(s), whDir),
        minJaccard = 0.35, minSigMatchesOverride = 4)
      val dq = ds.start(inDir, ckpt)
      val drainMs = GraftSession.streamDrainTimeoutMs
      if (!dq.awaitTermination(drainMs)) {
        dq.stop()
        throw new IllegalStateException(s"dedup_stream failed to drain within ${drainMs / 1000} s")
      }
      ds.pairs().orderBy(col("id_a"), col("id_b"))
    }

    // the same stream with band-key bloom routing FORCED from the first
    // batch (bloomMinIndexBytes = 0): accumulated pairs must be bit-identical
    // to the plain stream (same oracle); the query also asserts the persisted
    // bloom state exists after the drain, so the driver run exercises state
    // maintenance (bootstrap, per-batch merge, atomic write order), not just
    // the routing expression.
    q("dedup_stream_bloom") = (s, dir) => {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val ckpt = Files.createTempDirectory("graft-dstreamb-ck-").toString
      val whDir = Files.createTempDirectory("graft-dstreamb-wh-").toString
      // same fixture key as dedup_stream: identical chunk bytes, built by
      // whichever of the two queries runs first in the session
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast(LongType).as("doc_id"), col("text"))
      val inDir = chunkedInput("dstream", dir) { inDir =>
        (0 until 3).foreach { i =>
          val tmp = Files.createTempDirectory(s"graft-dstream-c$i-").toString + "/out"
          docs.filter(pmod(col("doc_id"), lit(3)) === i).coalesce(1).write.parquet(tmp)
          val part = graft.LocalFs.onlyParquet(tmp)
          Files.move(part, Paths.get(inDir, f"chunk_$i%02d.parquet"),
            StandardCopyOption.ATOMIC_MOVE)
        }
      }
      val ds = new graft.streaming.DedupStream(
        new graft.sources.AtomicWarehouse(GraftSession.streamSession(s), whDir),
        minJaccard = 0.35, minSigMatchesOverride = 4, bloomMinIndexBytes = 0)
      val dq = ds.start(inDir, ckpt)
      val drainMs = GraftSession.streamDrainTimeoutMs
      if (!dq.awaitTermination(drainMs)) {
        dq.stop()
        throw new IllegalStateException(
          s"dedup_stream_bloom failed to drain within ${drainMs / 1000} s")
      }
      if (ds.readBloomState().isEmpty) sys.error("band bloom state not persisted after drain")
      ds.pairs().orderBy(col("id_a"), col("id_b"))
    }

    // streaming EXACT dedup: the corpus arrives as 3 micro-batches (split by
    // doc_id mod 3 — DETERMINISTIC batching, so the oracle can state the
    // arrival order); each batch probes the accumulated content-hash index
    // and only novel-content rows are admitted. FIRST-ARRIVAL-WINS: the
    // survivor of a duplicated text is the min-id row of its earliest batch,
    // which the oracle states directly as
    // row_number() OVER (PARTITION BY text_sha ORDER BY batch, doc_id) = 1.
    // Runs on AtomicWarehouse: each survivors+hashes admit is one manifest txn
    q("dedup_exact_stream") = (s, dir) => {
      import java.nio.file.Files
      val ckpt = Files.createTempDirectory("graft-xstream-ck-").toString
      val whDir = Files.createTempDirectory("graft-xstream-wh-").toString
      val inDir = xstreamChunks(s, dir)
      val xs = new graft.streaming.ExactDedupStream(
        new graft.sources.AtomicWarehouse(GraftSession.streamSession(s), whDir))
      val xq = xs.start(inDir, ckpt)
      val drainMs = GraftSession.streamDrainTimeoutMs
      if (!xq.awaitTermination(drainMs)) {
        xq.stop()
        throw new IllegalStateException(
          s"dedup_exact_stream failed to drain within ${drainMs / 1000} s")
      }
      xs.survivors().orderBy(col("doc_id"))
    }

    // same stream, bloom routing FORCED from the first batch
    // (bloomMinIndexBytes = 0): bloom-negative winners skip the index probe
    // entirely, maybe-seen winners take the exact anti-join — the survivor
    // set must be bit-identical to the plain path (same oracle), which is
    // precisely the route-don't-decide invariant. The query also asserts the
    // persisted bloom state covers every admitted hash, so the driver run
    // exercises state maintenance, not just routing.
    q("dedup_exact_stream_bloom") = (s, dir) => {
      import java.nio.file.Files
      val ckpt = Files.createTempDirectory("graft-xstreamb-ck-").toString
      val whDir = Files.createTempDirectory("graft-xstreamb-wh-").toString
      val inDir = xstreamChunks(s, dir)
      val xs = new graft.streaming.ExactDedupStream(
        new graft.sources.AtomicWarehouse(GraftSession.streamSession(s), whDir),
        bloomMinIndexBytes = 0)
      val xq = xs.start(inDir, ckpt)
      val drainMs = GraftSession.streamDrainTimeoutMs
      if (!xq.awaitTermination(drainMs)) {
        xq.stop()
        throw new IllegalStateException(
          s"dedup_exact_stream_bloom failed to drain within ${drainMs / 1000} s")
      }
      val surv = xs.survivors()
      val st = xs.readBloomState().getOrElse(
        sys.error("bloom state not persisted after drain"))
      val n = surv.count()
      if (st._2 != n) sys.error(s"bloom n_items ${st._2} != survivors $n")
      surv.orderBy(col("doc_id"))
    }

    // the scale pipeline: LSH candidates -> exact jaccard verify (no
    // quadratic shingle join); catches the corpus's planted near-dups
    q("dedup_lsh_verified") = (s, dir) =>
      Dedup.lshVerifiedPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 5, numHashes = 8, rowsPerBand = 2, minJaccard = 0.35, minSigMatchesOverride = 4)
        .orderBy(col("id_a"), col("id_b"))

    // transitive near-dup clusters over the verified pairs (a~b, b~c => one
    // cluster) — the resolution step before "keep one per cluster"
    q("dedup_components") = (s, dir) =>
      Dedup.connectedComponents(
        Dedup.lshVerifiedPairs(t(s, dir, "documents"), "doc_id", "text",
          k = 5, numHashes = 8, rowsPerBand = 2, minJaccard = 0.35, minSigMatchesOverride = 4))
        .orderBy(col("id"))

    // ---- the dedup graph kept ALIVE across batches: the same verified
    // pair set arrives as three id-range batches against a persisted
    // component state — new nodes append, bridging edges land as lazy
    // merge-journal rows, a mid-way fold() amortizes the journal into a
    // clean rewrite — and the accumulated labels ≡ one-shot CC, so the
    // oracle is dedup_components' recursive closure restated on the same
    // pairs. The piece that lets continuous ingest skip re-clustering the
    // full accumulated pair set per batch
    q("dedup_components_incremental") = (s, dir) => {
      val pairs = Dedup.lshVerifiedPairs(t(s, dir, "documents"), "doc_id", "text",
          k = 5, numHashes = 8, rowsPerBand = 2, minJaccard = 0.35, minSigMatchesOverride = 4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val cut = pairs.agg(max(col("id_b"))).head() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0) / 3
        }
        val wh = new graft.sources.AtomicWarehouse(s,
          java.nio.file.Files.createTempDirectory("graft-cc-").toString)
        val cc = new graft.operators.PersistedComponents(wh)
        cc.build(pairs.filter(col("id_b") <= cut))
        cc.addEdges(pairs.filter(col("id_b") > cut && col("id_b") <= cut * 2))
        cc.fold()
        cc.addEdges(pairs.filter(col("id_b") > cut * 2))
        cc.components().orderBy(col("id"))
      } finally pairs.unpersist(false)
    }

    // ---- the full continuous-dedup composition: docs stream in micro-
    // batches (per-batch transactional pair admits), then the pair table's
    // CDC windows feed the persisted component graph — appendsBetween() is
    // the hand-off a downstream maintainer would poll. Streamed pairs ≡
    // full-corpus pairs (dedup_stream's proof) and batching cannot move CC
    // labels (dedup_components_incremental's proof), so the composed oracle
    // is dedup_components' closure verbatim
    q("dedup_stream_components") = (s, dir) => {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      import org.apache.spark.sql.types.{DoubleType => DT, StructField => SF, StructType => STT}
      val ckpt = Files.createTempDirectory("graft-dsc-ck-").toString
      val whDir = Files.createTempDirectory("graft-dsc-wh-").toString
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast(LongType).as("doc_id"), col("text"))
      val inDir = chunkedInput("dstream", dir) { inDir =>
        (0 until 3).foreach { i =>
          val tmp = Files.createTempDirectory(s"graft-dsc-c$i-").toString + "/out"
          docs.filter(pmod(col("doc_id"), lit(3)) === i).coalesce(1).write.parquet(tmp)
          val part = graft.LocalFs.onlyParquet(tmp)
          Files.move(part, Paths.get(inDir, f"chunk_$i%02d.parquet"),
            StandardCopyOption.ATOMIC_MOVE)
        }
      }
      val awh = new graft.sources.AtomicWarehouse(GraftSession.streamSession(s), whDir)
      val ds = new graft.streaming.DedupStream(awh,
        minJaccard = 0.35, minSigMatchesOverride = 4)
      val dq = ds.start(inDir, ckpt)
      val drainMs = GraftSession.streamDrainTimeoutMs
      if (!dq.awaitTermination(drainMs)) {
        dq.stop()
        throw new IllegalStateException(
          s"dedup_stream_components failed to drain within ${drainMs / 1000} s")
      }
      val pairSch = STT(Seq(SF("id_a", LongType, nullable = false),
        SF("id_b", LongType, nullable = false), SF("jaccard", DT, nullable = true)))
      val cc = new graft.operators.PersistedComponents(new graft.sources.AtomicWarehouse(s,
        Files.createTempDirectory("graft-dsc-cc-").toString))
      cc.build(awh.spark.createDataFrame(
        awh.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], pairSch))
      val head = awh.versions().last
      val mid = head / 2
      Seq((0, mid), (mid, head)).foreach { case (from, to) =>
        val delta = awh.appendsBetween(ds.pairsTable, pairSch, from, to)
        if (!delta.isEmpty) cc.addEdges(delta)
      }
      cc.components().orderBy(col("id"))
    }

    // ---- the end-state ACTION on the incrementally-maintained graph: the
    // same batched build/addEdges/fold flow as dedup_components_incremental,
    // then Dedup.survivorsFromComponents anti-joins the corpus against the
    // journal-resolved losers — continuous ingest refreshes the end state
    // without re-clustering; oracle = dedup_survivors' verbatim
    q("dedup_survivors_incremental") = (s, dir) => {
      val pairs = Dedup.lshVerifiedPairs(t(s, dir, "documents"), "doc_id", "text",
          k = 5, numHashes = 8, rowsPerBand = 2, minJaccard = 0.35, minSigMatchesOverride = 4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val cut = pairs.agg(max(col("id_b"))).head() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0) / 2
        }
        val wh = new graft.sources.AtomicWarehouse(s,
          java.nio.file.Files.createTempDirectory("graft-ccs-").toString)
        val cc = new graft.operators.PersistedComponents(wh)
        cc.build(pairs.filter(col("id_b") <= cut))
        cc.addEdges(pairs.filter(col("id_b") > cut))
        Dedup.survivorsFromComponents(t(s, dir, "documents"), "doc_id", cc.components())
          .select(col("doc_id"), col("lang"), col("source"))
          .orderBy(col("doc_id"))
      } finally pairs.unpersist(false)
    }

    // the dedup END STATE: corpus after dropping every non-canonical member
    // of each near-dup cluster (pairs -> components -> survivors)
    q("dedup_survivors") = (s, dir) =>
      Dedup.nearDupDedup(t(s, dir, "documents"), "doc_id", "text",
        minJaccard = 0.35, minSigMatchesOverride = 4) // mirror the oracle gate
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))

    // survivor POLICY variant: per cluster keep the LONGEST document (the
    // production curation choice — quality over id order); ties fall back to
    // smallest id for determinism
    q("dedup_survivors_best") = (s, dir) =>
      Dedup.nearDupDedupBy(t(s, dir, "documents"), "doc_id", "text",
        length(col("text")),
        minJaccard = 0.35, minSigMatchesOverride = 4)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))

    q("dedup_jaccard") = (s, dir) =>
      Dedup.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "text",
        k = 8, minJaccard = 0.05)
        .orderBy(col("id_a"), col("id_b"))

    // paragraph-level dedup (FineWeb/CCNet-style boilerplate removal). The
    // synthetic docs have no internal paragraph structure, so the query first
    // builds overlapping composite documents — composite c = docs
    // {2c, 2c+1, 2c+2} joined by blank lines, so consecutive composites share
    // one member doc and ~half of all paragraphs are corpus-wide duplicates —
    // then keeps each paragraph's first occurrence. Membership is derived
    // per-doc (even docs belong to two composites) so the build is an
    // explode + groupBy, not a range join.
    q("dedup_paragraphs") = (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val members = docs.select(
        explode(filter(
          when(col("doc_id") % 2 === 0,
            array(shiftright(col("doc_id"), 1) - 1, shiftright(col("doc_id"), 1)))
            .otherwise(array(shiftright(col("doc_id"), 1))),
          c => c >= 0)).as("cid"),
        col("doc_id"), col("text"))
      val comp = members.groupBy(col("cid"))
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
            e => e.getField("text")), "\n\n").as("text"))
      Dedup.paragraphDedup(comp, "cid", "text").orderBy(col("cid"))
    }

    // embedding near-duplicate pairs (cosine threshold verification kernel)
    q("dedup_embedding") = (s, dir) =>
      Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding", 0.45)
        .orderBy(col("id_a"), col("id_b"))

    // the embedding-dedup SCALE path: sign-LSH buckets + exact cosine verify
    // on candidates only (the all-pairs scan above is the verification
    // kernel; this is what runs at corpus scale)
    q("dedup_embedding_lsh") = (s, dir) =>
      Dedup.cosineLshVerifiedPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, bitsPerBand = 8, nBands = 4, minCosine = 0.45)
        .orderBy(col("id_a"), col("id_b"))

    // ---- CCNet-style LM familiarity: add-one unigram LM fit on the first
    // half of the corpus (doc_id < 250), every doc scored by mean negative
    // log-likelihood — the perplexity-filter signal. Per-token log-probs
    // quantized to integer micro-nats (ln is not correctly-rounded across
    // engines; floor(1e6·ln(int)) is replayable), LM broadcast
    q("doc_lm_score") = (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Corpus.lmScore(docs, "doc_id", "text",
        docs.filter(col("doc_id") < 250), "text")
        .orderBy(col("doc_id"))
    }

    // ---- BM25 full-text retrieval: three literal keyword queries against
    // the documents corpus, Lucene-variant idf, k1=1.2/b=0.75, top-10 per
    // query. Per-(query,term,doc) contributions quantized to integer
    // micro-units and summed as longs (double sum order is partition-
    // nondeterministic; the lmScore discipline), score = s_micro/1e6 at 4dp,
    // (score desc, id) ties — the oracle replays the whole derivation
    q("doc_bm25") = (s, dir) => {
      import s.implicits._
      val queries = Seq(
        (1L, "merge join order sort"),
        (2L, "vector window stream"),
        (3L, "customer data value zzz")).toDF("q_id", "qtext")
      Retrieval.bm25(t(s, dir, "documents"), "doc_id", "text",
        queries, "q_id", "qtext", k = 10)
        .select(col("q_id"), col("rank").cast(LongType).as("rank"),
          col("id").as("doc_id"), col("bm25"))
        .orderBy(col("q_id"), col("rank"))
    }

    // ---- the same ranking over the PERSISTED inverted index: build on the
    // lower half of the corpus, addDocs the upper half (incremental admit —
    // only the fresh batch tokenizes), then the identical query batch reads
    // matched postings via term-literal pruning. Postings are per-(term,doc)
    // rows and stats per-batch long sums, so the accumulated index ≡ a
    // from-scratch build and the oracle is doc_bm25's, verbatim
    // ---- GDPR purge propagation through the inverted index: every
    // doc_id % 17 == 0 document is retracted from the PERSISTED index —
    // merge-on-read tombstones (a doc's postings scatter across every
    // term's file, so copy-on-write would rewrite the whole index;
    // zero_rewrite is the literal claim) with the NEGATIVE stats row in
    // the SAME commit. The post-retraction BM25 must be bit-identical to
    // a from-scratch build over the surviving corpus — the oracle IS
    // bm25Sql with the purged docs filtered out of the corpus CTEs — and
    // the tombstone count is itself oracle-restated as the purged docs'
    // distinct (doc, term) pair count
    q("etl_purge_retract") = (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val queries = Seq(
        (1L, "merge join order sort"),
        (2L, "vector window stream"),
        (3L, "customer data value zzz")).toDF("q_id", "qtext")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-purge-").toString)
      val fts = new PersistedPostings(wh)
      fts.build(docs, "doc_id", "text")
      val filesBefore = wh.describe(fts.postingsTable).files
      val purged = docs.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      val gone = fts.retractDocs(purged)
      val zeroRewrite = wh.describe(fts.postingsTable).files == filesBefore
      fts.query(queries, "q_id", "qtext", k = 10)
        .select(col("q_id"), col("rank").cast(LongType).as("rank"),
          col("id").as("doc_id"), col("bm25"))
        .withColumn("retracted", lit(gone))
        .withColumn("zero_rewrite", lit(zeroRewrite))
        .orderBy(col("q_id"), col("rank"))
    }

    // ---- the inverted index as an incrementally-maintained MATERIALIZED
    // VIEW of a lakehouse corpus table (FtsSync): the corpus suffers an
    // append seed, a text-editing UPDATE (retract + re-admit of the same
    // ids), a scattered DV delete, and an upserting MERGE that also inserts
    // two new docs — one sync per window applies the whole window as ONE
    // index commit, ledgered per corpus version, and BM25 over the
    // synced index must be bit-identical to a from-scratch build over the
    // corpus's LIVE state, which the oracle restates as a CASE/filter/UNION
    // over raw documents. n_docs pins the telescoped stats (N after
    // retractions and admissions ≡ the live corpus count)
    q("etl_fts_sync") = (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val queries = Seq(
        (1L, "merge join order sort"),
        (2L, "vector window stream"),
        (3L, "customer data value zzz")).toDF("q_id", "qtext")
      val corpus = docs.select(col("doc_id"), col("text"))
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-ftsmv-").toString)
      wh.setChangeFeed("corpus", on = true)
      val fts = new PersistedPostings(wh)
      fts.build(corpus.limit(0), "doc_id", "text")
      val mv = new graft.streaming.FtsSync(wh, "corpus", corpus.schema,
        "doc_id", "text", fts)
      wh.append("corpus", corpus.coalesce(1))
      mv.sync() // seed: the append arrives as inserts
      val m = docs.agg(max(col("doc_id"))).head().getLong(0)
      def idsWhere(c: org.apache.spark.sql.Column): Seq[Long] =
        docs.filter(c).select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      // text-editing UPDATE: retract + re-admit of the same ids
      wh.updateWhere("corpus", corpus.schema,
        Seq(graft.sources.ColIn("doc_id", idsWhere(col("doc_id") % 13 === 0))),
        Seq("text" -> concat(col("text"), lit(" zzz zzz"))))
      // scattered merge-on-read purge
      wh.deleteWhereDv("corpus", corpus.schema,
        Seq(graft.sources.ColIn("doc_id",
          idsWhere(col("doc_id") % 17 === 0 && col("doc_id") % 13 =!= 0))))
      // upsert + two fresh inserts through MERGE
      wh.mergeInto("corpus", corpus.schema, Seq(
          (1L, "customer data value zzz"),
          (m + 1L, "zzz window stream"),
          (m + 2L, "alpha omega")).toDF("doc_id", "text"), Seq("doc_id"))
      mv.sync() // one window: update + DV delete + merge
      val nDocs = fts.corpusStats().agg(sum(col("n"))).head().getLong(0)
      fts.query(queries, "q_id", "qtext", k = 10)
        .select(col("q_id"), col("rank").cast(LongType).as("rank"),
          col("id").as("doc_id"), col("bm25"))
        .withColumn("n_docs", lit(nDocs))
        .orderBy(col("q_id"), col("rank"))
    }

    q("doc_bm25_persisted") = (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val queries = Seq(
        (1L, "merge join order sort"),
        (2L, "vector window stream"),
        (3L, "customer data value zzz")).toDF("q_id", "qtext")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-fts-").toString)
      val fts = new PersistedPostings(wh)
      val split = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      fts.build(docs.filter(col("doc_id") <= split), "doc_id", "text")
      fts.addDocs(docs.filter(col("doc_id") > split), "doc_id", "text")
      fts.query(queries, "q_id", "qtext", k = 10)
        .select(col("q_id"), col("rank").cast(LongType).as("rank"),
          col("id").as("doc_id"), col("bm25"))
        .orderBy(col("q_id"), col("rank"))
    }

    // ---- the inverted index maintained by STRUCTURED STREAMING: an empty
    // genesis build, then the whole corpus arrives as the exact-dedup
    // streams' 3 micro-batch chunk files (streaming/FtsStream — ledgered
    // atomic admits, replay-idempotent), then the identical query batch
    // over the persisted tables. Postings rows and per-batch stat sums are
    // exact under union whatever the batching, so the streamed index ≡ the
    // batch-built one and the ORACLE IS bm25Sql VERBATIM — micro-batch ≡
    // batch, the dedup_stream argument applied to retrieval
    q("doc_bm25_stream") = (s, dir) => {
      import s.implicits._
      import java.nio.file.Files
      val queries = Seq(
        (1L, "merge join order sort"),
        (2L, "vector window stream"),
        (3L, "customer data value zzz")).toDF("q_id", "qtext")
      val inDir = xstreamChunks(s, dir)
      val ckpt = Files.createTempDirectory("graft-ftss-ck-").toString
      val whDir = Files.createTempDirectory("graft-ftss-wh-").toString
      val st = new graft.streaming.FtsStream(
        new graft.sources.AtomicWarehouse(GraftSession.streamSession(s), whDir))
      st.fts.build(t(s, dir, "documents").limit(0), "doc_id", "text")
      val sq = st.start(inDir, ckpt)
      val drainMs = GraftSession.streamDrainTimeoutMs
      if (!sq.awaitTermination(drainMs)) {
        sq.stop()
        throw new IllegalStateException(
          s"doc_bm25_stream failed to drain within ${drainMs / 1000} s")
      }
      st.fts.query(queries, "q_id", "qtext", k = 10)
        .select(col("q_id"), col("rank").cast(LongType).as("rank"),
          col("id").as("doc_id"), col("bm25"))
        .orderBy(col("q_id"), col("rank"))
    }

    // ---- exact-phrase search over the positional inverted index: each
    // matched posting position p for phrase offset o votes for start p−o, a
    // start with every offset voting is an occurrence (overlaps count), docs
    // ranked by occurrence count. The oracle brute-forces the same
    // semantics by sliding the token array; the index path reads only the
    // phrase terms' postings. Phrase 3 has hits only at some scales — the
    // zero-hit shape is part of the check
    q("doc_phrase") = (s, dir) => {
      import s.implicits._
      val phrases = Seq(
        (1L, "merge join"),
        (2L, "table scan"),
        (3L, "value table part")).toDF("q_id", "qtext")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-phrase-").toString)
      val fts = new PersistedPostings(wh)
      fts.build(t(s, dir, "documents"), "doc_id", "text")
      fts.phrase(phrases, "q_id", "qtext", k = 10)
        .select(col("q_id"), col("rank").cast(LongType).as("rank"),
          col("id").as("doc_id"), col("occurrences"))
        .orderBy(col("q_id"), col("rank"))
    }

    // ---- hybrid retrieval: RRF-fuse the lexical BM25 ranking with a
    // semantic ANN ranking over the aligned embeddings table (vec_id ≡
    // doc_id). Query vectors are embeddings 11-13 remapped to q_id 1-3 so
    // both legs share the query key space; each leg contributes its top-20,
    // contributions are exact integer 1e9 div (60 + rank), and the oracle
    // replays BOTH legs and the fusion
    q("doc_hybrid_rrf") = (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val queries = Seq(
        (1L, "merge join order sort"),
        (2L, "vector window stream"),
        (3L, "customer data value zzz")).toDF("q_id", "qtext")
      val lex = Retrieval.bm25(docs, "doc_id", "text", queries, "q_id", "qtext", k = 20)
        .select(col("q_id"), col("id"), col("rank"))
      val sem = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id").between(11, 13)), "vec_id", "vec_id", "embedding", 20)
        .select((col("q_id") - 10).as("q_id"), col("c_id").as("id"), col("rank"))
      Retrieval.rrf(Seq(lex, sem), k = 10)
        .select(col("q_id"), col("rank").cast(LongType).as("rank"),
          col("id").as("doc_id"), col("rrf"))
        .orderBy(col("q_id"), col("rank"))
    }

    // ---- WEIGHTED hybrid fusion with per-leg depth cuts: the lexical leg
    // dominates (700‰) and is cut to its top-10, the semantic leg assists
    // (300‰) at depth 20 — the quality-skewed mix a production hybrid
    // search runs. Contributions stay exact integers (w · (1e9 div
    // (60+rank))), so the oracle replays both legs, the cuts, and the
    // weighted fusion digit for digit
    q("doc_hybrid_rrf_weighted") = (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val queries = Seq(
        (1L, "merge join order sort"),
        (2L, "vector window stream"),
        (3L, "customer data value zzz")).toDF("q_id", "qtext")
      val lex = Retrieval.bm25(docs, "doc_id", "text", queries, "q_id", "qtext", k = 20)
        .select(col("q_id"), col("id"), col("rank"))
      val sem = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id").between(11, 13)), "vec_id", "vec_id", "embedding", 20)
        .select((col("q_id") - 10).as("q_id"), col("c_id").as("id"), col("rank"))
      Retrieval.rrfWeighted(Seq(
          Retrieval.RrfLeg(lex, weight = 700, topN = Some(10)),
          Retrieval.RrfLeg(sem, weight = 300, topN = Some(20))), k = 10)
        .select(col("q_id"), col("rank").cast(LongType).as("rank"),
          col("id").as("doc_id"), col("rrf"))
        .orderBy(col("q_id"), col("rank"))
    }

    // ---- substring-level duplication stats: every 10-token sliding window
    // hashed; a window seen in ≥2 distinct docs is duplicated — per-doc
    // duplicated-span counts, the signal document-level dedup cannot see.
    // All-linear plan (explode + two hash shuffles + semi-join); the oracle
    // replays windows/hashes/counts with identical tokenization
    q("dedup_windows") = (s, dir) =>
      Dedup.duplicatedWindowStats(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", windowTokens = 10)
        .orderBy(col("doc_id"))

    // ---- the scrub ACTION to the window stats: every duplicated 10-token
    // span removed from every doc except its first-seeing (min-id) owner,
    // survivors reassembled in order; text_clean whitespace-normalized
    q("dedup_scrub") = (s, dir) =>
      Dedup.scrubDuplicatedWindows(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", windowTokens = 10)
        .orderBy(col("doc_id"))

    // ---- SemDeDup-style cluster-scoped semantic dedup: assign every vector
    // to its nearest deterministic centroid (first 8 vectors — the sim_ivf
    // cells), then drop any vector with an EARLIER (lower-id) same-cell
    // neighbor at cosine ≥ 0.45. The quadratic step never leaves a cell —
    // the scale trade the oracle restates verbatim
    q("dedup_semantic") = (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Dedup.semanticDedup(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cell"), col("embedding").as("centroid")),
        minCosine = 0.45)
        .orderBy(col("vec_id"))
    }

    // ---- the STREAMING form: the whole corpus arrives as 3 id-ordered
    // micro-batch files; every batch probes only ITS cells of the
    // accumulated cell index (In-literal row-group pruning), survivors admit
    // atomically with the arrival-retaining index append. Id-ordered batches
    // make first-arrival-wins ≡ the batch rule, so the oracle is
    // dedup_semantic's SQL verbatim
    q("dedup_semantic_stream") = (s, dir) => {
      import java.nio.file.Files
      val emb = t(s, dir, "embeddings")
      val inDir = semStreamChunks(s, dir)
      val ckpt = Files.createTempDirectory("graft-sems-ck-").toString
      val whDir = Files.createTempDirectory("graft-sems-wh-").toString
      val sd = new graft.streaming.SemanticDedupStream(
        new graft.sources.AtomicWarehouse(GraftSession.streamSession(s), whDir),
        minCosine = 0.45)
      sd.init(emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell"), col("embedding").as("centroid")))
      val sq = sd.start(inDir, ckpt)
      val drainMs = GraftSession.streamDrainTimeoutMs
      if (!sq.awaitTermination(drainMs)) {
        sq.stop()
        throw new IllegalStateException(
          s"dedup_semantic_stream failed to drain within ${drainMs / 1000} s")
      }
      sd.survivors()
        .select(col("id").as("vec_id"), col("cell").cast(LongType).as("cell"))
        .orderBy(col("vec_id"))
    }

    // ---- similarity search over embeddings ----

    q("sim_topk") = (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "vec_id", "embedding", 5)
        .select(col("q_id"), col("rank").cast(LongType).as("rank"), col("c_id"), col("cosine"))
        .orderBy(col("q_id"), col("rank"))
    }

    // ---- the same top-k over int8 codes (SQ8 scalar quantization): the
    // candidate side is scored as 1-byte-per-dim binary — the 4× scan-I/O
    // lever at corpus scale. Approximate but DETERMINISTIC (floor-based
    // quantization, exact integer sums), so the oracle replays the whole
    // encode→score→rank pipeline in SQL
    q("sim_topk_sq8") = (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopKSq8(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "vec_id", "embedding", 5)
        .select(col("q_id"), col("rank").cast(LongType).as("rank"), col("c_id"), col("cosine"))
        .orderBy(col("q_id"), col("rank"))
    }

    q("sim_ivf") = (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb,
        emb.filter(col("vec_id") >= 8 && col("vec_id") < 18),
        emb.filter(col("vec_id") < 8),
        "vec_id", "vec_id", "vec_id", "embedding", 5)
        .select(col("q_id"), col("rank").cast(LongType).as("rank"), col("c_id"), col("cosine"))
        .orderBy(col("q_id"), col("rank"))
    }

    // the training loop itself: 2 Lloyd's rounds from deterministic seeds
    // (first 8 vectors), then IVF over the trained centroids. Float casts at
    // every training step (element means, normalized elements) quantize away
    // cross-engine double-sum ordering, so the oracle can replay the rounds.
    q("sim_ivf_trained") = (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val trained = Similarity.trainCentroids(emb, "vec_id", "embedding",
        numCells = 8, iterations = 2)
        .select(col("cell_id").as("vec_id"), col("centroid").as("embedding"))
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") >= 8 && col("vec_id") < 18),
        trained, "vec_id", "vec_id", "vec_id", "embedding", 5)
        .select(col("q_id"), col("rank").cast(LongType).as("rank"), col("c_id"), col("cosine"))
        .orderBy(col("q_id"), col("rank"))
    }

    // the persisted/incremental IVF loop (operators/PersistedIvf): build on
    // the first 300 vectors with the seed centroids, add the rest through
    // the INCREMENTAL path (persisted-centroid assign, no retrain — the
    // accumulated assignment table must equal a from-scratch assignment),
    // then multi-probe (nProbe=2) top-5 reading ONLY the persisted tables.
    // Covers what the batch entries skip: the float-array parquet
    // round-trip, the cell-literal pushdown into the assignment scan, and
    // incremental-append ≡ full-assign
    q("sim_ivf_persisted") = (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-ivfp-").toString)
      val ivf = new PersistedIvf(wh)
      ivf.buildWith(emb.filter(col("vec_id") < 300), "vec_id", "embedding",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cell"), col("embedding").as("centroid")))
      ivf.addVectors(emb.filter(col("vec_id") >= 300), "vec_id", "embedding")
      ivf.topK(emb.filter(col("vec_id") >= 8 && col("vec_id") < 18),
          "vec_id", "embedding", 5, nProbe = 2)
        .select(col("q_id"), col("rank").cast(LongType).as("rank"), col("c_id"), col("cosine"))
        .orderBy(col("q_id"), col("rank"))
    }

    // ---- product-quantized ADC top-k: 4 subspaces × 16 seed codewords
    // (vec_id < 16, the seed convention), candidates scored from 4 codeword
    // ids via the broadcast LUT — the compression rung past SQ8 (256 B
    // float vector → 4 B of codes). Deterministic end to end, so the oracle
    // replays codebook → encode argmin → LUT → ranking in SQL
    q("sim_topk_pq") = (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Pq.topK(emb, emb.filter(col("vec_id") >= 8 && col("vec_id") < 18),
        "vec_id", "vec_id", "embedding", 5,
        seeds = emb.filter(col("vec_id") < 16), seedId = "vec_id")
        .select(col("q_id"), col("rank").cast(LongType).as("rank"), col("c_id"), col("cosine"))
        .orderBy(col("q_id"), col("rank"))
    }

    // ---- IVF-SQ over the same persisted index: coarse quantizer (which
    // cells to probe) float-exact, fine scoring on the stored int8 codes —
    // parquet column pruning reads (id, cell, code) and skips the float
    // vec column, the 4× candidate-I/O saving with no second table
    q("sim_ivf_sq8") = (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-ivfsq-").toString)
      val ivf = new PersistedIvf(wh)
      ivf.buildWith(emb.filter(col("vec_id") < 300), "vec_id", "embedding",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cell"), col("embedding").as("centroid")))
      ivf.addVectors(emb.filter(col("vec_id") >= 300), "vec_id", "embedding")
      ivf.topKSq8(emb.filter(col("vec_id") >= 8 && col("vec_id") < 18),
          "vec_id", "embedding", 5, nProbe = 2)
        .select(col("q_id"), col("rank").cast(LongType).as("rank"), col("c_id"), col("cosine"))
        .orderBy(col("q_id"), col("rank"))
    }

    // ---- IVF-PQ over the persisted index: coarse quantizer float-exact,
    // fine scoring by ADC over the STORED codeword ids (4 ints per
    // candidate — the compression rung past IVF-SQ's 64 bytes). Codebook =
    // subspace slices of the first 16 vectors (the sim_topk_pq seed
    // convention), persisted with the index; the incremental addVectors
    // path encodes only the fresh batch
    q("sim_ivf_pq") = (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-ivfpq-").toString)
      val ivf = new PersistedIvf(wh)
      ivf.buildWith(emb.filter(col("vec_id") < 300), "vec_id", "embedding",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cell"), col("embedding").as("centroid")),
        pq = Some(PersistedIvf.PqSpec(
          emb.filter(col("vec_id") < 16), "vec_id", "embedding")))
      ivf.addVectors(emb.filter(col("vec_id") >= 300), "vec_id", "embedding")
      ivf.topKPq(emb.filter(col("vec_id") >= 8 && col("vec_id") < 18),
          "vec_id", "embedding", 5, nProbe = 2)
        .select(col("q_id"), col("rank").cast(LongType).as("rank"), col("c_id"), col("cosine"))
        .orderBy(col("q_id"), col("rank"))
    }

    // ---- two-stage retrieve-then-rerank: PQ-ADC generates each query's
    // top-20 candidates from the stored codes (the 64×-narrower scan), then
    // ONLY those 20 are re-scored float-exact and cut to top-5 — the
    // composition the compression rungs exist for (PQ's recall ceiling is a
    // RANKING ceiling; its candidate pool + an exact rescore of a small
    // fraction recovers near-exact recall). Both stages deterministic, so
    // the oracle replays ADC → rank ≤ 20 → exact cosine → re-rank in SQL
    q("sim_rerank") = (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-rerank-").toString)
      val ivf = new PersistedIvf(wh)
      ivf.buildWith(emb.filter(col("vec_id") < 300), "vec_id", "embedding",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cell"), col("embedding").as("centroid")),
        pq = Some(PersistedIvf.PqSpec(
          emb.filter(col("vec_id") < 16), "vec_id", "embedding")))
      ivf.addVectors(emb.filter(col("vec_id") >= 300), "vec_id", "embedding")
      ivf.topKPqRerank(emb.filter(col("vec_id") >= 8 && col("vec_id") < 18),
          "vec_id", "embedding", 5, c = 20, nProbe = 2)
        .select(col("q_id"), col("rank").cast(LongType).as("rank"), col("c_id"), col("cosine"))
        .orderBy(col("q_id"), col("rank"))
    }

    // ---- residual IVF-PQ (IVFADC, Jégou et al. 2011 §IV): codes quantize
    // vec − centroid(cell) instead of the raw vector, scoring expands
    // x̂ = c + r̂ into per-cell lookup terms (dot(q,c), dot(c_j,cw_j), ‖c‖²)
    // plus the usual LUT partials — every term deterministic, so the oracle
    // replays residuals → encode argmin → both LUTs → expansion in SQL.
    // Codebook = residual slices of the first 16 vectors against THEIR
    // assigned cells (the seed convention applied to residuals)
    q("sim_ivf_pq_residual") = (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-ivfpqr-").toString)
      val ivf = new PersistedIvf(wh)
      ivf.buildWith(emb.filter(col("vec_id") < 300), "vec_id", "embedding",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cell"), col("embedding").as("centroid")),
        pq = Some(PersistedIvf.PqSpec(
          emb.filter(col("vec_id") < 16), "vec_id", "embedding", residual = true)))
      ivf.addVectors(emb.filter(col("vec_id") >= 300), "vec_id", "embedding")
      ivf.topKPq(emb.filter(col("vec_id") >= 8 && col("vec_id") < 18),
          "vec_id", "embedding", 5, nProbe = 2)
        .select(col("q_id"), col("rank").cast(LongType).as("rank"), col("c_id"), col("cosine"))
        .orderBy(col("q_id"), col("rank"))
    }

    // ---- the same index maintained by STRUCTURED STREAMING: build on the
    // first 300 vectors, then the tail arrives as micro-batch files
    // (streaming/IvfStream — ledgered atomic admits, replay-idempotent),
    // then the identical multi-probe top-5 over the persisted tables.
    // Assignment is a pure per-row function of (vector, centroids), so the
    // streamed index ≡ the batch-built one and the ORACLE IS THE SAME SQL as
    // sim_ivf_persisted — micro-batch ≡ batch, the dedup_stream argument
    // applied to ANN
    q("sim_ivf_stream") = (s, dir) => {
      import java.nio.file.Files
      val emb = t(s, dir, "embeddings")
      val inDir = ivfStreamChunks(s, dir)
      val ckpt = Files.createTempDirectory("graft-ivfs-ck-").toString
      val whDir = Files.createTempDirectory("graft-ivfs-wh-").toString
      val st = new graft.streaming.IvfStream(
        new graft.sources.AtomicWarehouse(GraftSession.streamSession(s), whDir))
      st.ivf.buildWith(emb.filter(col("vec_id") < 300), "vec_id", "embedding",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cell"), col("embedding").as("centroid")))
      val sq = st.start(inDir, ckpt)
      val drainMs = GraftSession.streamDrainTimeoutMs
      if (!sq.awaitTermination(drainMs)) {
        sq.stop()
        throw new IllegalStateException(
          s"sim_ivf_stream failed to drain within ${drainMs / 1000} s")
      }
      st.ivf.topK(emb.filter(col("vec_id") >= 8 && col("vec_id") < 18),
          "vec_id", "embedding", 5, nProbe = 2)
        .select(col("q_id"), col("rank").cast(LongType).as("rank"), col("c_id"), col("cosine"))
        .orderBy(col("q_id"), col("rank"))
    }

    // ---- source formats beyond parquet: JSONL (the training-data
    // interchange format), ORC and CSV each round-trip the documents table
    // through a write+read cycle; the result counts rows and text
    // mismatches per format (full outer join on doc_id, so drops AND
    // extras both surface). Oracle = per-format (count(documents), 0).
    // Distributed shape: every write/read is a parallel scan, the join is
    // a hash join on doc_id — nothing driver-side
    q("source_roundtrips") = (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val base = java.nio.file.Files.createTempDirectory("graft-fmt-").toString
      val jsonSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      def roundTrip(fmt: String, back: DataFrame): DataFrame = {
        val b = back.select(col("doc_id").cast(LongType).as("doc_id"),
          col("text").as("text_back"))
        docs.join(b, Seq("doc_id"), "full_outer")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("text").isNull || col("text_back").isNull ||
              col("text") =!= col("text_back"), 1L).otherwise(0L)).as("n_mismatch"))
          .select(lit(fmt).as("format"), col("n_docs"), col("n_mismatch"))
      }
      docs.write.json(s"$base/jsonl")
      docs.write.orc(s"$base/orc")
      docs.write.option("header", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false").csv(s"$base/csv")
      roundTrip("csv", s.read.option("header", "true").option("multiLine", "true")
          .csv(s"$base/csv"))
        .union(roundTrip("jsonl", s.read.schema(jsonSchema).json(s"$base/jsonl")))
        .union(roundTrip("orc", s.read.orc(s"$base/orc")))
        .orderBy(col("format"))
    }

    // ---- incremental EXACT dedup: a fresh batch (20 docs already in the
    // corpus + 5 re-keyed exact copies of corpus texts + 5 within-batch
    // copies of novel texts + the novel tail) probed against the corpus
    // hash index — seen content drops, within-batch dups resolve to min id,
    // novel content survives. Oracle restates the whole rule
    q("dedup_exact_incremental") = (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") < 400)
      // sentinel-keyed like exactGroups — the index convention the probe expects
      val seen = corpus.select(
        coalesce(sha2(col("text"), 256), lit("__null_text__")).as("text_sha")).distinct()
      val fresh = docs.filter(col("doc_id") >= 380)
        .union(docs.filter(col("doc_id") < 5)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
        .union(docs.filter(col("doc_id") >= 450 && col("doc_id") < 455)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      Dedup.incrementalExactNew(fresh, seen, "doc_id", "text")
        .select(col("doc_id"),
          coalesce(sha2(col("text"), 256), lit("__null_text__")).as("text_sha"))
        .orderBy(col("doc_id"))
    }

    // ---- Bloom-prefiltered incremental exact dedup: same admit rule as
    // dedup_exact_incremental but the index membership test routes through
    // a Bloom filter first (false → admit without touching the index;
    // maybe → exact anti-join). fpp deliberately HIGH (0.3) so false
    // positives actually occur and the exactness-despite-bloom claim is
    // what the oracle checks, not an accident of zero collisions
    q("dedup_exact_bloom") = (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") < 300)
      val seen = corpus.select(
        coalesce(sha2(col("text"), 256), lit("__null_text__")).as("text_sha")).distinct()
      val fresh = docs.filter(col("doc_id") >= 280)
        .union(docs.filter(col("doc_id") >= 10 && col("doc_id") < 20)
          .select((col("doc_id") + 20000).as("doc_id"), col("text")))
      Dedup.incrementalExactNewBloom(fresh, seen, "doc_id", "text", fpp = 0.3)
        .select(col("doc_id"),
          coalesce(sha2(col("text"), 256), lit("__null_text__")).as("text_sha"))
        .orderBy(col("doc_id"))
    }

    // ---- data-mixture resampling: downsample language strata toward a
    // uniform 20% target mix at half corpus size; result = per-language
    // sampled counts. Deterministic content-addressed keep rule, so the
    // oracle restates the whole derivation (rates + md5 threshold)
    q("doc_mixture") = (s, dir) => {
      Corpus.mixtureSample(t(s, dir, "documents"), "lang", "text",
        Map("de" -> 0.2, "en" -> 0.2, "es" -> 0.2, "fr" -> 0.2, "zh" -> 0.2),
        targetFraction = 0.5)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
        .orderBy(col("lang"))
    }

    // ---- multimodal plumbing ----

    q("multimodal_meta") = (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        octet_length(encode(col("text"), "UTF-8")).cast(LongType).as("content_length"),
        sha2(col("text"), 256).as("content_sha"))
        .orderBy(col("doc_id"))

    // batched binary decode through the md5Long stub — the oracle restates
    // the stub's width/height/frame derivation from md5(text) in SQL, so the
    // whole plumbing path (binary column → per-partition decode → typed
    // output) is oracle-exact, not just rows-counted
    q("multimodal_features") = (s, dir) => {
      val media = Multimodal.withSyntheticMedia(
        t(s, dir, "documents").filter(col("doc_id") < 200), "text", "video")
      Multimodal.extractFeatures(s, media, "doc_id", Multimodal.MediaDecoder.DeterministicStub)
        .select(col("doc_id"), col("width").cast(LongType).as("width"),
          col("height").cast(LongType).as("height"),
          col("n_frames").cast(LongType).as("n_frames"),
          size(col("feature")).cast(LongType).as("feature_dim"))
        .orderBy(col("doc_id"))
    }

    // ---- deterministic per-epoch training-order shuffle: a pure function
    // of (seed, id), so any engine/cluster replays the same permutation
    // (the oracle restates the md5Long key in SQL and sorts identically) —
    // one total sort over a uniform hash key, never collect-and-permute
    q("doc_shuffle") = (s, dir) =>
      Corpus.shuffleDeterministic(t(s, dir, "documents"), "doc_id", seed = 7L)
        .select(col("doc_id"), col("shuffle_key"))

    // ---- the training-data LAST MILE: split → epoch shuffle → sequence
    // packing composed into the manifest a trainer actually consumes —
    // (doc_id, split, shard, position) — in ONE lineage over a single scan
    // of the corpus (assignSplit is a narrow projection, the shuffle key is
    // a derived column, and packShards' planning aggregate + pack pass read
    // the same frame; nothing re-reads the parquet three times). Packing is
    // greedy in SHUFFLE order within each split (packShards orders by its
    // id column — here the epoch-7 shuffle key), so shards are epoch-local
    // and deterministic: the oracle restates the whole chain
    q("doc_epoch_manifest") = (s, dir) => {
      val split = Corpus.assignSplit(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", Seq("train" -> 80, "val" -> 10, "test" -> 10))
      val shuffled = Corpus.shuffleDeterministic(split, "doc_id", seed = 7L)
      val packed = Corpus.packShards(
        shuffled, "shuffle_key", "text", col("split"), budgetTokens = 2048)
      packed
        .withColumn("position", row_number().over(
            Window.partitionBy(col("split"), col("shard")).orderBy(col("shuffle_key")))
          .cast(LongType))
        .select(col("doc_id"), col("split"), col("shard"), col("position"))
        .orderBy(col("split"), col("shard"), col("position"))
    }

    // ---- multimodal composed with the ANN index: binary payloads →
    // batched per-partition stub decode → PersistedIvf build → probed
    // top-k retrieval, end to end. Both sides are deterministic (the stub
    // derives features from md5 of the media bytes; the index's cell
    // assignment and scoring are the sim_ivf_persisted discipline), so the
    // oracle restates media-bytes → features → cells → 2-probe top-k in SQL
    q("multimodal_ann") = (s, dir) => {
      val media = Multimodal.withSyntheticMedia(
        t(s, dir, "documents"), "text", "image")
      val feats = Multimodal.extractFeatures(s, media, "doc_id",
          Multimodal.MediaDecoder.DeterministicStub)
        .select(col("doc_id"), col("feature"))
      val wh = new graft.sources.AtomicWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-mmann-").toString)
      val ivf = new PersistedIvf(wh)
      ivf.buildWith(feats, "doc_id", "feature",
        feats.filter(col("doc_id") < 4)
          .select(col("doc_id").cast(IntegerType).as("cell"),
            col("feature").as("centroid")))
      ivf.topK(feats.filter(col("doc_id") >= 4 && col("doc_id") < 10),
          "doc_id", "feature", k = 3, nProbe = 2)
        .select(col("q_id"), col("rank").cast(LongType).as("rank"),
          col("c_id"), col("cosine"))
        .orderBy(col("q_id"), col("rank"))
    }

    q.toMap
  }

  /** Canned lifecycle batch for `etl_ledger` — same shape as the reference's
    * real price list (docs/Lista Precios.csv:1): "Fecha 1" header variant,
    * trailing unnamed junk columns.
    */
  private val ledgerCsv: String =
    """Producto,Fecha 1,Provedor,Precio,,,,
      |Aceite Capullo 500ml x 12,07/03/2025,Vicente,1.347,,,,
      |Arroz Premium 1kg,07/03/2025,DosPinos,2.500,,,,
      |""".stripMargin

  /** Canned vision-model output for `etl_invoice`: fenced CSV covering a
    * thousands-dot price, a trailing-space provider, an unparseable price,
    * and all three date formats the reference's fuzzy parser accepts.
    */
  private val invoiceFencedCsv: String =
    "```csv\n" +
      """Producto,Fecha,Provedor,Precio
        |Aceite Capullo 500ml x 12 (G13),07/03/2025,DosPinos,$ 1.347
        |Queso Tierno 400g,23/04/2025,Serrano ,2.600
        |MINI PAPA KITTY 1X30(G1),April 7 2025,La Favorita,N/A
        |""".stripMargin + "```"

  // ------------------------------------------------------------- oracle SQL

  /** Shared DuckDB fragments. */
  private val H31 = "(('0x'||substr(md5(%s),1,15))::BIGINT %% 2147483647)"
  private def h31(expr: String): String = H31.format(expr)

  private val minhashMins: String = Dedup.MinHashA.zip(Dedup.MinHashB).zipWithIndex.map {
    case ((a, b), i) => s"CAST(min(($a*h + $b) % 2147483647) AS BIGINT) AS mh$i"
  }.mkString(",\n   ")

  // DuckDB v1.0 can't take lateral column args in generate_series (and
  // rejects scalar-subquery bounds too), so the oracles cross-join a
  // constant range and filter to the per-row length. Every such range
  // carries a CASE/error() guard: a document that outgrows the constant cap
  // makes the oracle FAIL LOUDLY instead of silently truncating and
  // producing a wrong expected result at a larger scale factor.
  private def shingle5On(src: String): String =
    s"""SELECT doc_id, ${h31("substr(text, i, 5)")} AS h
       |    FROM $src, generate_series(1, 2048) t(i) WHERE i <= length(text)-4
       |     AND CASE WHEN length(text)-4 > 2048 THEN error('oracle shingle cap 2048 exceeded') ELSE true END""".stripMargin
  private val shingle5 = shingle5On("documents")

  /** The BM25 derivation as a CTE chain ending in `ranked` (q_id, id, bm25,
    * rank over every matched doc) — the shared head of doc_bm25,
    * doc_bm25_persisted, and doc_hybrid_rrf's lexical leg.
    */
  private val bm25Ctes: String =
    """q(q_id, qtext) AS (VALUES
        |  (1, 'merge join order sort'),
        |  (2, 'vector window stream'),
        |  (3, 'customer data value zzz')),
        |qt AS (SELECT DISTINCT CAST(q_id AS BIGINT) AS q_id,
        |  unnest(list_filter(string_split(qtext, ' '), x -> x <> '')) AS t
        | FROM q),
        |stats AS (SELECT count(*) AS n,
        |  sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS sumdl
        | FROM documents),
        |tok AS (SELECT doc_id AS id,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS DOUBLE) AS dl,
        |  unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
        | FROM documents),
        |tf AS (
        | SELECT id, t, CAST(count(*) AS DOUBLE) AS tf, any_value(dl) AS dl
        | FROM tok WHERE t IN (SELECT t FROM qt)
        | GROUP BY 1, 2),
        |dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        | SELECT qt.q_id, tf.id,
        |  sum(CAST(floor(1000000.0
        |   * ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
        |   * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n)))))
        |   AS BIGINT)) AS s_micro
        | FROM tf JOIN dfreq USING (t) JOIN qt USING (t) CROSS JOIN stats
        | GROUP BY 1, 2),
        |ranked AS (
        | SELECT q_id, id, round(CAST(s_micro AS DOUBLE) / 1000000.0, 4) AS bm25,
        |  row_number() OVER (PARTITION BY q_id
        |   ORDER BY round(CAST(s_micro AS DOUBLE) / 1000000.0, 4) DESC, id) AS rank
        | FROM scored)""".stripMargin

  /** dedup_survivors (and its incremental twin): documents minus every
    * non-canonical near-dup cluster member.
    */
  private lazy val survivorsSql: String =
    s"""WITH RECURSIVE pairs AS (
       |$lshVerifiedCore),
       |edges AS (
       | SELECT id_a AS src, id_b AS dst FROM pairs
       | UNION SELECT id_b, id_a FROM pairs),
       |reach AS (
       | SELECT src, dst FROM edges
       | UNION
       | SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |comp AS (SELECT src AS id, least(src, min(dst)) AS component FROM reach GROUP BY src)
       |SELECT doc_id, lang, source FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> component)
       |ORDER BY doc_id""".stripMargin

  /** dedup_components (and its incremental twin): min-id component labels
    * via recursive closure over the verified pair set.
    */
  private lazy val componentsSql: String =
    s"""WITH RECURSIVE pairs AS (
       |$lshVerifiedCore),
       |edges AS (
       | SELECT id_a AS src, id_b AS dst FROM pairs
       | UNION SELECT id_b, id_a FROM pairs),
       |reach AS (
       | SELECT src, dst FROM edges
       | UNION
       | SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |comp AS (SELECT src AS id, least(src, min(dst)) AS component FROM reach GROUP BY src)
       |SELECT id, component FROM comp ORDER BY id""".stripMargin

  private val bm25Sql: String =
    s"""WITH $bm25Ctes
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, id AS doc_id, bm25
       |FROM ranked WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin

  /** etl_scd2 / etl_scd2_lifecycle: SCD2 history reconstructed from the raw
    * batches — LAG-dedup keeps only real transitions, LEAD supplies each
    * window's close. The lifecycle variant persists the same fold through
    * the transactional warehouse, so one oracle serves both.
    */
  private val scd2Sql: String =
    """WITH b AS (
      |  SELECT 1 AS seq, s_suppkey AS k, CAST(s_nationkey AS BIGINT) AS attr
      |  FROM supplier
      |  UNION ALL
      |  SELECT 2, s_suppkey, CAST(s_nationkey + 100 AS BIGINT)
      |  FROM supplier WHERE s_suppkey % 4 = 0
      |  UNION ALL
      |  SELECT 3, s_suppkey, CAST(s_nationkey + 200 AS BIGINT)
      |  FROM supplier WHERE s_suppkey % 6 = 0),
      |d AS (SELECT seq, k, attr,
      |  LAG(attr) OVER (PARTITION BY k ORDER BY seq) AS prev FROM b),
      |ch AS (SELECT seq, k, attr FROM d WHERE prev IS NULL OR attr <> prev),
      |hist AS (SELECT k, attr, CAST(seq AS BIGINT) AS valid_from,
      |  CAST(LEAD(seq) OVER (PARTITION BY k ORDER BY seq) AS BIGINT) AS valid_to
      | FROM ch)
      |SELECT k AS s_suppkey, attr, valid_from, valid_to,
      | (valid_to IS NULL) AS is_current
      |FROM hist
      |ORDER BY s_suppkey, valid_from""".stripMargin

  /** sim_ivf_pq's full CTE chain up to the ADC `ranked` relation — float-
    * exact cell assignment (cells/qcells, as sim_ivf_sq8), seed-slice
    * codebook + encode argmin + query LUT (cb/enc/lut, as sim_topk_pq),
    * candidate pairs restricted to each query's 2 probed cells. Shared by
    * `sim_ivf_pq` (cut at rank ≤ 5) and `sim_rerank` (cut at rank ≤ 20,
    * then exact-rescored).
    */
  private val ivfPqRankedCtes: String =
    """WITH cent AS (SELECT vec_id AS cell, embedding FROM embeddings WHERE vec_id < 8),
      |assign_all AS (
      | SELECT e.vec_id, c.cell,
      |  round(CASE WHEN sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)) = 0
      |         OR sqrt(sum(c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) = 0 THEN 0
      |   ELSE sum(e.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)
      |    / (sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
      |       * sqrt(sum(c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))) END, 6) AS cos6
      | FROM embeddings e, cent c, generate_series(1, 64) t(i) GROUP BY 1,2),
      |cells AS (
      | SELECT vec_id, cell FROM (
      |  SELECT vec_id, cell,
      |   row_number() OVER (PARTITION BY vec_id ORDER BY cos6 DESC, cell) AS rn
      |  FROM assign_all) WHERE rn = 1),
      |qcells AS (
      | SELECT vec_id AS q_id, cell FROM (
      |  SELECT vec_id, cell,
      |   row_number() OVER (PARTITION BY vec_id ORDER BY cos6 DESC, cell) AS rn
      |  FROM assign_all WHERE vec_id >= 8 AND vec_id < 18) WHERE rn <= 2),
      |sub AS (SELECT unnest(generate_series(0, 3)) AS s),
      |cb AS (SELECT s.s AS sub, e.vec_id AS cw, e.embedding
      |       FROM embeddings e, sub s WHERE e.vec_id < 16),
      |enc0 AS (
      | SELECT e.vec_id AS id, c.sub, c.cw,
      |  round(sum((e.embedding[c.sub*16 + i]::DOUBLE - c.embedding[c.sub*16 + i]::DOUBLE)
      |          * (e.embedding[c.sub*16 + i]::DOUBLE - c.embedding[c.sub*16 + i]::DOUBLE)), 6) AS d6
      | FROM embeddings e, cb c, generate_series(1, 16) t(i)
      | GROUP BY 1, 2, 3),
      |enc AS (
      | SELECT id, sub, cw FROM (
      |  SELECT id, sub, cw,
      |   row_number() OVER (PARTITION BY id, sub ORDER BY d6, cw) AS rn
      |  FROM enc0) WHERE rn = 1),
      |qn AS (
      | SELECT vec_id AS q_id, sqrt(sum(embedding[i]::DOUBLE * embedding[i]::DOUBLE)) AS qn
      | FROM embeddings, generate_series(1, 64) t(i)
      | WHERE vec_id >= 8 AND vec_id < 18 GROUP BY 1),
      |lut AS (
      | SELECT q.vec_id AS q_id, c.sub, c.cw,
      |  sum(q.embedding[c.sub*16 + i]::DOUBLE * c.embedding[c.sub*16 + i]::DOUBLE) AS dotp,
      |  sum(c.embedding[c.sub*16 + i]::DOUBLE * c.embedding[c.sub*16 + i]::DOUBLE) AS n2p
      | FROM embeddings q, cb c, generate_series(1, 16) t(i)
      | WHERE q.vec_id >= 8 AND q.vec_id < 18 GROUP BY 1, 2, 3),
      |p AS (
      | SELECT l.q_id, e.id AS c_id, sum(l.dotp) AS dot, sum(l.n2p) AS n2
      | FROM enc e
      |  JOIN cells cc ON cc.vec_id = e.id
      |  JOIN qcells qc ON qc.cell = cc.cell
      |  JOIN lut l ON l.q_id = qc.q_id AND l.sub = e.sub AND l.cw = e.cw
      | WHERE e.id <> qc.q_id GROUP BY 1, 2),
      |scored AS (
      | SELECT p.q_id, p.c_id,
      |  round(CASE WHEN q.qn = 0 OR p.n2 = 0 THEN 0
      |   ELSE p.dot/(q.qn * sqrt(p.n2)) END, 4) AS cosine
      | FROM p JOIN qn q USING (q_id)),
      |ranked AS (
      | SELECT q_id, c_id, cosine,
      |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rank
      | FROM scored)""".stripMargin

  /** doc_hybrid_rrf: both legs (BM25 top-20 via [[bm25Ctes]]; brute-force
    * cosine top-20 over embeddings 11-13 remapped to q_id 1-3) fused by
    * integer-exact reciprocal-rank contributions `1e9 // (60 + rank)`.
    */
  private val hybridRrfSql: String =
    s"""WITH $bm25Ctes,
       |lex AS (SELECT q_id, id, rank FROM ranked WHERE rank <= 20),
       |qv AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id BETWEEN 11 AND 13),
       |sp AS (
       | SELECT qv.vec_id AS sq_id, e.vec_id AS c_id,
       |  sum(e.embedding[i]::DOUBLE * qv.embedding[i]::DOUBLE) AS dot,
       |  sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)) AS cn,
       |  sqrt(sum(qv.embedding[i]::DOUBLE * qv.embedding[i]::DOUBLE)) AS qn
       | FROM qv, embeddings e, generate_series(1, 64) t2(i)
       | WHERE e.vec_id <> qv.vec_id GROUP BY 1, 2),
       |sscored AS (
       | SELECT sq_id, c_id,
       |  round(CASE WHEN cn = 0 OR qn = 0 THEN 0 ELSE dot/(cn*qn) END, 4) AS cosine
       | FROM sp),
       |sranked AS (
       | SELECT sq_id, c_id,
       |  CAST(row_number() OVER (PARTITION BY sq_id
       |   ORDER BY cosine DESC, c_id) AS BIGINT) AS rank
       | FROM sscored),
       |sem AS (SELECT sq_id - 10 AS q_id, c_id AS id, rank FROM sranked WHERE rank <= 20),
       |fused AS (
       | SELECT q_id, id, sum(1000000000 // (60 + rank)) AS s
       | FROM (SELECT * FROM lex UNION ALL SELECT * FROM sem) u GROUP BY 1, 2),
       |franked AS (
       | SELECT q_id, id, s,
       |  row_number() OVER (PARTITION BY q_id ORDER BY CAST(s AS DOUBLE) DESC, id) AS rank
       | FROM fused)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, id AS doc_id,
       | round(CAST(s AS DOUBLE) / 1000000000.0, 6) AS rrf
       |FROM franked WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin

  /** doc_hybrid_rrf_weighted: the same two legs, lexical cut to top-10 at
    * weight 700‰ and semantic at depth 20 / 300‰; contributions are the
    * exact integers `w · (1e9 // (60 + rank))`, displayed as sum/1e12.
    */
  private val hybridRrfWeightedSql: String =
    s"""WITH $bm25Ctes,
       |lex AS (SELECT q_id, id, rank FROM ranked WHERE rank <= 10),
       |qv AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id BETWEEN 11 AND 13),
       |sp AS (
       | SELECT qv.vec_id AS sq_id, e.vec_id AS c_id,
       |  sum(e.embedding[i]::DOUBLE * qv.embedding[i]::DOUBLE) AS dot,
       |  sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)) AS cn,
       |  sqrt(sum(qv.embedding[i]::DOUBLE * qv.embedding[i]::DOUBLE)) AS qn
       | FROM qv, embeddings e, generate_series(1, 64) t2(i)
       | WHERE e.vec_id <> qv.vec_id GROUP BY 1, 2),
       |sscored AS (
       | SELECT sq_id, c_id,
       |  round(CASE WHEN cn = 0 OR qn = 0 THEN 0 ELSE dot/(cn*qn) END, 4) AS cosine
       | FROM sp),
       |sranked AS (
       | SELECT sq_id, c_id,
       |  CAST(row_number() OVER (PARTITION BY sq_id
       |   ORDER BY cosine DESC, c_id) AS BIGINT) AS rank
       | FROM sscored),
       |sem AS (SELECT sq_id - 10 AS q_id, c_id AS id, rank FROM sranked WHERE rank <= 20),
       |fused AS (
       | SELECT q_id, id, sum(w * (1000000000 // (60 + rank))) AS s
       | FROM (SELECT q_id, id, rank, CAST(700 AS BIGINT) AS w FROM lex
       |       UNION ALL SELECT q_id, id, rank, CAST(300 AS BIGINT) FROM sem) u
       | GROUP BY 1, 2),
       |franked AS (
       | SELECT q_id, id, s,
       |  row_number() OVER (PARTITION BY q_id ORDER BY CAST(s AS DOUBLE) DESC, id) AS rank
       | FROM fused)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, id AS doc_id,
       | round(CAST(s AS DOUBLE) / 1000000000000.0, 6) AS rrf
       |FROM franked WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin

  /** dedup_lsh_verified body (no ORDER BY) — also embedded as the pair
    * source of the connected-components oracle.
    */
  /** Shared CTE: 60-bit SimHash sketch per document — `sk(doc_id, simhash)`
    * (independent restatement of functions/SimHash.scala's convention:
    * whitespace tokens, 60-bit md5 token hash, sign-majority bits).
    */
  private lazy val simhashCore: String =
    """tok AS (
      | SELECT doc_id, tok FROM documents, unnest(string_split(text, ' ')) AS t(tok)
      | WHERE tok <> ''),
      |h AS (SELECT doc_id, ('0x'||substr(md5(tok),1,15))::BIGINT AS hv FROM tok),
      |bits AS (
      | SELECT doc_id, j, sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      | FROM h, generate_series(0, 59) t(j) GROUP BY doc_id, j),
      |sk AS (
      | SELECT doc_id,
      |  CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
      | FROM bits GROUP BY doc_id)""".stripMargin

  /** One Lloyd's round in DuckDB: given long-format centroid CTE `c{p}`
    * (cell, i, m), emits CTEs through `c{n}` — cos6 assignment (ties to the
    * lowest cell, matching `max_by(cell, struct(cos6, -cell))`), float-cast
    * element means, float-cast spherical normalization with the same 1e-12
    * norm floor as `Similarity.trainCentroids`. `m` is stored as DOUBLE but
    * always holds an exactly-representable float value, mirroring Spark's
    * `array<float>` centroids read back as doubles by the cosine kernel.
    */
  private def lloydRound(p: Int, n: Int): String =
    s"""cn$p AS (SELECT cell, sqrt(sum(m*m)) AS cnrm FROM c$p GROUP BY 1),
       |a$n AS (
       | SELECT e.vec_id, c.cell,
       |  round(CASE WHEN en.nrm = 0 OR cn.cnrm = 0 THEN 0
       |   ELSE sum(e.x * c.m) / (en.nrm * cn.cnrm) END, 6) AS cos6
       | FROM e JOIN c$p c ON e.i = c.i
       |  JOIN en ON en.vec_id = e.vec_id JOIN cn$p cn ON cn.cell = c.cell
       | GROUP BY e.vec_id, c.cell, en.nrm, cn.cnrm),
       |g$n AS (SELECT vec_id, cell FROM (
       |  SELECT vec_id, cell,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY cos6 DESC, cell) AS rn
       |  FROM a$n) WHERE rn = 1),
       |m$n AS (SELECT g.cell, e.i, CAST(avg(e.x) AS FLOAT) AS mr
       | FROM e JOIN g$n g USING (vec_id) GROUP BY 1, 2),
       |nn$n AS (SELECT cell, greatest(sqrt(sum(mr::DOUBLE * mr::DOUBLE)), 1e-12) AS nn
       | FROM m$n GROUP BY 1),
       |c$n AS (SELECT m.cell, m.i, CAST(CAST(m.mr::DOUBLE / n.nn AS FLOAT) AS DOUBLE) AS m
       | FROM m$n m JOIN nn$n n USING (cell))""".stripMargin

  /** The LSH+verify pipeline SQL over any (doc_id, text) source `src` —
    * starts its own WITH, so embed inside a CTE body when composing.
    */
  private def lshVerifiedCoreOn(src: String): String =
    s"""WITH sh AS (
       |  ${shingle5On(src)}),
       |sig AS (
       | SELECT doc_id,
       |   $minhashMins
       | FROM sh GROUP BY doc_id),
       |bands AS (
       | SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR)||'_'||CAST(mh1 AS VARCHAR) AS key FROM sig
       | UNION ALL SELECT doc_id, 1, CAST(mh2 AS VARCHAR)||'_'||CAST(mh3 AS VARCHAR) FROM sig
       | UNION ALL SELECT doc_id, 2, CAST(mh4 AS VARCHAR)||'_'||CAST(mh5 AS VARCHAR) FROM sig
       | UNION ALL SELECT doc_id, 3, CAST(mh6 AS VARCHAR)||'_'||CAST(mh7 AS VARCHAR) FROM sig),
       |cand0 AS (
       | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       | FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |cand AS (
       | SELECT id_a, id_b FROM cand0 c
       |  JOIN sig sa ON sa.doc_id = c.id_a JOIN sig sb ON sb.doc_id = c.id_b
       | WHERE (CASE WHEN sa.mh0 = sb.mh0 THEN 1 ELSE 0 END)
       |     + (CASE WHEN sa.mh1 = sb.mh1 THEN 1 ELSE 0 END)
       |     + (CASE WHEN sa.mh2 = sb.mh2 THEN 1 ELSE 0 END)
       |     + (CASE WHEN sa.mh3 = sb.mh3 THEN 1 ELSE 0 END)
       |     + (CASE WHEN sa.mh4 = sb.mh4 THEN 1 ELSE 0 END)
       |     + (CASE WHEN sa.mh5 = sb.mh5 THEN 1 ELSE 0 END)
       |     + (CASE WHEN sa.mh6 = sb.mh6 THEN 1 ELSE 0 END)
       |     + (CASE WHEN sa.mh7 = sb.mh7 THEN 1 ELSE 0 END) >= 4),
       |str_sh AS (
       | SELECT DISTINCT doc_id, substr(text, i, 5) AS s
       | FROM $src, generate_series(1, 2048) t(i) WHERE i <= length(text)-4
       |  AND CASE WHEN length(text)-4 > 2048 THEN error('oracle shingle cap 2048 exceeded') ELSE true END),
       |sz AS (SELECT doc_id, count(*) AS sz FROM str_sh GROUP BY 1),
       |it AS (
       | SELECT c.id_a, c.id_b, count(*) AS inter
       | FROM cand c JOIN str_sh a ON a.doc_id = c.id_a
       |   JOIN str_sh b ON b.doc_id = c.id_b AND b.s = a.s
       | GROUP BY 1,2)
       |SELECT id_a, id_b,
       | CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
       |FROM it JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
       |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.35""".stripMargin

  private lazy val lshVerifiedCore: String = lshVerifiedCoreOn("documents")

  /** doc_repetition body (no ORDER BY): per-doc token count, top-token
    * fraction and duplicate-trigram fraction — starts its own WITH, embed
    * inside a CTE body when composing.
    */
  private lazy val repetitionCore: String =
    """WITH l AS (
      | SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      | FROM documents),
      |tok AS (SELECT doc_id, unnest(toks) AS tok FROM l),
      |tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
      |mx AS (SELECT doc_id, max(c) AS max_c FROM tc GROUP BY 1),
      |tri AS (
      | SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS tri
      | FROM l, generate_series(1, 2048) t(i) WHERE i <= len(toks) - 2
      |  AND CASE WHEN len(toks) - 2 > 2048 THEN error('oracle trigram cap 2048 exceeded') ELSE true END),
      |ts AS (SELECT doc_id, count(*) AS n_tri, count(DISTINCT tri) AS n_dis FROM tri GROUP BY 1)
      |SELECT l.doc_id,
      | CAST(len(l.toks) AS BIGINT) AS n_toks,
      | CASE WHEN len(l.toks) = 0 THEN 0.0 ELSE mx.max_c::DOUBLE / len(l.toks) END AS top_tok_frac,
      | CASE WHEN coalesce(ts.n_tri, 0) = 0 THEN 0.0
      |  ELSE 1.0 - ts.n_dis::DOUBLE / ts.n_tri END AS dup_trigram_frac
      |FROM l LEFT JOIN mx USING (doc_id) LEFT JOIN ts USING (doc_id)""".stripMargin

  /** doc_quality_lang body (no ORDER BY) — also the stratum source of the
    * doc_quota oracle.
    */
  private lazy val docQualityCore: String = {
    def hits(words: Seq[String]) =
      s"CAST(len(list_filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)"
    val allWords = TextOps.stopwords.flatMap(_._2)
    val Seq(en, es, de, fr) = TextOps.stopwords.map(x => hits(x._2))
    s"""WITH b AS (
       | SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t <> '') AS toks,
       |  CAST(length(text) AS DOUBLE) AS len,
       |  CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
       |  CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) AS n_punct
       | FROM documents),
       |sc AS (
       | SELECT doc_id, len, n_alpha, n_punct,
       |  CAST(len(toks) AS DOUBLE) AS toks_n,
       |  $en AS s_en, $es AS s_es, $de AS s_de, $fr AS s_fr,
       |  ${hits(allWords)} AS s_all
       | FROM b)
       |SELECT doc_id,
       | CASE WHEN s_en + s_es + s_de + s_fr = 0 THEN 'und'
       |      WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
       |      WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
       |      WHEN s_de >= s_fr THEN 'de'
       |      ELSE 'fr' END AS lang_guess,
       | round(0.5 * (n_alpha / greatest(len, 1.0))
       |   + 0.2 * (CASE WHEN (len - (toks_n - 1)) / greatest(toks_n, 1.0) >= 3
       |                  AND (len - (toks_n - 1)) / greatest(toks_n, 1.0) <= 10 THEN 1.0 ELSE 0.0 END)
       |   + 0.3 * least((s_all / greatest(toks_n, 1.0)) * 3, 1.0)
       |   - 0.2 * (n_punct / greatest(len, 1.0)), 4) AS quality
       |FROM sc""".stripMargin
  }

  /** Shared CTE prefix of the merge-layer oracles: replays the synthetic
    * staging batch and all three MERGEs (provider insert-if-absent, product
    * hash-upsert, provider-product whole-row-winner upsert) in DuckDB SQL as
    * an independent implementation of Merge.scala's contract.
    */
  private lazy val mergeOracleCore: String =
    """src AS (
      | SELECT p_partkey AS pk, p_brand, p_size,
      |        CAST(p_retailprice AS DECIMAL(18,2)) AS rp
      | FROM part WHERE p_partkey <= 300),
      |stg AS (
      | SELECT pk,
      |  CASE WHEN pk % 37 = 0 THEN 'Proveedor Marca Especial'
      |       WHEN pk % 3 = 0 THEN upper('Proveedor ' || p_brand)
      |       WHEN pk % 3 = 1 THEN 'Proveedor ' || p_brand || '  '
      |       ELSE 'Proveedor ' || p_brand END AS provider_name,
      |  'Producto ' || p_brand || ' N' || CAST(pk % 6 AS VARCHAR) AS descr,
      |  CAST(p_size AS VARCHAR) AS measure,
      |  CASE pk % 4 WHEN 0 THEN 'g' WHEN 1 THEN 'G ' WHEN 2 THEN 'gr' ELSE 'ml' END AS unit,
      |  rp AS s_unit_price,
      |  CAST(rp + pk % 7 AS VARCHAR) AS price_s,
      |  CAST(pk % 5 AS VARCHAR) AS pkg_s,
      |  CAST((pk % 3) * 5 AS VARCHAR) AS iva_s,
      |  strftime(DATE '2024-01-01' + CAST(pk % 28 AS INTEGER), '%Y-%m-%d') AS review_s
      | FROM src),
      |seed_provider AS (
      | SELECT 1 AS id, 'Proveedor ' || p_brand AS name FROM src WHERE pk = 1
      | UNION ALL SELECT 2, 'Proveedor Legado' FROM src WHERE pk = 1),
      |seed_synonym AS (SELECT 'Proveedor Marca Especial' AS synonym, 1 AS provider_id),
      |prov_cand AS (
      | SELECT lower(rtrim(provider_name)) AS k, min(provider_name) AS name
      | FROM stg GROUP BY 1),
      |prov_novel AS (
      | SELECT k, name FROM prov_cand
      | WHERE k NOT IN (SELECT lower(rtrim(synonym)) FROM seed_synonym)
      |   AND k NOT IN (SELECT lower(rtrim(name)) FROM seed_provider)),
      |provider AS (
      | SELECT id, name FROM seed_provider
      | UNION ALL
      | SELECT 2 + row_number() OVER (ORDER BY k) AS id, name FROM prov_novel)""".stripMargin

  private lazy val mergeOracleFull: String =
    s"""$mergeOracleCore,
       |uom_staged AS (
       | SELECT lower(rtrim(unit)) AS k, min(unit) AS acronym
       | FROM stg WHERE unit IS NOT NULL GROUP BY 1),
       |uom_novel AS (
       | SELECT k, acronym FROM uom_staged
       | WHERE k NOT IN ('g', 'kg') AND k NOT IN ('gr')),
       |uom AS (
       | SELECT 1 AS id, 'g' AS acronym UNION ALL SELECT 2, 'kg'
       | UNION ALL SELECT 2 + row_number() OVER (ORDER BY k), acronym FROM uom_novel),
       |uom_lookup AS (
       | SELECT lower(rtrim(acronym)) AS k, id AS uom_id FROM uom
       | UNION ALL
       | SELECT 'gr', 1 WHERE 'gr' NOT IN (SELECT lower(rtrim(acronym)) FROM uom)),
       |prod_staged AS (
       | SELECT sha256(lower(rtrim(descr))) AS hash, min(descr) AS s_descr,
       |   min(measure) AS s_measure, min(unit) AS s_unit, min(s_unit_price) AS s_price
       | FROM stg WHERE descr IS NOT NULL GROUP BY 1),
       |prod_staged2 AS (
       | SELECT ps.hash, ps.s_descr, ps.s_measure, ps.s_price, ul.uom_id AS s_uom_id
       | FROM prod_staged ps LEFT JOIN uom_lookup ul ON lower(rtrim(ps.s_unit)) = ul.k),
       |seed_product AS (
       | SELECT 1 AS id, CAST(1.00 AS DECIMAL(18,2)) AS unit_price,
       |   'Producto ' || p_brand || ' N1' AS descr,
       |   CAST(NULL AS DECIMAL(18,2)) AS measure, 2 AS uom_id,
       |   sha256(lower(rtrim('Producto ' || p_brand || ' N1'))) AS hash
       | FROM src WHERE pk = 1
       | UNION ALL
       | SELECT 2, CAST(2.00 AS DECIMAL(18,2)), 'Producto Legado',
       |   CAST(NULL AS DECIMAL(18,2)), 2, sha256(lower(rtrim('Producto Legado')))
       | FROM src WHERE pk = 1),
       |prod_matched AS (
       | SELECT sp.id, coalesce(sp.unit_price, ps.s_price) AS unit_price, sp.descr,
       |   CASE WHEN ps.hash IS NOT NULL THEN TRY_CAST(ps.s_measure AS DECIMAL(18,2))
       |        ELSE sp.measure END AS measure,
       |   CASE WHEN ps.hash IS NOT NULL THEN coalesce(ps.s_uom_id, sp.uom_id)
       |        ELSE sp.uom_id END AS uom_id,
       |   ps.hash IS NOT NULL AS updated, sp.hash
       | FROM seed_product sp LEFT JOIN prod_staged2 ps ON ps.hash = sp.hash),
       |prod_novel AS (
       | SELECT * FROM prod_staged2 WHERE hash NOT IN (SELECT hash FROM seed_product)),
       |product AS (
       | SELECT id, unit_price, descr, measure, uom_id, updated, hash FROM prod_matched
       | UNION ALL
       | SELECT 2 + row_number() OVER (ORDER BY hash), s_price, s_descr,
       |   TRY_CAST(s_measure AS DECIMAL(18,2)), s_uom_id, false, hash
       | FROM prod_novel),
       |prov_lookup AS (
       | SELECT lower(rtrim(name)) AS k, id AS provider_id FROM provider
       | UNION ALL
       | SELECT lower(rtrim(synonym)), provider_id FROM seed_synonym
       | WHERE lower(rtrim(synonym)) NOT IN (SELECT lower(rtrim(name)) FROM provider)),
       |pp_resolved AS (
       | SELECT pl.provider_id, pr.id AS product_id,
       |   CAST(s.review_s AS DATE) AS dt,
       |   TRY_CAST(s.pkg_s AS INTEGER) AS pkg,
       |   TRY_CAST(s.iva_s AS DECIMAL(18,2)) AS iva,
       |   TRY_CAST(s.price_s AS DECIMAL(18,2)) AS price
       | FROM stg s
       | JOIN prov_lookup pl ON lower(rtrim(s.provider_name)) = pl.k
       | JOIN product pr ON sha256(lower(rtrim(s.descr))) = pr.hash),
       |pp_win AS (
       | SELECT provider_id, product_id, dt, pkg, iva, price FROM (
       |  SELECT *, row_number() OVER (PARTITION BY provider_id, product_id
       |    ORDER BY dt DESC NULLS LAST, price DESC NULLS LAST,
       |             pkg DESC NULLS LAST, iva DESC NULLS LAST) AS rn
       |  FROM pp_resolved) WHERE rn = 1),
       |seed_pp AS (
       | SELECT 1 AS id, 1 AS product_id, 1 AS provider_id, true AS is_validated,
       |   DATE '2019-01-01' AS dt, 99 AS pkg, CAST(0.00 AS DECIMAL(18,2)) AS iva,
       |   CAST(9.99 AS DECIMAL(18,2)) AS price),
       |pp_existing AS (
       | SELECT sp.id, sp.product_id, sp.provider_id, sp.is_validated,
       |   coalesce(w.dt, sp.dt) AS dt, coalesce(w.pkg, sp.pkg) AS pkg,
       |   coalesce(w.iva, sp.iva) AS iva, coalesce(w.price, sp.price) AS price
       | FROM seed_pp sp LEFT JOIN pp_win w
       |   ON w.provider_id = sp.provider_id AND w.product_id = sp.product_id),
       |pp_novel AS (
       | SELECT * FROM pp_win w WHERE NOT EXISTS (
       |   SELECT 1 FROM seed_pp sp
       |   WHERE sp.provider_id = w.provider_id AND sp.product_id = w.product_id)),
       |pp AS (
       | SELECT id, product_id, provider_id, is_validated, dt, pkg, iva, price
       | FROM pp_existing
       | UNION ALL
       | SELECT 1 + row_number() OVER (ORDER BY provider_id, product_id), product_id,
       |   provider_id, false, dt, pkg, iva, price
       | FROM pp_novel)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "etl_merge_endstate" ->
      s"""WITH $mergeOracleFull
         |SELECT CAST(pp.id AS BIGINT) AS pp_id,
         | CAST(pp.provider_id AS BIGINT) AS provider_id, pr.name AS provider_name,
         | CAST(pp.product_id AS BIGINT) AS product_id, pd.descr AS description,
         | CAST(pd.measure AS DOUBLE) AS measure, u.acronym AS uom,
         | CAST(pd.unit_price AS DOUBLE) AS unit_price, pd.updated AS product_updated,
         | pp.is_validated,
         | strftime(pp.dt, '%Y-%m-%d') AS last_review,
         | CAST(pp.pkg AS BIGINT) AS package_units,
         | CAST(pp.iva AS DOUBLE) AS iva, CAST(pp.price AS DOUBLE) AS price
         |FROM pp JOIN provider pr ON pp.provider_id = pr.id
         | JOIN product pd ON pp.product_id = pd.id
         | LEFT JOIN uom u ON pd.uom_id = u.id
         |ORDER BY pp_id""".stripMargin,

    "etl_merge_providers" ->
      s"""WITH $mergeOracleCore
         |SELECT CAST(id AS BIGINT) AS provider_id, name AS provider_name
         |FROM provider ORDER BY provider_id""".stripMargin,

    "dedup_components" -> componentsSql,

    // edge-set union is order-independent and the persisted state's lazy
    // merge journal resolves to min-id labels, so the incremental path
    // answers with the one-shot recursive-closure oracle verbatim
    "dedup_components_incremental" -> componentsSql,

    // stream → CDC windows → incremental graph composes the two proofs
    // above: streamed pairs ≡ full pairs, batched folds ≡ one-shot CC
    "dedup_stream_components" -> componentsSql,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
        | round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
        | round(CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_disc_price,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS avg_qty,
        | CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q2_filter_topk" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
        |  AND l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber LIMIT 500""".stripMargin,

    "q3_join_revenue" ->
      """SELECT r_name, n_name,
        | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue,
        | CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
        | CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q4_distinct" ->
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin,

    "q5_top_customers" ->
      """SELECT c_custkey, c_name,
        | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_spent,
        | CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1,2 ORDER BY total_spent DESC, c_custkey LIMIT 10""".stripMargin,

    "q6_window_rank" ->
      """SELECT c_nationkey, rnk, c_custkey, c_name, c_acctbal FROM (
        | SELECT c_nationkey, c_custkey, c_name, c_acctbal,
        |  row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rnk
        | FROM customer)
        |WHERE rnk <= 3 ORDER BY c_nationkey, rnk""".stripMargin,

    "q7_customers_without_orders" ->
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND CAST(o_orderdate AS DATE) < DATE '1995-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q8_merge_upsert" ->
      """WITH staged AS (
        | SELECT l_partkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS new_price,
        |  CAST(count(*) AS BIGINT) AS n_lines
        | FROM lineitem GROUP BY 1)
        |SELECT p_partkey, p_name,
        | coalesce(new_price, CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE)) AS merged_price,
        | new_price IS NOT NULL AS was_updated,
        | n_lines
        |FROM part LEFT JOIN staged ON p_partkey = l_partkey
        |ORDER BY p_partkey""".stripMargin,

    "q9_setops" ->
      """SELECT 'building_with_orders' AS grp, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'building_without_orders' AS grp, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT SELECT o_custkey FROM orders)
        |ORDER BY grp""".stripMargin,

    "q10_events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        | CAST(count(*) AS BIGINT) AS n_events,
        | round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    // the streamed hourly agg accumulates EXACTLY the batch result — same
    // SQL as q10_events_hourly minus the distinct-count (not streamable)
    "q10_stream" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        | CAST(count(*) AS BIGINT) AS n_events,
        | round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q11_sessionize" ->
      """WITH g AS (
        | SELECT user_id, epoch_us(ts) AS us,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        | FROM events)
        |SELECT user_id,
        | CAST(sum(CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        | CAST(count(*) AS BIGINT) AS n_events
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    // streamed stateful sessions == the batch window answer (time-ordered
    // chunked arrival; same SQL as q11_sessionize)
    "q11_stream" ->
      """WITH g AS (
        | SELECT user_id, epoch_us(ts) AS us,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        | FROM events)
        |SELECT user_id,
        | CAST(sum(CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        | CAST(count(*) AS BIGINT) AS n_events
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    "q13_conditional_agg" ->
      """WITH j AS (
        | SELECT p_type, p_brand,
        |  CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6)) AS rev
        | FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT p_type,
        | CAST(sum(CASE WHEN p_brand = 'Brand#1' THEN rev ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
        |   / CAST(sum(rev) AS DOUBLE) AS brand1_share,
        | CAST(count(*) AS BIGINT) AS n_lines
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "q14_above_avg_orders" ->
      """WITH a AS (
        | SELECT o_custkey AS k,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS avg_price
        | FROM orders GROUP BY 1)
        |SELECT c_mktsegment,
        | CAST(count(*) AS BIGINT) AS n_above,
        | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS above_revenue
        |FROM orders JOIN a ON o_custkey = a.k
        | JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > avg_price * 1.5
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q15_asof_attribution" ->
      """WITH p AS (
        | SELECT user_id, epoch_us(ts) AS us, value FROM events WHERE event_type = 'purchase'),
        |c AS (
        | SELECT user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'click'),
        |j AS (
        | SELECT CASE WHEN c.us IS NULL THEN CAST(-1 AS BIGINT)
        |             ELSE (p.us - c.us) // 60000000 END AS gap_min, p.value
        | FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.us >= c.us)
        |SELECT gap_min,
        | CAST(count(*) AS BIGINT) AS n_purchases,
        | round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS attributed_value
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    // the bucketed form must agree with the window form exactly
    "q15b_asof_bucketed" ->
      """WITH p AS (
        | SELECT user_id, epoch_us(ts) AS us, value FROM events WHERE event_type = 'purchase'),
        |c AS (
        | SELECT user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'click'),
        |j AS (
        | SELECT CASE WHEN c.us IS NULL THEN CAST(-1 AS BIGINT)
        |             ELSE (p.us - c.us) // 60000000 END AS gap_min, p.value
        | FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.us >= c.us)
        |SELECT gap_min,
        | CAST(count(*) AS BIGINT) AS n_purchases,
        | round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS attributed_value
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "q16_range_pairs" ->
      """WITH e AS (
        | SELECT user_id, epoch_us(ts) AS us, event_type FROM events)
        |SELECT a.event_type AS a_type, b.event_type AS b_type,
        | CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(sum(b.us - a.us) AS DOUBLE) / count(*) AS avg_gap_us
        |FROM e a JOIN e b
        | ON a.user_id = b.user_id AND b.us > a.us AND b.us <= a.us + 300000000
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the salted join is semantically the plain inner join
    "q17_salted_agg" ->
      """SELECT s_nationkey,
        | round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
        | CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey
        |ORDER BY s_nationkey""".stripMargin,

    "q20_interval_join" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |iv AS (SELECT user_id, event_id AS campaign_id, us AS s, us + 2700000000 AS e
        |       FROM ev WHERE event_id % 10 = 0)
        |SELECT ev.event_id, iv.campaign_id
        |FROM ev JOIN iv ON ev.user_id = iv.user_id AND ev.us >= iv.s AND ev.us < iv.e
        |ORDER BY event_id, campaign_id""".stripMargin,

    // the stream-stream attribution join drains to exactly the batch
    // interval join (replay watermarks keep every row live) — q20's oracle
    "q22_attribution_stream" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |iv AS (SELECT user_id, event_id AS campaign_id, us AS s, us + 2700000000 AS e
        |       FROM ev WHERE event_id % 10 = 0)
        |SELECT ev.event_id, iv.campaign_id
        |FROM ev JOIN iv ON ev.user_id = iv.user_id AND ev.us >= iv.s AND ev.us < iv.e
        |ORDER BY event_id, campaign_id""".stripMargin,

    // exact distinct-user overlap between the event halves (the query
    // already proved the theta estimates track these within 6%)
    "q23_user_overlap_sketch" ->
      """WITH m AS (SELECT max(event_id) // 2 AS mid FROM events),
        | a AS (SELECT DISTINCT user_id FROM events, m WHERE event_id <= m.mid),
        | b AS (SELECT DISTINCT user_id FROM events, m WHERE event_id > m.mid)
        |SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS n_a,
        | CAST((SELECT count(*) FROM b) AS BIGINT) AS n_b,
        | CAST((SELECT count(*) FROM a JOIN b USING (user_id)) AS BIGINT) AS n_inter,
        | CAST((SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM b)) AS BIGINT) AS n_union""".stripMargin,

    // the identical integer shift/mask formula, emitted by the SAME code
    // path the engine sorts by (Layout.zvalueSql) — DuckDB's epoch_us//1e6
    // ≡ Spark's ts DIV 1e9 on the raw int64-nanos column
    "q21_zvalue" ->
      s"""SELECT event_id,
         | ${operators.Layout.zvalueSql("user_id", 0L, 0,
             "epoch_us(ts) // 1000000", 1704067200L, 6, bits = 16)} AS zval
         |FROM events ORDER BY zval, event_id LIMIT 50""".stripMargin,

    "q18_percentiles" ->
      """SELECT l_returnflag,
        | quantile_cont(l_extendedprice, 0.25) AS p25,
        | quantile_cont(l_extendedprice, 0.5) AS p50,
        | quantile_cont(l_extendedprice, 0.9) AS p90,
        | CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "etl_clean" ->
      """WITH base AS (
        | SELECT p_partkey, p_name, p_retailprice,
        |  p_name || ' ' || CAST(p_size AS VARCHAR) || 'g x ' ||
        |    CAST(p_partkey % 24 + 1 AS VARCHAR) || ' (G' || CAST(p_partkey % 19 + 1 AS VARCHAR) || ')' AS producto,
        |  '$ ' || CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS VARCHAR) AS precio,
        |  strftime(DATE '2024-01-01' + p_size, '%Y-%m-%d') AS expected_date
        | FROM part)
        |SELECT p_partkey,
        | array_to_string(list_transform(string_split(p_name, ' '), w -> upper(w[1]) || w[2:]), ' ') AS clean_name,
        | nullif(regexp_extract(producto, '(\d+\.?\d*)\s*([a-zA-Z]{1,3})', 1), '') AS measure,
        | lower(nullif(regexp_extract(producto, '(\d+\.?\d*)\s*([a-zA-Z]{1,3})', 2), '')) AS unit,
        | nullif(regexp_extract(producto, '[x]\s*(\d+)', 1), '') AS package_units,
        | TRY_CAST(nullif(regexp_extract(producto, '\(\s*[Gg]\s*(\d+)\s*\)', 1), '') AS BIGINT) AS iva,
        | CAST(TRY_CAST(regexp_replace(precio, '[.,$ ]', '', 'g') AS DECIMAL(18,2)) AS DOUBLE) AS clean_price,
        | expected_date AS clean_date
        |FROM base ORDER BY p_partkey""".stripMargin,

    "etl_clean2" ->
      """WITH base AS (
        | SELECT p_partkey,
        |  p_name || ' ' || CAST(p_size AS VARCHAR) || 'g x ' ||
        |    CAST(p_partkey % 24 + 1 AS VARCHAR) AS producto,
        |  CASE WHEN p_partkey % 7 = 0 THEN NULL
        |       WHEN p_partkey % 5 = 0 THEN 'N/A'
        |       ELSE '$ ' || CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS VARCHAR) END AS precio
        | FROM part),
        |c AS (
        | SELECT *, TRY_CAST(regexp_replace(precio, '[.,$ ]', '', 'g') AS DECIMAL(18,2)) AS clean
        | FROM base)
        |SELECT p_partkey,
        | regexp_replace(producto, '[x]\s*(\d+)', '', 'g') AS no_pkg,
        | coalesce(precio, 'nan') AS raw_precio,
        | CAST(clean AS DOUBLE) AS clean_price,
        | (precio IS NOT NULL AND clean IS NOT NULL) AS is_valid_price
        |FROM c ORDER BY p_partkey""".stripMargin,

    "etl_headers" ->
      """SELECT * FROM (VALUES
        | ('exact', true, '', '', 'Description,LastReviewDt,ProviderName,Price,PercentageIVA'),
        | ('missing_price', false, 'Precio', '', 'Description,LastReviewDt,ProviderName,PercentageIVA'),
        | ('padded_extra', true, '', 'Nota', ' Producto,LastReviewDt,ProviderName,Price,PercentageIVA,Nota'),
        | ('real_file', false, 'Fecha', 'Fecha 1,_c5,_c6', 'Description,LastReviewDt,ProviderName,Price,PercentageIVA')
        |) AS t(case_id, ok, missing, extra, canonical) ORDER BY case_id""".stripMargin,

    // literal expected rows: the ledger lifecycle is a state machine over
    // side effects, not a relational computation — the oracle pins its
    // end state (skip-if-done mints no row 4; failed b.csv retries as row 3)
    "etl_ledger" ->
      """SELECT CAST(attempt_id AS BIGINT) AS attempt_id, container, file_name,
        | CAST(status_id AS BIGINT) AS status_id
        |FROM (VALUES
        | (1, 'products', 'a.csv', 3),
        | (2, 'products', 'b.csv', 4),
        | (3, 'products', 'b.csv', 3))
        | AS t(attempt_id, container, file_name, status_id)
        |ORDER BY attempt_id""".stripMargin,

    // literal expected rows, each hand-derived from the reference's rules:
    // dot-thousands prices, dayfirst + English-month fuzzy dates, G-code IVA,
    // camel-split provider names (trailing space preserved — only the merge
    // KEY is rtrimmed), Python str.title() casing, N/A -> null + invalid
    "etl_invoice" ->
      """SELECT raw_desc, clean_desc, CAST(measure AS DOUBLE) AS measure, unit,
        | CAST(package_units AS BIGINT) AS package_units, CAST(iva AS BIGINT) AS iva,
        | raw_price, CAST(clean_price AS DOUBLE) AS clean_price, is_valid_price,
        | provider, clean_date
        |FROM (VALUES
        | ('Aceite Capullo 500ml x 12 (G13)', 'Aceite Capullo 500Ml X 12 (G13)',
        |  500.0, 'ml', 12, 13, '$ 1.347', 1347.0, true, 'Dos Pinos', '2025-03-07'),
        | ('MINI PAPA KITTY 1X30(G1)', 'Mini Papa Kitty 1X30(G1)',
        |  1.0, 'x', NULL, 1, 'N/A', NULL, false, 'La Favorita', '2025-04-07'),
        | ('Queso Tierno 400g', 'Queso Tierno 400G',
        |  400.0, 'g', NULL, NULL, '2.600', 2600.0, true, 'Serrano ', '2025-04-23'))
        | AS t(raw_desc, clean_desc, measure, unit, package_units, iva,
        |      raw_price, clean_price, is_valid_price, provider, clean_date)
        |ORDER BY clean_desc""".stripMargin,

    // literal expected rows: the persisted artifact is the RAW extracted
    // table (no transforms — typing happens downstream), so the oracle pins
    // exact cell text including '$ 1.347', 'N/A' and 'Serrano ' (trailing
    // space survives the round trip)
    "etl_invoice_persist" ->
      """SELECT producto, fecha, provedor, precio,
        | CAST(n_products AS BIGINT) AS n_products, csv_name
        |FROM (VALUES
        | ('Aceite Capullo 500ml x 12 (G13)', '07/03/2025', 'DosPinos', '$ 1.347',
        |  3, 'invoice_extracted.csv'),
        | ('MINI PAPA KITTY 1X30(G1)', 'April 7 2025', 'La Favorita', 'N/A',
        |  3, 'invoice_extracted.csv'),
        | ('Queso Tierno 400g', '23/04/2025', 'Serrano ', '2.600',
        |  3, 'invoice_extracted.csv'))
        | AS t(producto, fecha, provedor, precio, n_products, csv_name)
        |ORDER BY producto""".stripMargin,

    // literal expected rows: missing required header ⇒ rejected + not
    // stored; extra header ⇒ warned + stored; exact ⇒ stored
    "etl_validate" ->
      """SELECT case_id, accepted, message, stored FROM (VALUES
        | ('extra_ignored', true, 'Extra columns ignored: Nota', true),
        | ('missing_price', false, 'Missing required columns: Precio', false),
        | ('ok', true, 'Stored ok.csv', true))
        | AS t(case_id, accepted, message, stored)
        |ORDER BY case_id""".stripMargin,

    // the canned ledger batch stages 2 distinct providers, 2 products and
    // 2 provider_product links
    "etl_staging_counts" ->
      """SELECT CAST(n_providers AS BIGINT) AS n_providers,
        | CAST(n_products AS BIGINT) AS n_products,
        | CAST(n_provider_products AS BIGINT) AS n_provider_products
        |FROM (VALUES (2, 2, 2))
        | AS t(n_providers, n_products, n_provider_products)
        |ORDER BY n_providers""".stripMargin,

    "etl_status_dim" ->
      """SELECT CAST(status_id AS BIGINT) AS status_id, status_name
        |FROM (VALUES (1, 'not_seen'), (2, 'in_progress'),
        |             (3, 'success'), (4, 'failed'))
        | AS t(status_id, status_name)
        |ORDER BY status_id""".stripMargin,

    "etl_warehouse_props" ->
      """SELECT tbl, exists_before, exists_after_write,
        | CAST(rows_after_append1 AS BIGINT) AS rows_after_append1,
        | CAST(rows_after_append2 AS BIGINT) AS rows_after_append2,
        | exists_after_delete
        |FROM (VALUES ('t', false, true, 1, 2, false))
        | AS t(tbl, exists_before, exists_after_write,
        |      rows_after_append1, rows_after_append2, exists_after_delete)
        |ORDER BY tbl""".stripMargin,

    // SCD2 history reconstructed from the raw batches: LAG-dedup keeps only
    // real transitions, LEAD supplies each window's close. Shared verbatim
    // by etl_scd2_lifecycle: the warehouse lifecycle persists the SAME fold
    "etl_scd2" -> scd2Sql,
    "etl_scd2_lifecycle" -> scd2Sql,
    // the streamed history is the same fold applied per micro-batch in
    // arrival order (ledgered replays no-op), so the oracle is again shared
    "etl_scd2_stream" -> scd2Sql,

    // four measured windows: three delta-only ingest thirds, then the
    // cleanup replace's REBASE over the full as-of state. Window version
    // numbers interleave with the monitor's own report commits (append v1,
    // report v2, append v3, ... replace v7): from = 0 then 2w-1, to = 2w+1
    "etl_quality_monitor" ->
      """WITH src AS (
        | SELECT 0 AS win, * FROM orders WHERE o_orderkey % 3 = 0
        | UNION ALL SELECT 1, * FROM orders WHERE o_orderkey % 3 = 1
        | UNION ALL SELECT 2, * FROM orders WHERE o_orderkey % 3 = 2
        | UNION ALL SELECT 3, * FROM orders WHERE o_orderkey % 3 <= 1),
        |agg AS (
        | SELECT win, count(*) AS total,
        |  count(*) FILTER (WHERE o_custkey IS NULL) AS v0,
        |  count(*) FILTER (WHERE o_totalprice IS NOT NULL
        |    AND (o_totalprice < 0 OR o_totalprice > 100000)) AS v1,
        |  count(*) FILTER (WHERE o_orderstatus IS NOT NULL
        |    AND o_orderstatus NOT IN ('O', 'F')) AS v2
        | FROM src GROUP BY win),
        |rules AS (SELECT * FROM (VALUES
        |  (0, 'not_null', 'o_custkey'),
        |  (1, 'in_range', 'o_totalprice'),
        |  (2, 'in_set', 'o_orderstatus')) t(rule_id, rule, target)),
        |rep AS (
        | SELECT a.win, r.rule_id, r.rule, r.target,
        |  CASE r.rule_id WHEN 0 THEN a.v0 WHEN 1 THEN a.v1 ELSE a.v2 END AS violations,
        |  a.total
        | FROM agg a CROSS JOIN rules r)
        |SELECT CAST(CASE WHEN win = 0 THEN 0 ELSE 2 * win - 1 END AS BIGINT) AS from_version,
        | CAST(2 * win + 1 AS BIGINT) AS to_version,
        | win = 3 AS rebase, CAST(rule_id AS BIGINT) AS rule_id, rule, target,
        | CAST(violations AS BIGINT) AS violations, CAST(total AS BIGINT) AS total,
        | violations = 0 AS pass
        |FROM rep
        |ORDER BY to_version, rule_id""".stripMargin,

    // each expectation rule restated as its SQL count; pass = zero
    // violations. Null semantics per the operator: range/set/pattern skip
    // nulls (NotNull's job), FK probes non-null values only
    "etl_expectations" ->
      """WITH t AS (SELECT count(*) AS n FROM orders),
        |r AS (
        | SELECT CAST(0 AS BIGINT) AS rule_id, 'not_null' AS rule, 'o_custkey' AS target,
        |  (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS violations
        | UNION ALL
        | SELECT 1, 'unique', 'o_orderkey',
        |  (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
        | UNION ALL
        | SELECT 2, 'ref_in', 'o_custkey',
        |  (SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        | UNION ALL
        | SELECT 3, 'in_range', 'o_totalprice',
        |  (SELECT count(*) FROM orders WHERE o_totalprice IS NOT NULL
        |    AND (o_totalprice < 0 OR o_totalprice > 100000))
        | UNION ALL
        | SELECT 4, 'in_set', 'o_orderstatus',
        |  (SELECT count(*) FROM orders WHERE o_orderstatus IS NOT NULL
        |    AND o_orderstatus NOT IN ('O', 'F'))
        | UNION ALL
        | SELECT 5, 'matches', 'o_orderpriority',
        |  (SELECT count(*) FROM orders WHERE o_orderpriority IS NOT NULL
        |    AND NOT regexp_matches(o_orderpriority, '^[1-5]-.*')))
        |SELECT r.rule_id, r.rule, r.target, CAST(r.violations AS BIGINT) AS violations,
        | CAST(t.n AS BIGINT) AS total, r.violations = 0 AS pass
        |FROM r, t
        |ORDER BY rule_id""".stripMargin,

    // split membership = md5 of the id's decimal string, first 15 hex chars
    // as a 60-bit int, mod 100 into cumulative 80/10/10 ranges — the
    // simhash/md5Long convention restated
    "doc_split" ->
      """SELECT doc_id,
        | CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
        | FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // add-column evolution: rows landed before the wider write null-fill
    // the added column; the v1 as-of read keeps its era's 2-column shape
    // (restated as the literal column list)
    "etl_schema_evolution" ->
      """SELECT n_nationkey, n_name,
        | CASE WHEN n_nationkey < 10 THEN NULL ELSE n_regionkey END AS n_regionkey,
        | 'n_nationkey,n_name' AS asof1_cols
        |FROM nation
        |ORDER BY n_nationkey""".stripMargin,

    // drop without rewrite: the narrow live shape over both eras, the v1
    // as-of read keeping its era's 3-column shape (literal column list)
    "etl_drop_column" ->
      """SELECT n_nationkey, n_name,
        | 'n_nationkey,n_name,n_regionkey' AS asof1_cols
        |FROM nation
        |ORDER BY n_nationkey""".stripMargin,

    // rename without rewrite: both eras' rows under the renamed column,
    // the v1 as-of read keeping its era's name (literal column list)
    "etl_rename_column" ->
      """SELECT n_nationkey, n_name AS nation_name,
        | 'n_nationkey,n_name' AS asof1_cols
        |FROM nation
        |ORDER BY n_nationkey""".stripMargin,

    // manifest data skipping over the 4-band layout: the oracle pins BOTH
    // the pruning decision (1 band file kept, 3 skipped — literals) and the
    // scan's rows (a plain range filter over the raw table)
    "etl_skipping_scan" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders)
        |SELECT 1 AS files_kept, 3 AS files_skipped,
        | count(*) AS n,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders, m
        |WHERE o_orderkey >= m.q AND o_orderkey < m.q * 2
        |ORDER BY n""".stripMargin,

    // SQL catalog band scan: same pruning literals and range aggregate as
    // etl_skipping_scan — the decision AND the rows, issued via spark.sql
    "etl_sql_catalog" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders)
        |SELECT 1 AS files_kept, 3 AS files_skipped,
        | count(*) AS n,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders, m
        |WHERE o_orderkey >= m.q AND o_orderkey < m.q * 2
        |ORDER BY n""".stripMargin,

    // SQL DML composition: the INSERT's source scan kept 1 of 4 band files
    // (literals); live state = orders ∪ the low slice, minus every %101
    // key (the DV kills BOTH copies); before_n = the pre-DML table
    "etl_sql_dml" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders),
        | base AS (SELECT o_orderkey FROM orders
        |   UNION ALL SELECT o_orderkey FROM orders, m WHERE o_orderkey < m.q // 4),
        | live AS (SELECT o_orderkey FROM base WHERE o_orderkey % 101 <> 0)
        |SELECT 1 AS ins_kept, 3 AS ins_skipped,
        | CAST((SELECT count(*) FROM live) AS BIGINT) AS n,
        | CAST((SELECT sum(o_orderkey) FROM live) AS BIGINT) AS key_sum,
        | CAST((SELECT count(*) FROM orders) AS BIGINT) AS before_n
        |ORDER BY n""".stripMargin,

    // SQL ALTER TABLE: rename + widen + add column are metadata-only; the
    // pre-evolution rows null-fill the added column, the post-evolution
    // INSERT lands all three, the CHECK added through SQL refused the
    // violating INSERT (refused literal TRUE, count unchanged)
    "etl_sql_alter" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        | n_name AS nation_name, CAST(NULL AS VARCHAR) AS flag,
        | TRUE AS refused
        |FROM nation
        |UNION ALL
        |SELECT 900, 'NEWLAND', 'x', TRUE
        |UNION ALL
        |SELECT 901, 'RENAMELAND', 'z', TRUE
        |ORDER BY n_nationkey""".stripMargin,

    // SQL maintenance: optimize compacted all 4 band files into one
    // (routing literals), history saw 4 appends + 1 compact with monotone
    // recorded commit clocks, restore rewound to the first band's rows
    "etl_sql_maintenance" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders)
        |SELECT 4 AS files_rewritten, 0 AS files_untouched, 5 AS hist_n,
        | TRUE AS ts_monotone,
        | CAST((SELECT count(*) FROM orders) AS BIGINT) AS live_n,
        | CAST((SELECT count(*) FROM orders, m WHERE o_orderkey < m.q) AS BIGINT)
        |   AS restored_n
        |ORDER BY live_n""".stripMargin,

    // CDF streaming source: the four appends stream as inserts, the
    // scattered delete's slice as its delete rows
    "etl_stream_changes" ->
      """SELECT * FROM (
        | SELECT 'delete' AS _change_type,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        | FROM orders WHERE o_orderkey % 101 = 0
        | UNION ALL
        | SELECT 'insert', CAST(count(*) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT)
        | FROM orders
        |) ORDER BY _change_type""".stripMargin,

    // streaming sink: all four bands landed exactly once despite two
    // replays (skipped literals), and the source→foreachBatch(appendOnce)
    // mirror carries the identical rows
    "etl_stream_sink" ->
      """SELECT TRUE AS replay1_skipped, TRUE AS replay0_skipped,
        | CAST(count(*) AS BIGINT) AS src_n,
        | CAST(sum(o_orderkey) AS BIGINT) AS src_key_sum,
        | CAST(count(*) AS BIGINT) AS sink_n,
        | CAST(sum(o_orderkey) AS BIGINT) AS sink_key_sum
        |FROM orders
        |ORDER BY src_n""".stripMargin,

    // V2 table-sink mirror: sink ≡ source ≡ orders; the injected replay
    // at the committed high-water contributed nothing
    "etl_stream_sink_table" ->
      """SELECT TRUE AS replay_skipped,
        | CAST(count(*) AS BIGINT) AS src_n,
        | CAST(sum(o_orderkey) AS BIGINT) AS src_key_sum,
        | CAST(count(*) AS BIGINT) AS sink_n,
        | CAST(sum(o_orderkey) AS BIGINT) AS sink_key_sum
        |FROM orders
        |ORDER BY src_n""".stripMargin,

    // rate-limited genesis replay: the sink accumulates exactly orders
    // (any dropped or doubled file breaks count/sum), in exactly
    // ceil(8 files / cap 2) data-bearing batches, with planning reading
    // only the manifest
    "etl_stream_backlog" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        | TRUE AS rate_limited,
        | CAST(0 AS BIGINT) AS plan_fs_calls
        |FROM orders
        |ORDER BY n""".stripMargin,

    // streaming source: phase 1 replayed the whole table (4 bands), the
    // checkpoint resume appended exactly the extra low slice — counts and
    // key sums restate both phases; any replay would break the totals
    "etl_stream_table" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders),
        | extra AS (SELECT o_orderkey FROM orders, m WHERE o_orderkey < m.q // 4)
        |SELECT CAST((SELECT count(*) FROM orders) AS BIGINT) AS phase1_n,
        | CAST((SELECT count(*) FROM orders) +
        |   (SELECT count(*) FROM extra) AS BIGINT) AS n,
        | CAST((SELECT sum(o_orderkey) FROM orders) +
        |   (SELECT sum(o_orderkey) FROM extra) AS BIGINT) AS key_sum
        |ORDER BY n""".stripMargin,

    // SQL DML fallback (conditions outside the FilePred algebra): DELETE
    // keeps rows where the condition is false or NULL (three-valued), the
    // UPDATE's CASE mirrors the engine's when(hit)-otherwise rewrite
    "etl_sql_dml_fallback" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders),
        | after_del AS (SELECT * FROM orders, m
        |   WHERE NOT COALESCE(o_orderkey >= m.q * 3
        |     AND o_orderpriority LIKE '%URGENT%', FALSE)),
        | fin AS (SELECT o_orderkey,
        |   CASE WHEN COALESCE(o_orderpriority LIKE '1%', FALSE)
        |     THEN lower(o_orderstatus) ELSE o_orderstatus END AS st
        |  FROM after_del)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        | CAST(count(CASE WHEN st = lower(st) THEN 1 END) AS BIGINT) AS lowered_n
        |FROM fin
        |ORDER BY n""".stripMargin,

    // DELETE WHERE second-quartile band: deleted count, post-delete
    // aggregate, and the as-of pre-delete aggregate, all from the raw table
    "etl_delete_where" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders),
        | del AS (SELECT count(*) AS d FROM orders, m
        |         WHERE o_orderkey >= m.q AND o_orderkey < m.q * 2)
        |SELECT CAST(del.d AS BIGINT) AS deleted,
        | CAST((SELECT count(*) FROM orders) - del.d AS BIGINT) AS after_n,
        | CAST((SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |       FROM orders, m
        |       WHERE NOT (o_orderkey >= m.q AND o_orderkey < m.q * 2)) AS BIGINT) AS after_cents,
        | CAST((SELECT count(*) FROM orders) AS BIGINT) AS before_n,
        | CAST((SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |       FROM orders) AS BIGINT) AS before_cents
        |FROM del
        |ORDER BY deleted""".stripMargin,

    // metadata-assisted COUNT over the band layout: exact count for the
    // straddling range + the literal metadata/read/skip file routing
    // (band 1 fully included → counted from the manifest, band 0 boundary
    // → read, bands 2-3 excluded)
    "etl_stats_count" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders)
        |SELECT count(*) AS n,
        | 1 AS files_meta, 1 AS files_read, 2 AS files_skipped
        |FROM orders, m
        |WHERE o_orderkey >= m.q // 2 AND o_orderkey < m.q * 2
        |ORDER BY n""".stripMargin,

    // streaming CDC apply, restated key-for-key: %10 keys end at +500
    // (batch 3 re-upsert, resurrecting deleted evens), other %5 keys stay
    // deleted, other %4 keys at +100, the rest untouched
    "etl_apply_changes_stream" ->
      """SELECT s_suppkey,
        | CAST(CASE WHEN s_suppkey % 10 = 0 THEN s_nationkey + 500
        |      WHEN s_suppkey % 4 = 0 THEN s_nationkey + 100
        |      ELSE s_nationkey END AS BIGINT) AS attr
        |FROM supplier
        |WHERE NOT (s_suppkey % 5 = 0 AND s_suppkey % 10 <> 0)
        |ORDER BY s_suppkey""".stripMargin,

    // the shuffled/replayed application must converge to the SAME state as
    // the ordered feed — identical restatement by construction
    "etl_apply_changes_unordered" ->
      """SELECT s_suppkey,
        | CAST(CASE WHEN s_suppkey % 10 = 0 THEN s_nationkey + 500
        |      WHEN s_suppkey % 4 = 0 THEN s_nationkey + 100
        |      ELSE s_nationkey END AS BIGINT) AS attr
        |FROM supplier
        |WHERE NOT (s_suppkey % 5 = 0 AND s_suppkey % 10 <> 0)
        |ORDER BY s_suppkey""".stripMargin,

    // MERGE INTO over the band layout: per-clause counts, the 3-of-4-file
    // rewrite routing, and the merged end state (q2 non-P doubled, q2 P
    // deleted, low-quartile rows re-keyed beyond the range inserted)
    "etl_merge_into" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders),
        | upd AS (SELECT count(*) FILTER (WHERE o_orderstatus <> 'P') AS u,
        |                count(*) FILTER (WHERE o_orderstatus = 'P') AS d
        |         FROM orders, m
        |         WHERE o_orderkey >= m.q AND o_orderkey < m.q * 2 AND o_orderkey % 16 = 0),
        | ins AS (SELECT count(*) AS i FROM orders, m
        |         WHERE o_orderkey < m.q // 2 AND o_orderkey % 16 = 0),
        | endstate AS (
        |   SELECT CASE WHEN o_orderkey >= m.q AND o_orderkey < m.q * 2 AND o_orderkey % 16 = 0
        |           THEN o_totalprice * 2 ELSE o_totalprice END AS p
        |   FROM orders, m
        |   WHERE NOT (o_orderkey >= m.q AND o_orderkey < m.q * 2
        |              AND o_orderkey % 16 = 0 AND o_orderstatus = 'P')
        |   UNION ALL
        |   SELECT o_totalprice AS p FROM orders, m
        |   WHERE o_orderkey < m.q // 2 AND o_orderkey % 16 = 0)
        |SELECT CAST(upd.u AS BIGINT) AS updated, CAST(upd.d AS BIGINT) AS deleted,
        | CAST(ins.i AS BIGINT) AS inserted,
        | 1 AS files_rewritten, 3 AS files_untouched,
        | (SELECT count(*) FROM endstate) AS n,
        | (SELECT CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) FROM endstate) AS cents
        |FROM upd, ins
        |ORDER BY n""".stripMargin,

    // dictionary value sets: equality scan pruned to the one P file,
    // IN-list count answered from metadata for both matching files (the
    // key ranges overlap — bounds could not have pruned any of this)
    "etl_valueset_scan" ->
      """SELECT 1 AS files_kept, 2 AS files_skipped,
        | (SELECT count(*) FROM orders WHERE o_orderstatus = 'P') AS p_rows,
        | (SELECT count(*) FROM orders WHERE o_orderstatus IN ('P','F')) AS pf_rows,
        | 2 AS pf_meta, 0 AS pf_read, 1 AS pf_skipped
        |ORDER BY p_rows""".stripMargin,

    // Bloom point lookups over the hash-banded layout: per-probe row count
    // and cents restated exactly (LEFT JOIN keeps the absent probe as
    // n=0/cents=-1); the routing claim is the tolerant "majority of files
    // skipped", TRUE for every probe at fpp 1e-4
    "etl_bloom_lookup" ->
      """WITH mins AS (
        |  SELECT min(o_orderkey) AS k FROM orders GROUP BY o_orderkey % 4
        |  HAVING o_orderkey % 4 < 3),
        | probes AS (SELECT k FROM mins
        |   UNION ALL SELECT max(o_orderkey) + 101 FROM orders)
        |SELECT p.k AS k, count(o.o_orderkey) AS n,
        | coalesce(CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT), -1) AS cents,
        | TRUE AS pruned_majority
        |FROM probes p LEFT JOIN orders o ON o.o_orderkey = p.k
        |GROUP BY p.k
        |ORDER BY k""".stripMargin,

    // metadata-only MIN/MAX: both extremes of the long and double columns
    // from manifest stats alone — zero files read, all four band files
    // answered from metadata
    "etl_stats_minmax" ->
      """SELECT min(o_orderkey) AS key_min, max(o_orderkey) AS key_max,
        | min(o_totalprice) AS price_min, max(o_totalprice) AS price_max,
        | 0 AS files_read, 4 AS files_meta
        |FROM orders
        |ORDER BY key_min""".stripMargin,

    // replica end state ≡ the source's post-DML rows: outside the deleted
    // range, off the %101 purge, first-half-quartile prices doubled
    "etl_replicate" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders),
        | final AS (
        |   SELECT o_orderstatus, o_orderkey,
        |     CASE WHEN o_orderkey < m.q // 2 THEN o_totalprice * 2
        |          ELSE o_totalprice END AS p
        |   FROM orders, m
        |   WHERE NOT (o_orderkey >= m.q AND o_orderkey < m.q * 3 // 2)
        |     AND o_orderkey % 101 <> 0)
        |SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        | CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM final
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // same final state as etl_replicate — the pre-feed update is baked
    // into the seed snapshot instead of replicated — plus the genesis
    // refusal flag
    "etl_replicate_seed" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders),
        | final AS (
        |   SELECT o_orderstatus, o_orderkey,
        |     CASE WHEN o_orderkey < m.q // 2 THEN o_totalprice * 2
        |          ELSE o_totalprice END AS p
        |   FROM orders, m
        |   WHERE NOT (o_orderkey >= m.q AND o_orderkey < m.q * 3 // 2)
        |     AND o_orderkey % 101 <> 0)
        |SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        | CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS cents,
        | TRUE AS refused_genesis
        |FROM final
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // small-file bin-packing: 6 tiny leftovers merged into one file beside
    // the untouched big one (literals); row multiplicity = 1 + the number
    // of leftovers long enough to include the key's rank (rank r picks up
    // max(0, min(6, 16 - r)) extra copies)
    "etl_compact_small" ->
      """WITH ranked AS (
        |  SELECT o_totalprice,
        |    row_number() OVER (ORDER BY o_orderkey) AS r
        |  FROM orders),
        | w AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |   1 + greatest(0, least(6, 16 - r)) AS mult FROM ranked)
        |SELECT 6 AS files_rewritten, 1 AS files_untouched, 2 AS files_after,
        | CAST(sum(mult) AS BIGINT) AS n,
        | CAST(sum(mult * cents) AS BIGINT) AS cents
        |FROM w
        |ORDER BY n""".stripMargin,

    // retraction IVM end state: the kept rows are everything outside the
    // deleted range and off the %101 purge, first-half-quartile prices
    // doubled; grouped by status with exact-cents sums
    "etl_mv_retraction" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders),
        | final AS (
        |   SELECT o_orderstatus,
        |     CASE WHEN o_orderkey < m.q // 2 THEN o_totalprice * 2
        |          ELSE o_totalprice END AS p
        |   FROM orders, m
        |   WHERE NOT (o_orderkey >= m.q AND o_orderkey < m.q * 3 // 2)
        |     AND o_orderkey % 101 <> 0)
        |SELECT o_orderstatus, count(*) AS cnt,
        | CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM final
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // change data feed per-type totals: inserts = the 4 band appends (all
    // orders), update pre/post = the half-band update (same keys, both
    // images), delete = the copy-on-write range delete ∪ the scattered DV
    // delete (disjoint by construction)
    "etl_change_feed" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders),
        | upd AS (SELECT o_orderkey FROM orders, m WHERE o_orderkey < m.q // 2),
        | del AS (SELECT o_orderkey FROM orders, m
        |   WHERE o_orderkey >= m.q AND o_orderkey < m.q * 3 // 2),
        | dvd AS (SELECT o_orderkey FROM orders, m
        |   WHERE o_orderkey % 101 = 0
        |     AND NOT (o_orderkey >= m.q AND o_orderkey < m.q * 3 // 2))
        |SELECT * FROM (
        | SELECT 'insert' AS _change_type, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(o_orderkey) AS BIGINT) AS key_sum FROM orders
        | UNION ALL SELECT 'delete',
        |   CAST((SELECT count(*) FROM del) + (SELECT count(*) FROM dvd) AS BIGINT),
        |   CAST((SELECT sum(o_orderkey) FROM del) + (SELECT sum(o_orderkey) FROM dvd) AS BIGINT)
        | UNION ALL SELECT 'update_preimage', CAST(count(*) AS BIGINT),
        |   CAST(sum(o_orderkey) AS BIGINT) FROM upd
        | UNION ALL SELECT 'update_postimage', CAST(count(*) AS BIGINT),
        |   CAST(sum(o_orderkey) AS BIGINT) FROM upd)
        |ORDER BY _change_type""".stripMargin,

    // schema-evolution end state: band 0 keeps a NULL adopted column,
    // bands 1-2 carry the source's status; prices unchanged (SET * with
    // identical values)
    "etl_sql_merge_evolve" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders)
        |SELECT CASE WHEN o_orderkey >= m.q THEN o_orderstatus ELSE '-' END AS st,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders, m
        |WHERE o_orderkey < m.q * 3
        |GROUP BY 1
        |ORDER BY st""".stripMargin,

    // SQL MERGE with NOT MATCHED BY SOURCE + computed INSERT: end state
    // restated — matched Q2 %16 rows doubled, their shifted copies inserted
    // at 3×, band-3 %16 rows deleted, band-0 %16 priorities prefixed
    "etl_sql_merge_nmbs" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders),
        | survivors AS (
        |   SELECT CASE WHEN o_orderkey >= m.q AND o_orderkey < m.q * 2
        |                AND o_orderkey % 16 = 0
        |           THEN o_totalprice * 2 ELSE o_totalprice END AS p,
        |          CASE WHEN o_orderkey < m.q AND o_orderkey % 16 = 0
        |           THEN 'OLD-' || o_orderpriority ELSE o_orderpriority END AS prio
        |   FROM orders, m
        |   WHERE NOT (o_orderkey >= m.q * 3 AND o_orderkey % 16 = 0)),
        | inserted AS (
        |   SELECT o_totalprice * 3 AS p, o_orderpriority AS prio
        |   FROM orders, m
        |   WHERE o_orderkey >= m.q AND o_orderkey < m.q * 2 AND o_orderkey % 16 = 0),
        | endstate AS (SELECT * FROM survivors UNION ALL SELECT * FROM inserted)
        |SELECT count(*) AS n,
        | CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS cents,
        | CAST(sum(CASE WHEN prio LIKE 'OLD-%' THEN 1 ELSE 0 END) AS BIGINT) AS old_n
        |FROM endstate
        |ORDER BY n""".stripMargin,

    // SQL MERGE end state: etl_merge_into's transformation restated
    "etl_sql_merge" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders),
        | endstate AS (
        |   SELECT CASE WHEN o_orderkey >= m.q AND o_orderkey < m.q * 2 AND o_orderkey % 16 = 0
        |           THEN o_totalprice * 2 ELSE o_totalprice END AS p
        |   FROM orders, m
        |   WHERE NOT (o_orderkey >= m.q AND o_orderkey < m.q * 2
        |              AND o_orderkey % 16 = 0 AND o_orderstatus = 'P')
        |   UNION ALL
        |   SELECT o_totalprice AS p FROM orders, m
        |   WHERE o_orderkey < m.q // 2 AND o_orderkey % 16 = 0)
        |SELECT count(*) AS n,
        | CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM endstate
        |ORDER BY n""".stripMargin,

    // the SQL TVF replays etl_change_feed's exact DML mix — same oracle
    "etl_sql_changes" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders),
        | upd AS (SELECT o_orderkey FROM orders, m WHERE o_orderkey < m.q // 2),
        | del AS (SELECT o_orderkey FROM orders, m
        |   WHERE o_orderkey >= m.q AND o_orderkey < m.q * 3 // 2),
        | dvd AS (SELECT o_orderkey FROM orders, m
        |   WHERE o_orderkey % 101 = 0
        |     AND NOT (o_orderkey >= m.q AND o_orderkey < m.q * 3 // 2))
        |SELECT * FROM (
        | SELECT 'insert' AS _change_type, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(o_orderkey) AS BIGINT) AS key_sum FROM orders
        | UNION ALL SELECT 'delete',
        |   CAST((SELECT count(*) FROM del) + (SELECT count(*) FROM dvd) AS BIGINT),
        |   CAST((SELECT sum(o_orderkey) FROM del) + (SELECT sum(o_orderkey) FROM dvd) AS BIGINT)
        | UNION ALL SELECT 'update_preimage', CAST(count(*) AS BIGINT),
        |   CAST(sum(o_orderkey) AS BIGINT) FROM upd
        | UNION ALL SELECT 'update_postimage', CAST(count(*) AS BIGINT),
        |   CAST(sum(o_orderkey) AS BIGINT) FROM upd)
        |ORDER BY _change_type""".stripMargin,

    // change-feed retention: the flags are engine literals; the at-floor
    // window's delete slice restated from the raw table
    "etl_change_feed_retention" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders),
        | del AS (SELECT o_orderkey FROM orders, m
        |   WHERE o_orderkey >= m.q AND o_orderkey < m.q * 3 // 2)
        |SELECT true AS floor_set, true AS purged_any, true AS refused,
        | CAST((SELECT count(*) FROM del) AS BIGINT) AS del_n,
        | CAST((SELECT sum(o_orderkey) FROM del) AS BIGINT) AS del_key_sum
        |ORDER BY del_n""".stripMargin,

    // incremental recluster: only the 6 intruder files rewritten, the 4
    // clean bands untouched (literals); the band scan's rows carry each
    // key's duplication multiplicity (1 + one per stride dividing it)
    "etl_recluster_incremental" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders),
        | w AS (SELECT o_orderkey,
        |   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |   1 + (CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
        |     + (CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END)
        |     + (CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END)
        |     + (CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END)
        |     + (CASE WHEN o_orderkey % 6 = 0 THEN 1 ELSE 0 END)
        |     + (CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END) AS mult
        |   FROM orders)
        |SELECT 6 AS files_rewritten, 4 AS files_untouched, 7 AS kept_before,
        | true AS pruning_restored, true AS tail_bytes_only,
        | CAST(sum(w.mult) AS BIGINT) AS n,
        | CAST(sum(w.mult * w.cents) AS BIGINT) AS cents
        |FROM w, m
        |WHERE w.o_orderkey >= m.q AND w.o_orderkey < m.q * 2
        |ORDER BY n""".stripMargin,

    // type widening: pre-widen keys pass through, post-widen keys shifted
    // beyond Int.MaxValue; era type labels literal
    "etl_type_widening" ->
      """SELECT CAST(CASE WHEN n_nationkey < 10 THEN n_nationkey
        |   ELSE n_nationkey + 4000000000 END AS BIGINT) AS n_nationkey,
        | n_name, 'int' AS asof1_type, 'bigint' AS live_type
        |FROM nation
        |ORDER BY n_nationkey""".stripMargin,

    // OR-predicate skipping over the band layout: edge disjunction keeps
    // bands 0+3 and skips 1-2 (literals); the count predicate answers band 3
    // from metadata (fully covered by its >= disjunct) and reads only the
    // straddling band 0; the cross-column OR prunes nothing (every band
    // holds status P) but stays exact
    "etl_skipping_or" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders),
        | e AS (SELECT count(*) AS n,
        |   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |   FROM orders, m
        |   WHERE o_orderkey < m.q // 2 OR o_orderkey >= m.q * 3 + m.q // 2),
        | c AS (SELECT count(*) AS n FROM orders, m
        |   WHERE o_orderkey < m.q // 2 OR o_orderkey >= m.q * 3),
        | x AS (SELECT count(*) AS n FROM orders, m
        |   WHERE o_orderkey < m.q // 2 OR o_orderstatus = 'P')
        |SELECT 2 AS files_kept, 2 AS files_skipped, e.n AS n, e.cents AS cents,
        | c.n AS cnt_n, 1 AS cnt_meta, 1 AS cnt_read, 2 AS cnt_skipped,
        | x.n AS cross_n
        |FROM e, c, x
        |ORDER BY n""".stripMargin,

    // merge-on-read DELETE: scattered %101 purge touches all 4 bands, zero
    // data files rewritten (literals), live state ≡ the filter restatement,
    // time travel intact, compaction folds the DV with identical live rows
    "etl_delete_dv" ->
      """WITH d AS (SELECT count(*) AS del FROM orders WHERE o_orderkey % 101 = 0),
        | live AS (SELECT count(*) AS n,
        |   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |   FROM orders WHERE o_orderkey % 101 <> 0)
        |SELECT CAST(d.del AS BIGINT) AS deleted,
        | 4 AS files_tombstoned, 0 AS files_rewritten, true AS zero_rewrite,
        | live.n AS after_n, live.cents AS after_cents,
        | (SELECT count(*) FROM orders) AS before_n,
        | 0 AS dv_after_compact, true AS compact_identity
        |FROM d, live
        |ORDER BY deleted""".stripMargin,

    // exact string MIN/MAX from dictionary value sets: status and priority
    // answered metadata-only (0 files read, all 3 files from the manifest)
    "etl_stats_minmax_str" ->
      """SELECT min(o_orderstatus) AS st_min, max(o_orderstatus) AS st_max,
        | min(o_orderpriority) AS pr_min, max(o_orderpriority) AS pr_max,
        | 0 AS files_read, 3 AS files_meta
        |FROM orders
        |ORDER BY st_min""".stripMargin,

    // UPDATE WHERE first-quartile band: the CASE restatement of the
    // rewritten priority column plus the updated-row count
    "etl_update_where" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders)
        |SELECT CASE WHEN o_orderkey < m.q THEN 'X-' || o_orderpriority
        |        ELSE o_orderpriority END AS o_orderpriority,
        | count(*) AS cnt,
        | CAST((SELECT count(*) FROM orders, m WHERE o_orderkey < m.q) AS BIGINT) AS updated
        |FROM orders, m
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    // final state = orders with ONLY the post-drop update applied (the two
    // refused writes contributed nothing — the enforcement claim); the
    // surviving declaration count is literal
    "etl_constraints" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders)
        |SELECT CASE WHEN o_orderkey < m.q THEN 'Z' ELSE o_orderstatus END AS o_orderstatus,
        | count(*) AS n,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        | TRUE AS refused_append,
        | TRUE AS refused_update,
        | CAST((SELECT count(*) FROM orders, m WHERE o_orderkey < m.q) AS BIGINT) AS updated,
        | CAST(1 AS BIGINT) AS n_constraints
        |FROM orders, m
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    // final state = nation minus the child-first-deleted key, customer
    // minus its children; the refused dangling insert and refused
    // RESTRICTed delete contributed nothing
    "etl_foreign_keys" ->
      """SELECT CAST((SELECT count(*) FROM nation) - 1 AS BIGINT) AS n_nations,
        | CAST((SELECT count(*) FROM customer WHERE c_nationkey <> 3) AS BIGINT) AS n_customers,
        | TRUE AS refused_insert,
        | TRUE AS refused_delete,
        | CAST((SELECT count(*) FROM customer WHERE c_nationkey = 3) AS BIGINT) AS deleted_children,
        | CAST(1 AS BIGINT) AS deleted_parent""".stripMargin,

    // pair-keyed final state: nation minus the child-first-deleted pair,
    // customer minus nation-3 children; the refused CROSS pair (live
    // per-column, absent as a tuple) and the RESTRICTed pair delete
    // contributed nothing
    "etl_fk_composite" ->
      """SELECT CAST((SELECT count(*) FROM nation) - 1 AS BIGINT) AS n_pairs,
        | CAST((SELECT count(*) FROM customer WHERE c_nationkey <> 3) AS BIGINT) AS n_children,
        | CAST((SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT))
        |       FROM customer WHERE c_nationkey <> 3) AS BIGINT) AS cents,
        | TRUE AS refused_pair,
        | TRUE AS refused_delete,
        | CAST((SELECT count(*) FROM customer WHERE c_nationkey = 3) AS BIGINT) AS deleted_children,
        | CAST(1 AS BIGINT) AS deleted_parent""".stripMargin,

    // supplier with the merge applied: keys 1-3 bumped by 100, one fresh
    // re-keyed insert; the refused duplicate append contributed nothing
    "etl_unique_key" ->
      """WITH fin AS (
        | SELECT CASE WHEN s_suppkey <= 3 THEN s_acctbal + 100
        |         ELSE s_acctbal END AS bal
        | FROM supplier
        | UNION ALL
        | SELECT s_acctbal + 100 AS bal FROM supplier WHERE s_suppkey = 1)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(round(bal * 100) AS BIGINT)) AS BIGINT) AS cents,
        | TRUE AS refused_dup,
        | CAST((SELECT count(*) FROM supplier WHERE s_suppkey <= 3) AS BIGINT) AS updated,
        | CAST((SELECT count(*) FROM supplier WHERE s_suppkey = 1) AS BIGINT) AS inserted
        |FROM fin""".stripMargin,


    // as-of read of the mv state after the second fold = a GROUP BY over
    // the first two source thirds (time travel composing with IVM)
    "etl_agg_asof" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        | sum(l_quantity) AS sum_qty,
        | round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base
        |FROM lineitem
        |WHERE l_orderkey % 3 <= 1
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    // the materialized state after 3 incremental folds + 1 invalidation
    // rebuild ≡ one GROUP BY over the full table (the IVM identity)
    // KLL quantile MV end-state: exact percentiles over the surviving rows
    // (the query already proved the sketch estimates' ranks in-line)
    "etl_quantile_sketch" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders)
        |SELECT o_orderstatus,
        | quantile_cont(o_totalprice, 0.5) AS p50,
        | quantile_cont(o_totalprice, 0.9) AS p90,
        | CAST(count(*) AS BIGINT) AS n
        |FROM orders, m
        |WHERE o_orderkey < m.q * 3
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // SQL-driven sketch MV end-state: same construction as
    // etl_sketch_distinct (the delete lands via SQL DELETE instead of
    // deleteWhere — same predicate), so the oracle is shared verbatim
    "etl_sql_sketch" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders)
        |SELECT o_orderstatus,
        | CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
        |FROM orders, m
        |WHERE o_orderkey < m.q * 3
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // SQL-driven quantile MV end-state: exact percentiles over the
    // surviving rows (rank-validated in the query) — etl_quantile_sketch's
    // construction driven entirely through CALL/SELECT/DELETE
    "etl_sql_sketch_quantile" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders)
        |SELECT o_orderstatus,
        | quantile_cont(o_totalprice, 0.5) AS p50,
        | quantile_cont(o_totalprice, 0.9) AS p90,
        | CAST(count(*) AS BIGINT) AS n
        |FROM orders, m
        |WHERE o_orderkey < m.q * 3
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // CALL sketch_overlap end-state: exact distinct-user overlap between
    // the event halves (q23's oracle — the same slices, SQL-driven)
    "etl_sql_sketch_overlap" ->
      """WITH m AS (SELECT max(event_id) // 2 AS mid FROM events),
        | a AS (SELECT DISTINCT user_id FROM events, m WHERE event_id <= m.mid),
        | b AS (SELECT DISTINCT user_id FROM events, m WHERE event_id > m.mid)
        |SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS n_a,
        | CAST((SELECT count(*) FROM b) AS BIGINT) AS n_b,
        | CAST((SELECT count(*) FROM a JOIN b USING (user_id)) AS BIGINT) AS n_inter,
        | CAST((SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM b)) AS BIGINT) AS n_union""".stripMargin,

    // CALL top_tokens rows are certified-exact — doc_top_tokens' oracle
    "etl_sql_top_tokens" ->
      """WITH tok AS (
        | SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        | FROM documents)
        |SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |FROM tok GROUP BY token
        |ORDER BY cnt DESC, token LIMIT 20""".stripMargin,

    // HLL sketch MV end-state: exact distincts over the surviving rows
    // (the query already proved the estimates track these within 5%)
    "etl_sketch_distinct" ->
      """WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders)
        |SELECT o_orderstatus,
        | CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
        |FROM orders, m
        |WHERE o_orderkey < m.q * 3
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "etl_materialized_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        | sum(l_quantity) AS sum_qty,
        | round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base
        |FROM lineitem
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    // deterministic end-state of the versioned-commit scenario the query
    // builds: v1 append {1,2}, v2 append {3}, v3 replace {9}, v4 txn
    // append t{10}+u{100}; CDC windows (1,2] and (3,4]; (2,3] crosses the
    // replace and must refuse; v5 restore→v2 state {1,2,3}, v6 restore→v4
    // state {9,10}, with v3 history readable through both restores
    "etl_time_travel" ->
      """SELECT versions,
        | CAST(t1_sum AS BIGINT) AS t1_sum, CAST(t1_n AS BIGINT) AS t1_n,
        | CAST(t2_sum AS BIGINT) AS t2_sum, CAST(t2_n AS BIGINT) AS t2_n,
        | CAST(t3_sum AS BIGINT) AS t3_sum, CAST(t3_n AS BIGINT) AS t3_n,
        | CAST(t4_sum AS BIGINT) AS t4_sum, CAST(t4_n AS BIGINT) AS t4_n,
        | CAST(u3_n AS BIGINT) AS u3_n, CAST(u4_n AS BIGINT) AS u4_n,
        | CAST(d12_sum AS BIGINT) AS d12_sum, CAST(d12_n AS BIGINT) AS d12_n,
        | CAST(d34_sum AS BIGINT) AS d34_sum, CAST(d34_n AS BIGINT) AS d34_n,
        | replace_window_refused,
        | CAST(r2_sum AS BIGINT) AS r2_sum, CAST(r2_n AS BIGINT) AS r2_n,
        | CAST(r4_sum AS BIGINT) AS r4_sum, CAST(r4_n AS BIGINT) AS r4_n,
        | CAST(h3_sum AS BIGINT) AS h3_sum, CAST(h3_n AS BIGINT) AS h3_n
        |FROM (VALUES ('1,2,3,4,5,6', 3, 2, 6, 3, 9, 1, 19, 2, 0, 1, 3, 1, 10, 1, true,
        |              6, 3, 19, 2, 9, 1))
        | AS t(versions, t1_sum, t1_n, t2_sum, t2_n, t3_sum, t3_n, t4_sum, t4_n,
        |      u3_n, u4_n, d12_sum, d12_n, d34_sum, d34_n, replace_window_refused,
        |      r2_sum, r2_n, r4_sum, r4_n, h3_sum, h3_n)
        |ORDER BY versions""".stripMargin,

    "etl_provider_dedup" ->
      """WITH c AS (
        | SELECT regexp_replace(regexp_replace('Proveedor' || p_brand,
        |   '[^A-Za-z0-9/% ]+', '', 'g'), '([a-z])([A-Z0-9])', '\1 \2', 'g') AS sep
        | FROM part)
        |SELECT array_to_string(list_transform(string_split(sep, ' '),
        |   w -> upper(w[1]) || lower(w[2:])), ' ') AS provider,
        | CAST(count(*) AS BIGINT) AS n
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "doc_stats" ->
      """WITH sh AS (
        | SELECT doc_id, CAST(count(DISTINCT substr(text, i, 3)) AS BIGINT) AS n_shingles3
        | FROM documents, generate_series(1, 2048) t(i) WHERE i <= length(text)-2
        |  AND CASE WHEN length(text)-2 > 2048 THEN error('oracle shingle cap 2048 exceeded') ELSE true END
        | GROUP BY doc_id)
        |SELECT d.doc_id,
        | CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens,
        | sh.n_shingles3,
        | CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
        | CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS BIGINT) AS n_punct
        |FROM documents d JOIN sh ON d.doc_id = sh.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "doc_quality_lang" ->
      s"""$docQualityCore
         |ORDER BY doc_id""".stripMargin,

    "doc_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE ('0x'||substr(md5(text),1,15))::BIGINT % 100 < 10
        |ORDER BY doc_id""".stripMargin,

    "doc_quota" ->
      s"""WITH q AS (
         |$docQualityCore)
         |SELECT doc_id, lang_guess, quality, rnk FROM (
         | SELECT doc_id, lang_guess, quality,
         |  CAST(row_number() OVER (PARTITION BY lang_guess ORDER BY quality DESC, doc_id) AS BIGINT) AS rnk
         | FROM q)
         |WHERE rnk <= 5 ORDER BY lang_guess, rnk""".stripMargin,

    "doc_fingerprint" ->
      s"""SELECT doc_id,
         | CAST(sum(i * ${h31("substr(text, i, 8)")}) % 2147483647 AS BIGINT) AS fp
         |FROM documents, generate_series(1, 2048) t(i) WHERE i <= length(text)-7
         | AND CASE WHEN length(text)-7 > 2048 THEN error('oracle fingerprint cap 2048 exceeded') ELSE true END
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      """SELECT coalesce(sha256(text), '__null_text__') AS text_sha,
        | CAST(min(doc_id) AS BIGINT) AS keep_id,
        | CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // composite build mirrors the Spark query: doc d joins composites
    // {d//2 - 1 (even d only), d//2}; row_number()=1 over (cid, pos) is the
    // same keep-first rule as Spark's min(struct(id, pos)) since (cid, pos)
    // is unique per occurrence; zipped unnest(range(len))/unnest(lst) is
    // DuckDB's positional explode
    "dedup_paragraphs" ->
      """WITH m AS (
        |  SELECT doc_id//2 AS cid, doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id//2 - 1 AS cid, doc_id, text FROM documents WHERE doc_id % 2 = 0
        |),
        |comp AS (
        |  SELECT cid, string_agg(text, chr(10)||chr(10) ORDER BY doc_id) AS text
        |  FROM m WHERE cid >= 0 GROUP BY cid
        |),
        |paras AS (
        |  SELECT cid, unnest(range(len(lst))) AS pos, unnest(lst) AS para
        |  FROM (SELECT cid, str_split(text, chr(10)||chr(10)) AS lst FROM comp)
        |),
        |kept AS (
        |  SELECT cid, pos, para FROM (
        |    SELECT cid, pos, para,
        |           row_number() OVER (PARTITION BY para ORDER BY cid, pos) AS rn
        |    FROM paras) t WHERE rn = 1
        |)
        |SELECT cid, string_agg(para, chr(10)||chr(10) ORDER BY pos) AS text
        |FROM kept GROUP BY cid ORDER BY cid""".stripMargin,

    "dedup_minhash" ->
      s"""WITH sh AS (
         |  $shingle5)
         |SELECT doc_id,
         |   $minhashMins
         |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_lsh_pairs" ->
      s"""WITH sh AS (
         |  $shingle5),
         |sig AS (
         | SELECT doc_id,
         |   $minhashMins
         | FROM sh GROUP BY doc_id),
         |bands AS (
         | SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR)||'_'||CAST(mh1 AS VARCHAR) AS key FROM sig
         | UNION ALL SELECT doc_id, 1, CAST(mh2 AS VARCHAR)||'_'||CAST(mh3 AS VARCHAR) FROM sig
         | UNION ALL SELECT doc_id, 2, CAST(mh4 AS VARCHAR)||'_'||CAST(mh5 AS VARCHAR) FROM sig
         | UNION ALL SELECT doc_id, 3, CAST(mh6 AS VARCHAR)||'_'||CAST(mh7 AS VARCHAR) FROM sig)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_simhash" ->
      s"""WITH $simhashCore
         |SELECT doc_id, simhash FROM sk ORDER BY doc_id""".stripMargin,

    "dedup_simhash_pairs" ->
      s"""WITH $simhashCore
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         | CAST(bit_count(xor(a.simhash::BIT, b.simhash::BIT)) AS BIGINT) AS hamming
         |FROM sk a JOIN sk b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash::BIT, b.simhash::BIT)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_lsh_verified" ->
      s"""$lshVerifiedCore
         |ORDER BY id_a, id_b""".stripMargin,

    // streamed micro-batches accumulate EXACTLY the full-corpus pairs —
    // the oracle is the same SQL as dedup_lsh_verified, no stream in sight
    "dedup_stream" ->
      s"""$lshVerifiedCore
         |ORDER BY id_a, id_b""".stripMargin,

    // bloom routing must not change the accumulated pairs — same oracle as
    // the plain stream (the bloom routes band keys around the corpus probe,
    // it never decides matches)
    "dedup_stream_bloom" ->
      s"""$lshVerifiedCore
         |ORDER BY id_a, id_b""".stripMargin,

    // first-arrival-wins over the deterministic doc_id%3 batching: the
    // survivor of each content group is the min-id row of its earliest
    // micro-batch (null texts form one group via the sentinel, as in the
    // rest of the exact-dedup family)
    "dedup_exact_stream" ->
      """WITH keyed AS (SELECT doc_id, text,
        |  coalesce(sha256(text), '__null_text__') AS text_sha,
        |  doc_id % 3 AS batch FROM documents),
        |r AS (SELECT doc_id, text,
        |  row_number() OVER (PARTITION BY text_sha ORDER BY batch, doc_id) AS rn
        | FROM keyed)
        |SELECT doc_id, text FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    // bloom routing must not change the survivor set — same oracle as the
    // plain stream (the bloom routes winners around the index probe, it
    // never decides admission)
    "dedup_exact_stream_bloom" ->
      """WITH keyed AS (SELECT doc_id, text,
        |  coalesce(sha256(text), '__null_text__') AS text_sha,
        |  doc_id % 3 AS batch FROM documents),
        |r AS (SELECT doc_id, text,
        |  row_number() OVER (PARTITION BY text_sha ORDER BY batch, doc_id) AS rn
        | FROM keyed)
        |SELECT doc_id, text FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    // incremental == full-corpus restricted to pairs touching the new batch
    // (id_a < id_b, so id_b is the fresh side whenever any is). The split is
    // derived the same way the Spark query derives it — (max(doc_id)+1)*4/5 —
    // so oracle and query stay coupled at any scale, not just sf0.01
    "dedup_incremental" ->
      s"""WITH split AS (SELECT (max(doc_id) + 1) * 4 // 5 AS cut FROM documents),
         |pairs AS (
         |$lshVerifiedCore)
         |SELECT id_a, id_b, jaccard FROM pairs
         |WHERE id_b >= (SELECT cut FROM split)
         |ORDER BY id_a, id_b""".stripMargin,

    // bloom-routed probe, exact despite a deliberately-high fpp — identical
    // oracle to dedup_incremental
    "dedup_incremental_bloom" ->
      s"""WITH split AS (SELECT (max(doc_id) + 1) * 4 // 5 AS cut FROM documents),
         |pairs AS (
         |$lshVerifiedCore)
         |SELECT id_a, id_b, jaccard FROM pairs
         |WHERE id_b >= (SELECT cut FROM split)
         |ORDER BY id_a, id_b""".stripMargin,

    "doc_repetition" ->
      s"""$repetitionCore
         |ORDER BY doc_id""".stripMargin,

    // sliding 40-token windows advancing by 30 (overlap 10); last window
    // starts at the smallest step multiple covering the final token. DuckDB
    // list slice l[a:b] is 1-based inclusive and clamps, exactly like
    // Spark's slice(arr, start, len) at the array tail
    "doc_chunks" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        | FROM documents),
        |k AS (
        | SELECT doc_id, tk,
        |   CASE WHEN len(tk) = 0 THEN -1
        |        ELSE greatest(CAST(ceil((len(tk) - 40) / 30.0) AS INT), 0) END AS km1
        | FROM toks)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  array_to_string(tk[i*30+1 : i*30+40], ' ') AS chunk
        |FROM k, generate_series(0, 64) t(i)
        |WHERE i <= km1
        | AND CASE WHEN km1 > 64 THEN error('oracle chunk-window cap 64 exceeded') ELSE true END
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "doc_redact" ->
      """SELECT doc_id,
        | regexp_replace(
        |   regexp_replace(
        |     regexp_replace(
        |       text || ' contact user' || doc_id || '@mail.example.org or '
        |            || 'https://ex.org/d/' || doc_id || '?t=1 ref 1234567' || doc_id,
        |       'https?://[^\s]+', '<URL>', 'g'),
        |     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '[0-9]{7,}', '<NUM>', 'g') AS redacted
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "doc_top_tokens" ->
      """WITH tok AS (
        | SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        | FROM documents)
        |SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |FROM tok GROUP BY token
        |ORDER BY cnt DESC, token LIMIT 20""".stripMargin,

    // the MG-sketch path recounts its candidates exactly, so the oracle is
    // doc_top_tokens' verbatim
    "doc_top_tokens_sketch" ->
      """WITH tok AS (
        | SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        | FROM documents)
        |SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |FROM tok GROUP BY token
        |ORDER BY cnt DESC, token LIMIT 20""".stripMargin,

    "doc_tfidf" ->
      """WITH tok AS (
        | SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        | FROM documents),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents)
        |SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
        | round(tf.tf * ln(nd / dfq.df), 4) AS tfidf
        |FROM tf JOIN dfq USING (token) CROSS JOIN n
        |ORDER BY doc_id, token""".stripMargin,

    // 5-gram containment train↔eval; the Spark side joins 60-bit gram hashes
    // (collision odds ~1e-10 here), the oracle joins the gram STRINGS — an
    // independent implementation that also cross-checks hash fidelity
    "doc_decontaminate" ->
      """WITH tk AS (
        | SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        | FROM documents),
        |g AS (
        | SELECT doc_id, array_to_string(toks[i : i + 4], ' ') AS gram
        | FROM tk, generate_series(1, 2048) t(i)
        | WHERE i <= len(toks) - 4
        |  AND CASE WHEN len(toks) - 4 > 2048 THEN error('oracle gram-start cap 2048 exceeded') ELSE true END),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0)
        |SELECT DISTINCT doc_id FROM g
        |WHERE doc_id % 20 <> 0 AND gram IN (SELECT gram FROM ev)
        |ORDER BY doc_id""".stripMargin,

    "doc_shards" ->
      s"""WITH lang AS (
         |$docQualityCore),
         |tk AS (
         | SELECT doc_id,
         |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_toks
         | FROM documents)
         |SELECT t.doc_id, l.lang_guess AS lang, t.n_toks,
         | CAST(floor((sum(t.n_toks) OVER (PARTITION BY l.lang_guess ORDER BY t.doc_id)
         |   - t.n_toks) / 2000.0) AS BIGINT) AS shard
         |FROM tk t JOIN lang l ON l.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin,

    // the composite curation pipeline: quality + length + repetition filters
    // FIRST (the production order — filtering is cheaper than dedup), then
    // near-dup cluster resolution over the filtered set only. Every stage is
    // an independently-proven fragment recomposed over the `cur` CTE.
    "doc_curated" ->
      s"""WITH RECURSIVE qual AS (
         |$docQualityCore),
         |rep AS (
         |$repetitionCore),
         |cur AS (
         | SELECT d.doc_id, d.text FROM documents d
         |  JOIN qual ON qual.doc_id = d.doc_id
         |  JOIN rep ON rep.doc_id = d.doc_id
         | WHERE qual.quality >= 0.63 AND rep.n_toks >= 18
         |   AND rep.dup_trigram_frac <= 0.015),
         |pairs AS (
         |${lshVerifiedCoreOn("cur")}),
         |edges AS (
         | SELECT id_a AS src, id_b AS dst FROM pairs
         | UNION SELECT id_b, id_a FROM pairs),
         |reach AS (
         | SELECT src, dst FROM edges
         | UNION
         | SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |comp AS (SELECT src AS id, least(src, min(dst)) AS component FROM reach GROUP BY src)
         |SELECT doc_id FROM cur
         |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> component)
         |ORDER BY doc_id""".stripMargin,

    "dedup_survivors" -> survivorsSql,

    // the end-state ACTION on the incrementally-maintained graph: losers
    // derive from PersistedComponents' journal-resolved labels, which any
    // batching leaves ≡ one-shot CC — same oracle as dedup_survivors
    "dedup_survivors_incremental" -> survivorsSql,

    // survivor POLICY variant: per cluster keep the LONGEST document (ties:
    // smallest id) instead of the smallest id
    "dedup_survivors_best" ->
      s"""WITH RECURSIVE pairs AS (
         |$lshVerifiedCore),
         |edges AS (
         | SELECT id_a AS src, id_b AS dst FROM pairs
         | UNION SELECT id_b, id_a FROM pairs),
         |reach AS (
         | SELECT src, dst FROM edges
         | UNION
         | SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |comp AS (SELECT src AS id, least(src, min(dst)) AS component FROM reach GROUP BY src),
         |scored AS (
         | SELECT c.component, c.id, length(d.text) AS sc
         | FROM comp c JOIN documents d ON d.doc_id = c.id),
         |best AS (SELECT component, max(sc) AS b FROM scored GROUP BY 1),
         |winners AS (
         | SELECT s.component, min(s.id) AS id
         | FROM scored s JOIN best b ON s.component = b.component AND s.sc = b.b
         | GROUP BY 1)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (
         |  SELECT id FROM scored WHERE id NOT IN (SELECT id FROM winners))
         |ORDER BY doc_id""".stripMargin,

    "dedup_jaccard" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
        |sh AS (SELECT DISTINCT doc_id, substr(text, i, 8) AS s
        |       FROM d, generate_series(1, 2048) t(i) WHERE i <= length(text)-7
        |        AND CASE WHEN length(text)-7 > 2048 THEN error('oracle shingle cap 2048 exceeded') ELSE true END),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |it AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2)
        |SELECT id_a, id_b,
        | CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
        |FROM it JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.05
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_embedding" ->
      """WITH p AS (
        | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  sum(a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE) AS dot,
        |  sqrt(sum(a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)) AS na,
        |  sqrt(sum(b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) AS nb
        | FROM embeddings a, embeddings b, generate_series(1, 64) t(i)
        | WHERE a.vec_id < b.vec_id GROUP BY 1,2)
        |SELECT id_a, id_b,
        | round(CASE WHEN na = 0 OR nb = 0 THEN 0 ELSE dot/(na*nb) END, 4) AS cosine
        |FROM p
        |WHERE round(CASE WHEN na = 0 OR nb = 0 THEN 0 ELSE dot/(na*nb) END, 4) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_embedding_lsh" ->
      """WITH sgn AS (
        | SELECT b, j, i,
        |  CASE WHEN substr(md5('hp:'||b||':'||j||':'||i),1,1) < '8' THEN 1 ELSE -1 END AS s
        | FROM range(0,4) t1(b), range(0,8) t2(j), range(0,64) t3(i)),
        |bits AS (
        | SELECT e.vec_id, g.b, g.j,
        |  CASE WHEN sum(floor(e.embedding[g.i+1]::DOUBLE * 1000000) * g.s) >= 0
        |       THEN '1' ELSE '0' END AS bit
        | FROM embeddings e, sgn g GROUP BY 1,2,3),
        |keys AS (
        | SELECT vec_id, b, string_agg(bit, '' ORDER BY j) AS key FROM bits GROUP BY 1,2),
        |cand AS (
        | SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
        | FROM keys x JOIN keys y ON x.b = y.b AND x.key = y.key AND x.vec_id < y.vec_id),
        |p AS (
        | SELECT c.id_a, c.id_b,
        |  sum(a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE) AS dot,
        |  sqrt(sum(a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)) AS na,
        |  sqrt(sum(b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) AS nb
        | FROM cand c JOIN embeddings a ON a.vec_id = c.id_a
        |  JOIN embeddings b ON b.vec_id = c.id_b, generate_series(1,64) t(i)
        | GROUP BY 1,2)
        |SELECT id_a, id_b,
        | round(CASE WHEN na = 0 OR nb = 0 THEN 0 ELSE dot/(na*nb) END, 4) AS cosine
        |FROM p
        |WHERE round(CASE WHEN na = 0 OR nb = 0 THEN 0 ELSE dot/(na*nb) END, 4) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,

    "sim_topk" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
        |p AS (
        | SELECT q.vec_id AS q_id, e.vec_id AS c_id,
        |  sum(e.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE) AS dot,
        |  sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)) AS cn,
        |  sqrt(sum(q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)) AS qn
        | FROM q, embeddings e, generate_series(1, 64) t(i)
        | WHERE e.vec_id <> q.vec_id GROUP BY 1,2),
        |scored AS (
        | SELECT q_id, c_id,
        |  round(CASE WHEN cn = 0 OR qn = 0 THEN 0 ELSE dot/(cn*qn) END, 4) AS cosine
        | FROM p),
        |ranked AS (
        | SELECT q_id, c_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rank
        | FROM scored)
        |SELECT q_id, rank, c_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,

    // replays the SQ8 pipeline: per-vector maxabs → floor-based int8 codes
    // (floor(x·127/maxabs + 0.5); round() avoided — engines disagree on
    // half-even vs half-up, floor(·+0.5) does not) → exact integer sums →
    // cosine. maxabs over ::DOUBLE equals the engine's float max widened:
    // abs/max commute with exact float→double widening
    "sim_topk_sq8" ->
      """WITH mx AS (
        | SELECT vec_id, max(abs(embedding[i]::DOUBLE)) AS maxabs
        | FROM embeddings, generate_series(1, 64) t(i) GROUP BY 1),
        |codes AS (
        | SELECT e.vec_id, t.i,
        |  CASE WHEN m.maxabs = 0 THEN 0
        |   ELSE floor(e.embedding[t.i]::DOUBLE * 127.0 / m.maxabs + 0.5) END AS c
        | FROM embeddings e JOIN mx m USING (vec_id), generate_series(1, 64) t(i)),
        |p AS (
        | SELECT b.vec_id AS q_id, a.vec_id AS c_id,
        |  sum(a.c * b.c) AS dot, sum(a.c * a.c) AS na, sum(b.c * b.c) AS nb
        | FROM codes a JOIN codes b ON a.i = b.i
        | WHERE b.vec_id < 10 AND a.vec_id <> b.vec_id
        | GROUP BY 1,2),
        |scored AS (
        | SELECT q_id, c_id,
        |  round(CASE WHEN na = 0 OR nb = 0 THEN 0
        |   ELSE dot/(sqrt(na)*sqrt(nb)) END, 4) AS cosine
        | FROM p),
        |ranked AS (
        | SELECT q_id, c_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rank
        | FROM scored)
        |SELECT q_id, rank, c_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,

    "sim_ivf" ->
      """WITH cent AS (SELECT vec_id AS cell, embedding FROM embeddings WHERE vec_id < 8),
        |assign_all AS (
        | SELECT e.vec_id, c.cell,
        |  round(CASE WHEN sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)) = 0
        |         OR sqrt(sum(c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) = 0 THEN 0
        |   ELSE sum(e.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)
        |    / (sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
        |       * sqrt(sum(c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))) END, 6) AS cos6
        | FROM embeddings e, cent c, generate_series(1, 64) t(i) GROUP BY 1,2),
        |cells AS (
        | SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY cos6 DESC, cell) AS rn
        |  FROM assign_all) WHERE rn = 1),
        |qs AS (SELECT vec_id AS q_id, embedding, cell FROM embeddings
        |       JOIN cells USING (vec_id) WHERE vec_id >= 8 AND vec_id < 18),
        |cs AS (SELECT vec_id AS c_id, embedding, cell FROM embeddings JOIN cells USING (vec_id)),
        |p AS (
        | SELECT qs.q_id, cs.c_id,
        |  sum(cs.embedding[i]::DOUBLE * qs.embedding[i]::DOUBLE) AS dot,
        |  sqrt(sum(cs.embedding[i]::DOUBLE * cs.embedding[i]::DOUBLE)) AS cn,
        |  sqrt(sum(qs.embedding[i]::DOUBLE * qs.embedding[i]::DOUBLE)) AS qn
        | FROM qs JOIN cs ON qs.cell = cs.cell AND cs.c_id <> qs.q_id,
        |  generate_series(1, 64) t(i)
        | GROUP BY 1,2),
        |scored AS (
        | SELECT q_id, c_id,
        |  round(CASE WHEN cn = 0 OR qn = 0 THEN 0 ELSE dot/(cn*qn) END, 4) AS cosine
        | FROM p),
        |ranked AS (
        | SELECT q_id, c_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rank
        | FROM scored)
        |SELECT q_id, rank, c_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,

    "sim_ivf_trained" ->
      s"""WITH e AS (
         | SELECT vec_id, i, embedding[i]::DOUBLE AS x
         | FROM embeddings, generate_series(1, 64) t(i)),
         |en AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM e GROUP BY 1),
         |c0 AS (SELECT vec_id::INT AS cell, i, x AS m FROM e
         | WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)),
         |${lloydRound(0, 1)},
         |${lloydRound(1, 2)},
         |cn2 AS (SELECT cell, sqrt(sum(m*m)) AS cnrm FROM c2 GROUP BY 1),
         |af AS (
         | SELECT e.vec_id, c.cell,
         |  round(CASE WHEN en.nrm = 0 OR cn.cnrm = 0 THEN 0
         |   ELSE sum(e.x * c.m) / (en.nrm * cn.cnrm) END, 6) AS cos6
         | FROM e JOIN c2 c ON e.i = c.i
         |  JOIN en ON en.vec_id = e.vec_id JOIN cn2 cn ON cn.cell = c.cell
         | GROUP BY e.vec_id, c.cell, en.nrm, cn.cnrm),
         |cells AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY cos6 DESC, cell) AS rn
         |  FROM af) WHERE rn = 1),
         |qs AS (SELECT vec_id AS q_id, cell FROM cells WHERE vec_id >= 8 AND vec_id < 18),
         |cs AS (SELECT vec_id AS c_id, cell FROM cells),
         |p AS (
         | SELECT qs.q_id, cs.c_id,
         |  round(CASE WHEN qn.nrm = 0 OR cn.nrm = 0 THEN 0
         |   ELSE sum(ec.x * eq.x) / (cn.nrm * qn.nrm) END, 4) AS cosine
         | FROM qs JOIN cs ON qs.cell = cs.cell AND cs.c_id <> qs.q_id
         |  JOIN e eq ON eq.vec_id = qs.q_id
         |  JOIN e ec ON ec.vec_id = cs.c_id AND ec.i = eq.i
         |  JOIN en qn ON qn.vec_id = qs.q_id
         |  JOIN en cn ON cn.vec_id = cs.c_id
         | GROUP BY qs.q_id, cs.c_id, qn.nrm, cn.nrm),
         |ranked AS (
         | SELECT q_id, c_id, cosine,
         |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rank
         | FROM p)
         |SELECT q_id, rank, c_id, cosine FROM ranked WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,

    // same assignment math as sim_ivf (the persisted build uses the same
    // seed centroids and the incremental adds must reproduce the full
    // assignment); the one semantic addition is multi-probe: each query
    // scores its TOP-2 cells (rn <= 2), candidates still live in exactly
    // one cell so no pair dedup is needed
    "sim_ivf_persisted" ->
      """WITH cent AS (SELECT vec_id AS cell, embedding FROM embeddings WHERE vec_id < 8),
        |assign_all AS (
        | SELECT e.vec_id, c.cell,
        |  round(CASE WHEN sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)) = 0
        |         OR sqrt(sum(c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) = 0 THEN 0
        |   ELSE sum(e.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)
        |    / (sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
        |       * sqrt(sum(c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))) END, 6) AS cos6
        | FROM embeddings e, cent c, generate_series(1, 64) t(i) GROUP BY 1,2),
        |cells AS (
        | SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY cos6 DESC, cell) AS rn
        |  FROM assign_all) WHERE rn = 1),
        |qcells AS (
        | SELECT vec_id AS q_id, cell FROM (
        |  SELECT vec_id, cell,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY cos6 DESC, cell) AS rn
        |  FROM assign_all WHERE vec_id >= 8 AND vec_id < 18) WHERE rn <= 2),
        |qs AS (SELECT q.q_id, q.cell, e.embedding FROM qcells q
        |       JOIN embeddings e ON e.vec_id = q.q_id),
        |cs AS (SELECT vec_id AS c_id, embedding, cell FROM embeddings JOIN cells USING (vec_id)),
        |p AS (
        | SELECT qs.q_id, cs.c_id,
        |  sum(cs.embedding[i]::DOUBLE * qs.embedding[i]::DOUBLE) AS dot,
        |  sqrt(sum(cs.embedding[i]::DOUBLE * cs.embedding[i]::DOUBLE)) AS cn,
        |  sqrt(sum(qs.embedding[i]::DOUBLE * qs.embedding[i]::DOUBLE)) AS qn
        | FROM qs JOIN cs ON qs.cell = cs.cell AND cs.c_id <> qs.q_id,
        |  generate_series(1, 64) t(i)
        | GROUP BY 1,2),
        |scored AS (
        | SELECT q_id, c_id,
        |  round(CASE WHEN cn = 0 OR qn = 0 THEN 0 ELSE dot/(cn*qn) END, 4) AS cosine
        | FROM p),
        |ranked AS (
        | SELECT q_id, c_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rank
        | FROM scored)
        |SELECT q_id, rank, c_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,

    // PQ-ADC: codebook = subspace slices of seeds (vec_id<16); encode =
    // squared-L2 argmin at 6dp, ties to min codeword (the assign_all
    // discipline); scoring = LUT partial sums; (x-y)*(x-y) written out —
    // power() is not guaranteed identical to the engine's multiply
    "sim_topk_pq" ->
      """WITH sub AS (SELECT unnest(generate_series(0, 3)) AS s),
        |cb AS (SELECT s.s AS sub, e.vec_id AS cw, e.embedding
        |       FROM embeddings e, sub s WHERE e.vec_id < 16),
        |enc0 AS (
        | SELECT e.vec_id AS id, c.sub, c.cw,
        |  round(sum((e.embedding[c.sub*16 + i]::DOUBLE - c.embedding[c.sub*16 + i]::DOUBLE)
        |          * (e.embedding[c.sub*16 + i]::DOUBLE - c.embedding[c.sub*16 + i]::DOUBLE)), 6) AS d6
        | FROM embeddings e, cb c, generate_series(1, 16) t(i)
        | GROUP BY 1, 2, 3),
        |enc AS (
        | SELECT id, sub, cw FROM (
        |  SELECT id, sub, cw,
        |   row_number() OVER (PARTITION BY id, sub ORDER BY d6, cw) AS rn
        |  FROM enc0) WHERE rn = 1),
        |qn AS (
        | SELECT vec_id AS q_id, sqrt(sum(embedding[i]::DOUBLE * embedding[i]::DOUBLE)) AS qn
        | FROM embeddings, generate_series(1, 64) t(i)
        | WHERE vec_id >= 8 AND vec_id < 18 GROUP BY 1),
        |lut AS (
        | SELECT q.vec_id AS q_id, c.sub, c.cw,
        |  sum(q.embedding[c.sub*16 + i]::DOUBLE * c.embedding[c.sub*16 + i]::DOUBLE) AS dotp,
        |  sum(c.embedding[c.sub*16 + i]::DOUBLE * c.embedding[c.sub*16 + i]::DOUBLE) AS n2p
        | FROM embeddings q, cb c, generate_series(1, 16) t(i)
        | WHERE q.vec_id >= 8 AND q.vec_id < 18 GROUP BY 1, 2, 3),
        |p AS (
        | SELECT l.q_id, e.id AS c_id, sum(l.dotp) AS dot, sum(l.n2p) AS n2
        | FROM enc e JOIN lut l ON l.sub = e.sub AND l.cw = e.cw
        | WHERE e.id <> l.q_id GROUP BY 1, 2),
        |scored AS (
        | SELECT p.q_id, p.c_id,
        |  round(CASE WHEN q.qn = 0 OR p.n2 = 0 THEN 0
        |   ELSE p.dot/(q.qn * sqrt(p.n2)) END, 4) AS cosine
        | FROM p JOIN qn q USING (q_id)),
        |ranked AS (
        | SELECT q_id, c_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rank
        | FROM scored)
        |SELECT q_id, rank, c_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,

    // IVF-SQ: float-exact cell assignment (cells/qcells — as
    // sim_ivf_persisted) + int8-code scoring (codes — as sim_topk_sq8)
    "sim_ivf_sq8" ->
      """WITH cent AS (SELECT vec_id AS cell, embedding FROM embeddings WHERE vec_id < 8),
        |assign_all AS (
        | SELECT e.vec_id, c.cell,
        |  round(CASE WHEN sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)) = 0
        |         OR sqrt(sum(c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) = 0 THEN 0
        |   ELSE sum(e.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)
        |    / (sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
        |       * sqrt(sum(c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))) END, 6) AS cos6
        | FROM embeddings e, cent c, generate_series(1, 64) t(i) GROUP BY 1,2),
        |cells AS (
        | SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY cos6 DESC, cell) AS rn
        |  FROM assign_all) WHERE rn = 1),
        |qcells AS (
        | SELECT vec_id AS q_id, cell FROM (
        |  SELECT vec_id, cell,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY cos6 DESC, cell) AS rn
        |  FROM assign_all WHERE vec_id >= 8 AND vec_id < 18) WHERE rn <= 2),
        |mx AS (
        | SELECT vec_id, max(abs(embedding[i]::DOUBLE)) AS maxabs
        | FROM embeddings, generate_series(1, 64) t(i) GROUP BY 1),
        |codes AS (
        | SELECT e.vec_id, t.i,
        |  CASE WHEN m.maxabs = 0 THEN 0
        |   ELSE floor(e.embedding[t.i]::DOUBLE * 127.0 / m.maxabs + 0.5) END AS c
        | FROM embeddings e JOIN mx m USING (vec_id), generate_series(1, 64) t(i)),
        |p AS (
        | SELECT q.q_id, cc.vec_id AS c_id,
        |  sum(ca.c * cb.c) AS dot, sum(ca.c * ca.c) AS na, sum(cb.c * cb.c) AS nb
        | FROM qcells q
        |  JOIN cells cc ON cc.cell = q.cell AND cc.vec_id <> q.q_id
        |  JOIN codes ca ON ca.vec_id = cc.vec_id
        |  JOIN codes cb ON cb.vec_id = q.q_id AND cb.i = ca.i
        | GROUP BY 1,2),
        |scored AS (
        | SELECT q_id, c_id,
        |  round(CASE WHEN na = 0 OR nb = 0 THEN 0
        |   ELSE dot/(sqrt(na)*sqrt(nb)) END, 4) AS cosine
        | FROM p),
        |ranked AS (
        | SELECT q_id, c_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rank
        | FROM scored)
        |SELECT q_id, rank, c_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,

    // IVF-PQ: float-exact cell assignment (cells/qcells — as sim_ivf_sq8)
    // + PQ-ADC scoring from the stored codeword ids (cb/enc/lut — as
    // sim_topk_pq), candidate pairs restricted to each query's 2 probed
    // cells before the LUT sum. The CTE chain is shared with sim_rerank
    // (which re-cuts the SAME ranking at 20 and rescores exactly)
    "sim_ivf_pq" ->
      (ivfPqRankedCtes +
      """
        |SELECT q_id, rank, c_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin),

    // two-stage retrieve-then-rerank: the sim_ivf_pq ADC ranking generates
    // each query's top-20 candidate ids; ONLY those pairs are re-scored
    // with the exact double cosine and re-ranked to top-5
    "sim_rerank" ->
      (ivfPqRankedCtes +
      """,
        |cand AS (SELECT q_id, c_id FROM ranked WHERE rank <= 20),
        |ex AS (
        | SELECT cd.q_id, cd.c_id,
        |  round(CASE WHEN sqrt(sum(q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)) = 0
        |         OR sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)) = 0 THEN 0
        |   ELSE sum(e.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)
        |    / (sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
        |       * sqrt(sum(q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))) END, 4) AS cosine
        | FROM cand cd JOIN embeddings e ON e.vec_id = cd.c_id
        |  JOIN embeddings q ON q.vec_id = cd.q_id, generate_series(1, 64) t(i)
        | GROUP BY 1, 2),
        |reranked AS (
        | SELECT q_id, c_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rank
        | FROM ex)
        |SELECT q_id, rank, c_id, cosine FROM reranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin),

    // residual IVF-PQ (IVFADC): cells/qcells as sim_ivf_pq; residuals
    // r = x − c(cell(x)) on exact float→double widenings; seed residual
    // codebook (rseed); encode argmin over residual distances; scoring
    // expands x̂ = c + r̂: dot = qc + Σ dotp, ‖x̂‖² = cn2 + 2Σ cdotp + Σ n2p.
    // floor((i-1)/16) buckets the 1-based element index into its subspace
    "sim_ivf_pq_residual" ->
      """WITH cent AS (SELECT vec_id AS cell, embedding FROM embeddings WHERE vec_id < 8),
        |assign_all AS (
        | SELECT e.vec_id, c.cell,
        |  round(CASE WHEN sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)) = 0
        |         OR sqrt(sum(c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) = 0 THEN 0
        |   ELSE sum(e.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)
        |    / (sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
        |       * sqrt(sum(c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))) END, 6) AS cos6
        | FROM embeddings e, cent c, generate_series(1, 64) t(i) GROUP BY 1,2),
        |cells AS (
        | SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY cos6 DESC, cell) AS rn
        |  FROM assign_all) WHERE rn = 1),
        |qcells AS (
        | SELECT vec_id AS q_id, cell FROM (
        |  SELECT vec_id, cell,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY cos6 DESC, cell) AS rn
        |  FROM assign_all WHERE vec_id >= 8 AND vec_id < 18) WHERE rn <= 2),
        |res AS (
        | SELECT e.vec_id AS id, t.i,
        |  e.embedding[t.i]::DOUBLE - c.embedding[t.i]::DOUBLE AS r
        | FROM embeddings e JOIN cells s ON s.vec_id = e.vec_id
        |  JOIN cent c ON c.cell = s.cell, generate_series(1, 64) t(i)),
        |rseed AS (SELECT id AS cw, i, r FROM res WHERE id < 16),
        |enc0 AS (
        | SELECT r.id, CAST(floor((r.i - 1) / 16) AS INT) AS sub, rs.cw,
        |  round(sum((r.r - rs.r) * (r.r - rs.r)), 6) AS d6
        | FROM res r JOIN rseed rs ON rs.i = r.i
        | GROUP BY 1, 2, 3),
        |enc AS (
        | SELECT id, sub, cw FROM (
        |  SELECT id, sub, cw,
        |   row_number() OVER (PARTITION BY id, sub ORDER BY d6, cw) AS rn
        |  FROM enc0) WHERE rn = 1),
        |qn AS (
        | SELECT vec_id AS q_id, sqrt(sum(embedding[i]::DOUBLE * embedding[i]::DOUBLE)) AS qn
        | FROM embeddings, generate_series(1, 64) t(i)
        | WHERE vec_id >= 8 AND vec_id < 18 GROUP BY 1),
        |lut AS (
        | SELECT q.vec_id AS q_id, CAST(floor((rs.i - 1) / 16) AS INT) AS sub, rs.cw,
        |  sum(q.embedding[rs.i]::DOUBLE * rs.r) AS dotp, sum(rs.r * rs.r) AS n2p
        | FROM embeddings q, rseed rs
        | WHERE q.vec_id >= 8 AND q.vec_id < 18 GROUP BY 1, 2, 3),
        |qc AS (
        | SELECT qc0.q_id, qc0.cell,
        |  sum(q.embedding[t.i]::DOUBLE * c.embedding[t.i]::DOUBLE) AS qc
        | FROM qcells qc0 JOIN embeddings q ON q.vec_id = qc0.q_id
        |  JOIN cent c ON c.cell = qc0.cell, generate_series(1, 64) t(i)
        | GROUP BY 1, 2),
        |cn AS (
        | SELECT cell, sum(embedding[i]::DOUBLE * embedding[i]::DOUBLE) AS cn2
        | FROM cent, generate_series(1, 64) t(i) GROUP BY 1),
        |clut AS (
        | SELECT c.cell, CAST(floor((rs.i - 1) / 16) AS INT) AS sub, rs.cw,
        |  sum(c.embedding[rs.i]::DOUBLE * rs.r) AS cdotp
        | FROM cent c, rseed rs GROUP BY 1, 2, 3),
        |p AS (
        | SELECT l.q_id, e.id AS c_id, cc.cell,
        |  sum(l.dotp) AS dotr, sum(l.n2p) AS n2r, sum(cl.cdotp) AS cd
        | FROM enc e
        |  JOIN cells cc ON cc.vec_id = e.id
        |  JOIN qcells qcl ON qcl.cell = cc.cell
        |  JOIN lut l ON l.q_id = qcl.q_id AND l.sub = e.sub AND l.cw = e.cw
        |  JOIN clut cl ON cl.cell = cc.cell AND cl.sub = e.sub AND cl.cw = e.cw
        | WHERE e.id <> qcl.q_id GROUP BY 1, 2, 3),
        |scored AS (
        | SELECT p.q_id, p.c_id,
        |  round(CASE WHEN q.qn = 0 OR (cn.cn2 + 2 * p.cd + p.n2r) <= 0 THEN 0
        |   ELSE (qc.qc + p.dotr) / (q.qn * sqrt(cn.cn2 + 2 * p.cd + p.n2r)) END, 4) AS cosine
        | FROM p JOIN qn q USING (q_id)
        |  JOIN qc ON qc.q_id = p.q_id AND qc.cell = p.cell
        |  JOIN cn ON cn.cell = p.cell),
        |ranked AS (
        | SELECT q_id, c_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rank
        | FROM scored)
        |SELECT q_id, rank, c_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,

    // the streamed index is bit-identical to the batch-built one (assignment
    // is a pure per-row function of vector × persisted centroids; the ledger
    // makes replays no-ops), so the oracle is sim_ivf_persisted's SQL
    "sim_ivf_stream" ->
      """WITH cent AS (SELECT vec_id AS cell, embedding FROM embeddings WHERE vec_id < 8),
        |assign_all AS (
        | SELECT e.vec_id, c.cell,
        |  round(CASE WHEN sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)) = 0
        |         OR sqrt(sum(c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) = 0 THEN 0
        |   ELSE sum(e.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)
        |    / (sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
        |       * sqrt(sum(c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))) END, 6) AS cos6
        | FROM embeddings e, cent c, generate_series(1, 64) t(i) GROUP BY 1,2),
        |cells AS (
        | SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY cos6 DESC, cell) AS rn
        |  FROM assign_all) WHERE rn = 1),
        |qcells AS (
        | SELECT vec_id AS q_id, cell FROM (
        |  SELECT vec_id, cell,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY cos6 DESC, cell) AS rn
        |  FROM assign_all WHERE vec_id >= 8 AND vec_id < 18) WHERE rn <= 2),
        |qs AS (SELECT q.q_id, q.cell, e.embedding FROM qcells q
        |       JOIN embeddings e ON e.vec_id = q.q_id),
        |cs AS (SELECT vec_id AS c_id, embedding, cell FROM embeddings JOIN cells USING (vec_id)),
        |p AS (
        | SELECT qs.q_id, cs.c_id,
        |  sum(cs.embedding[i]::DOUBLE * qs.embedding[i]::DOUBLE) AS dot,
        |  sqrt(sum(cs.embedding[i]::DOUBLE * cs.embedding[i]::DOUBLE)) AS cn,
        |  sqrt(sum(qs.embedding[i]::DOUBLE * qs.embedding[i]::DOUBLE)) AS qn
        | FROM qs JOIN cs ON qs.cell = cs.cell AND cs.c_id <> qs.q_id,
        |  generate_series(1, 64) t(i)
        | GROUP BY 1,2),
        |scored AS (
        | SELECT q_id, c_id,
        |  round(CASE WHEN cn = 0 OR qn = 0 THEN 0 ELSE dot/(cn*qn) END, 4) AS cosine
        | FROM p),
        |ranked AS (
        | SELECT q_id, c_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rank
        | FROM scored)
        |SELECT q_id, rank, c_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,

    // window = 10 → spans p..p+9; owner = min doc_id containing the hash;
    // scrubbed text = surviving tokens rejoined (whitespace-normalized),
    // '' when everything was scrubbed, NULL only for null text
    "dedup_scrub" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |win AS (
        | SELECT doc_id, i AS p, md5(array_to_string(t[i:i+9], ' ')) AS h
        | FROM toks, unnest(generate_series(1, greatest(len(t) - 9, 0))) u(i)),
        |owners AS (
        | SELECT h, min(doc_id) AS owner FROM win GROUP BY 1
        | HAVING count(DISTINCT doc_id) >= 2),
        |rem AS (
        | SELECT DISTINCT w.doc_id, w.p + u.k AS pos
        | FROM win w JOIN owners o ON o.h = w.h AND w.doc_id <> o.owner,
        |  unnest(generate_series(0, 9)) u(k)),
        |tokpos AS (
        | SELECT doc_id, i AS pos, t[i] AS tok
        | FROM toks, unnest(generate_series(1, len(t))) u(i)),
        |kept AS (
        | SELECT tp.doc_id, count(*) AS n_kept,
        |  string_agg(tp.tok, ' ' ORDER BY tp.pos) AS text_clean
        | FROM tokpos tp
        | WHERE NOT EXISTS (SELECT 1 FROM rem r
        |   WHERE r.doc_id = tp.doc_id AND r.pos = tp.pos)
        | GROUP BY 1),
        |remc AS (SELECT doc_id, count(*) AS n_removed FROM rem GROUP BY 1)
        |SELECT d.doc_id,
        | CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        | CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed,
        | CASE WHEN d.text IS NOT NULL THEN coalesce(k.text_clean, '') END AS text_clean
        |FROM documents d LEFT JOIN kept k USING (doc_id)
        | LEFT JOIN remc r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // add-one unigram LM on doc_id<250; cost of a token with train count c
    // is lpD - floor(1e6·ln(c+1)) micro-nats, lpD = floor(1e6·ln(N+V+1));
    // c=0 (OOV) flows through the same formula. Only the final mean divides
    "doc_lm_score" ->
      """WITH ttoks AS (
        | SELECT unnest(regexp_split_to_array(text, '\s+')) AS tok
        | FROM documents WHERE doc_id < 250 AND text IS NOT NULL),
        |cnt AS (SELECT tok, count(*) AS c FROM ttoks GROUP BY 1),
        |d AS (SELECT CAST(floor(1000000 * ln(
        |  (SELECT count(*) FROM ttoks) + (SELECT count(*) FROM cnt) + 1))
        |  AS BIGINT) AS lpd),
        |stoks AS (
        | SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok
        | FROM documents WHERE text IS NOT NULL),
        |scored AS (
        | SELECT s.doc_id, coalesce(c.c, 0) AS c
        | FROM stoks s LEFT JOIN cnt c USING (tok)),
        |agg AS (
        | SELECT doc_id, count(*) AS n_tokens,
        |  sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS n_oov,
        |  sum((SELECT lpd FROM d)
        |      - CAST(floor(1000000 * ln(c + 1)) AS BIGINT)) AS s_micro
        | FROM scored GROUP BY 1)
        |SELECT doc.doc_id,
        | CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
        | CAST(coalesce(a.n_oov, 0) AS BIGINT) AS n_oov,
        | CASE WHEN a.n_tokens > 0
        |  THEN round(a.s_micro::DOUBLE / a.n_tokens / 1000000.0, 4) END AS nll
        |FROM documents doc LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc.doc_id""".stripMargin,

    // Okapi BM25, Lucene idf variant; contributions floored to integer
    // micro-units and summed exactly (addition-order-proof), score =
    // s_micro/1e6 at 4dp, (score desc, doc_id) rank ties. Identical
    // operation ORDER to the Scala expression — ln/div/mul don't reassociate
    "doc_bm25" -> bm25Sql,

    // the persisted-index path is bit-identical to the inline one over the
    // same corpus (postings rows and per-batch stat sums are exact under
    // union — PersistedPostings class doc), so its oracle IS doc_bm25's
    "doc_bm25_persisted" -> bm25Sql,

    // FtsSync materialized view: BM25 over the synced index ≡ bm25Sql over
    // the corpus's LIVE end state — update texts re-admitted, purged docs
    // gone, merge's upsert and fresh inserts present; n_docs pins the
    // telescoped stats to the live count
    "etl_fts_sync" -> {
      val synced = bm25Ctes.replace("FROM documents", "FROM final_docs")
      s"""WITH final_docs AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id = 1 THEN 'customer data value zzz'
         |         WHEN doc_id % 13 = 0 THEN text || ' zzz zzz'
         |         ELSE text END AS text
         |  FROM documents
         |  WHERE NOT (doc_id % 17 = 0 AND doc_id % 13 <> 0)
         |  UNION ALL
         |  SELECT max(doc_id) + 1, 'zzz window stream' FROM documents
         |  UNION ALL
         |  SELECT max(doc_id) + 2, 'alpha omega' FROM documents),
         |$synced
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, id AS doc_id, bm25,
         | (SELECT CAST(count(*) AS BIGINT) FROM final_docs) AS n_docs
         |FROM ranked WHERE rank <= 10
         |ORDER BY q_id, rank""".stripMargin
    },

    // purge propagation: BM25 over the retracted index ≡ bm25Sql with the
    // purged docs filtered out of the corpus CTEs; the tombstone count is
    // the purged docs' distinct (doc, term) pair count; zero_rewrite is
    // the merge-on-read routing claim
    "etl_purge_retract" -> {
      val filteredCtes = bm25Ctes.replace("FROM documents",
        "FROM (SELECT * FROM documents WHERE doc_id % 17 <> 0) documents")
      s"""WITH $filteredCtes,
         | gone AS (SELECT count(*) AS retracted FROM (
         |   SELECT DISTINCT doc_id, t FROM (
         |     SELECT doc_id,
         |       unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
         |     FROM documents WHERE doc_id % 17 = 0)))
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, id AS doc_id, bm25,
         | CAST(retracted AS BIGINT) AS retracted, TRUE AS zero_rewrite
         |FROM ranked CROSS JOIN gone WHERE rank <= 10
         |ORDER BY q_id, rank""".stripMargin
    },

    // streamed postings ≡ batch postings whatever the batching (exact under
    // union), so the streaming index answers with doc_bm25's oracle too
    "doc_bm25_stream" -> bm25Sql,

    // phrase occurrence = a token-array slice equal to the phrase; the
    // index path intersects position lists instead — same semantics,
    // including overlapping occurrences
    "doc_phrase" ->
      """WITH ph(q_id, phrase) AS (VALUES
        |  (1, 'merge join'), (2, 'table scan'), (3, 'value table part')),
        |toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |pt AS (SELECT q_id, phrase,
        |  len(list_filter(string_split(phrase, ' '), x -> x <> '')) AS plen FROM ph),
        |hits AS (
        | SELECT pt.q_id, toks.doc_id AS id, count(*) AS occurrences
        | FROM toks, pt,
        |  unnest(generate_series(1, greatest(len(t) - plen + 1, 0))) s(i)
        | WHERE array_to_string(t[i:i+plen-1], ' ') = phrase
        | GROUP BY 1, 2),
        |ranked AS (
        | SELECT q_id, id, occurrences,
        |  row_number() OVER (PARTITION BY q_id
        |   ORDER BY occurrences DESC, id) AS rank
        | FROM hits)
        |SELECT CAST(q_id AS BIGINT) AS q_id, CAST(rank AS BIGINT) AS rank,
        | id AS doc_id, CAST(occurrences AS BIGINT) AS occurrences
        |FROM ranked WHERE rank <= 10
        |ORDER BY q_id, rank""".stripMargin,

    // lexical top-20 + semantic top-20, reciprocal-rank fused with integer
    // contributions — both legs and the fusion replayed
    "doc_hybrid_rrf" -> hybridRrfSql,
    "doc_hybrid_rrf_weighted" -> hybridRrfWeightedSql,

    // window = 10 tokens → slice t[i:i+9], positions 1..len-9; duplicated =
    // hash in ≥2 DISTINCT docs; per-doc counts are per POSITION
    "dedup_windows" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |win AS (
        | SELECT doc_id, i, md5(array_to_string(t[i:i+9], ' ')) AS h
        | FROM toks, unnest(generate_series(1, greatest(len(t) - 9, 0))) u(i)),
        |nwin AS (SELECT doc_id, count(*) AS n_windows FROM win GROUP BY 1),
        |dup AS (SELECT h FROM (
        |  SELECT h, count(DISTINCT doc_id) AS nd FROM win GROUP BY 1) WHERE nd >= 2),
        |ndup AS (SELECT doc_id, count(*) AS n_dup FROM win
        | WHERE h IN (SELECT h FROM dup) GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(n.n_windows, 0) AS BIGINT) AS n_windows,
        | CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup_windows
        |FROM documents d LEFT JOIN nwin n USING (doc_id)
        | LEFT JOIN ndup p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // cluster-scoped semantic dedup: same deterministic cells as sim_ivf,
    // then "exists an earlier same-cell neighbor at cos6 ≥ 0.45" drops
    "dedup_semantic" ->
      """WITH cent AS (SELECT vec_id AS cell, embedding FROM embeddings WHERE vec_id < 8),
        |assign_all AS (
        | SELECT e.vec_id, c.cell,
        |  round(CASE WHEN sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)) = 0
        |         OR sqrt(sum(c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) = 0 THEN 0
        |   ELSE sum(e.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)
        |    / (sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
        |       * sqrt(sum(c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))) END, 6) AS cos6
        | FROM embeddings e, cent c, generate_series(1, 64) t(i) GROUP BY 1,2),
        |cells AS (
        | SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY cos6 DESC, cell) AS rn
        |  FROM assign_all) WHERE rn = 1),
        |v AS (SELECT c.vec_id, c.cell, e.embedding FROM cells c
        |      JOIN embeddings e USING (vec_id)),
        |p AS (
        | SELECT a.vec_id AS id_a,
        |  sum(a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE) AS dot,
        |  sqrt(sum(a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)) AS na,
        |  sqrt(sum(b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) AS nb
        | FROM v a JOIN v b ON a.cell = b.cell AND b.vec_id < a.vec_id,
        |  generate_series(1, 64) t(i)
        | GROUP BY a.vec_id, b.vec_id),
        |dropped AS (
        | SELECT DISTINCT id_a AS vec_id FROM p
        | WHERE round(CASE WHEN na = 0 OR nb = 0 THEN 0 ELSE dot/(na*nb) END, 6) >= 0.45)
        |SELECT v.vec_id, v.cell FROM v
        |WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.vec_id = v.vec_id)
        |ORDER BY v.vec_id""".stripMargin,

    // id-ordered micro-batches + arrival-retaining index make the stream's
    // first-arrival-wins rule coincide with the batch lower-id-wins rule:
    // the oracle is dedup_semantic's SQL verbatim
    "dedup_semantic_stream" ->
      """WITH cent AS (SELECT vec_id AS cell, embedding FROM embeddings WHERE vec_id < 8),
        |assign_all AS (
        | SELECT e.vec_id, c.cell,
        |  round(CASE WHEN sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)) = 0
        |         OR sqrt(sum(c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) = 0 THEN 0
        |   ELSE sum(e.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)
        |    / (sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
        |       * sqrt(sum(c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))) END, 6) AS cos6
        | FROM embeddings e, cent c, generate_series(1, 64) t(i) GROUP BY 1,2),
        |cells AS (
        | SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY cos6 DESC, cell) AS rn
        |  FROM assign_all) WHERE rn = 1),
        |v AS (SELECT c.vec_id, c.cell, e.embedding FROM cells c
        |      JOIN embeddings e USING (vec_id)),
        |p AS (
        | SELECT a.vec_id AS id_a,
        |  sum(a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE) AS dot,
        |  sqrt(sum(a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)) AS na,
        |  sqrt(sum(b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) AS nb
        | FROM v a JOIN v b ON a.cell = b.cell AND b.vec_id < a.vec_id,
        |  generate_series(1, 64) t(i)
        | GROUP BY a.vec_id, b.vec_id),
        |dropped AS (
        | SELECT DISTINCT id_a AS vec_id FROM p
        | WHERE round(CASE WHEN na = 0 OR nb = 0 THEN 0 ELSE dot/(na*nb) END, 6) >= 0.45)
        |SELECT v.vec_id, v.cell FROM v
        |WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.vec_id = v.vec_id)
        |ORDER BY v.vec_id""".stripMargin,

    "q12_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
        | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue,
        | CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY region, nation""".stripMargin,

    "q19_grouping_sets" ->
      """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
        | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue,
        | CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name, n_name), (n_name), ())
        |ORDER BY region, nation""".stripMargin,

    // scale-proof oracle: the expected row count comes from the corpus, not
    // a literal, so the same SQL holds at every sf
    "source_roundtrips" ->
      """SELECT f.format, n.n AS n_docs, CAST(0 AS BIGINT) AS n_mismatch
        |FROM (VALUES ('csv'), ('jsonl'), ('orc')) f(format)
        |CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n FROM documents) n
        |ORDER BY f.format""".stripMargin,

    "dedup_exact_incremental" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
        |seen AS (SELECT DISTINCT coalesce(sha256(text), '__null_text__') AS text_sha
        |  FROM corpus),
        |fresh AS (
        | SELECT doc_id, text FROM documents WHERE doc_id >= 380
        | UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 5
        | UNION ALL SELECT doc_id + 10000, text FROM documents
        |  WHERE doc_id >= 450 AND doc_id < 455),
        |keyed AS (SELECT doc_id, text,
        |  coalesce(sha256(text), '__null_text__') AS text_sha FROM fresh),
        |w AS (SELECT text_sha, min(doc_id) AS doc_id FROM keyed GROUP BY 1)
        |SELECT k.doc_id, k.text_sha FROM keyed k
        |JOIN w ON w.text_sha = k.text_sha AND w.doc_id = k.doc_id
        |WHERE k.text_sha NOT IN (SELECT text_sha FROM seen)
        |ORDER BY k.doc_id""".stripMargin,

    // the bloom only routes (false = definitely-novel skips the index,
    // maybe = exact anti-join), so the oracle is the plain exact rule —
    // bloom false positives must be invisible in the result
    "dedup_exact_bloom" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
        |seen AS (SELECT DISTINCT coalesce(sha256(text), '__null_text__') AS text_sha
        |  FROM corpus),
        |fresh AS (
        | SELECT doc_id, text FROM documents WHERE doc_id >= 280
        | UNION ALL SELECT doc_id + 20000, text FROM documents
        |  WHERE doc_id >= 10 AND doc_id < 20),
        |keyed AS (SELECT doc_id, text,
        |  coalesce(sha256(text), '__null_text__') AS text_sha FROM fresh),
        |w AS (SELECT text_sha, min(doc_id) AS doc_id FROM keyed GROUP BY 1)
        |SELECT k.doc_id, k.text_sha FROM keyed k
        |JOIN w ON w.text_sha = k.text_sha AND w.doc_id = k.doc_id
        |WHERE k.text_sha NOT IN (SELECT text_sha FROM seen)
        |ORDER BY k.doc_id""".stripMargin,

    // restates mixtureSample exactly: identical rate arithmetic (same
    // operation order, so the doubles are bit-identical) and the md5Long
    // keep threshold
    "doc_mixture" ->
      """WITH n AS (SELECT lang, CAST(count(*) AS BIGINT) AS nl
        |           FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM documents),
        |r AS (SELECT lang,
        |  least(1.0, 0.2 * 0.5 * t / nl) AS rate
        | FROM n CROSS JOIN tot)
        |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_sampled
        |FROM documents d JOIN r ON d.lang = r.lang
        |WHERE ('0x'||substr(md5(d.text),1,15))::BIGINT % 1000000
        |      < floor(rate * 1000000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
        | sha256(text) AS content_sha
        |FROM documents ORDER BY doc_id""".stripMargin,

    // restates MediaDecoder.DeterministicStub's md5Long derivation: the
    // synthetic "media" bytes are the utf-8 text, so md5(text) in DuckDB
    // hashes the same bytes the stub decoder receives
    "multimodal_features" ->
      """WITH m AS (
        | SELECT doc_id, ('0x'||substr(md5(text),1,15))::BIGINT AS h
        | FROM documents WHERE doc_id < 200)
        |SELECT doc_id,
        | 16 + h % 1024 AS width,
        | 16 + (h // 1024) % 1024 AS height,
        | 1 + h % 300 AS n_frames,
        | CAST(8 AS BIGINT) AS feature_dim
        |FROM m ORDER BY doc_id""".stripMargin,

    // epoch-7 permutation: the md5Long convention over "7:"||id, row order
    // IS the contract (the driver compare preserves order)
    "doc_shuffle" ->
      """SELECT doc_id,
        | ('0x'||substr(md5('7:'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS shuffle_key
        |FROM documents
        |ORDER BY shuffle_key, doc_id""".stripMargin,

    // the full last-mile chain restated: md5-bucket split (doc_split's
    // rule), epoch-7 shuffle key (doc_shuffle's rule), greedy token packing
    // in shuffle order within each split (doc_shards' rule with the shuffle
    // key as the order column), 1-based position within (split, shard)
    "doc_epoch_manifest" ->
      """WITH sp AS (
        | SELECT doc_id, text,
        |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        | FROM (SELECT doc_id, text,
        |   ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 100 AS b
        |  FROM documents)),
        |sh AS (
        | SELECT doc_id, split,
        |  ('0x'||substr(md5('7:'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS shuffle_key,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_toks
        | FROM sp),
        |p AS (
        | SELECT doc_id, split, shuffle_key,
        |  CAST(floor((sum(n_toks) OVER (PARTITION BY split ORDER BY shuffle_key)
        |    - n_toks) / 2048.0) AS BIGINT) AS shard
        | FROM sh)
        |SELECT doc_id, split, shard,
        | CAST(row_number() OVER (PARTITION BY split, shard ORDER BY shuffle_key) AS BIGINT) AS position
        |FROM p
        |ORDER BY split, shard, position""".stripMargin,

    // media bytes → stub features (md5Long nibbles /255 as FLOAT — the
    // ::FLOAT::DOUBLE round trip replays the engine's float storage) →
    // seed-centroid cells at 6dp → 2-probe top-3 at 4dp, the
    // sim_ivf_persisted ranking discipline over the derived vectors
    "multimodal_ann" ->
      """WITH h AS (
        | SELECT doc_id, ('0x'||substr(md5(text),1,15))::BIGINT AS h FROM documents),
        |f AS (
        | SELECT doc_id, i,
        |  CAST(((h >> ((i-1)*4)) & 255) / 255 AS FLOAT)::DOUBLE AS x
        | FROM h, generate_series(1, 8) t(i)),
        |cent AS (SELECT doc_id AS cell, i, x FROM f WHERE doc_id < 4),
        |assign_all AS (
        | SELECT f.doc_id, c.cell,
        |  round(CASE WHEN sqrt(sum(f.x*f.x)) = 0 OR sqrt(sum(c.x*c.x)) = 0 THEN 0
        |   ELSE sum(f.x*c.x) / (sqrt(sum(f.x*f.x)) * sqrt(sum(c.x*c.x))) END, 6) AS cos6
        | FROM f JOIN cent c USING (i) GROUP BY 1, 2),
        |cells AS (SELECT doc_id, cell FROM (
        |  SELECT doc_id, cell,
        |   row_number() OVER (PARTITION BY doc_id ORDER BY cos6 DESC, cell) AS rn
        |  FROM assign_all) WHERE rn = 1),
        |qcells AS (SELECT doc_id AS q_id, cell FROM (
        |  SELECT doc_id, cell,
        |   row_number() OVER (PARTITION BY doc_id ORDER BY cos6 DESC, cell) AS rn
        |  FROM assign_all WHERE doc_id >= 4 AND doc_id < 10) WHERE rn <= 2),
        |qs AS (SELECT q.q_id, q.cell, f.i, f.x FROM qcells q JOIN f ON f.doc_id = q.q_id),
        |cs AS (SELECT f.doc_id AS c_id, cells.cell, f.i, f.x
        |       FROM f JOIN cells USING (doc_id)),
        |p AS (
        | SELECT qs.q_id, cs.c_id,
        |  sum(cs.x*qs.x) AS dot,
        |  sqrt(sum(cs.x*cs.x)) AS cn, sqrt(sum(qs.x*qs.x)) AS qn
        | FROM qs JOIN cs ON qs.cell = cs.cell AND qs.i = cs.i AND cs.c_id <> qs.q_id
        | GROUP BY 1, 2),
        |scored AS (
        | SELECT q_id, c_id,
        |  round(CASE WHEN cn = 0 OR qn = 0 THEN 0 ELSE dot/(cn*qn) END, 4) AS cosine
        | FROM p),
        |ranked AS (
        | SELECT q_id, c_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rank
        | FROM scored)
        |SELECT q_id, rank, c_id, cosine FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin)
}
