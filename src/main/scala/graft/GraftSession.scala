package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

import graft.functions._

/** Registers graft's native Catalyst expressions for SQL use
  * (`SELECT graft_title(x) ...`). Attach with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or via
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // SQL over warehouse tables: GraftCatalog's V2 relations resolve into
    // engine-built parquet plans (manifest file pruning + deletion vectors)
    e.injectResolutionRule(session => graft.sql.GraftRelationResolution(session))
    // row-level UPDATE/MERGE reach `resolved` only after the analyzer's
    // assignment-alignment batch, which runs AFTER the main resolution
    // fixed point — a post-hoc pass (the rule is idempotent) catches them
    e.injectPostHocResolutionRule(session => graft.sql.GraftRelationResolution(session))
    // the change feed as a SQL table function (Delta's table_changes shape)
    e.injectTableFunction((
      FunctionIdentifier("graft_changes"),
      new ExpressionInfo("graft", "graft_changes"),
      (exprs: Seq[Expression]) => graft.sql.GraftTableFunctions.changes(exprs)))

    def fn(name: String, build: Seq[Expression] => Expression): Unit =
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        build))

    fn("graft_title", exprs => PyTitleExpr(exprs.head, strip = false))
    fn("graft_strip_title", exprs => PyTitleExpr(exprs.head, strip = true))
    fn("graft_infer_date", exprs => FuzzyDateExpr(exprs.head))
    fn("graft_simhash", exprs => SimHashExpr(exprs.head))
    fn("graft_vec_dot", exprs => VectorDotExpr(exprs(0), exprs(1)))
    fn("graft_vec_cosine", exprs => VectorCosineExpr(exprs(0), exprs(1)))
    fn("graft_vec_norm", exprs => VectorNormExpr(exprs.head))
    fn("graft_sq8_encode", exprs => Sq8EncodeExpr(exprs.head))
    fn("graft_sq8_cosine", exprs => Sq8CosineExpr(exprs(0), exprs(1)))
    // one-pass profile family, registered with the operator-level defaults
    fn("graft_text_profile", exprs =>
      TextProfileExpr(exprs.head, graft.operators.TextOps.stopwords.map(_._2)))
    fn("graft_repetition_stats", exprs => RepetitionStatsExpr(exprs.head))
    fn("graft_fingerprint", exprs => FingerprintExpr(exprs.head, k = 8))
    fn("graft_shingle_count", exprs => ShingleCountExpr(exprs.head, k = 3))
    fn("graft_minhash_sig", exprs => MinHashSigExpr(exprs.head, k = 5,
      graft.operators.Dedup.MinHashA.take(8), graft.operators.Dedup.MinHashB.take(8)))
    fn("graft_intersect_count", exprs => IntersectCountExpr(exprs(0), exprs(1)))
  }
}

/** Canonical session factory. local[32] mirrors the test harness; on a real
  * cluster the same config object is what spark-submit would carry, with
  * shuffle partitions sized to ~2-3× total cores and AQE left on to coalesce
  * and re-plan at runtime.
  */
object GraftSession {
  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // runtime bloom-filter injection: joins with a selective build side get
      // a bloom filter pushed into the probe-side scan, pruning row groups
      // before the shuffle. Inert below the (10 GB) probe-size threshold, so
      // local runs are unaffected; at 100 TB it is what keeps per-batch
      // index probes (e.g. incremental dedup's corpus-band join) from paying
      // a full index scan per batch
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // the incremental-dedup point probe pushes a micro-batch's band keys /
      // candidate doc ids into the index scans as literal In predicates
      // (Dedup.prefilterAndVerify pointLookup). Above this threshold Spark
      // rewrites a parquet In pushdown to a min/max range check, which is
      // useless for uniformly-distributed hash keys — so raise it to the
      // probe caps. NOT higher: parquet-mr builds the In as a LEFT-DEEP
      // or(eq, or(eq, ...)) tree and evaluates it by recursion, one frame
      // per value — a 10k-literal list overflows a default 1 MB executor
      // stack inside the vectorized reader (observed as StackOverflowError
      // in nextBatch). 1024 values ≈ a few hundred KB of visitor frames.
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      .config("spark.sql.session.timeZone", "UTC")
      // some testdata generations wrote events.ts as parquet
      // TIMESTAMP(NANOS); Spark has no nanos timestamp type, so read those
      // as a nanos-since-epoch long (public legacy flag). Current
      // generations write TIMESTAMP(MICROS) — SparkEntry.eventsTable
      // normalizes either shape to the same nanos long.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // generated-class cache (LRU, default 100 entries). One fresh price
      // list through Pipeline compiles ~147 distinct classes and its replay
      // ~22 more, so at 100 every entry is evicted before its next use and
      // each file re-pays ~145 Janino compiles (2.5-3.6 s on 4 cores); at
      // 1000 a steady-state file compiles 8-12 (its per-file literals) and
      // a replay none. STATIC conf: the first session in the JVM fixes it,
      // a later builder's value is ignored
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")

  def get(master: String = "local[32]"): SparkSession = {
    val s = builder(master).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Drain budget (ms) for the AvailableNow stream fixtures (q10_stream,
    * q11_stream, dedup_stream, dedup_exact_stream). 300 s is deliberately
    * generous for correctness runs, but it is read per call so harnesses can
    * lower it: BENCH_r06 was killed at rc:124 with zero data in part because
    * three stream queries could each legally stall 300 s × 3 reps before
    * their drain guards threw (~45 min of sanctioned silence). Bench sets
    * the system property to ~120 s; the env var wins for driver overrides.
    */
  def streamDrainTimeoutMs: Long =
    sys.env.get("SPARK_GRAFT_STREAM_DRAIN_MS")
      .orElse(sys.props.get("graft.stream.drain.ms"))
      .map(_.toLong).getOrElse(300000L)

  /** An isolated session (own SQLConf, shared SparkContext/extensions) with
    * `spark.sql.shuffle.partitions` sized to a stream's PER-BATCH volume.
    *
    * Stateful streaming operators freeze their state partition count from
    * the shuffle-partition conf at first query start (it is written into the
    * checkpoint and can never change), and every micro-batch then pays one
    * state-store commit + one sink task per partition REGARDLESS of how few
    * rows the batch carries. Inheriting a batch session's cluster-sized
    * default is therefore pure per-batch overhead on small-batch streams:
    * StreamProbe measures the 33k-rows/batch fixtures draining 2.2× faster
    * at 8 state partitions than at the session default 32 (identical
    * results — state is keyed, partitioning only shards it). On a real
    * cluster the same sizing rule applies in reverse: set `statePartitions`
    * to ~2-3× the cores the stream's steady-state batch can actually use,
    * because the checkpoint locks the choice for the stream's lifetime.
    *
    * `newSession()` is the supported isolation mechanism: conf changes here
    * never leak to the caller's session, and the shared SparkContext means
    * cached data and the function registry (extensions re-apply) carry over.
    */
  def streamSession(s: SparkSession, statePartitions: Int = 8): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    issuedStreamSessions.synchronized(issuedStreamSessions.put(ss, java.lang.Boolean.TRUE))
    ss
  }

  /** Every session [[streamSession]] has handed out (weakly held — a session
    * only the map still references is collectable). Needed because each
    * `newSession()` has its OWN StreamingQueryManager: a harness sweeping
    * `root.streams.active` cannot see — let alone stop — a stream started on
    * an isolated session, so an abandoned (timed-out) stream fixture would
    * keep draining and contend with every query after it.
    */
  private val issuedStreamSessions =
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()

  /** Stop every active streaming query on `root` AND on every issued stream
    * session. Per-query stop failures are swallowed: the caller is a cleanup
    * sweep, and a query that died on its own is already what we want.
    */
  def stopAllStreams(root: SparkSession): Unit = {
    val issued = issuedStreamSessions.synchronized {
      import scala.jdk.CollectionConverters._
      issuedStreamSessions.keySet().asScala.toVector
    }
    (root +: issued).distinct.foreach { s =>
      try s.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      catch { case _: Throwable => () }
    }
  }
}
