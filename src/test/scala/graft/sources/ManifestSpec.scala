package graft.sources

import java.nio.file.Files

import graft.SparkSpec

/** The `_txlog` format is pinned: a golden log of literal lines in the
  * format every earlier build wrote — one snapshot manifest and a tail
  * using every line kind, including the clearing lines of a table drop —
  * parses and renders back byte for byte, folds to the expected state, and
  * resumes under [[AtomicWarehouse]] with the same answers before and after
  * a fold of its own.
  */
class ManifestSpec extends SparkSpec {
  import Manifest._

  private val schemaP =
    """{"type":"struct","fields":[{"name":"pid","type":"long","nullable":false,"metadata":{}}]}"""
  private val schemaT = """{"type":"struct","fields":[""" +
    """{"name":"id","type":"long","nullable":true,"metadata":{}},""" +
    """{"name":"val","type":"string","nullable":true,"metadata":{}},""" +
    """{"name":"pid","type":"long","nullable":true,"metadata":{}}]}"""
  private val schemaD =
    """{"type":"struct","fields":[{"name":"k","type":"long","nullable":false,"metadata":{}}]}"""
  private val statsA = """{"rows":5000,"bytes":42484,"cols":{"id":{"t":"i","n":0,"min":0,"max":4999}}}"""
  private val statsC = """{"rows":10,"bytes":1066,"cols":{"id":{"t":"i","n":0,"min":5000,"max":5009}}}"""
  private val statsE = """{"rows":20,"bytes":1164,"cols":{"id":{"t":"i","n":0,"min":5000,"max":5019}}}"""
  private val dvA = """{"n":4500,"f":"dv-88152b3b.bin"}"""
  private val dvB = """{"n":1,"ords":[5]}"""
  private val bloomA = """{"cols":{"v":{"f":"tx-a-bf1-v.bf","t":"s"}}}"""
  private val bloomC = """{"cols":{"v":{"f":"tx-c-bf1-v.bf","t":"s"}}}"""

  /** The golden log, manifest name → literal lines. */
  private val golden: Seq[(String, Seq[String])] = Seq(
    "v00000004.snap.tsv" -> Seq(
      "ts\t1792410772233",
      "snapshot",
      "truncate\tp",
      "truncate\tt",
      "truncate\tt/_bloom",
      "truncate\tt/_dv",
      "add\tp\ttx-p-0-part-00000.snappy.parquet",
      "add\tt\ttx-a-0-part-00000.snappy.parquet",
      "add\tt\ttx-b-0-part-00000.snappy.parquet",
      "add\tt/_bloom\ttx-a-bf1-v.bf",
      "add\tt/_dv\tdv-88152b3b.bin",
      s"schema\tp\t$schemaP",
      s"schema\tt\t$schemaT",
      "cluster\tt\tid",
      "colmap\tt\t{\"val\":\"v\"}",
      "changefeed\tt\ton",
      "bloomcols\tt\t{\"cols\":[\"val\"],\"fpp\":0.01}",
      "constraint\tt\tid_nonneg\tid >= 0",
      "fk\tt\tt_p\tpid|p|pid",
      "unique\tt\tt_id\tid",
      "cdffloor\tt\t3",
      "txn\tt\tapp\t0",
      s"stats\tt\ttx-a-0-part-00000.snappy.parquet\t$statsA",
      s"dv\tt\ttx-a-0-part-00000.snappy.parquet\t$dvA",
      s"dv\tt\ttx-b-0-part-00000.snappy.parquet\t$dvB",
      s"bloom\tt\ttx-a-0-part-00000.snappy.parquet\t$bloomA"),
    // an exactly-once stream append
    "v00000005.tsv" -> Seq(
      "ts\t1792410772300",
      "add\tt\ttx-c-0-part-00000.snappy.parquet",
      s"stats\tt\ttx-c-0-part-00000.snappy.parquet\t$statsC",
      s"schema\tt\t$schemaT",
      "txn\tt\tapp\t1",
      "add\tt/_bloom\ttx-c-bf1-v.bf",
      s"bloom\tt\ttx-c-0-part-00000.snappy.parquet\t$bloomC"),
    // a row-preserving rewrite: the removed file takes its DV with it
    "v00000006.tsv" -> Seq(
      "ts\t1792410772350",
      "remove\tt\ttx-b-0-part-00000.snappy.parquet",
      "add\tt\ttx-e-0-part-00000.snappy.parquet",
      s"stats\tt\ttx-e-0-part-00000.snappy.parquet\t$statsE",
      "cdfnoop\tt"),
    // a second table with every declaration…
    "v00000007.tsv" -> Seq(
      "ts\t1792410772400",
      "add\td\ttx-d-0-part-00000.snappy.parquet",
      s"schema\td\t$schemaD",
      "cluster\td\tk",
      "colmap\td\t{\"k2\":\"k\"}",
      "changefeed\td\ton",
      "bloomcols\td\t{\"cols\":[\"k\"],\"fpp\":0.01}",
      "constraint\td\tk_pos\tk > 0",
      "fk\td\td_p\tk|p|pid",
      "unique\td\td_k\tk",
      "cdffloor\td\t7",
      "txn\td\tapp\t9"),
    // …and its drop, clearing each of them
    "v00000008.tsv" -> Seq(
      "ts\t1792410772450",
      "truncate\td",
      "colmap\td\t{}",
      "cluster\td\t",
      "changefeed\td\toff",
      "cdffloor\td\t",
      "bloomcols\td\t",
      "constraint\td\tk_pos\t",
      "fk\td\td_p\t",
      "unique\td\td_k\t",
      "txn\td\tapp\t"))

  private val a = "tx-a-0-part-00000.snappy.parquet"
  private val c = "tx-c-0-part-00000.snappy.parquet"
  private val e = "tx-e-0-part-00000.snappy.parquet"
  private val expected = LogState(
    adds = Map("p" -> Vector("tx-p-0-part-00000.snappy.parquet"), "t" -> Vector(a, c, e),
      "t/_bloom" -> Vector("tx-a-bf1-v.bf", "tx-c-bf1-v.bf"),
      "t/_dv" -> Vector("dv-88152b3b.bin"), "d" -> Vector.empty),
    truncated = Set("p", "t", "t/_bloom", "t/_dv", "d"),
    schemas = Map("p" -> schemaP, "t" -> schemaT),
    stats = Map(("t", a) -> statsA, ("t", c) -> statsC, ("t", e) -> statsE),
    cluster = Map("t" -> "id"),
    colmap = Map("t" -> "{\"val\":\"v\"}"),
    dvs = Map(("t", a) -> dvA),
    cdf = Set("t"),
    blooms = Map(("t", a) -> bloomA, ("t", c) -> bloomC),
    bloomcols = Map("t" -> "{\"cols\":[\"val\"],\"fpp\":0.01}"),
    constraints = Map(("t", "id_nonneg") -> "id >= 0"),
    fks = Map(("t", "t_p") -> "pid|p|pid"),
    uniques = Map(("t", "t_id") -> "id"),
    cdffloor = Map("t" -> 3),
    txns = Map(("t", "app") -> 1L))

  test("every golden line renders back byte for byte; the log folds to the expected state") {
    val lines = golden.flatMap(_._2)
    lines.foreach(l => assert(render(parse(l)) == l, s"round trip changed '$l'"))
    val kinds = lines.map(_.takeWhile(_ != '\t')).toSet
    assert(kinds == Set("ts", "snapshot", "truncate", "add", "remove", "schema", "stats",
      "dv", "bloom", "changefeed", "cdfnoop", "cluster", "bloomcols", "colmap",
      "constraint", "fk", "unique", "cdffloor", "txn"))
    assert(fold(lines.iterator.map(parse(_))) == expected)
    // a snapshot of the state folds back to it (a table with no files
    // left is simply absent from the refolded adds)
    assert(fold((Snapshot +: render(expected)).iterator) ==
      expected.copy(adds = expected.adds.filter(_._2.nonEmpty)))
    // a drop's clearing lines (after its ts and truncate) are exactly the
    // dropped table's declared keys
    val beforeDrop = fold(golden.init.flatMap(_._2).iterator.map(parse(_)))
    assert(clears(beforeDrop, _ == "d").map(render).toSet == golden.last._2.drop(2).toSet)
  }

  test("a root holding the golden log resumes with the same answers before and after a fold") {
    val dir = Files.createTempDirectory("graft-manifest-golden-")
    Files.createDirectories(dir.resolve("_txlog"))
    golden.foreach { case (name, lines) =>
      Files.write(dir.resolve("_txlog").resolve(name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    def answers(wh: AtomicWarehouse): Seq[Any] = Seq(
      wh.visibleDataFiles("t"), wh.visibleDataFiles("t/_bloom"), wh.visibleDataFiles("t/_dv"),
      wh.visibleDataFiles("d"), wh.exists("d"), wh.currentSchema("t").map(_.fieldNames.toSeq),
      wh.clusterBy("t"), wh.bloomIndex("t"), wh.constraintsOf("t"), wh.foreignKeysOf("t"),
      wh.uniquesOf("t"), wh.changeFeedEnabled("t"), wh.changeFeedFloor("t"),
      wh.lastCommittedBatch("t", "app"), wh.clusterBy("d"), wh.bloomIndex("d"),
      wh.constraintsOf("d"), wh.foreignKeysOf("d"), wh.uniquesOf("d"),
      wh.changeFeedEnabled("d"), wh.changeFeedFloor("d"), wh.lastCommittedBatch("d", "app"),
      wh.catalogTables())
    val wh = new AtomicWarehouse(spark, dir.toString)
    val before = answers(wh)
    assert(before == Seq(Seq(a, c, e), Seq("tx-a-bf1-v.bf", "tx-c-bf1-v.bf"),
      Seq("dv-88152b3b.bin"), Nil, false, Some(Seq("id", "val", "pid")),
      Some(Seq("id")), Some((Seq("val"), 0.01)), Map("id_nonneg" -> "id >= 0"),
      Map("t_p" -> (Seq("pid"), "p", Seq("pid"))), Map("t_id" -> "id"), true, 3,
      Some(1L), None, None, Map.empty, Map.empty, Map.empty, false, 0, None,
      Seq("p", "t")))
    assert(wh.commitHistory(None).map(r => (r._1, r._2, r._3)) == Seq(
      (4, true, 1792410772233L), (5, false, 1792410772300L), (6, false, 1792410772350L),
      (7, false, 1792410772400L), (8, false, 1792410772450L)))
    assert(wh.versionAtTimestamp(1792410772399L) == 6)
    // fold the resumed log into a snapshot of this build's rendering
    wh.vacuum(olderThanMs = Long.MaxValue)
    assert(wh.commitHistory(None).last._2, "vacuum did not fold the log")
    assert(answers(wh) == before)
    assert(answers(new AtomicWarehouse(spark, dir.toString)) == before)
  }
}
