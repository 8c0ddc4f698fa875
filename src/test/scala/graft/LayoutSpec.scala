package graft

import graft.operators.Layout
import org.apache.spark.sql.functions._

/** The Z-order kernel and layout: the Morton interleave must match a
  * straightforward reference implementation bit-for-bit, the SQL
  * restatement ([[Layout.zvalueSql]]) must equal the Column form on the
  * same engine (the guard that keeps the DuckDB oracle honest), and
  * re-laying a frame must never change its rows.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def mortonRef(a: Long, b: Long, bits: Int): Long =
    (0 until bits).map { k =>
      (((a >> k) & 1L) << (2 * k)) | (((b >> k) & 1L) << (2 * k + 1))
    }.reduce(_ | _)

  test("zvalue matches the reference Morton interleave, incl. bucket truncation") {
    val rnd = new scala.util.Random(7)
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L), (70000L, 3L)) ++
      (1 to 50).map(_ => (rnd.nextInt(1 << 20).toLong, rnd.nextInt(1 << 20).toLong))
    val df = rows.toDF("a", "b")
    val got = df.select($"a", $"b",
      Layout.zvalue($"a", 0L, 2, $"b", 0L, 3, bits = 16).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    rows.foreach { case (a, b) =>
      val want = mortonRef(a >> 2, b >> 3, 16)
      assert(got((a, b)) == want, s"zvalue($a,$b) = ${got((a, b))}, want $want")
    }
  }

  test("zvalueSql run as SQL equals the Column form (oracle-parity guard)") {
    val df = (0L until 500L).map(i => (i * 37 % 1000, i * 91 % 4096)).toDF("a", "b")
    df.createOrReplaceTempView("zv_parity")
    val viaSql = spark.sql(
      s"SELECT a, b, ${Layout.zvalueSql("a", 0L, 1, "b", 0L, 2, bits = 12)} AS z " +
        "FROM zv_parity").collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val viaCol = df.select($"a", $"b",
      Layout.zvalue($"a", 0L, 1, $"b", 0L, 2, bits = 12).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(viaSql == viaCol)
  }

  test("partitioned warehouse read prunes partitions at planning time") {
    // the Warehouse.appendPartitioned scaladoc's claim, held here: a filter
    // on the partition column never lists the other partitions into the scan
    val wh = new graft.sources.AtomicWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-layout-part-").toString)
    val df = (0L until 300L).map(i => (i, s"src${i % 3}", s"payload$i"))
      .toDF("id", "source", "payload")
    wh.appendPartitioned("events_p", df, Seq("source"))
    val q = spark.read.parquet(wh.path("events_p")).filter($"source" === "src1")
    assert(q.count() == 100)
    val scan = q.queryExecution.executedPlan.collectLeaves().head
    val scanStr = scan.toString
    assert(scanStr.contains("PartitionFilters") && scanStr.contains("src1"),
      s"partition filter not pushed to the scan:\n$scanStr")
    // and the scan's selected file listing excludes the other two partitions
    val files = scan.asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
      .selectedPartitions.toPartitionArray.map(_.filePath.toString).toSeq
    assert(files.nonEmpty && files.forall(_.contains("source=src1")),
      s"scan lists non-matching partitions: $files")
  }

  test("zorder re-lays rows without changing them, and orders files along the curve") {
    val df = (0L until 2000L).map(i => (i, i * 131 % 97, i * 17 % 1024)).toDF("id", "u", "t")
    val z = Layout.zvalue($"u", 0L, 0, $"t", 0L, 0, bits = 10)
    val laid = Layout.zorder(df, z, numFiles = 4)
    assert(laid.columns.toSeq == Seq("id", "u", "t"), "helper column leaked")
    assert(laid.collect().map(_.getLong(0)).sorted.toSeq == (0L until 2000L).toSeq,
      "zorder changed the row multiset")
    // partitions own contiguous, non-overlapping curve segments (what makes
    // row-group min/max stats tight in both dimensions)
    val ranges = laid.select($"u", $"t")
      .withColumn("z", Layout.zvalue($"u", 0L, 0, $"t", 0L, 0, bits = 10))
      .withColumn("p", spark_partition_id())
      .groupBy($"p").agg(min($"z").as("lo"), max($"z").as("hi"))
      .orderBy($"lo").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(ranges.length > 1)
    ranges.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(hi1 <= lo2, s"partition curve segments overlap: $ranges")
    }
  }
}
