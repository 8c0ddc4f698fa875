package graft

import java.nio.file.Files

import graft.model.Schemas
import graft.sources.{AtomicWarehouse, Warehouse}
import org.apache.spark.sql.functions._

/** Warehouse semantics: retry/backoff (the reference's DB-awakening contract,
  * core/database.py:38-50 — ≤3 attempts, 1s then 2s) and replace
  * (read-modify-write without clobbering the input mid-plan).
  */
class WarehouseSpec extends SparkSpec {

  test("withRetry: succeeds on third attempt, backoff 1s then 2s") {
    var calls = 0
    val t0 = System.nanoTime()
    val r = Warehouse.withRetry(attempts = 3, firstBackoffMs = 100) {
      calls += 1
      if (calls < 3) throw new RuntimeException("db asleep")
      "awake"
    }
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(r == "awake" && calls == 3)
    assert(elapsedMs >= 300, s"expected >= 100+200ms backoff, got $elapsedMs") // 100 + 200
  }

  test("withRetry: gives up after the attempt budget") {
    var calls = 0
    val e = intercept[RuntimeException] {
      Warehouse.withRetry(attempts = 3, firstBackoffMs = 1) { calls += 1; throw new RuntimeException("still asleep") }
    }
    assert(e.getMessage == "still asleep" && calls == 3)
  }

  test("replace: a table can be rewritten from a plan that reads itself") {
    import spark.implicits._
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-whspec-").toString)
    val t = "dims/Provider"
    wh.append(t, Seq((1, "A", new java.sql.Timestamp(0))).toDF("Id", "Name", "CreateDt"))
    // read-modify-write: bump ids by 10 reading the same table
    val updated = wh.read(t, Schemas.provider).withColumn("Id", col("Id") + 10)
    wh.replace(t, updated)
    val back = wh.read(t, Schemas.provider).collect()
    assert(back.length == 1 && back.head.getInt(0) == 11)
  }
}
