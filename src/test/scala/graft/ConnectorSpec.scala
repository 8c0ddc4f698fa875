package graft

import java.nio.file.Files

import graft.model.Schemas
import graft.sources.{AtomicWarehouse, CsvSource, GraftBlobFileSystem, JdbcSink}
import graft.tools.Maintain
import org.apache.hadoop.fs.Path

/** Proof-of-seam for SURVEY §7's "storage is a connector detail" stance:
  * the engine runs unchanged against a different storage scheme, and
  * dimension frames round-trip through a real JDBC database — zero changes
  * in `operators/` for either.
  */
class ConnectorSpec extends SparkSpec {
  import spark.implicits._

  test("object-store-style scheme: EP1 runs end-to-end on a graftblob:// warehouse") {
    GraftBlobFileSystem.install(spark)
    val dir = Files.createTempDirectory("graft-blobwh-").toString
    val wh = new AtomicWarehouse(spark, s"graftblob:$dir")
    val p = new Pipeline(spark, wh)
    val csv =
      """Producto,Fecha 1,Provedor,Precio,,,,
        |Aceite Capullo 500ml *,07/03/2025,Vicente,1.347,,,,
        |Arroz Premium 1kg x 12,07/03/2025,DosPinos,2.500,,,,
        |""".stripMargin
    val res = p.processCsv(CsvSource.readString(spark, csv), "products", "lista.csv")
    assert(res.status, res.message)
    // dims landed under the foreign scheme, engine code untouched
    val names = wh.read("dims/Provider", Schemas.provider)
      .collect().map(_.getString(1)).sorted.toSeq
    assert(names == Seq("Dos Pinos", "Vicente"))
    assert(p.ledger.statusOf("products", "lista.csv") == Schemas.FileStatus.Success)
    // and the skip-if-done lifecycle reads back through the same scheme
    assert(p.processCsv(CsvSource.readString(spark, csv), "products", "lista.csv")
      .message.contains("already processed"))
  }

  test("vacuum and a Maintain discovery pass run over a graftblob: root, keeping every row") {
    GraftBlobFileSystem.install(spark)
    val dir = Files.createTempDirectory("graft-blobvac-").toString
    val root = s"graftblob:$dir"
    val wh = new AtomicWarehouse(spark, root)
    val schema = Seq((0L, "")).toDF("id", "text").schema
    def ids(): Seq[Long] =
      wh.read("docs", schema).collect().map(_.getLong(0)).sorted.toSeq
    def physical(): Long = {
      val files = Files.walk(java.nio.file.Paths.get(dir, "docs"))
      try files.filter(_.toString.endsWith(".parquet")).count() finally files.close()
    }
    (1 to 3).foreach(i =>
      wh.append("docs", Seq((i.toLong, s"d$i")).toDF("id", "text").coalesce(1)))
    // the replace un-references the three appended files: vacuum's garbage
    wh.replace("docs", wh.read("docs", schema).coalesce(1))
    wh.vacuum(0L)
    assert(ids() == Seq(1L, 2L, 3L))
    assert(physical() == 1L, "vacuum left unreferenced files")
    wh.append("docs", Seq((4L, "d4")).toDF("id", "text").coalesce(1))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Maintain.discoverTables(fs, root) == Seq("docs"))
    Maintain.run(spark, root, Nil, graceMs = 0L)
    assert(ids() == Seq(1L, 2L, 3L, 4L))
    assert(wh.visibleFileCount("docs") == 1 && physical() == 1L)
  }

  test("JDBC sink: dims-shaped frames round-trip through embedded Derby") {
    val sink = new JdbcSink(spark, "jdbc:derby:memory:graftdb;create=true",
      Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver"))
    val dims = Seq((1, "Dos Pinos", "2025-03-07"), (2, "Vicente", "2025-03-07"))
      .toDF("Id", "Name", "CreatedDate")
    sink.overwrite("Provider", dims)
    sink.append("Provider", Seq((3, "Serrano", "2025-03-08")).toDF("Id", "Name", "CreatedDate"))
    val back = sink.read("Provider").collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    assert(back == Seq((1, "Dos Pinos"), (2, "Vicente"), (3, "Serrano")))
    // overwrite replaces, as the merge layer's replace semantics require
    sink.overwrite("Provider", dims)
    assert(sink.read("Provider").count() == 2)
  }
}
