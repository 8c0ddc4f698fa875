package graft.tools

import graft._
import graft.functions.{Transforms => T}
import org.apache.spark.sql.functions._

/** End-to-end smoke drive of the public library surface against real testdata.
  * Run: `sbt "runMain graft.tools.Smoke"` (optionally pass an sf dir).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.get("local[4]")
    import spark.implicits._

    // 1. Column API over a real parquet table (codegen path, real scan)
    val part = spark.read.parquet(s"$sfDir/part.parquet")
    val cleaned = part.select(
      col("p_partkey"),
      T.cleanDescription(col("p_name")).as("clean_name"),
      T.cleanProviderName(col("p_brand")).as("clean_brand"),
      T.extractMeasureAndUnit(concat(col("p_name"), lit(" "), col("p_size"), lit("g x 4 (G13)"))).as("mu"),
      T.extractIva(concat(col("p_name"), lit(" (G13)"))).as("iva"),
      T.cleanPrice(lit("$ 1.500,50")).as("price"),
      T.inferDate(lit("15/03/2024")).as("dt"))
    cleaned.show(5, false)

    // 2. SQL path via GraftExtensions registration
    spark.read.parquet(s"$sfDir/documents.parquet").createOrReplaceTempView("documents")
    spark.sql(
      "SELECT doc_id, graft_title(substr(text,1,30)) t, graft_infer_date('March 5, 2024') d " +
        "FROM documents LIMIT 3").show(false)

    // 3. vector kernels over real embeddings
    spark.read.parquet(s"$sfDir/embeddings.parquet").limit(3)
      .select(col("vec_id"), T.vecNorm(col("embedding")).as("nrm"),
        T.vecCosine(col("embedding"), col("embedding")).as("self_cos"))
      .show(false)

    // 4. nulls / garbage through the whole chain
    Seq(("x", null: String), ("y", "not a date")).toDF("k", "v")
      .select(T.inferDate($"v").as("d"), T.cleanPrice($"v").as("p"), T.cleanProviderName($"v").as("n"))
      .show(false)

    // 5. plan check: transforms should be one codegen'd projection over the scan
    cleaned.explain("formatted")

    // 6. full ETL pipeline drive: CSV string → staged → merged dims in a temp warehouse
    val wh = new graft.sources.AtomicWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-smoke-wh-").toString)
    val pipe = new graft.Pipeline(spark, wh)
    val csv = "Producto,Fecha 1,Provedor,Precio,,,,\n" +
      "Aceite Capullo 500ml *,07/03/2025,Vicente,1.347,,,,\n" +
      "Arroz Premium 1kg x 12,07/03/2025,DosPinos,2.500,,,,\n" +
      "Arroz Premium 1kg x 12,08/03/2025,Dos Pinos,2.600,,,,\n"
    val res = pipe.processCsv(graft.sources.CsvSource.readString(spark, csv), "smoke", "lista.csv")
    println(s"pipeline: ${res.status} ${res.message}")
    println("-- Provider dim --")
    wh.read("dims/Provider", graft.model.Schemas.provider).show(false)
    println("-- Provider_Product dim --")
    wh.read("dims/Provider_Product", graft.model.Schemas.providerProduct).show(false)
    println(s"rerun skips: ${pipe.processCsv(graft.sources.CsvSource.readString(spark, csv), "smoke", "lista.csv").message}")

    // 7. training-data ops over real documents/embeddings
    import graft.operators.{Dedup, Similarity, TextOps}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    println("-- doc text analysis --")
    docs.limit(3).select(col("doc_id"),
      TextOps.tokenCountWs(col("text")).as("toks"),
      TextOps.languageId(col("text")).as("lang"),
      TextOps.qualityScore(col("text")).as("q"),
      TextOps.fingerprint(col("text")).as("fp")).show(false)
    println("-- minhash LSH candidate pairs (count) --")
    println(Dedup.lshCandidatePairs(docs, "doc_id", "text").count())
    println("-- simhash via SQL function --")
    docs.limit(3).createOrReplaceTempView("d3")
    spark.sql("SELECT doc_id, graft_simhash(text) sk FROM d3").show(false)
    println("-- ANN: brute force vs IVF on a query --")
    val queries = emb.filter(col("vec_id") < 2)
    Similarity.bruteForceTopK(emb, queries, "vec_id", "vec_id", "embedding", 3).show(false)
    Similarity.ivfTopK(emb, queries, emb.filter(col("vec_id") < 8),
      "vec_id", "vec_id", "vec_id", "embedding", 3).show(false)
    println("-- IVF with k-means-trained centroids --")
    val trained = Similarity.trainCentroids(emb, "vec_id", "embedding", numCells = 8)
      .select(col("cell_id").as("vec_id"), col("centroid").as("embedding"))
    Similarity.ivfTopK(emb, queries, trained, "vec_id", "vec_id", "vec_id", "embedding", 3).show(false)
    spark.stop()
  }
}
