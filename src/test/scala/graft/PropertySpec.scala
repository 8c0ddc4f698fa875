package graft

import graft.functions.PyTitle
import graft.operators.TextOps
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests (SURVEY.md §5 test plan): structural invariants of the
  * regex extractors and scalar functions over generated inputs, plus
  * fast-path ≡ composed-path equivalences. Uses raw ScalaCheck generators
  * with a fixed seed (scalatest-plus bridge isn't in the offline dep set).
  */
class PropertySpec extends SparkSpec {

  private val asciiText: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar,
      3 -> Gen.const(' '),
      1 -> Gen.oneOf('.', ',', '$', '%', '/', 'x', '(', ')', '!', '-')))
      .map(_.take(200).mkString)

  private def samples(g: Gen[String], n: Int): Seq[String] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("F11 struct fields are consistent with F8/F9/F10 individually") {
    val inputs = samples(asciiText, 120)
    val rows = evalCases(inputs)(c => struct(
      graft.functions.Transforms.extractMeasureAndUnit(c).as("s"),
      graft.functions.Transforms.extractMeasure(c).as("m"),
      lower(graft.functions.Transforms.extractUnit(c)).as("u"),
      graft.functions.Transforms.extractPackageUnits(c).as("p")))
    rows.foreach { r =>
      val row = r.asInstanceOf[org.apache.spark.sql.Row]
      val s = row.getStruct(0)
      assert(s.get(0) == row.get(1) && s.get(1) == row.get(2) && s.get(2) == row.get(3),
        s"inconsistent struct for $row")
    }
  }

  test("mixtureSample is nested in targetFraction and drops zero-weight strata") {
    import spark.implicits._
    val langs = Seq("aa", "bb", "cc")
    val docs = (0 until 240).map(i => (i.toLong, langs(i % 3), s"text body $i"))
      .toDF("doc_id", "lang", "text")
    val w = Map("aa" -> 0.5, "bb" -> 0.5)
    def ids(frac: Double) = graft.operators.Corpus
      .mixtureSample(docs, "lang", "text", w, frac)
      .select($"doc_id").as[Long].collect().toSet
    // keep thresholds grow monotonically with the fraction and the rule is
    // content-addressed, so smaller target corpora NEST inside larger ones
    val (s25, s50, s100) = (ids(0.25), ids(0.5), ids(1.0))
    assert(s25.subsetOf(s50) && s50.subsetOf(s100) && s100.nonEmpty)
    // unweighted stratum cc never appears at any fraction
    assert(!s100.exists(_ % 3 == 2))
  }

  test("PyTitle is idempotent (like Python str.title)") {
    samples(asciiText, 300).foreach { s =>
      assert(PyTitle.title(PyTitle.title(s)) == PyTitle.title(s), s"not idempotent on '$s'")
    }
  }

  test("F2 parses any '$ <digits>' string to its integer value") {
    val ns = (0 until 60).map(i => math.abs(Seed(7L + i).long._1) % 999999999999L)
    val got = evalCases(ns.map(n => s"$$ $n"))(graft.functions.Transforms.cleanPrice)
    ns.zip(got).foreach { case (n, v) =>
      assert(v == new java.math.BigDecimal(n).setScale(2))
    }
  }

  test("TextProfile counts equal the composed column forms on random strings") {
    val inputs = samples(asciiText, 120)
    val rows = evalCases(inputs) { c =>
      struct(
        TextOps.textProfile(c).as("p"),
        TextOps.tokenCountWs(c).cast("long").as("ws"),
        TextOps.alphaChars(c).cast("long").as("alpha"),
        TextOps.punctChars(c).cast("long").as("punct"),
        TextOps.stopwordHits(c, TextOps.stopwords.flatMap(_._2)).cast("long").as("hits"))
    }
    inputs.zip(rows).foreach { case (in, r) =>
      val row = r.asInstanceOf[org.apache.spark.sql.Row]
      val p = row.getSeq[Long](0)
      assert(p(0) == row.getLong(1), s"ws on '$in'")
      assert(p(1) == row.getLong(2), s"alpha on '$in'")
      assert(p(2) == row.getLong(3), s"punct on '$in'")
      assert(p(7) == row.getLong(4), s"hitsAny on '$in'")
    }
  }

  test("repetition stats invariants over generated text") {
    val inputs = samples(asciiText, 150)
    val rows = evalCases(inputs)(c =>
      TextOps.repetitionStats(c).as("rs"))
    rows.zip(inputs).foreach { case (r, in) =>
      val rs = r.asInstanceOf[scala.collection.Seq[Long]]
      val Seq(nt, maxC, nTri, nDis) = rs.toSeq
      assert(nt == in.split(" ").count(_.nonEmpty), s"token count on '$in'")
      assert(maxC >= (if (nt > 0) 1L else 0L) && maxC <= nt, s"max count on '$in'")
      assert(nTri == math.max(0L, nt - 2), s"trigram total on '$in'")
      assert(nDis >= (if (nTri > 0) 1L else 0L) && nDis <= nTri, s"trigram distinct on '$in'")
    }
  }

  test("new one-pass expressions resolve through SQL registration") {
    val r = spark.sql(
      """SELECT graft_repetition_stats('a a a b') AS rs,
        |       graft_text_profile('the cat sat') AS p,
        |       graft_fingerprint('abcdefghijklmnop') AS fp,
        |       graft_shingle_count('abcdef') AS sc,
        |       graft_minhash_sig('abcdefghij') AS mh""".stripMargin).collect().head
    assert(r.getAs[scala.collection.Seq[Long]]("rs") == Seq(4L, 3L, 2L, 2L))
    assert(r.getAs[scala.collection.Seq[Long]]("p").head == 3L)
    assert(r.getAs[Long]("fp") >= 0L)
    assert(r.getAs[Long]("sc") == 4L) // "abcdef": abc bcd cde def
    assert(r.getAs[scala.collection.Seq[Long]]("mh").length == 8)
  }

  test("graft_intersect_count ≡ size(array_intersect) incl. dups, nulls, empties") {
    // adversarial inputs: shared elements, within-array duplicates, null
    // elements on either/both sides, empty arrays — the exact cases where a
    // counting shortcut could diverge from the built-in's distinct-common
    // semantics (the LSH verify kernel relies on the equivalence)
    val rows = spark.sql(
      """SELECT a, b,
        |       graft_intersect_count(a, b) AS fast,
        |       size(array_intersect(a, b)) AS ref
        |FROM VALUES
        |  (array('x','y','z'), array('y','z','w')),
        |  (array('x','x','y'), array('x','x','x','y','y')),
        |  (array('x', CAST(NULL AS STRING)), array(CAST(NULL AS STRING), 'q')),
        |  (array(CAST(NULL AS STRING), CAST(NULL AS STRING)), array(CAST(NULL AS STRING))),
        |  (array('x'), array()),
        |  (array(), array()),
        |  (array('a b','c'), array('a','b','c','a b')) AS t(a, b)""".stripMargin)
      .collect()
    rows.foreach(r => assert(r.getAs[Int]("fast") == r.getAs[Int]("ref"),
      s"mismatch on ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}"))
  }

  test("language/quality from profile equal the composed forms on real docs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val both = docs
      .withColumn("p", TextOps.textProfile(col("text")))
      .select(
        TextOps.languageId(col("text")).as("l1"),
        TextOps.languageIdFromProfile(col("p")).as("l2"),
        TextOps.qualityScore(col("text")).as("q1"),
        TextOps.qualityScoreFromProfile(col("text"), col("p")).as("q2"))
      .collect()
    both.foreach { r =>
      assert(r.getString(0) == r.getString(1))
      assert(r.getDouble(2) == r.getDouble(3))
    }
  }

  test("chunkByTokens: full coverage, window bounds, overlap, reassembly") {
    val inputs = samples(asciiText, 120)
    val (chunkSize, overlap) = (7, 3)
    val rows = evalCases(inputs)(c => struct(
      TextOps.chunkByTokens(c, chunkSize, overlap).as("ch"),
      TextOps.tokens(c).as("tk")))
    rows.foreach { r =>
      val row = r.asInstanceOf[org.apache.spark.sql.Row]
      val chunks = row.getSeq[String](0)
      val toks = row.getSeq[String](1)
      if (toks.isEmpty) assert(chunks.isEmpty)
      else {
        val step = chunkSize - overlap
        // every window is ≤ chunkSize tokens and starts step tokens after
        // the previous; together they cover every token exactly
        val winToks = chunks.map(_.split(" ").toSeq)
        assert(winToks.forall(w => w.nonEmpty && w.size <= chunkSize))
        winToks.zipWithIndex.foreach { case (w, i) =>
          assert(w == toks.slice(i * step, i * step + chunkSize),
            s"window $i mismatch for toks=$toks")
        }
        // the last window reaches the final token
        assert((winToks.size - 1) * step + winToks.last.size == toks.size)
      }
    }
  }

  test("SQ8/PQ quantizer invariants over generated vectors") {
    import spark.implicits._
    import graft.functions.Transforms
    import graft.operators.Pq
    val vecGen: Gen[List[Float]] = Gen.listOfN(64, Gen.chooseNum(-10.0f, 10.0f))
    val vecs = (0 until 60).flatMap(i =>
      vecGen.apply(Gen.Parameters.default, Seed(7L + i))).map(_.toSeq)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))

    // codes bounded by construction; POWER-OF-TWO scale invariance is exact
    // (×2^k is exact in float, and (2^k·a)/(2^k·b) rounds identically to
    // a/b), and self-cosine is 1 up to the sqrt(n)² wobble
    val rows = df.select(
      Transforms.sq8Encode($"embedding").as("c"),
      Transforms.sq8Encode(transform($"embedding", x => x * lit(4.0f))).as("c4"),
      Transforms.sq8Encode(transform($"embedding", x => x * lit(0.25f))).as("cq"),
      Transforms.sq8Cosine(Transforms.sq8Encode($"embedding"),
        Transforms.sq8Encode($"embedding")).as("self"))
      .collect()
    rows.foreach { r =>
      val c = r.getAs[Array[Byte]]("c")
      assert(c.forall(b => b >= -127 && b <= 127), "code out of int8 range")
      assert(java.util.Arrays.equals(c, r.getAs[Array[Byte]]("c4")),
        "codes not invariant under ×4")
      assert(java.util.Arrays.equals(c, r.getAs[Array[Byte]]("cq")),
        "codes not invariant under ×1/4")
      assert(math.abs(r.getAs[Double]("self") - 1.0) < 1e-9)
    }

    // PQ: encoding the seed set itself is lossless value-wise — the chosen
    // codeword's vector equals the subvector (d6=0 wins every argmin)
    val seeds = df.filter($"vec_id" < 16)
    val cb = Pq.codebook(seeds, "vec_id", "embedding", 4, 16)
    val bad = Pq.encode(seeds, "vec_id", "embedding", cb, 4, 16)
      .join(cb, Seq("sub", "cw"))
      .join(seeds.select($"vec_id".as("id"),
        $"embedding".cast("array<double>").as("v")), Seq("id"))
      .filter(col("cvec") =!= slice(col("v"), col("sub") * 16 + 1, lit(16)))
    assert(bad.isEmpty, "PQ seed-set encoding not lossless")
  }

  test("incremental CC ≡ one-shot CC for random graphs under random batchings") {
    import graft.operators.{Dedup, PersistedComponents}
    import spark.implicits._
    val gEdge: Gen[(Long, Long)] = for {
      a <- Gen.choose(0L, 40L); b <- Gen.choose(0L, 40L) if a != b
    } yield (a, b)
    val gCase: Gen[(List[(Long, Long)], Int, Int)] = for {
      edges <- Gen.listOfN(30, gEdge)
      nBatches <- Gen.choose(1, 4)
      foldAt <- Gen.choose(0, nBatches) // 0 = never fold mid-way
    } yield (edges, nBatches, foldAt)
    (0 until 12).foreach { i =>
      val (edges, nBatches, foldAt) =
        gCase.apply(Gen.Parameters.default, Seed(4242L + i)).get
      val pairs = edges.toDF("id_a", "id_b")
      val want = Dedup.connectedComponents(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val cc = new PersistedComponents(new graft.sources.AtomicWarehouse(spark,
        java.nio.file.Files.createTempDirectory(s"graft-ccprop-$i-").toString))
      // deterministic round-robin batching of the generated edge list
      val batches = edges.zipWithIndex.groupBy(_._2 % nBatches).toSeq.sortBy(_._1)
        .map(_._2.map(_._1))
      cc.build(batches.head.toDF("id_a", "id_b"))
      batches.tail.zipWithIndex.foreach { case (b, j) =>
        cc.addEdges(b.toDF("id_a", "id_b"))
        if (j + 1 == foldAt) cc.fold()
      }
      val got = cc.components().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want,
        s"case $i (batches=$nBatches foldAt=$foldAt): incremental != one-shot")
    }
  }
}
