package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

import graft.functions.ColorMapping
import graft.operators.TStep
import graft.plans.{Beautify, Lineage}
import graft.score.Scagnostics
import graft.sources.Tables

class LineageSourcesSpec extends SparkSpec {
  import spark.implicits._

  test("TPath JSON codec round-trips every field") {
    val steps = Vector(
      TStep("rank", inType = "like", inCols = Seq("real"), outMode = "append"),
      TStep("sum", inCols = Seq("a", "b"), outMode = "new_table", outName = Some("s")),
      TStep("astype", inCols = Seq("s"), castTo = Some("double")))
    assert(Lineage.fromJson(Lineage.toJson(steps)) == steps)
  }

  test("lineage replay re-executes a serialized tpath; addStep extends it") {
    val df = Seq((1L, 2.0, 3.0), (2L, 4.0, 5.0)).toDF("k", "a", "b")
    val json = Lineage.toJson(Seq(
      TStep("sum", inCols = Seq("a", "b"), outMode = "append", outName = Some("s"))))
    val replayed = Lineage.replay(df, json, Seq("k"))
    assert(replayed.select("k", "s").as[(Long, Double)].collect().toMap ==
      Map(1L -> 5.0, 2L -> 9.0))
    val (extended, newJson) = Lineage.addStep(df, json,
      TStep("div", inCols = Seq("s", "a"), outMode = "append", outName = Some("q")), Seq("k"))
    assert(extended.select("k", "q").as[(Long, Double)].collect().toMap ==
      Map(1L -> 2.5, 2L -> 2.25))
    assert(Lineage.fromJson(newJson).size == 2)
  }

  test("addCoreT applies a terminal transform on a replayed lineage") {
    val df = (1 to 30).map(i => (i.toLong, i * 1.0, 2.0 * i, 3.0 * i)).toDF("k", "a", "b", "c")
    val json = Lineage.toJson(Seq(TStep("select", inCols = Seq("a", "b", "c"),
      outMode = "new_table")))
    val out = Lineage.addCoreT(df, json, "pca", Seq("k"))
    assert(out.isDefined && out.get.columns.toSeq == Seq("k", "PC1", "PC2"))
  }

  test("beautify reorder: fixed preferred prefix then remainder") {
    // reference semantics: out-of-range preferred indices (8,7) are
    // dropped only by the final filter, after the remainder (1,5) is
    // appended — so the tail order is 1,5 (utils.py:215-222)
    assert(Beautify.reorder((0 until 6).toList) == List(3, 2, 0, 4, 1, 5))
    val big = (0 until 14).toList
    assert(Beautify.reorder(big).take(5) == List(0, 2, 3, 6, 12))
    assert(Beautify.reorder(big).sorted == big)
  }

  test("color mapping: nominal palette cycles with gray outlier, numeric ramp exact") {
    val p = ColorMapping.nominalPalette(3)
    assert(p.size == 4 && p.last == (0.5, 0.5, 0.5))
    assert(ColorMapping.nominalColor(-1, 3) == (0.5, 0.5, 0.5))
    val ramp = ColorMapping.numericColors(Array(0.0, 5.0, 10.0))
    assert(ramp(0) == (222 / 255.0, 235 / 255.0, 247 / 255.0)) // min → pale
    // max → dark, via the exact reference formula (hi−lo)·1+lo (fp!)
    def at1(hi: Double, lo: Double) = (hi - lo) * 1.0 + lo
    assert(ramp(2) == (at1(8 / 255.0, 222 / 255.0), at1(48 / 255.0, 235 / 255.0),
      at1(107 / 255.0, 247 / 255.0)))
    assert(ColorMapping.cdmBuckets(Array(0.0, 0.4, 1.0)).toSeq == Seq(0L, 1L, 3L))
  }

  test("local quality scores tight clusters above a scattered cloud") {
    val tight = (0 until 30).map(i => (i * 0.001, i * 0.001)) ++
      (0 until 30).map(i => (10 + i * 0.001, 10 + i * 0.001))
    val labels = (Array.fill(30)(0L) ++ Array.fill(30)(1L))
    val lq = Scagnostics.localQuality(tight.toArray, labels)
    assert(lq > 0)
    // tiny groups contribute 0
    assert(Scagnostics.localQuality(Array((0.0, 0.0), (1.0, 1.0)), Array(0L, 1L)) == 0.0)
  }

  test("salted aggregation equals the plain groupBy result") {
    val df = (1 to 500).map(i => (if (i <= 450) "hot" else s"k${i % 7}", i * 0.25))
      .toDF("key", "v")
    val salted = graft.operators.Salt.saltedSumCount(df, "key", "v", buckets = 8)
      .select($"key", $"sum_v", $"n").as[(String, Double, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    val plain = df.groupBy($"key")
      .agg(sum($"v".cast("decimal(18,2)")).cast("double").as("s"), count(lit(1)).as("n"))
      .as[(String, Double, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(salted == plain)
  }

  test("custom expressions registered as SQL functions") {
    val r = spark.sql(
      """SELECT graft_tokens('a b  c') AS t,
        |       graft_bpeish_tokens('ab12!') AS b,
        |       graft_word_shingles(graft_tokens('x y z'), 2) AS s,
        |       graft_simhash64(graft_tokens('hello world')) AS h""".stripMargin).head()
    assert(r.getSeq[String](0) == Seq("a", "b", "c"))
    assert(r.getSeq[String](1) == Seq("ab", "12", "!"))
    assert(r.getSeq[String](2) == Seq("x y", "y z"))
    assert(r.getLong(3) != 0L)
    // Spark's chr() wraps mod 256, so the combining acute rides in
    // from the Scala side as a literal
    val nfc = spark.sql(
      s"SELECT graft_nfc_normalize('e\u0301') AS n").head().getString(0)
    assert(nfc == "\u00E9")
    val r2 = spark.sql(
      """SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
        |       graft_minhash_sig(graft_word_shingles(graft_tokens('p q r s'), 2), 8) AS m,
        |       graft_repetition(graft_tokens('x x x y'), 3) AS rep""".stripMargin).head()
    assert(r2.getDouble(0) == 1.0)
    assert(r2.getSeq[Long](1).length == 8)
    assert(r2.getStruct(2).getAs[Long]("n_words") == 4L)
    val r3 = spark.sql(
      """SELECT graft_gopher_stats('the cat\n- b', '\n') AS g,
        |       graft_c4_stats('Nice long line here.\nnope', '\n', 3) AS c""".stripMargin)
      .head()
    assert(r3.getStruct(0).getAs[Long]("n_words") === 4L)
    assert(r3.getStruct(0).getAs[Long]("bullet_lines") === 1L)
    assert(r3.getStruct(1).getAs[Long]("n_kept") === 1L)
    assert(r3.getStruct(1).getAs[String]("kept_text") === "Nice long line here.")
  }

  test("each SQL function's ExpressionInfo names its own expression class") {
    import graft.functions._
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val classes = Map(
      "graft_simhash64" -> classOf[SimHash64], "graft_tokens" -> classOf[WhitespaceTokens],
      "graft_bpeish_tokens" -> classOf[BpeishTokens], "graft_word_shingles" -> classOf[WordShingles],
      "graft_cosine" -> classOf[CosineSimExpr], "graft_minhash_sig" -> classOf[MinhashSignature],
      "graft_repetition" -> classOf[RepetitionStats], "graft_gopher_stats" -> classOf[GopherStats],
      "graft_c4_stats" -> classOf[C4Stats], "graft_nfc_normalize" -> classOf[NfcNormalize])
    val named = classes.keys.toSeq.sorted.map { name =>
      name -> spark.sessionState.functionRegistry.lookupFunction(FunctionIdentifier(name)).map(_.getClassName)
    }
    assert(named == classes.toSeq.sortBy(_._1).map { case (n, c) => n -> Some(c.getName) })
  }

  test("DateSniffer.sparkFormat bridges to distributed to_date parsing") {
    import graft.functions.DateSniffer
    assert(DateSniffer.sparkFormat("12/24/2019").contains("M/d/yyyy"))
    assert(DateSniffer.sparkFormat("2019-12-24").contains("yyyy-M-d"))
    assert(DateSniffer.sparkFormat("1/24/20").contains("M/d/yy"))
    assert(DateSniffer.sparkFormat("not a date").isEmpty)
    // span-built formats: actual separators survive (commas, mixed
    // space+comma), full month names emit MMMM
    assert(DateSniffer.sparkFormat("12,31,2020").contains("M,d,yyyy"))
    assert(DateSniffer.sparkFormat("Mar 5, 2020").contains("MMM d, yyyy"))
    assert(DateSniffer.sparkFormat("January 5, 2020").contains("MMMM d, yyyy"))
  }

  test("every sniffed value parses under its own emitted format, sniff-equal") {
    import graft.functions.DateSniffer
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // every sample FULL-matches its pattern: sniff is prefix-anchored
    // (python re.match) but to_date is whole-string, so a
    // prefix-only match (e.g. ymd stealing "25-12-1999" as "25-12-19")
    // is out of scope for the distributed-parse agreement contract
    val samples = Seq("12/24/2019", "2019-12-24", "1/24/20", "12,31,2020",
      "Mar 5, 2020", "January 5, 2020",
      "12/31/70", "6/1/69", "6/1/68")
    samples.foreach { s =>
      val sniffed = DateSniffer.sniff(s)
      val fmt = DateSniffer.sparkFormat(s)
      assert(sniffed.isDefined && fmt.isDefined, s"'$s' must sniff AND format")
      // the distributed parse (with the python 69-99 → 19xx pivot)
      // must agree with the driver-side classification — including
      // '12/31/70' → 1970 (Spark's bare 'yy' would say 2070)
      val parsed = Seq(s).toDF("ds")
        .select(DateSniffer.parseDate(col("ds"), fmt.get).as("d"))
        .head().getDate(0).toLocalDate
      assert(parsed == sniffed.get, s"'$s': distributed $parsed vs sniffed ${sniffed.get}")
    }
  }

  test("csv / json / in-memory sources round-trip with optional row cap") {
    val dir = Files.createTempDirectory("graft_src").toFile
    val csvPath = new java.io.File(dir, "t.csv")
    Files.writeString(csvPath.toPath, "name,v\nalpha,1\nbeta,2\ngamma,3\n")
    val csv = Tables.csv(spark, csvPath.getAbsolutePath)
    assert(csv.count() == 3 && csv.columns.toSeq == Seq("name", "v"))
    assert(Tables.csv(spark, csvPath.getAbsolutePath, maxRows = Some(2)).count() == 2)

    val jsonPath = new java.io.File(dir, "t.json")
    Files.writeString(jsonPath.toPath, """{"a":1,"b":"x"}""" + "\n" + """{"a":2,"b":"y"}""" + "\n")
    assert(Tables.json(spark, jsonPath.getAbsolutePath).count() == 2)

    val mem = Tables.inMemory(spark, Seq("h1", "h2"),
      Seq(Seq("a", "1"), Seq("b", "2")))
    assert(mem.count() == 2 && mem.columns.toSeq == Seq("h1", "h2"))
  }

  test("orc / text sources round-trip") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_src2").toFile
    val orcPath = new java.io.File(dir, "t.orc").getAbsolutePath
    Seq((1L, "alpha"), (2L, "beta")).toDF("k", "s").write.orc(orcPath)
    val orc = Tables.orc(spark, orcPath)
    assert(orc.count() == 2 && orc.columns.toSeq == Seq("k", "s"))
    assert(Tables.orc(spark, orcPath, maxRows = Some(1)).count() == 1)

    val txtPath = new java.io.File(dir, "t.txt")
    Files.writeString(txtPath.toPath, "line one\nline two\nline three\n")
    val txt = Tables.text(spark, txtPath.getAbsolutePath)
    assert(txt.columns.toSeq == Seq("value") && txt.count() == 3)
  }
}
