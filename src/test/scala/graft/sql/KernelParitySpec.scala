package graft.sql

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.CellIndex

/** Bit-parity pins for the round-6 kernels: each kernel must compute
  * EXACTLY the value of the declarative (HOF / md5-hex) composition it
  * replaced — the property every oracle-checked consumer depends on.
  * Inputs deliberately include Unicode, empty/short strings, and
  * tie-heavy data. Every check runs through [[bothPaths]], so each
  * kernel call is both compiled and interpreted.
  */
class KernelParitySpec extends SparkTestBase {

  /** `check` over `df` under generated code and under interpreted eval
    * (no whole-stage codegen, interpreted projections). The input is
    * repartitioned first: a select over a local `Seq(...).toDF` folds
    * into its `LocalRelation` and is evaluated interpreted on the
    * driver, so it would never compile a kernel call. */
  private def bothPaths(df: DataFrame)(check: DataFrame => Unit): Unit =
    for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")) {
      val conf = spark.conf
      val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
      val saved = keys.map(k => k -> conf.getOption(k))
      conf.set(keys(0), mode)
      conf.set(keys(1), wholeStage)
      try withClue(s"$mode: ")(check(df.repartition(3)))
      finally saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }

  private val texts = Seq(
    "The quick brown fox jumps over the lazy dog 42 times",
    "  leading & trailing  ",
    "",
    "ALLCAPS0AND9DIGITS",
    "unicode éü中文 mixed 12ab",
    "a",
    "word " * 50 + "tail",
    "123 456 123 456 123")

  test("Md5PrefixExpr == conv(substring(md5(...)))") {
    val s = spark
    import s.implicits._
    bothPaths(texts.toDF("t")) { df =>
      Seq((8, 1), (10, 1), (15, 1), (15, 16), (4, 29)).foreach { case (nib, off) =>
        val rows = df.select(
          Kernel.md5Prefix(col("t").cast("binary"), nib, off).as("k"),
          conv(substring(md5(col("t").cast("binary")), off, nib), 16, 10)
            .cast("long").as("r")).collect()
        rows.foreach(r =>
          assert(r.getLong(0) == r.getLong(1), s"nibbles=$nib off=$off"))
      }
    }
  }

  test("WordsExpr == regexp_extract_all(lower, [a-z0-9]+)") {
    val s = spark
    import s.implicits._
    bothPaths(texts.toDF("t")) { df =>
      val rows = df.select(
        Kernel.words(col("t")).as("k"),
        regexp_extract_all(lower(col("t")), lit("[a-z0-9]+"), lit(0)).as("r"))
        .as[(Seq[String], Seq[String])].collect()
      rows.foreach { case (k, r) => assert(k == r) }
    }
  }

  test("TokenCountExpr == size(regexp_extract_all(text, \\S+))") {
    val s = spark
    import s.implicits._
    // every Java \s byte, plus non-\s whitespace lookalikes (U+00A0
    // NBSP, U+2003 EM SPACE are NOT \s without UNICODE flags and must
    // count as token bytes), multi-byte runs, and boundary placements
    val extra = Seq(
      "a\tb\ncd\fe\rf", " lead", "trail ", "\t\n\f\r ",
      "a b", " ", "中文 字", "a  b", "\r\n\r\nx")
    bothPaths((texts ++ extra).toDF("t")) { df =>
      val rows = df.select(
        Kernel.tokenCount(col("t")).as("k"),
        size(regexp_extract_all(col("t"), lit("\\S+"), lit(0))).as("r"),
        col("t")).collect()
      rows.foreach(r =>
        assert(r.getInt(0) == r.getInt(1), s"t='${r.getString(2)}'"))
    }
  }

  test("AlphaCountExpr == size(regexp_extract_all(lower, [a-z]))") {
    val s = spark
    import s.implicits._
    val extra = Seq("İ", "ÀÉÎ", "ß", "ABC123xyz", "ΣΤΡ", "中文abc")
    bothPaths((texts ++ extra).toDF("t")) { df =>
      val rows = df.select(
        Kernel.alphaCount(col("t")).as("k"),
        size(regexp_extract_all(lower(col("t")), lit("[a-z]"), lit(0))).as("r"),
        col("t")).collect()
      rows.foreach(r =>
        assert(r.getInt(0) == r.getInt(1), s"t='${r.getString(2)}'"))
    }
  }

  test("WordCountAtLeastExpr == (size(words) >= n), Unicode included") {
    val s = spark
    import s.implicits._
    // adversarial rows on top of the shared set: U+0130 lowercases to
    // "i" + combining dot (an ASCII word byte the RAW bytes lack), and
    // pure-symbol / whitespace-only strings have zero words
    val extra = Seq("İ", "İİ x", "!!! *** ???", "   ", "0")
    bothPaths((texts ++ extra).toDF("t")) { df =>
      (0 to 4).foreach { n =>
        val rows = df.select(
          Kernel.wordCountAtLeast(col("t"), n).as("k"),
          (size(Kernel.words(col("t"))) >= n).as("r"),
          col("t")).collect()
        rows.foreach(r =>
          assert(r.getBoolean(0) == r.getBoolean(1), s"n=$n t='${r.getString(2)}'"))
      }
    }
  }

  test("ShingleHash32Expr == hash32 over exploded shingles") {
    val s = spark
    import s.implicits._
    // legacy composition, inlined (pre-kernel hash32 / shingles forms)
    def legacyShingles(text: Column, n: Int): Column = {
      val ws = regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))
      when(size(ws) >= n,
        transform(
          sequence(lit(0), size(ws) - n),
          i => concat_ws(" ", (0 until n).map(d => element_at(ws, i + d + 1)): _*)))
        .otherwise(array().cast("array<string>"))
    }
    def legacyHash32(cc: Column): Column =
      conv(substring(md5(cc.cast("binary")), 1, 8), 16, 10).cast("long")
    bothPaths(texts.toDF("t")) { df =>
      Seq(1, 2, 3).foreach { n =>
        val rows = df.select(
          Kernel.shingleHash32(graft.text.TextOps.words(col("t")), n).as("k"),
          transform(legacyShingles(col("t"), n), x => legacyHash32(x)).as("r"))
          .as[(Seq[Long], Seq[Long])].collect()
        rows.foreach { case (k, r) => assert(k == r, s"n=$n") }
      }
    }
  }

  test("BigramsExpr == transform/concat_ws bigrams") {
    val s = spark
    import s.implicits._
    bothPaths(texts.toDF("t")) { df =>
      val rows = df.select(
        graft.text.TextOps.bigrams(graft.text.TextOps.words(col("t"))).as("k"),
        {
          val ws = graft.text.TextOps.words(col("t"))
          when(size(ws) < 2, array().cast("array<string>"))
            .otherwise(transform(sequence(lit(1), size(ws) - 1), i =>
              concat_ws(" ", element_at(ws, i), element_at(ws, i + 1)))).as("r")
        })
        .as[(Seq[String], Seq[String])].collect()
      rows.foreach { case (k, r) => assert(k == r) }
    }
  }

  test("MinHashSigWordsExpr == MinHashSigExpr over string shingles") {
    val s = spark
    import s.implicits._
    bothPaths(texts.toDF("t")) { df =>
      val rows = df.select(
        Kernel.minhashSigWords(graft.text.TextOps.words(col("t")), 16, 2).as("k"),
        Kernel.minhashSig(graft.dedup.Dedup.shingles(col("t"), 2), 16).as("r"))
        .as[(Seq[Long], Seq[Long])].collect()
      rows.foreach { case (k, r) => assert(k == r) }
    }
  }

  test("SimHash60Expr == explode + 60-conditional-sum aggregation") {
    val s = spark
    import s.implicits._
    // legacy aggregation, inlined
    def legacyHash60(cc: Column): Column =
      conv(substring(md5(cc.cast("binary")), 1, 15), 16, 10).cast("long")
    bothPaths(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")) { df =>
      val wordsDf = df.select(col("id"),
          explode(graft.text.TextOps.words(col("t"))).as("w"))
        .withColumn("h", legacyHash60(col("w")))
      val bitTerms = (0 until 60).map { k =>
        when(
          sum(when(shiftright(col("h"), k).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)) > 0,
          1L << k).otherwise(0L)
      }
      val legacy = wordsDf.groupBy("id").agg(bitTerms.reduce(_ + _).as("r"))
        .as[(Long, Long)].collect().toMap
      val kernel = graft.dedup.Dedup.simhash(df, "id", "t")
        .as[(Long, Long)].collect().toMap
      assert(kernel == legacy, "kernel simhash == exploded aggregation (same doc set)")
    }
  }

  test("Dot/L2/HammingWide kernels == HOF folds") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 20).map(_ =>
      (Array.fill(16)(rnd.nextDouble() * 2 - 1),
        Array.fill(16)(rnd.nextDouble() * 2 - 1),
        Array.fill(4)(rnd.nextLong()),
        Array.fill(4)(rnd.nextLong())))
    bothPaths(vecs.toDF("a", "b", "la", "lb")) { df =>
      val rows = df.select(
        Kernel.dot(col("a"), col("b")).as("kd"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0.0), (acc, v) => acc + v).as("rd"),
        Kernel.l2(col("a"), col("b")).as("kl"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, v) => acc + v).as("rl"),
        Kernel.hammingWide(col("la"), col("lb")).as("kh"),
        aggregate(zip_with(col("la"), col("lb"), (x, y) => bit_count(x.bitwiseXOR(y))),
          lit(0), (acc, v) => acc + v).as("rh")).collect()
      rows.foreach { r =>
        // bit-identical doubles, not approximate: same IEEE op order
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1)))
        assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(3)))
        assert(r.getInt(4) == r.getInt(5))
      }
    }
  }

  test("PointInPolygonExpr == zip_with/aggregate ray cast") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    // concave polygon + random probe points, including near-edge ones
    val poly = Seq((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (5.0, 3.0), (0.0, 10.0))
    val pts = (0 until 400).map(_ =>
      (rnd.nextDouble() * 12 - 1, rnd.nextDouble() * 12 - 1))
    val df = pts.toDF("px", "py").withColumn("vs",
      typedlit(poly).cast("array<struct<x:double,y:double>>"))
    def hofPip(px: Column, py: Column, vertices: Column): Column = {
      val rot = concat(
        slice(vertices, lit(2), size(vertices) - 1), slice(vertices, 1, 1))
      val crossings = zip_with(vertices, rot, (a, b) => {
        val ax = a.getField("x"); val ay = a.getField("y")
        val bx = b.getField("x"); val by = b.getField("y")
        ((ay > py) =!= (by > py)) &&
          (px < (bx - ax) * (py - ay) / (by - ay) + ax)
      })
      aggregate(crossings, lit(false), (acc, cc) => when(cc, !acc).otherwise(acc))
    }
    bothPaths(df) { df =>
      val rows = df.select(
        graft.engine.Spatial.pointInPolygon(col("px"), col("py"), col("vs")).as("k"),
        hofPip(col("px"), col("py"), col("vs")).as("r")).collect()
      rows.foreach(r => assert(r.getBoolean(0) == r.getBoolean(1)))
    }
  }

  test("HexCellExpr == hexAxial + hexPack columns") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(17)
    val pts = (0 until 2000).map(_ =>
      (rnd.nextDouble() * 2000 - 500, rnd.nextDouble() * 2000 - 500))
    val (q, r) = graft.engine.Spatial.hexAxial(col("px"), col("py"), 62.5)
    bothPaths(pts.toDF("px", "py")) { df =>
      val rows = df.select(
        graft.engine.Spatial.hexCellOfPoint(col("px"), col("py"), 62.5).as("k"),
        graft.engine.Spatial.hexPack(q, r).as("ref")).collect()
      rows.foreach(rw => assert(rw.getLong(0) == rw.getLong(1)))
    }
  }

  test("tight covers are subsets of the bbox covers and lossless for the join") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    // random polygons incl. a thin sliver and a concave L
    val polys = Seq(
      Seq((100.3, 100.7), (400.1, 80.9), (500.7, 300.3), (300.9, 450.1), (80.3, 300.9)),
      Seq((550.1, 550.7), (950.3, 550.9), (950.7, 950.1), (790.9, 950.3), (790.1, 710.7), (550.9, 710.1)),
      Seq((10.0, 10.0), (900.0, 14.0), (905.0, 18.0)), // thin sliver
      Seq((200.7, 50.3), (600.9, 200.1), (250.3, 400.7)))
    val polygons = polys.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("polygon_id", "vs")
      .select(col("polygon_id"),
        col("vs").cast("array<struct<x:double,y:double>>").as("vertices"))
    val pts = (0 until 4000).map(i =>
      (i.toLong, rnd.nextDouble() * 1000, rnd.nextDouble() * 1000))
      .toDF("k", "px", "py")
      .repartition(3)

    bothPaths(polygons) { pdf =>
      val naive = pts.crossJoin(pdf)
        .where(graft.engine.Spatial.pointInPolygon(col("px"), col("py"), col("vertices")))
        .select("k", "polygon_id").as[(Long, Long)].collect().toSet
      for (index <- Seq(CellIndex.Quad(4, 0, 0, 1000, 1000), CellIndex.Hex(62.5))) {
        // subset property: tight ⊆ bbox cover
        pdf.select(
          graft.engine.Spatial.tightCover(col("vertices"), index).as("t"),
          graft.engine.Spatial.bboxCover(col("vertices"), index).as("f"))
          .as[(Seq[Long], Seq[Long])].collect()
          .foreach { case (t, f) =>
            assert(t.toSet.subsetOf(f.toSet), s"$index tight ⊆ bbox cover")
            assert(t.nonEmpty)
          }
        // lossless property: the join over the tight cover == naive cross join
        val got = graft.engine.Spatial.join(pts, pdf, index)
          .select("k", "polygon_id").as[(Long, Long)].collect().toSet
        assert(got == naive, s"$index tight-cover join == naive cross join")
      }
    }
  }

  test("BpeEncodeExpr == spaced replace-chain encoder") {
    val s = spark
    import s.implicits._
    val merges = Seq(
      ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"),
      ("s", "t"), ("m", "er"), ("a", "t"), ("l", "u"))
    // legacy column encoder, inlined
    def legacyEncode(text: Column): Column = {
      def spaced(w: Column): Column = regexp_replace(w, "(.)", " $1 ")
      def encodeWord(w: Column): Column =
        merges.foldLeft(spaced(w)) { case (cc, (a, b)) =>
          call_function("replace", cc, lit(s" $a  $b "), lit(s" $a$b "))
        }
      flatten(transform(
        graft.text.TextOps.words(text),
        w => split(trim(encodeWord(w)), "  ")))
    }
    bothPaths(texts.toDF("t")) { df =>
      val rows = df.select(
        Kernel.bpeEncode(graft.text.TextOps.words(col("t")), merges).as("k"),
        legacyEncode(col("t")).as("r"))
        .as[(Seq[String], Seq[String])].collect()
      rows.foreach { case (k, r) => assert(k == r) }
    }
  }

  test("kernel input checks: vertex layout, array<int> cast, md5 nibbles") {
    val s = spark
    import s.implicits._
    // the vertex struct must be (x double, y double) in that order
    val pts = Seq((1.0, 1.0)).toDF("px", "py")
    for (layout <- Seq("array<struct<y:double,x:double>>", "array<struct<x:float,y:float>>"))
      intercept[AnalysisException] {
        pts.withColumn("vs", typedlit(Seq((0.0, 0.0), (2.0, 0.0), (0.0, 2.0))).cast(layout))
          .select(graft.engine.Spatial.pointInPolygon(col("px"), col("py"), col("vs")))
      }
    // array<int> inputs are cast to array<bigint>, never read as longs
    val pairs = Seq((Seq(1, 3, 5, 7), Seq(3, 4, 5, 9)), (Seq(2), Seq(1, 2)), (Seq.empty[Int], Seq(1)))
      .toDF("a", "b")
    bothPaths(pairs) { df =>
      val rows = df.select(
        expr("tc_sorted_intersect_count(a, b)"),
        expr("tc_sorted_intersect_count(cast(a as array<bigint>), cast(b as array<bigint>))"))
        .collect()
      assert(rows.map(_.getInt(0)).sorted.toSeq == Seq(0, 1, 2))
      rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    }
    for (nibbles <- Seq(0, 16))
      intercept[IllegalArgumentException](Kernel.md5Prefix(col("t"), nibbles))
  }
}
