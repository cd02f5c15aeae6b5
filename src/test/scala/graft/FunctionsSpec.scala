package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.ArrayData
import graft.functions.{VectorFunctions, VectorOps}

/** Kernel correctness (DotProduct / BitmapJaccard) + dedup recall pins. */
class FunctionsSpec extends AnyFunSuite with SparkSuite {

  test("TextOps.jodaToJava: coinciding letters pass, Y maps to y, week fields reject (pure JVM)") {
    import graft.functions.TextOps.jodaToJava
    // the common Presto/Athena patterns translate verbatim
    assert(jodaToJava("yyyy-MM-dd HH:mm:ss") == "yyyy-MM-dd HH:mm:ss")
    assert(jodaToJava("EEE, dd MMM yyyy") == "EEE, dd MMM yyyy")
    assert(jodaToJava("DDD") == "DDD")
    // THE hazard: Joda Y = year-of-era, java Y = week-based year — Dec 29
    // can format into the NEXT year. Must map to y, never pass through.
    assert(jodaToJava("Y") == "y")
    assert(jodaToJava("YYYY-MM-dd") == "yyyy-MM-dd")
    // quoted literal sections pass verbatim, including letters inside them
    assert(jodaToJava("yyyy'T'HH 'o''clock'") == "yyyy'T'HH 'o''clock'")
    // offsets: Z=+0800, ZZ=+08:00, ZZZ=zone id
    assert(jodaToJava("Z") == "Z")
    assert(jodaToJava("ZZ") == "XXX")
    assert(jodaToJava("ZZZ") == "VV")
    // week-based Joda fields have NO Spark equivalent (Spark 4 bans
    // week-based fields) — rejected by name, never silently misformatted
    for (bad <- Seq("xxxx-ww", "e", "C"))
      assert(intercept[IllegalArgumentException](jodaToJava(bad))
        .getMessage.contains("week-based"), s"expected week-field rejection for '$bad'")
    assert(intercept[IllegalArgumentException](jodaToJava("Q"))
      .getMessage.contains("unsupported"))
  }

  test("TextOps.mysqlToJava: %i is minutes, %M is month name, week fields reject (pure JVM)") {
    import graft.functions.TextOps.mysqlToJava
    assert(mysqlToJava("%Y-%m-%d %H:%i:%s") == "yyyy-MM-dd HH:mm:ss")
    // the classic MySQL trap pair: %i = minutes, %M = full month NAME
    assert(mysqlToJava("%M %d, %Y") == "MMMM dd, yyyy")
    // composite forms + literal percent + non-letter passthrough
    assert(mysqlToJava("%Y-%m-%dT%T") == "yyyy-MM-dd'T'HH:mm:ss")
    assert(mysqlToJava("%h:%i %p") == "hh:mm a")
    assert(mysqlToJava("100%%") == "100%")
    // bare letters outside % groups must be QUOTED, never pattern letters
    assert(mysqlToJava("%Yy") == "yyyy'y'")
    for (bad <- Seq("%U", "%u", "%V", "%v", "%X", "%x", "%D"))
      assert(intercept[IllegalArgumentException](mysqlToJava(bad))
        .getMessage.contains("week-based"), s"expected rejection for '$bad'")
    intercept[IllegalArgumentException](mysqlToJava("%Q"))
  }

  test("TextOps.normalize: NFC composes, NFD decomposes, NFKC folds compatibility chars (pure JVM)") {
    import graft.functions.TextOps.normalize
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    val decomposed = u("cafe\u0301") // e + combining acute
    val composed = u("caf\u00e9")   // precomposed e-acute
    assert(normalize(decomposed, u("NFC")) == composed)
    assert(normalize(composed, u("NFD")) == decomposed)
    // NFC is NOT the identity on compatibility characters; NFKC folds them
    val lig = u("\ufb01x") // fi-ligature + x
    assert(normalize(lig, u("NFC")) == lig)
    assert(normalize(lig, u("NFKC")) == u("fix"))
    // form is case-insensitive (Presto accepts nfc); invalid forms throw
    assert(normalize(decomposed, u("nfc")) == composed)
    intercept[IllegalArgumentException](normalize(composed, u("NFX")))
  }

  test("StringMetrics: Jaro-Winkler matches the DuckDB variant incl. its degenerate-case quirks (pure JVM)") {
    import graft.functions.StringMetrics.{jaro, jaroWinkler, hamming}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    def jw(a: String, b: String) = jaroWinkler(u(a), u(b))
    // hand-checked classics (also verified against DuckDB 1.0's
    // jaro_winkler_similarity while authoring the oracle)
    assert(math.abs(jaro("martha", "marhta") - 0.9444444444444445) < 1e-15)
    assert(math.abs(jw("martha", "marhta") - 0.9611111111111111) < 1e-15)
    assert(math.abs(jw("dixon", "dicksonx") - 0.8133333333333332) < 1e-12)
    // boost threshold 0.7: BELOW it the prefix bonus must NOT apply even
    // with a 2-char common prefix (jaro = 0.5277..., unboosted)
    assert(math.abs(jw("abcdef", "abzzzzzz") - 0.5277777777777778) < 1e-15)
    // the DuckDB empty-operand convention: ANY empty side scores 0,
    // including '' vs '' (deviation from "equal strings score 1" — pinned
    // so engine and oracle can never disagree on degenerate rows)
    assert(jw("", "") == 0.0 && jw("a", "") == 0.0)
    assert(jw("same", "same") == 1.0)
    assert(jw("ab", "zzzz") == 0.0) // zero matches
    // hamming: equal-length position diff; length mismatch throws (Presto)
    assert(hamming(u("duck"), u("luck")) == 1L)
    assert(hamming(u("abc"), u("abc")) == 0L)
    intercept[IllegalArgumentException](hamming(u("ab"), u("abc")))
    // hamming is CODE-POINT based (r14 ADVICE): a supplementary-plane
    // character (two UTF-16 units) is ONE position — "𝕏a" vs "𝕏b" differs
    // in one position of two, and "𝕏𝕐" (4 UTF-16 units) is length-equal
    // to "ab" (2 units) because both are 2 code points
    assert(hamming(u("𝕏a"), u("𝕏b")) == 1L)
    assert(hamming(u("𝕏𝕐"), u("ab")) == 2L)
    intercept[IllegalArgumentException](hamming(u("𝕏"), u("ab")))
  }

  test("parse_datetime/format_datetime round-trip through the Column API (session UTC)") {
    val s = spark
    import s.implicits._
    val df = Seq("2024-03-05 07:08:09", "1995-12-31 23:59:59").toDF("raw")
      .select(call_function("parse_datetime", col("raw"), lit("yyyy-MM-dd HH:mm:ss")).as("ts"))
      .select(call_function("format_datetime", col("ts"), lit("yyyy-MM-dd HH:mm:ss")).as("back"),
        call_function("format_datetime", col("ts"), lit("EEE")).as("dow"))
    val rows = df.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("2024-03-05 07:08:09", "1995-12-31 23:59:59"))
    assert(rows.map(_.getString(1)).toSeq == Seq("Tue", "Sun"))
  }

  test("presto_date_format/date_parse %-dialect round-trip through the Column API (r14 verdict task 3)") {
    val s = spark
    import s.implicits._
    def fmt(c: org.apache.spark.sql.Column, p: String) = call_function("presto_date_format", c, lit(p))
    def parse(c: org.apache.spark.sql.Column, p: String) = call_function("date_parse", c, lit(p))
    // parse → format → parse with the SAME %-pattern must be the identity,
    // including the %M/%i trap (month NAME vs minutes) and composite %T
    val df = Seq("2024-03-05 07:08:09", "1995-12-31 23:59:59").toDF("raw")
      .select(parse(col("raw"), "%Y-%m-%d %H:%i:%s").as("ts"))
      .select(
        fmt(col("ts"), "%Y-%m-%d %H:%i:%s").as("iso"),
        fmt(col("ts"), "%M %d, %Y").as("texty"),
        parse(fmt(col("ts"), "%Y-%m-%d %T"), "%Y-%m-%d %T").as("rt"))
    val rows = df.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("2024-03-05 07:08:09", "1995-12-31 23:59:59"))
    assert(rows.map(_.getString(1)).toSeq == Seq("March 05, 2024", "December 31, 1995"))
    assert(rows.map(_.getTimestamp(2).toInstant.toString).toSeq ==
      Seq("2024-03-05T07:08:09Z", "1995-12-31T23:59:59Z"))
  }

  test("VectorOps.dot and norm (pure JVM)") {
    val a = ArrayData.toArrayData(Array(1.0, 2.0, 3.0))
    val b = ArrayData.toArrayData(Array(4.0, 5.0, 6.0))
    assert(VectorOps.dot(a, b) == 32.0)
    assert(math.abs(VectorOps.norm(a) - math.sqrt(14.0)) < 1e-12)
  }

  test("VectorOps.bitmapJaccard (pure JVM)") {
    // A = {0, 65}, B = {0, 64} -> intersect {0}, union {0, 64, 65} -> 1/3
    val a = ArrayData.toArrayData(Array(1L, 2L))
    val b = ArrayData.toArrayData(Array(1L, 1L))
    assert(math.abs(VectorOps.bitmapJaccard(a, b) - 1.0 / 3) < 1e-12)
    // different lengths: missing words are zero
    val c = ArrayData.toArrayData(Array(1L))
    assert(math.abs(VectorOps.bitmapJaccard(a, c) - 0.5) < 1e-12) // {0,65} vs {0}
    assert(VectorOps.bitmapJaccard(c, c) == 1.0)
  }

  test("DotProduct expression equals the declarative HOF form in a DataFrame") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.5, -1.0, 2.5), Array(-2.0, 0.25, 4.0))).toDF("a", "b")
    val rows = df.select(
      VectorFunctions.dot(col("a"), col("b")).as("kernel"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
        .as("hof")).collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("MinHashSig kernel is bit-identical to the declarative nested-HOF form") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(13)
    val rows = (0 until 200).map { i =>
      (i.toLong, Seq.fill(rng.nextInt(30) + 1)(rng.alphanumeric.take(rng.nextInt(12) + 1).mkString))
    }
    val df = rows.toDF("id", "ws")
    val out = df.select(
      col("id"),
      VectorFunctions.minhashSig(col("ws"), 32).as("kernel"),
      transform(
        sequence(lit(0), lit(31)),
        i => array_min(transform(col("ws"), w => xxhash64(w, i)))).as("declarative"))
      .collect()
    out.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"id=${r.getLong(0)}")
    }
  }

  test("DistinctBigrams kernel is bit-identical to the declarative form (incl 0/1-token)") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(17)
    val rows = (0 until 200).map { i =>
      // lengths 0, 1, 2 and a random spread; small vocab forces duplicate
      // bigrams so the distinct/first-occurrence path is actually exercised
      val n = if (i < 3) i else rng.nextInt(40)
      (i.toLong, Seq.fill(n)(s"w${rng.nextInt(6)}"))
    }
    val df = rows.toDF("id", "words")
    val out = df.select(
      col("id"),
      VectorFunctions.distinctBigrams(col("words")).as("kernel"),
      when(size(col("words")) < 2, array().cast("array<string>"))
        .otherwise(array_distinct(transform(
          sequence(lit(0), size(col("words")) - 2),
          i => concat_ws(" ",
            element_at(col("words"), i + 1),
            element_at(col("words"), i + 2))))).as("declarative"))
      .collect()
    out.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"id=${r.getLong(0)}")
    }
  }

  test("WordNgrams kernel is bit-identical to the transform/array_join/slice form (r19)") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(23)
    val rows = (0 until 200).map { i =>
      val n = if (i < 10) i else rng.nextInt(40)
      // empty tokens included: split() can yield "" and array_join/concatWs
      // must agree on them too
      (i.toLong, Seq.fill(n)(if (rng.nextInt(8) == 0) "" else s"w${rng.nextInt(6)}"))
    }
    val df = rows.toDF("id", "words")
    for (n <- Seq(2, 3, 4, 8)) {
      val out = df.select(
        col("id"),
        VectorFunctions.wordNgrams(col("words"), n).as("kernel"),
        when(size(col("words")) >= n,
          transform(
            sequence(lit(0), size(col("words")) - n),
            i => array_join(slice(col("words"), i + 1, lit(n)), " ")))
          .otherwise(array().cast("array<string>")).as("declarative"))
        .collect()
      out.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2), s"n=$n id=${r.getLong(0)}")
      }
    }
  }

  test("L2Normalize kernel is bit-identical to the declarative HOF form incl. zero vector (r19)") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(31)
    val rows = (0 until 200).map { i =>
      val n = if (i == 0) 0 else 1 + rng.nextInt(80)
      // row 2 = single huge component (norm overflow headroom)
      val v =
        if (i == 2) 1e154 +: Seq.fill(15)(0.0)
        else Seq.fill(n)(rng.nextGaussian() * math.pow(10, rng.nextInt(7) - 3))
      (i.toLong, v)
    }
    val df = rows.toDF("id", "v")
    val nrm = sqrt(aggregate(transform(col("v"), x => x * x), lit(0.0), (acc, x) => acc + x))
    val out = df.select(
      col("id"),
      VectorFunctions.l2Normalize(col("v")).as("kernel"),
      transform(col("v"), x => x / nrm).as("declarative"))
      .collect()
    out.foreach { r =>
      val k = r.getSeq[Double](1).map(java.lang.Double.doubleToRawLongBits)
      val d = r.getSeq[Double](2).map(java.lang.Double.doubleToRawLongBits)
      assert(k == d, s"id=${r.getLong(0)}")
    }
    // DOCUMENTED DIVERGENCE: the all-zero vector. The declarative form
    // THROWS under ANSI (double division by a 0.0 norm raises
    // DIVIDE_BY_ZERO); the kernel returns the IEEE 0/0 = NaN fill. No
    // graft corpus produces a zero embedding (the full oracle run pins
    // that), and NaN-fill is the saner generic-surface behavior.
    val z = Seq((0L, Seq.fill(8)(0.0))).toDF("id", "v")
      .select(VectorFunctions.l2Normalize(col("v")).as("k")).head()
    assert(z.getSeq[Double](0).forall(_.isNaN))
  }

  test("Sq8 encode/dequant kernels are bit-identical to the old transform lambdas (r19)") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(37)
    val dim = 16
    val rows = (0 until 150).map { i =>
      // component 0 forced DEGENERATE (mx == mn) across the corpus;
      // component 1 hits the x == mx clamp on row 0
      val v = (0 until dim).map {
        case 0 => 0.25
        case j => rng.nextGaussian() * (j + 1)
      }
      (i.toLong, v)
    }
    val e = rows.toDF("vec_id", "de")
    val calib = e.select(posexplode(col("de"))).toDF("d", "x")
      .groupBy("d").agg(min("x").as("mn"), max("x").as("mx"))
      .groupBy().agg(array_sort(collect_list(struct(col("d"), col("mn"), col("mx")))).as("mm"))
    def oldCode(x: org.apache.spark.sql.Column, mn: org.apache.spark.sql.Column, mx: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(mx === mn, lit(0L)).otherwise(least(lit(255L), floor((x - mn) * lit(256.0) / (mx - mn))))
    def oldDq(c: org.apache.spark.sql.Column, mn: org.apache.spark.sql.Column, mx: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(mx === mn, mn).otherwise(mn + (c + lit(0.5)) * (mx - mn) / lit(256.0))
    val out = e.crossJoin(broadcast(calib))
      .select(
        col("vec_id"),
        VectorFunctions.sq8EncodeCodes(col("de"), col("mm")).as("qk"),
        transform(col("de"), (x, i) => {
          val m = element_at(col("mm"), (i + 1).cast("int"))
          oldCode(x, m.getField("mn"), m.getField("mx"))
        }).as("qd"),
        col("mm"))
      .select(
        col("vec_id"), col("qk"), col("qd"),
        VectorFunctions.sq8Dequant(col("qk"), col("mm")).as("dk"),
        transform(col("qk"), (c, i) => {
          val m = element_at(col("mm"), (i + 1).cast("int"))
          oldDq(c, m.getField("mn"), m.getField("mx"))
        }).as("dd"))
      .collect()
    out.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"codes diverge at vec ${r.getLong(0)}")
      val k = r.getSeq[Double](3).map(java.lang.Double.doubleToRawLongBits)
      val d = r.getSeq[Double](4).map(java.lang.Double.doubleToRawLongBits)
      assert(k == d, s"dequant diverges at vec ${r.getLong(0)}")
    }
  }

  test("LshBuckets kernel is bit-identical to the aggregate-fold bucket form (r19)") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(41)
    val k = 5
    val tables = 4
    val planes = Seq.fill(k * tables)(Seq.fill(8)(rng.nextGaussian()))
    val rows = (0 until 100).map(i => (i.toLong, Seq.fill(8)(rng.nextGaussian())))
    val df = rows.toDF("vec_id", "emb")
    val planesCol = typedlit(planes)
    def oldBucket(tIdx: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      aggregate(
        sequence(lit(0), lit(k - 1)),
        lit(0L),
        (acc, j) => acc + when(
          VectorFunctions.dot(col("emb"),
            element_at(planesCol, (tIdx * k + j + 1).cast("int"))) > 0,
          call_function("shiftleft", lit(1L), j)).otherwise(0L))
    val out = df.select(
      col("vec_id"),
      VectorFunctions.lshBuckets(col("emb"), planesCol, k).as("kernel"),
      transform(sequence(lit(0), lit(tables - 1)), t => oldBucket(t)).as("declarative"))
      .collect()
    out.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"vec ${r.getLong(0)}")
    }
  }

  test("L1Dist kernel equals the zip_with abs fold (r19)") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(43)
    val rows = (0 until 100).map { i =>
      val n = 1 + rng.nextInt(64)
      (i.toLong, Seq.fill(n)(rng.nextInt(255).toLong), Seq.fill(n)(rng.nextInt(255).toLong))
    }
    val out = rows.toDF("id", "a", "b").select(
      col("id"),
      VectorFunctions.l1Dist(col("a"), col("b")).as("kernel"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => abs(x - y)),
        lit(0L), (acc, x) => acc + x).as("declarative"))
      .collect()
    out.foreach(r => assert(r.getLong(1) == r.getLong(2), s"id=${r.getLong(0)}"))
  }

  test("XxhashChain kernel equals the aggregate xxhash64 fold (r19)") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(47)
    val rows = (0 until 100).map { i =>
      val n = rng.nextInt(30)
      (i.toLong, (0 until n).map(_ => s"w${rng.nextInt(9)}").mkString(" "))
    }
    val out = rows.toDF("id", "text").select(
      col("id"),
      VectorFunctions.xxhashChain(split(col("text"), " ")).as("kernel"),
      aggregate(split(col("text"), " "), lit(0L),
        (acc, w) => xxhash64(acc, w)).as("declarative"))
      .collect()
    out.foreach(r => assert(r.getLong(1) == r.getLong(2), s"id=${r.getLong(0)}"))
  }

  test("SignWords kernel equals the two aggregate sign folds incl. -0.0 (r19)") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(53)
    val rows = (0 until 100).map { i =>
      val v = (0 until 64).map { j =>
        if (i == 0 && j == 0) -0.0
        else if (i == 0 && j == 1) 0.0
        else rng.nextGaussian()
      }
      (i.toLong, v)
    }
    val out = rows.toDF("id", "emb").select(
      col("id"),
      VectorFunctions.signWords(col("emb")).as("kernel"),
      expr("""aggregate(sequence(0, 31), 0L,
        (acc, j) -> acc + IF(element_at(emb, j + 1) > 0D, shiftleft(1L, j), 0L))""").as("w0"),
      expr("""aggregate(sequence(32, 63), 0L,
        (acc, j) -> acc + IF(element_at(emb, j + 1) > 0D, shiftleft(1L, j - 32), 0L))""").as("w1"))
      .collect()
    out.foreach { r =>
      assert(r.getSeq[Long](1) == Seq(r.getLong(2), r.getLong(3)), s"id=${r.getLong(0)}")
    }
  }

  test("SimHash64 kernel equals the declarative vote formula") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(11)
    val rows = (0 until 100).map(i => (i.toLong, Seq.fill(rng.nextInt(20) + 1)(rng.nextLong())))
    val df = rows.toDF("id", "hs")
    val out = df.select(
      col("id"),
      VectorFunctions.simhash64(col("hs")).as("kernel"),
      aggregate(
        sequence(lit(0), lit(63)),
        lit(0L),
        (acc, b) =>
          acc + when(
            aggregate(
              col("hs"),
              lit(0L),
              (v, h) => v + when(
                call_function("shiftright", h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L)) > 0,
            call_function("shiftleft", lit(1L), b)).otherwise(0L)).as("declarative"))
      .collect()
    out.foreach(r => assert(r.getLong(1) == r.getLong(2), s"id=${r.getLong(0)}"))
  }

  test("minhash keep-list: word-set-identical planted pairs canonicalize together") {
    val d = "/root/testdata/sf0.001"
    // brute-force ground truth: pairs with identical distinct-word sets
    val ws = spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), array_join(array_sort(array_distinct(split(col("text"), " "))), " ").as("wskey"))
    val truth = ws.as("x").join(ws.as("y"),
        col("x.wskey") === col("y.wskey") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(truth.nonEmpty, "testdata should contain planted word-set duplicates")

    val result = SparkEntry.queries("q_dedup_minhash")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identical sets collide in every band -> always candidates -> the later
    // doc's canonical must be <= the earlier doc of the pair
    truth.foreach { case (a, b) =>
      assert(result(b) <= a, s"pair ($a,$b): canonical(${b})=${result(b)}")
      assert(result(b) < b)
    }
  }

  test("text fingerprint is order-sensitive and deterministic") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c")).toDF("doc_id", "text")
    def fp(frame: org.apache.spark.sql.DataFrame) = frame.select(
      col("doc_id"),
      aggregate(split(col("text"), " "), lit(0L), (acc, w) => xxhash64(acc, w)).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m = fp(df)
    assert(m(1) == m(3), "identical text => identical fingerprint")
    assert(m(1) != m(2), "permuted tokens => different fingerprint (order-sensitive)")
    assert(fp(df) == m, "deterministic across evaluations")
  }

  test("q_dedup_ngram survives one-word and empty documents (no bigrams)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ngram_edge").toString
    Seq((1L, "hello"), (2L, "hello world hello"), (3L, ""), (4L, "hello world hello"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    // pre-fix: sequence(0,-1) descended and element_at(words, 0) threw
    val out = SparkEntry.queries("q_dedup_ngram")(s, dir).collect()
    // only the two identical multi-word docs can pair; shingle-less docs
    // appear in no pair
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 4L)))
  }

  test("substring dedup finds variable-length maximal repeats the fixed-window op misses") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_substr").toString
    // doc 1 is the keeper: it carries a 6-token phrase and a 12-token phrase.
    // doc 2 repeats the 6-token phrase (SHORTER than the 8-word span window,
    // so q_dedup_spans is blind to it); doc 3 repeats the 12-token phrase
    // (q_dedup_spans sees it only as 5 disconnected window hits).
    Seq(
      (1L, "a1 a2 a3 dup1 dup2 dup3 dup4 dup5 dup6 a4 a5 " +
        "big1 big2 big3 big4 big5 big6 big7 big8 big9 big10 big11 big12 a6"),
      (2L, "b1 b2 dup1 dup2 dup3 dup4 dup5 dup6 b3 b4 b5"),
      (3L, "c1 big1 big2 big3 big4 big5 big6 big7 big8 big9 big10 big11 big12 c2 c3"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val spans = SparkEntry.queries("q_dedup_substrings")(s, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // each repeat reported ONCE at its maximal extent; the keeper emits none
    assert(spans == Seq((2L, 3L, 6L), (3L, 2L, 12L)), spans.toString)
    // the fixed 8-word-window op misses doc 2's repeat entirely
    val fixedDrops = SparkEntry.queries("q_dedup_spans")(s, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(fixedDrops(2L) == 0L, "8-word spans should be blind to a 6-token repeat")
    assert(fixedDrops(3L) == 5L, "8-word spans fragment the 12-token repeat into window hits")

    // the APPLIED scrub removes exactly the duplicated extent, keep-first:
    // doc 1 survives whole; docs 2/3 lose precisely the repeated phrases
    val cleaned = SparkEntry.queries("q_dedup_substrings_apply")(s, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(cleaned.map(c => (c._1, c._2, c._3)) ==
      Seq((1L, 24L, 0L), (2L, 11L, 6L), (3L, 15L, 12L)), cleaned.toString)
    assert(cleaned(0)._4.startsWith("a1 a2 a3 dup1"), "keeper must be untouched")
    assert(cleaned(1)._4 == "b1 b2 b3 b4 b5", cleaned(1)._4)
    assert(cleaned(2)._4 == "c1 c2 c3", cleaned(2)._4)
  }

  test("dup-ngram coverage: overlapping duplicated windows count characters once") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dupng").toString
    // doc 1 repeats the 5-gram "p q r s t": for EVERY n in 2..5 the
    // duplicated windows tile positions 1..10 with heavy overlap, so the
    // union coverage is exactly 10 tokens / 10 chars (4545 bp of the
    // 22-char doc) — an overlap-double-count would exceed it; no 6-gram
    // repeats, so no n=6 row. doc 2 has no repeats at any n.
    Seq((1L, "p q r s t p q r s t zz"), (2L, "u v w x y z"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_text_dup_ngrams")(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSeq
    assert(out == Seq(2L, 3L, 4L, 5L).map(n => (1L, n, 10L, 10L, 4545L, true)),
      out.toString)
  }

  test("bpe train: the merge loop learns the hand-computed sequence and stops when exhausted") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_train").toString
    // classic BPE drill corpus: banana x3 + band. Hand derivation:
    //   (a,n)=7 -> "an"; (b,an)=4 -> "ban"; tie (an,a)=(ban,an)=3 breaks
    //   lexicographically to (an,a) -> "ana"; (ban,ana)=3 -> "banana";
    //   (ban,d)=1 -> "band"; then NO pairs remain: the loop must stop at 5
    //   merges, not emit sentinels
    Seq((0L, "banana banana banana band"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val merges = SparkEntry.queries("q_text_bpe_train")(s, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(merges == Seq(
      (1L, "a", "n", 7L),
      (2L, "b", "an", 4L),
      (3L, "an", "a", 3L),
      (4L, "ban", "ana", 3L),
      (5L, "ban", "d", 1L)), merges.toString)
    // step 1 agrees with the single-step counting query's top pair
    val firstPair = SparkEntry.queries("q_text_bpe_merges")(s, dir)
      .filter(col("rn") === 1).head().getString(0)
    assert(firstPair == merges.head._2 + merges.head._3)

    // ENCODE with the learned merges: both words collapse to one symbol, so
    // the doc compresses 22 chars -> 4 tokens (1818 bp)
    val enc = SparkEntry.queries("q_text_bpe_apply")(s, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(enc.toSeq == Seq((0L, 4L, 22L, 4L, 1818L)), enc.mkString(","))
  }

  test("bigram perplexity is order-sensitive where unigram surprisal is blind") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ppl").toString
    // even docs train the LM; doc 1 repeats a trained sentence, doc 3 is the
    // SAME multiset scrambled — identical unigram profile, alien bigrams
    Seq(
      (0L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat"),
      (4L, "the dog sat on the mat"),
      (1L, "the cat sat on the mat"),
      (3L, "mat the on sat cat the"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val ppl = SparkEntry.queries("q_text_perplexity")(s, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val uni = SparkEntry.queries("q_text_surprisal")(s, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // the unigram gate cannot tell the two apart...
    assert(uni(1L) == uni(3L), s"unigram scores should tie: ${uni(1L)} vs ${uni(3L)}")
    // ...the LM gate must: every scrambled bigram pays the backoff path
    assert(ppl(3L) > ppl(1L), s"scrambled doc should score worse: ${ppl(3L)} vs ${ppl(1L)}")
  }

  test("BPE trainer at vocabulary scale: 256 merges, greedy invariants, bounded lineage") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe256").toString
    // ~1500 distinct 8-char words over a 26-symbol alphabet: ~10k pair slots
    // across ~676 initial pair types, so the pair space survives well past
    // 256 merges (the sf corpora exhaust at ~90 — fine for the oracle gate,
    // too shallow to prove the cost shape)
    val words = (0 until 1500)
      .map(i => java.lang.Long.toString(8031810176L + i.toLong * 7919L, 26))
    words.grouped(15).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    val (m10, t10) = timed(SparkEntry.queries("q_text_bpe_train")(s, dir)
      .collect())
    val (m256, t256) = timed(SparkEntry.queries("q_text_bpe_train_256")(s, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))))

    assert(m10.length == 10)
    assert(m256.length == 256, s"expected 256 merges, got ${m256.length}")
    assert(m256.map(_._1).toSeq == (1L to 256L), "steps must be dense 1..256")
    // greedy invariants: chosen pairs never repeat (a merged pair cannot
    // reappear — its symbol no longer exists as two), and the max-count
    // sequence is non-increasing (a merge only destroys or preserves pair
    // instances; pairs it creates inherit at most its count)
    assert(m256.map(p => (p._2, p._3)).distinct.length == 256, "repeated merge pair")
    val cnts = m256.map(_._4)
    assert(cnts.zip(cnts.tail).forall { case (a, b) => b <= a },
      s"counts must be non-increasing: ${cnts.take(20)}")
    // the 10-merge prefix is identical — more merges never rewrite history
    assert(m256.take(10).map(p => (p._2, p._3)).toSeq ==
      m10.map(r => (r.getString(1), r.getString(2))).toSeq)
    // cost-shape evidence (info only): the trainer is one distributed
    // word-count aggregate + a driver loop over the bounded vocabulary, so
    // 25.6x the merges adds only driver arithmetic — wall stays flat where
    // the old per-merge distributed recount paid 2 Spark jobs per merge
    info(f"bpe merges: 10 in ${t10}%.1f s, 256 in ${t256}%.1f s, ratio ${t256 / t10}%.1f")
  }

  test("5-gram gate: a splice invisible to the trigram gate is exposed; singleton grams are pruned") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ppl5").toString
    // even docs train the LM; each trained sentence appears TWICE so its
    // grams survive the singleton pruning — except doc 8, the deliberate
    // singleton. doc 3 splices the two trained sentences at their shared
    // trigram seam: every one of its trigrams is trained, but the quint
    // straddling the seam exists in no training document.
    Seq(
      (0L, "p q r s t"),
      (4L, "p q r s t"),
      (2L, "r s t u v"),
      (6L, "r s t u v"),
      (8L, "aa bb cc dd ee"),
      (1L, "p q r s t"),
      (3L, "p q r s t u v"),
      (5L, "aa bb cc dd ee"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val p5 = SparkEntry.queries("q_text_perplexity5")(s, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val p3 = SparkEntry.queries("q_text_perplexity3")(s, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // the trigram gate scores the splice as perfectly fluent...
    assert(p3(3L) == p3(1L), s"trigram gate should not see the seam: ${p3(3L)} vs ${p3(1L)}")
    // ...the 5-gram gate charges the alien seam quint its backoff chain
    assert(p5(3L) > p5(1L), s"5-gram gate must expose the splice: ${p5(3L)} vs ${p5(1L)}")
    // pruning: repeating a SINGLETON train sentence still pays backoff at
    // orders 3-5 (count-1 grams are not in the model — KenLM's memory trick),
    // landing on the unpruned bigram floor: 12 bits, n=1 gram -> 1200 cb
    assert(p5(5L) == 1200L, s"singleton-trained doc should land on the bigram floor: ${p5(5L)}")
    assert(p5(1L) == 0L, s"twice-trained doc should score 0: ${p5(1L)}")
  }

  test("stored tokenizer: persisted-artifact encode is row-identical inline; novel words replay the merges") {
    val s = spark
    import s.implicits._
    import graft.operators.Tokenizer
    val sf = "/root/testdata/sf0.001"
    val tokDir = java.nio.file.Files.createTempDirectory("graft_tok").toString + "/tok"
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    // same merge budget as the inline q_text_bpe_apply trainer
    Tokenizer.buildTokenizer(spark, docs, tokDir, nMerges = 10)
    val stored = Tokenizer.encodeAgainst(spark, docs, tokDir)
      .collect().map(_.toString).toSeq
    val inline = SparkEntry.queries("q_text_bpe_apply")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(stored.nonEmpty && stored == inline,
      s"stored=${stored.take(3)} inline=${inline.take(3)}")

    // novel-word encode on the banana drill corpus: the learned merges are
    // the golden five ((a,n)(b,an)(an,a)(ban,ana)(ban,d)); the UNSEEN word
    // "bandana" must replay them to [band, ana] — chars b a n d a n a
    // -> (a,n): b an d an a -> (b,an): ban d an a -> (an,a): ban d ana
    // -> (ban,ana): no adjacency -> (ban,d): band ana
    val bananaDir = java.nio.file.Files.createTempDirectory("graft_tok2").toString
    Seq((0L, "banana banana banana band"))
      .toDF("doc_id", "text").write.parquet(s"$bananaDir/documents.parquet")
    val tok2 = s"$bananaDir/tok"
    Tokenizer.buildTokenizer(spark,
      spark.read.parquet(s"$bananaDir/documents.parquet"), tok2, nMerges = 10)
    val novel = Tokenizer.encodeAgainst(spark,
      Seq((7L, "bandana")).toDF("doc_id", "text"), tok2).head()
    assert((novel.getLong(1), novel.getLong(2), novel.getLong(3)) == ((1L, 7L, 2L)),
      s"bandana should encode to 2 symbols via stored merges: $novel")
    // the delta encode never reads the training corpus
    val plan = Tokenizer.encodeAgainst(spark,
      Seq((8L, "qq rr")).toDF("doc_id", "text"), tok2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"), plan.take(400))
  }

  test("BPE min-frequency cap bounds the collected vocabulary and its merges") {
    val s = spark
    import s.implicits._
    import graft.operators.Tokenizer
    // "lo" x3, "hi" x1: with minFreq=2 the singleton never reaches the
    // driver, so no merge may be built from its pairs and the vocab table
    // is exactly the words at/above the floor
    val words = Seq("lo", "lo", "lo", "hi").toDF("w")
    val (vocabAll, mergesAll) = Tokenizer.trainLoop(words, nMerges = 4)
    val (vocabCap, mergesCap) = Tokenizer.trainLoop(words, nMerges = 4, minFreq = 2L)
    assert(vocabAll.count() == 2 && vocabCap.count() == 1,
      "cap must bound the collected word table to words with n >= minFreq")
    assert(mergesAll.exists { case (_, l, r, _) => l == "h" && r == "i" })
    assert(!mergesCap.exists { case (_, l, r, _) => l == "h" && r == "i" },
      s"sub-floor word leaked into training: $mergesCap")
    // the surviving word trains identically either way
    assert(mergesCap.map(m => (m._2, m._3)) ==
      mergesAll.filter { case (_, l, r, _) => !(l == "h" && r == "i") }.map(m => (m._2, m._3)))
  }

  test("unigram-LM trainer: hand-computed EM on a tiny corpus, char fallback and pruning") {
    val s = spark
    import s.implicits._
    import graft.operators.Tokenizer
    // Corpus: ab x3, abab x2, cab x1 (maxPieceLen 2, seedSize 2, 2 EM rounds).
    // Seed (positional substring freq): a=8, b=8, c=1, ab=8, ba=2, ca=1.
    //   vocab0 = chars {a:8, b:8, c:1} + top-2 multi {ab:8, ba:2}.
    // EM round 1 Viterbi (fewest pieces, then count-sum, then lexicographic):
    //   "ab"   -> [ab]            (k=1 beats a+b at k=2)
    //   "abab" -> [ab, ab]        (k=2, csum 16 beats [a, ba, b] shapes)
    //   "cab"  -> [c, ab]         ("ca" missed the seed cut; k=2, csum 9
    //                              beats [c, a]+b at k=3)
    //   counts: ab = 3 + 2*2 + 1 = 8, c = 1, a = 0, b = 0, ba = 0
    //   prune: ba dropped (multi-char, unused); a, b survive at 0 (chars).
    // EM round 2 under {a:0, b:0, c:1, ab:8}: identical segmentations,
    // identical counts -> fixed point.
    // Output (cnt > 0, by cnt desc then piece): [(ab, 8), (c, 1)].
    val words = (Seq.fill(3)("ab") ++ Seq.fill(2)("abab") ++ Seq("cab")).toDF("w")
    val out = Tokenizer.unigramTrainLoop(
      words, maxPieceLen = 2, seedSize = 2, iters = 2)
    assert(out == Seq(("ab", 8L), ("c", 1L)), out.toString)

    // coverage invariant: the post-prune vocabulary (chars kept at count 0)
    // still segments every training word via char fallback
    assert(Tokenizer.viterbi("cab", Map("a" -> 0L, "b" -> 0L, "c" -> 1L, "ab" -> 8L), 2)
      == Seq("c", "ab"))
  }

  test("unigram minFreq floor: singletons drop from training yet still encode via char fallback (the declared rows' bound, minFreq=2)") {
    // r10 verdict task 6: the DECLARED q_text_unigram_train/apply rows now
    // pass minFreq=2, so the trainer's driver-side distinct-word collect is
    // capped in the exact form the gate certifies. This pins the floor's
    // two contract halves: (a) a sub-floor word contributes nothing to the
    // vocabulary or the encode table; (b) the apply path still covers it —
    // the corpus-stream join misses and falls back to length(w) symbols,
    // which is exactly what the mirrored DuckDB oracle's HAVING + COALESCE
    // computes. A corpus-scale caller raises the same knob further.
    val s = spark
    import s.implicits._
    import graft.operators.Tokenizer
    val words = (Seq.fill(3)("ab") ++ Seq.fill(2)("abab") ++ Seq("zq")).toDF("w")
    val capped = Tokenizer.unigramTrainLoop(
      words, maxPieceLen = 2, seedSize = 4, iters = 2, minFreq = 2L)
    assert(capped.forall { case (p, _) => !p.contains("z") && !p.contains("q") },
      s"sub-floor word leaked into the vocabulary: $capped")
    val enc = Tokenizer.unigramEncodeTable(
      words, maxPieceLen = 2, seedSize = 4, iters = 2, minFreq = 2L)
    assert(!enc.exists(_._1 == "zq"),
      s"encode table must only cover words at/above the floor: $enc")
    // uncapped control: identical corpus at minFreq=1 trains and encodes it
    val open = Tokenizer.unigramEncodeTable(
      words, maxPieceLen = 2, seedSize = 4, iters = 2, minFreq = 1L)
    assert(open.exists(_._1 == "zq"))
  }

  test("unigram Viterbi equals brute-force best segmentation under the exact total order (200 random trials)") {
    import graft.operators.Tokenizer
    // enumerate every segmentation of w into vocab pieces of length <= maxLen
    def allSegs(w: String, vocab: Map[String, Long], maxLen: Int): Seq[Seq[String]] =
      if (w.isEmpty) Seq(Seq.empty)
      else (1 to math.min(maxLen, w.length)).flatMap { l =>
        val p = w.take(l)
        if (vocab.contains(p)) allSegs(w.drop(l), vocab, maxLen).map(p +: _)
        else Seq.empty
      }
    val rng = new scala.util.Random(42L)
    val alphabet = "abc"
    (1 to 200).foreach { trial =>
      val w = Seq.fill(1 + rng.nextInt(7))(alphabet(rng.nextInt(3))).mkString
      val maxLen = 2 + rng.nextInt(2) // 2..3
      // vocab: ALL single chars (the trainer's coverage invariant) plus a
      // random subset of w's substrings, with random counts incl. ties
      val subs = (for {
        st <- 0 until w.length; l <- 2 to math.min(maxLen, w.length - st)
      } yield w.substring(st, st + l)).distinct.filter(_ => rng.nextBoolean())
      val vocab: Map[String, Long] =
        (alphabet.map(c => c.toString -> rng.nextInt(3).toLong) ++
          subs.map(p => p -> rng.nextInt(5).toLong)).toMap
      val got = Tokenizer.viterbi(w, vocab, maxLen)
      val best = allSegs(w, vocab, maxLen)
        .map(seg => (seg.length, seg.map(vocab).sum, seg.mkString(" ")))
        .minBy { case (k, csum, s) => (k, -csum, s) }
      assert((got.length, got.map(vocab).sum, got.mkString(" ")) == best,
        s"trial $trial w=$w vocab=$vocab got=$got best=$best")
    }
  }

  test("stored unigram tokenizer: persisted-artifact encode is row-identical to the inline apply") {
    val s = spark
    import s.implicits._
    import graft.operators.Tokenizer
    val sf = "/root/testdata/sf0.001"
    val tokDir = java.nio.file.Files.createTempDirectory("graft_uni").toString + "/tok"
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    Tokenizer.buildUnigramTokenizer(spark, docs, tokDir)
    val stored = Tokenizer.unigramEncodeAgainst(spark, docs, tokDir)
      .collect().map(_.toString).toSeq
    val inline = SparkEntry.queries("q_text_unigram_apply")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(stored.nonEmpty && stored == inline,
      s"stored=${stored.take(3)} inline=${inline.take(3)}")
    // a DELTA with one known word, one novel-but-coverable word, and one
    // word with a char the training corpus never saw encodes from the
    // stored artifact alone — never the training corpus
    val delta = Seq((9001L, "qqqq ZZ")).toDF("doc_id", "text")
    val scored = Tokenizer.unigramEncodeAgainst(spark, delta, tokDir)
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"), plan.take(400))
    val r = scored.head()
    // 2 words; "ZZ" has untrained chars -> char fallback (2 syms), "qqqq"
    // segments (or char-falls-back) to at most 4 -> n_sym_post <= 6
    assert(r.getLong(1) == 2L && r.getLong(3) <= 6L, r.toString)
  }

  test("stored 5-gram LM: persisted-model scores are row-identical to the inline gate") {
    val s = spark
    import s.implicits._
    import graft.operators.LanguageModel
    val sf = "/root/testdata/sf0.001"
    val lmDir = java.nio.file.Files.createTempDirectory("graft_lm").toString + "/lm"
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    LanguageModel.buildLm(spark, docs.filter(col("doc_id") % 2 === 0), lmDir)
    val stored = LanguageModel.scoreAgainstLm(spark, docs, lmDir)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val inline = SparkEntry.queries("q_text_perplexity5")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(stored.nonEmpty && stored == inline,
      s"stored=${stored.take(3)} inline=${inline.take(3)}")
    // scoring a DELTA reads only the stored model — never the train corpus
    val delta = Seq((9001L, "totally novel words nobody ever wrote down before"))
      .toDF("doc_id", "text")
    val scored = LanguageModel.scoreAgainstLm(spark, delta, lmDir)
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"), plan.take(500))
    assert(scored.head().getLong(3) > 0L, "novel text must pay backoff bits")
  }

  test("incremental dedup: delta joins stored corpus signatures, no corpus rescan") {
    val s = spark
    import s.implicits._
    def ws(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text")
        .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("ws"))
    // "stored" corpus signature table (would be a persisted parquet table)
    val corpus = graft.queries.DedupQueries.minhashBandTable(ws(Seq(
      1L -> "alpha beta gamma delta epsilon",
      2L -> "one two three four five",
      3L -> "red green blue yellow purple")))
    // delta: doc 10 is a word-shuffle of corpus doc 1 (exact set dup),
    // doc 11 is entirely novel
    val dups = graft.queries.DedupQueries.incrementalDups(
      ws(Seq(
        10L -> "epsilon delta gamma beta alpha",
        11L -> "totally novel content here now")),
      corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dups.toSeq == Seq((10L, 1L)))
  }

  test("bitmap ngram jaccard matches brute-force array jaccard") {
    val d = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .withColumn("words", split(col("text"), " "))
      .select(
        col("doc_id"),
        array_distinct(
          transform(
            sequence(lit(0), size(col("words")) - 2),
            i => concat_ws(" ", element_at(col("words"), i + 1), element_at(col("words"), i + 2))))
          .as("sh"))
    val a = docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val brute = a.join(b, col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.25)
      .orderBy("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val bitmap = SparkEntry.queries("q_dedup_ngram")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(bitmap == brute)
  }

  test("polyHash46 kernel: bit parity with the declarative char fold on corpus n-grams") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val grams = graft.operators.Decontamination.docNgrams(
      spark.read.parquet(s"$d/documents.parquet"))
    val declarative = aggregate(
      transform(sequence(lit(1), length(col("ng"))),
        i => ascii(col("ng").substr(i, lit(1))).cast("long")),
      lit(7L),
      (acc, x) => (acc * 131L + x) % 70368744177664L)
    val mismatches = grams
      .select(graft.functions.VectorFunctions.polyHash(col("ng")).as("k"),
        declarative.as("f"))
      .filter(col("k") =!= col("f")).count()
    assert(mismatches == 0L)
    // and the kernel participates in whole-stage codegen (no interpreted
    // fallback): execute a shuffle-free projection so AQE finalizes, then
    // read the executed plan
    val df = spark.read.parquet(s"$d/documents.parquet")
      .select(graft.functions.VectorFunctions.polyHash(col("text")).as("h"))
    df.collect()
    // the "*(n)" prefix is the whole-stage-codegen marker in simpleString
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }

  test("DSIR selection skews toward the target distribution and is deterministic") {
    // the importance score's only job is to separate target-like from
    // raw-like text: on the shared synthetic corpus the mean score of
    // target-source docs (src0-2 — the same curated split the NB
    // classifier uses) must exceed the mean score of the rest, and the
    // selected set must over-represent target sources vs its share of the
    // corpus. Deterministic: two runs produce identical rows (no RNG —
    // the reproducibility property all samplers in TrainingDataQueries pin).
    val d = "/root/testdata/sf0.01"
    val run1 = SparkEntry.queries("q_sample_dsir")(spark, d).collect()
    val run2 = SparkEntry.queries("q_sample_dsir")(spark, d).collect()
    assert(run1.map(_.toString).toSeq == run2.map(_.toString).toSeq)
    val src = spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), col("source").isin("src0", "src1", "src2").as("is_target"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val (tgt, rest) = run1.partition(r => src(r.getLong(0)))
    def meanScore(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getLong(2)).sum.toDouble / rs.length
    assert(tgt.nonEmpty && rest.nonEmpty)
    assert(meanScore(tgt) > meanScore(rest),
      s"target mean ${meanScore(tgt)} should exceed raw mean ${meanScore(rest)}")
    val selected = run1.filter(_.getBoolean(3))
    assert(selected.nonEmpty, "selection should keep some documents")
    val tgtShareSelected = selected.count(r => src(r.getLong(0))).toDouble / selected.length
    val tgtShareCorpus = tgt.length.toDouble / run1.length
    assert(tgtShareSelected > tgtShareCorpus,
      s"selected target share $tgtShareSelected should exceed corpus share $tgtShareCorpus")
  }

  test("TopKByValue: partial merges equal the one-shot pass; ties break by id; buffer stays bounded") {
    val agg = graft.functions.TopKByValue(3)
    val rows = Seq((5.0, 10L), (7.0, 3L), (5.0, 2L), (9.0, 8L), (7.0, 1L),
      (1.0, 4L), (9.0, 9L), (3.0, 6L))
    val oneShot = agg.finish(rows.foldLeft(agg.zero)(agg.reduce))
    // every 2-way split of the stream must merge to the identical result
    (1 until rows.size).foreach { cut =>
      val (a, b) = rows.splitAt(cut)
      val merged = agg.finish(agg.merge(
        a.foldLeft(agg.zero)(agg.reduce), b.foldLeft(agg.zero)(agg.reduce)))
      assert(merged == oneShot, s"cut=$cut: $merged vs $oneShot")
      assert(merged.size == 3)
    }
    // ties (9.0 at ids 8,9) resolve id-ascending, matching the oracle window
    assert(oneShot == Seq((9.0, 8L), (9.0, 9L), (7.0, 1L)))
    // the reduce fast-path never grows the buffer past k
    val big = (0 until 1000).map(i => (i.toDouble, i.toLong))
    assert(big.foldLeft(agg.zero)(agg.reduce).size == 3)
  }

  test("lexStats run-length fold: hand-computed type counts and Σc² per edge case") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      "a a b",        // runs a:2 b:1 -> types 2, sumc2 5
      "x",            // single token  -> types 1, sumc2 1
      "z z z z",      // one run       -> types 1, sumc2 16
      "b a b a",      // unsorted input-> sorted runs a:2 b:2 -> types 2, sumc2 8
      "a  b")         // double space splits an EMPTY token: "" is a real
                      // type ("" sorts first; the NULL sentinel must not
                      // merge it into a phantom first run) -> types 3, sumc2 3
      .toDF("text")
    val got = rows
      .select(queries.TextQueries.lexStats(col("text")).as("st"))
      .select(col("st.types"), col("st.sumc2"))
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((2L, 5L), (1L, 1L), (1L, 16L), (2L, 8L), (3L, 3L)))
  }

  test("lexStats property: fold agrees with an independent groupBy-count reference on random corpora") {
    val s = spark
    import s.implicits._
    // 150 random docs over a small alphabet (forces rich run structure),
    // lengths 1..40 — one batched DataFrame, one Spark job
    val rng = new scala.util.Random(4242)
    val docs = Seq.fill(150) {
      Seq.fill(1 + rng.nextInt(40))(s"w${rng.nextInt(7)}").mkString(" ")
    }
    val expected = docs.map { text =>
      val counts = text.split(" ", -1).groupBy(identity).map(_._2.length.toLong)
      (counts.size.toLong, counts.map(c => c * c).sum)
    }
    val got = docs.toDF("text")
      .select(queries.TextQueries.lexStats(col("text")).as("st"))
      .select(col("st.types"), col("st.sumc2"))
      .as[(Long, Long)].collect().toSeq
    assert(got == expected)
    // the codegen'd kernel (the declared query's hot path) is row-identical
    // to both the declarative fold and the reference
    val kernel = docs.toDF("text")
      .select(functions.VectorFunctions.lexStats(col("text")).as("st"))
      .select(col("st").getItem(0), col("st").getItem(1), col("st").getItem(2))
      .as[(Long, Long, Long)].collect().toSeq
    val expectedWithN = (docs zip expected).map { case (t, (ty, sc)) =>
      (ty, sc, t.split(" ", -1).length.toLong) }
    assert(kernel == expectedWithN)
  }

  test("Porter stemmer: the 1980 paper's vectors, step interactions, pass-throughs (pure JVM)") {
    import graft.functions.Porter.stemWord
    // step 1a (paper examples, full-pipeline fixpoints)
    assert(stemWord("caresses") == "caress")
    assert(stemWord("ponies") == "poni")
    assert(stemWord("ties") == "ti")
    assert(stemWord("caress") == "caress")
    assert(stemWord("cats") == "cat")
    // step 1b incl. the cleanup branches (AT->ATE, BL->BLE, IZ->IZE,
    // double-consonant undoubling, the m=1 *o +E repair)
    assert(stemWord("feed") == "feed")       // eed with m=0 stays
    assert(stemWord("agreed") == "agre")     // eed -> ee, then step5a drops e
    assert(stemWord("plastered") == "plaster")
    assert(stemWord("bled") == "bled")       // no vowel in stem -> untouched
    assert(stemWord("motoring") == "motor")
    assert(stemWord("sing") == "sing")
    assert(stemWord("conflated") == "conflat") // at->ate, step5a drops e (m=2)
    assert(stemWord("troubled") == "troubl")   // bl->ble, step5a drops e
    assert(stemWord("sized") == "size")        // iz->ize, step5a KEEPS e (m=1, *o)
    assert(stemWord("hopping") == "hop")       // pp -> p
    assert(stemWord("tanned") == "tan")
    assert(stemWord("falling") == "fall")      // ll exempt from undoubling
    assert(stemWord("hissing") == "hiss")      // ss exempt
    assert(stemWord("fizzed") == "fizz")       // zz exempt
    assert(stemWord("failing") == "fail")      // no repair (m=1 but not *o: ends vowel+l? fai-l is vc, 'ail' not cvc)
    assert(stemWord("filing") == "file")       // the m=1 *o +E repair
    // step 1c
    assert(stemWord("happy") == "happi")
    assert(stemWord("sky") == "sky")           // no vowel in stem 'sk'
    // steps 2-4 chains (traced by hand through the full pipeline)
    assert(stemWord("relational") == "relat")      // ational->ate, then 5a
    assert(stemWord("conditional") == "condit")    // tional->tion, 4 drops ion
    assert(stemWord("rational") == "ration")       // ational stem 'r' m=0; step4 drops al
    assert(stemWord("electrical") == "electr")     // ical->ic, step4 drops ic
    assert(stemWord("hopefulness") == "hope")      // fulness->ful, ful->'', 5a keeps e (*o)
    assert(stemWord("generalization") == "gener")  // ization->ize, alize->al, 4 drops al
    assert(stemWord("operator") == "oper")         // ator->ate, 4 drops ate
    assert(stemWord("sensibiliti") == "sensibl")   // biliti->ble, 5a drops e
    assert(stemWord("adjustment") == "adjust")
    assert(stemWord("adoption") == "adopt")        // ion with stem ending t
    assert(stemWord("region") == "region")         // ion but m(reg)=1, kept
    // step 5
    assert(stemWord("probate") == "probat")
    assert(stemWord("rate") == "rate")
    assert(stemWord("cease") == "ceas")
    assert(stemWord("controll") == "control")
    assert(stemWord("roll") == "roll")
    // guards: short words and non-lowercase-ASCII pass through unchanged
    assert(stemWord("is") == "is")
    assert(stemWord("a") == "a")
    assert(stemWord("Cars") == "Cars")
    assert(stemWord("x23s") == "x23s")
    assert(stemWord("cafés") == "cafés")
    assert(stemWord("") == "")
  }

  test("Porter stemmer: Scala kernel reproduces the committed from-paper Python fixture corpus-wide") {
    // the two-implementation agreement (graft.functions.Porter vs
    // tools/gen_expected.py's from-paper twin) otherwise rides only the
    // driver gate; this pins it in the unit suite over the committed
    // sf0.001 fixture — 500 documents, every token — AND proves the
    // codegen'd expression path equals the JVM kernel
    import graft.functions.Porter.stemWord
    val fixture = spark.read.parquet(
      "src/test/resources/expected/stem_sf0.001.parquet")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val joined = docs.join(fixture, "doc_id")
      .select(col("doc_id"), col("text"), col("stemmed")).collect()
    assert(joined.length == 500)
    joined.foreach { r =>
      val got = r.getString(1).split(" ", -1).map(stemWord).mkString(" ")
      assert(got == r.getString(2), s"doc ${r.getLong(0)}: kernel diverged from fixture")
    }
    // codegen path == JVM kernel on the same corpus
    val viaExpr = docs.select(col("doc_id"),
      array_join(transform(split(col("text"), " "),
        w => graft.functions.TextFunctions.wordStem(w)), " ").as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    joined.foreach { r =>
      assert(viaExpr(r.getLong(0)) == r.getString(2), s"doc ${r.getLong(0)}: codegen diverged")
    }
  }

  test("IsJsonComposite.isComposite == the full-parse form it short-cuts (pure JVM)") {
    import graft.functions.IsJsonComposite.isComposite
    import graft.json.{JArray, JObject, Json}
    import org.apache.spark.unsafe.types.UTF8String
    def viaParse(s: String) = Json.parseOpt(s) match {
      case Some(_: JObject) | Some(_: JArray) => true
      case _                                  => false
    }
    def same(d: String) = assert(isComposite(UTF8String.fromString(d)) == viaParse(d), d)
    Seq("", " ", "[]", "{}", "\"[]\"", "\"x\"", " \t\r\n[1, 2]", "\n{\"a\": 1}\n",
      "\uFEFF[1]", "\uFEFF{}", "\uFEFF7", "[1, 2] x", "{\"a\": 1} }", "[junk", "{junk", "[", "{",
      "10.0.0.1", "2001:db8::1", "req-1f3a9c", "7", "-1.5e3", "true", "null", "\u0000[1]",
      "\u000b[1]", "/* c */ []", "\u00e9", "[\"\u00e9\"]").foreach(same)
    assert(isComposite(UTF8String.fromString(" [1]")) && !isComposite(UTF8String.fromString("10.0.0.1")))
    // seeded fuzz over the characters that decide the first token
    val rnd = new scala.util.Random(7)
    val alphabet = "[]{} \t\n\r\"a1,:.\uFEFF\u00e9"
    (0 until 3000).foreach(_ => same(Seq.fill(rnd.nextInt(9))(alphabet(rnd.nextInt(alphabet.length))).mkString))
  }

  test("StrPosInstance: Presto occurrence semantics incl. negative instance (pure JVM)") {
    import graft.functions.StrPosInstance.strpos
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    assert(strpos(u("xabcabc"), u("abc"), 1) == 2)
    assert(strpos(u("xabcabc"), u("abc"), 2) == 5)
    assert(strpos(u("xabcabc"), u("abc"), 3) == 0)   // only two occurrences
    assert(strpos(u("xabcabc"), u("abc"), -1) == 5)
    assert(strpos(u("xabcabc"), u("abc"), -2) == 2)
    assert(strpos(u("xabcabc"), u("abc"), -3) == 0)
    assert(strpos(u("xabcabc"), u("zz"), 1) == 0)
    // OVERLAPPING scan (Trino's index+1 step): 'aaaa' has THREE
    // occurrences of 'aa' — at 1, 2 and 3 (r16 ADVICE fix)
    assert(strpos(u("aaaa"), u("aa"), 2) == 2)
    assert(strpos(u("aaaa"), u("aa"), 3) == 3)
    assert(strpos(u("aaaa"), u("aa"), 4) == 0)
    assert(strpos(u("aaa"), u("aa"), 1) == 1)
    assert(strpos(u("aaa"), u("aa"), 2) == 2)
    // negative instance mirrors backward with index-1 steps
    assert(strpos(u("aaa"), u("aa"), -1) == 2)
    assert(strpos(u("aaa"), u("aa"), -2) == 1)
    assert(strpos(u("aaa"), u("aa"), -3) == 0)
    assert(strpos(u("aaaa"), u("aa"), -1) == 3)
    assert(strpos(u("aaaa"), u("aa"), -2) == 2)
    assert(strpos(u("aaaa"), u("aa"), -3) == 1)
    assert(strpos(u("aaaa"), u("aa"), -4) == 0)
    // empty needle: matches at position 1 (Presto) for EVERY instance
    assert(strpos(u("abc"), u(""), 1) == 1)
    assert(strpos(u("abc"), u(""), 2) == 1)
    assert(strpos(u("abc"), u(""), -3) == 1)
    // positions count CODE POINTS: the astral char is one position
    assert(strpos(u("😀abc"), u("abc"), 1) == 2)
    intercept[IllegalArgumentException](strpos(u("abc"), u("a"), 0))
  }

  test("json_size: streaming token-walk kernel == AST walker on adversarial docs (two implementations)") {
    import graft.functions.JsonSizeAtPath
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    val docs = Seq(
      """{"a": {"x": 1, "y": 2}, "b": [1, 2, 3]}""",
      """{ "a" : [ [1,2], {"k": [true, null]} ] }""",
      // duplicate keys: both on the PATH (last-wins navigation) and at the
      // TARGET (distinct-key count)
      """{"a": {"n": 1}, "a": {"p": 1, "q": 2, "q": 3}}""",
      """{"a": [{"dup": 1, "dup": 2}]}""",
      """[]""", """{}""", """7""", """"str"""", """null""", """true""",
      """[[[[1]]]]""",
      """{"a": "{\"not\": \"nested\"}"}""", // JSON-looking STRING scalar
      "not json", """{"a": 1""", """{"a": 1} trailing""", "", "  ",
      """{"😀": [1, 2], "b": {"😀": 3}}""",
      """{"a": 1e2, "b": -0.5, "c": 123456789012345678901234567890}""")
    val paths = Seq("$", "$.a", "$.b", "$.a.x", "$.a[0]", "$.a[1].k",
      "$['a']", "$[\"a\"]", "$.a[5]", "$.missing", "$.a.q", "$.a[0].dup",
      "$.😀", "$.b.😀", "$[0]", "$[0][0]")
    for (d <- docs; p <- paths) {
      val streaming = JsonSizeAtPath.sizeBoxed(u(d), u(p))
      val ast = JsonSizeAtPath.sizeViaAst(d, p)
      assert(streaming == ast,
        s"doc=<$d> path=$p: streaming=$streaming ast=$ast")
    }
    // malformed PATHS fail loudly in both (Presto raises on a bad path)
    for (bad <- Seq("a.b", "$.", "$[", "$[x]", "$x", "")) {
      intercept[IllegalArgumentException](JsonSizeAtPath.sizeBoxed(u("{}"), u(bad)))
      intercept[IllegalArgumentException](JsonSizeAtPath.sizeViaAst("{}", bad))
    }
  }

  test("TopNGram kernel == windowed count argmax on random corpora (r18 optimization)") {
    // the kernel replaced q_text_rep_ngrams' corpus-wide groupBy+window;
    // pin it against an independent reference: per (doc, n), group grams,
    // order by (count DESC, gram ASC), take 1 — the OLD declared plan.
    val rnd = new scala.util.Random(20260818)
    val vocab = Vector("aa", "b", "cc c", "d", "e", "ff", "g", "aa") // incl. a control char
    val docs = (0 until 60).map { i =>
      val len = 2 + rnd.nextInt(40)
      (i.toLong, (0 until len).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val sp = spark; import sp.implicits._
    val df = docs.toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("ws"), explode(expr("array(2, 3, 4)")).as("n"))
      .filter(size(col("ws")) >= col("n"))
    val kernel = df
      .select(col("doc_id"), col("n"),
        VectorFunctions.topNGram(col("ws"), col("n")).as("best"))
      .select(col("doc_id"), col("n"),
        col("best.gram").as("gram"), col("best.cnt").as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id", "n").orderBy(desc("cnt"), asc("gram"))
    val reference = df
      .select(col("doc_id"), col("n"), explode(expr(
        "transform(sequence(1, size(ws) - n + 1), i -> array_join(slice(ws, i, n), ' '))"))
        .as("gram"))
      .groupBy("doc_id", "n", "gram").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("doc_id", "n", "gram", "cnt")
    assert(kernel.exceptAll(reference).isEmpty && reference.exceptAll(kernel).isEmpty)
    // too-short array -> NULL struct (the query filters first; stay total)
    val short = spark.sql("SELECT array('x') AS ws")
      .select(VectorFunctions.topNGram(col("ws"), lit(3)).as("b")).head()
    assert(short.isNullAt(0))
  }

  test("tryLower: TRY-mode strength reduction preserves TryEval semantics (r18 optimization)") {
    import graft.functions.ErrorSafeFunctions.tryEval
    def rawTry(c: org.apache.spark.sql.Column) =
      org.apache.spark.sql.graftshim.column(
        org.apache.spark.sql.catalyst.expressions.TryEval(
          org.apache.spark.sql.graftshim.expression(c)))
    val sp = spark; import sp.implicits._
    val df = Seq("7", "1-URGENT", " 8 ", "9999999999999999999999", "x")
      .toDF("s").withColumn("k", monotonically_increasing_id())
    // failing/succeeding casts, a cast under a null-propagating round, a
    // divide-by-zero, and a NON-null-propagating coalesce (recursion must
    // stop there): lowered and raw wrappers must agree row for row
    val cases = Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
      c => expr("cast(s AS int)"),
      c => expr("round(cast(s AS decimal(24,6)), 2)"),
      c => expr("cast(s AS bigint) + 1"),
      c => expr("1 div (cast(s AS bigint) - 7)"),
      c => expr("coalesce(cast(s AS int), -1)"))
    cases.zipWithIndex.foreach { case (mk, i) =>
      val a = df.select(col("k"), tryEval(mk(col("s"))).as("v")).collect().toSeq
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.toString)))
      val b = df.select(col("k"), rawTry(mk(col("s"))).as("v")).collect().toSeq
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.toString)))
      assert(a.sortBy(_._1) == b.sortBy(_._1), s"case $i diverged")
    }
  }

  test("count-map run-length construction == filter-count construction (r18 optimization)") {
    // q_map_cosine's sorted run-length count maps must carry the same
    // (word -> count) content as the old filter-per-distinct-word form
    val rnd = new scala.util.Random(42)
    val vocab = Vector("x", "yy", "z z", "w", "v")
    val sp = spark; import sp.implicits._
    val df = (0 until 40).map { i =>
      (i.toLong, (0 until (4 + rnd.nextInt(30))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("h1"))
    val newMap = df
      .withColumn("srt", expr("array_sort(h1)"))
      .withColumn("st", expr(
        """concat(array(1), filter(sequence(2, size(srt)),
                 i -> element_at(srt, i) != element_at(srt, i - 1)))"""))
      .withColumn("m", expr(
        """map_from_entries(zip_with(
             st, concat(slice(st, 2, size(st) - 1), array(size(srt) + 1)),
             (st, en) -> struct(element_at(srt, st), double(en - st))))"""))
    val oldMap = df.withColumn("m", expr(
      "map_from_entries(transform(array_distinct(h1), w -> struct(w, double(size(filter(h1, x -> x = w))))))"))
    def entries(d: org.apache.spark.sql.DataFrame) = d
      .select(col("doc_id"), explode(col("m")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(entries(newMap) == entries(oldMap))
  }

  test("LM tablesFrom rollups == direct positional counts (r18 optimization)") {
    // the one-scan g5 cascade must produce the same gram tables as
    // counting each order directly from the quint frame
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d")
    val sp = spark; import sp.implicits._
    val docs = (0 until 30).map { i =>
      (i.toLong, (0 until (5 + rnd.nextInt(30))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val m = graft.operators.LanguageModel.tablesFrom(docs)
    val q = graft.operators.LanguageModel.quintsOf(docs)
    val lg = (c: org.apache.spark.sql.Column) => (length(bin(c)) - 1).cast("long")
    def direct(keys: Seq[String], out: String, prune: Boolean) = {
      val g = q.groupBy(keys.map(col): _*).agg(count(lit(1)).as("nn"))
      (if (prune) g.filter(col("nn") >= 2) else g)
        .select(keys.map(col) :+ lg(col("nn")).as(out): _*)
    }
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    assert(same(m.t5, direct(Seq("a", "b", "c", "d", "e"), "lg5", prune = true)), "t5")
    assert(same(m.c4, direct(Seq("a", "b", "c", "d"), "lg_abcd", prune = false)), "c4")
    assert(same(m.t4, direct(Seq("b", "c", "d", "e"), "lg_bcde", prune = true)), "t4")
    assert(same(m.c3, direct(Seq("b", "c", "d"), "lg_bcd", prune = false)), "c3")
    assert(same(m.t3, direct(Seq("c", "d", "e"), "lg_cde", prune = true)), "t3")
    assert(same(m.c2, direct(Seq("c", "d"), "lg_cd", prune = false)), "c2")
    assert(same(m.t2, direct(Seq("d", "e"), "lg_de", prune = false)), "t2")
    val toks = docs.select(explode(split(col("text"), " ")).as("w"))
    assert(same(m.uni, toks.groupBy("w").agg(lg(count(lit(1))).as("lg_u"))), "uni")
    assert(same(m.total, toks.agg(lg(count(lit(1))).as("lg_t"))), "total")
    spark.catalog.clearCache() // tablesFrom caches g5/uniN
  }

  test("pqAssign fold: argmin matches the windowed (dist, cent_id) ordering incl. ties (r18)") {
    val sp = spark; import sp.implicits._
    // two centroids at EQUAL distance from the vector: the fold must keep
    // the smaller cent_id, exactly the old row_number tie-break
    val subs = Seq((1L, 0, Seq(0L, 0L))).toDF("vec_id", "m", "sub")
    val cents = Seq(
      (0, 7L, Seq(1L, 0L)), // dist 1
      (0, 3L, Seq(0L, 1L)), // dist 1 (tie — smaller id must win)
      (0, 9L, Seq(2L, 0L))  // dist 4
    ).toDF("m", "cent_id", "cm")
    val got = graft.queries.QuantQueries.pqAssign(subs, cents)
      .select("vec_id", "m", "cent_id", "dist").head()
    assert((got.getLong(0), got.getInt(1), got.getLong(2), got.getLong(3)) == ((1L, 0, 3L, 1L)))
  }

  test("PqArgmin / L2SqDist kernels == interpreted aggregate folds on random data (r19)") {
    // the codegen'd kernels replaced the CodegenFallback higher-order folds
    // (r18's measured PQ-family regression); pin them against the EXACT old
    // fold expressions, ties and empty-candidates included
    val rnd = new scala.util.Random(20260818)
    val sp = spark; import sp.implicits._
    val rows = (0 until 80).map { i =>
      val sub = Seq.fill(8)(rnd.nextInt(21).toLong - 10)
      // duplicated coordinates force distance TIES between candidates
      val k = rnd.nextInt(5) // 0 candidates sometimes
      val cands = (0 until k).map { j =>
        (rnd.nextInt(6).toLong * 3 + j % 2, Seq.fill(8)(rnd.nextInt(5).toLong - 2))
      }
      (i.toLong, sub, cands)
    }
    val df = rows.toDF("id", "sub", "raw")
      .withColumn("cl", sort_array(col("raw"))) // cent_id-ascending packed list
    val oldFold = aggregate(
      col("cl"),
      struct(lit(Long.MaxValue).as("dist"), lit(-1L).as("c")),
      (acc, ct) => {
        val dd = aggregate(
          zip_with(col("sub"), ct.getField("_2"), (x, y) => (x - y) * (x - y)),
          lit(0L), (a, v) => a + v)
        when(dd < acc.getField("dist"),
          struct(dd.as("dist"), ct.getField("_1").as("c"))).otherwise(acc)
      })
    val cands2 = transform(col("cl"),
      ct => struct(ct.getField("_1").as("cent_id"), ct.getField("_2").as("cm")))
    val cmp = df.select(col("id"),
        VectorFunctions.pqArgmin(col("sub"), cands2).as("k"),
        oldFold.as("o"),
        VectorFunctions.l2sqDist(col("sub"), col("sub")).as("zero"))
      .collect()
    cmp.foreach { r =>
      val k = r.getStruct(1); val o = r.getStruct(2)
      assert(k.getLong(0) == o.getLong(0) && k.getLong(1) == o.getLong(1),
        s"id=${r.getLong(0)}: kernel=(${k.getLong(0)},${k.getLong(1)}) fold=(${o.getLong(0)},${o.getLong(1)})")
      assert(r.getLong(3) == 0L)
    }
    // l2sqDist == zip_with fold on independent pairs
    val pairs = (0 until 50).map { _ =>
      (Seq.fill(8)(rnd.nextLong() % 1000), Seq.fill(8)(rnd.nextLong() % 1000))
    }.toDF("a", "b")
    val dd = pairs.select(
      VectorFunctions.l2sqDist(col("a"), col("b")).as("k"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v).as("o")).collect()
    dd.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("TryCastIntegral == Spark try_cast over the full string space (r19 fuzz rig)") {
    import graft.functions.TryCastIntegral
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val rnd = new scala.util.Random(20260818)
    // directed cases: signs, whitespace (incl. control bytes and non-ASCII
    // spaces), overflow boundaries for every width, decimal separators in
    // every position, non-ASCII digits, exponents, empty/blank
    val directed = Seq(
      "", " ", "  ", "\t", "\n 12 \t", "+", "-", "+-1", "--1", "1-", "1+",
      "0", "-0", "+0", "007", " 42", "42 ", " 42 ", "4 2",
      "127", "128", "-128", "-129", "32767", "32768", "-32768", "-32769",
      "2147483647", "2147483648", "-2147483648", "-2147483649",
      "9223372036854775807", "9223372036854775808",
      "-9223372036854775808", "-9223372036854775809",
      "99999999999999999999999999", "-99999999999999999999999999",
      "1.5", "1.", ".5", "-1.0", "+2.", "1..2", ".", "-.", "1.5.6",
      "1e5", "1E5", "0x1f", "Infinity", "NaN", "null",
      "١٢٣", "１２３", "𝟙𝟚", " 12", "12 ", "​42",
      "abc", "12a", "a12", "1 2", "+ 1", "- 1")
    val charsets = Seq("0123456789", "0123456789+- .\t", "0123456789+-.eE xX",
      "0123456789٠١٢٣４５", " +-.0189 ")
    val fuzz = (0 until 4000).map { i =>
      val cs = charsets(i % charsets.size)
      val len = 1 + rnd.nextInt(24)
      (0 until len).map(_ => cs(rnd.nextInt(cs.length))).mkString
    }
    val sp = spark; import sp.implicits._
    val df = (directed ++ fuzz).zipWithIndex.map(_.swap).toDF("k", "s")
    for ((t, sql) <- Seq(
        (ByteType, "tinyint"), (ShortType, "smallint"),
        (IntegerType, "int"), (LongType, "bigint"))) {
      val kernel = org.apache.spark.sql.graftshim.column(
        TryCastIntegral(org.apache.spark.sql.graftshim.expression(col("s")), t))
      val rows = df.select(col("k"), kernel.as("a"),
        expr(s"try_cast(s AS $sql)").as("b")).collect()
      rows.foreach { r =>
        assert(r.get(1) == r.get(2),
          s"$sql diverged on <${directed.lift(r.getInt(0)).getOrElse("fuzz")}" +
            s"#${r.getInt(0)}>: kernel=${r.get(1)} try_cast=${r.get(2)}")
      }
      // NULL input -> NULL (null-intolerant contract)
      val nullRow = Seq((0, null: String)).toDF("k", "s")
        .select(kernel.as("a")).head()
      assert(nullRow.isNullAt(0))
    }
  }

  test("CentArgmax kernel == interpreted round(dot,6) argmax fold incl. NaN/ties (r19)") {
    val rnd = new scala.util.Random(7)
    val sp = spark; import sp.implicits._
    val rows = (0 until 80).map { i =>
      val dim = 6
      // NaN rows: a NaN coordinate makes every dot NaN — Spark double
      // ordering (NaN greatest) must pick cent_id-ascending first candidate
      val emb = Seq.fill(dim)(if (i % 17 == 0) Double.NaN else rnd.nextDouble() * 2 - 1)
      val k = rnd.nextInt(5)
      // coarse 1-decimal coordinates force rounded-score TIES
      val cands = (0 until k).map { j =>
        (j.toLong * 2 + i % 2, Seq.fill(dim)(rnd.nextInt(3).toDouble / 2 - 0.5))
      }
      (i.toLong, emb, cands)
    }
    val df = rows.toDF("id", "emb", "raw")
      .withColumn("cl", sort_array(col("raw")))
    val oldFold = aggregate(
      col("cl"),
      struct(lit(-2.0).as("s"), lit(-1L).as("c")),
      (acc, ct) => {
        val sim = round(VectorFunctions.dot(col("emb"), ct.getField("_2")), 6)
        when(sim > acc.getField("s"),
          struct(sim.as("s"), ct.getField("_1").as("c"))).otherwise(acc)
      })
    val cands2 = transform(col("cl"),
      ct => struct(ct.getField("_1").as("cent_id"), ct.getField("_2").as("cemb")))
    val cmp = df.select(col("id"),
        VectorFunctions.centArgmax(col("emb"), cands2).as("k"),
        oldFold.as("o")).collect()
    cmp.foreach { r =>
      val k = r.getStruct(1); val o = r.getStruct(2)
      val sEq = (k.getDouble(0) == o.getDouble(0)) ||
        (k.getDouble(0).isNaN && o.getDouble(0).isNaN)
      assert(sEq && k.getLong(1) == o.getLong(1),
        s"id=${r.getLong(0)}: kernel=(${k.getDouble(0)},${k.getLong(1)}) fold=(${o.getDouble(0)},${o.getLong(1)})")
    }
  }
}
