package graft

import org.apache.spark.sql.{graftshim, Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions._

/** Generated code vs interpreter parity for every custom scalar expression:
  * each [[Kernels]] binding and each hand-written `doGenCode` class runs
  * over the same seeded inputs (plus null, empty, NaN, -0.0, infinities, an
  * all-zero vector, overflowing and non-numeric strings) once with
  * `spark.sql.codegen.factoryMode=CODEGEN_ONLY` under whole-stage codegen,
  * once with `NO_CODEGEN` and whole-stage codegen off, and the two results
  * must agree bit for bit. Spark falls back to the interpreter silently
  * when generated code fails to compile; here the generated side has no
  * fallback, and for a kernel the interpreted side is StaticInvoke's
  * reflective call. */
class CodegenParitySpec extends AnyFunSuite with SparkSuite with AdaptiveSparkPlanHelper {

  private val N = 64
  private val rng = new scala.util.Random(20261019)

  private val vocab = Vector("a", "b", "the", "cat", "sat", "on", "mat", "é", "naïve", "𝄞", "")
  private def word(): String = vocab(rng.nextInt(vocab.size))
  private def words(max: Int): Seq[String] = Seq.fill(rng.nextInt(max + 1))(word())
  private def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))
  private def gauss(dim: Int): Seq[Double] = Seq.fill(dim)(math.round(rng.nextGaussian() * 8) / 4.0)
  private def smallLongs(dim: Int): Seq[Long] = Seq.fill(dim)(rng.nextInt(21).toLong - 10)
  private def sortedInts(): Seq[Int] = (0 until 20).filter(_ => rng.nextInt(3) == 0)
  private val strangeDoubles = Seq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.MinPositiveValue, 1e308)
  private def vec(): Seq[Double] = gauss(8).map(x => if (rng.nextInt(10) == 0) pick(strangeDoubles) else x)

  /** One input column: its type, the edge values the first rows take, and
    * a generator for the seeded random rows after them (about 1 in 12 of
    * which is null). */
  private case class In(name: String, dt: DataType, edges: Seq[Any], gen: () => Any)

  private val arrD = ArrayType(DoubleType, containsNull = false)
  private val arrL = ArrayType(LongType, containsNull = false)
  private val arrS = ArrayType(StringType, containsNull = false)
  private def structOf(fs: (String, DataType)*) = StructType(fs.map { case (n, t) => StructField(n, t) })

  private val text = () => words(10).mkString(" ")
  /** Same code-point count as `s`, some code points replaced. */
  private def sameLength(s: String): String =
    s.codePoints().toArray.map { cp =>
      if (rng.nextInt(3) == 0) pick(Seq("x", "é", "𝄞", " ")) else new String(Character.toChars(cp))
    }.mkString
  private val json = Seq("""{"a": [1, 2, {"b": null}], "b": "x", "a": 3}""", "[1, 2.5, true, \"x\", null]",
    "[]", "{}", """{"b": {"c": [1, 2]}, "a": [[], {}]}""", "7", "\"s\"", "null", "-0.0", "1e400",
    """["7.1.14.12", "10.0.0.1"]""", """[1, 2, 2.0, 9223372036854775808]""")

  private val inputs: Seq[In] = Seq(
    In("v1", arrD, Seq(Seq(), Seq.fill(8)(0.0), Seq.fill(8)(-0.0), Seq(Double.NaN, 1.0, 2.0),
      Seq(1e308, 1e308), Seq(Double.PositiveInfinity, 1.0), Seq.fill(8)(1.0), null), vec),
    In("v2", arrD, Seq(Seq.fill(8)(1.0), Seq(), Seq.fill(8)(0.0), Seq(-0.0, 2.0, 3.0),
      Seq(1e308, -1e308), null, Seq(Double.NaN)), vec),
    In("l1", arrL, Seq(Seq(), Seq.fill(8)(0L), Seq(Long.MaxValue, Long.MinValue), Seq(5L), null,
      Seq(Long.MinValue)), () => smallLongs(8)),
    In("l2", arrL, Seq(Seq(1L, 2L), Seq(), Seq(Long.MinValue, 1L), Seq(5L, 6L, 7L), Seq(3L), null,
      Seq(Long.MaxValue)), () => smallLongs(8)),
    In("h", arrL, Seq(Seq(), Seq(0L), Seq(-1L, Long.MinValue), null), () => Seq.fill(rng.nextInt(6))(rng.nextLong())),
    In("i1", ArrayType(IntegerType, containsNull = false), Seq(Seq(), Seq(1, 2, 3), null), () => sortedInts()),
    In("i2", ArrayType(IntegerType, containsNull = false), Seq(Seq(1, 2, 3), Seq(), Seq(0)), () => sortedInts()),
    In("w1", arrS, Seq(Seq(), Seq("a"), Seq("", ""), Seq("a", "b", "a", "b", "a"), null,
      Seq("é", "é", "𝄞")), () => words(12)),
    In("w2", arrS, Seq(Seq("a", "b"), Seq(), Seq("the", "cat", "the", "cat"), Seq("a")), () => words(6)),
    In("t1", StringType, Seq("", " ", "  ", "a", "a  a", "the cat the cat the cat", "é e\u0301 𝄞", null),
      text),
    In("t3", StringType, Seq("a", "", "ab", "zzz", null), text),
    In("n", IntegerType, Seq(1, 2, 3, 4, null), () => 1 + rng.nextInt(4)),
    In("planes", ArrayType(arrD, containsNull = false), Seq(Seq(), Seq.fill(5)(Seq.fill(8)(1.0)), null),
      () => Seq.fill(6)(gauss(8))),
    In("cents", ArrayType(structOf("cent_id" -> LongType, "cemb" -> arrD), containsNull = false),
      Seq(Seq(), Seq(Row(1L, Seq.fill(8)(0.0)), Row(2L, Seq.fill(8)(0.0))), Seq(Row(3L, Seq(Double.NaN))), null),
      () => (0 until rng.nextInt(5)).map(j => Row(j.toLong * 2, vec()))),
    In("pqc", ArrayType(structOf("cent_id" -> LongType, "cm" -> arrL), containsNull = false),
      Seq(Seq(), Seq(Row(4L, Seq(1L, 0L)), Row(7L, Seq(0L, 1L))), null),
      () => (0 until rng.nextInt(5)).map(j => Row(j.toLong, smallLongs(8)))),
    In("mm", ArrayType(structOf("d" -> LongType, "mn" -> DoubleType, "mx" -> DoubleType), containsNull = false),
      Seq(Seq.tabulate(8)(d => Row(d.toLong, 0.0, 0.0)), null),
      () => Seq.tabulate(8) { d => val lo = rng.nextGaussian(); Row(d.toLong, lo, lo + rng.nextInt(3)) }),
    In("qe", arrL, Seq(Seq(), Seq(0L, 255L), null), () => Seq.fill(rng.nextInt(9))(rng.nextInt(256).toLong)),
    In("nt", StringType, Seq("", "é", "e\u0301", "ﬁ", "Å", "Ａ１", "한국어", null),
      () => Seq.fill(rng.nextInt(6))(pick(Seq("é", "e\u0301", "ﬁ", "Å", "Ａ", "a", " ", "𝄞"))).mkString),
    In("form", StringType, Seq("NFC", "NFD", "NFKC", "NFKD", "nfkc", null),
      () => pick(Seq("NFC", "NFD", "NFKC", "NFKD"))),
    In("word", StringType, Seq("", "a", "at", "caresses", "ponies", "hopping", "generalization",
      "Running", "123", "naïve", null), () => pick(Seq("relational", "conditional", "rational",
      "digitizer", "happy", "sky", "agreed", "feed", "motoring", "sing", "troubled", "sized"))),
    In("lang", StringType, Seq("en", null), () => "en"),
    In("hay", StringType, Seq("", "aaa", "abcabc", "é𝄞é𝄞", null),
      () => Seq.fill(rng.nextInt(10))(pick(Seq("a", "b", "𝄞"))).mkString),
    In("needle", StringType, Seq("", "aa", "bc", "é𝄞", "a"),
      () => Seq.fill(rng.nextInt(3))(pick(Seq("a", "b", "𝄞"))).mkString),
    In("inst", IntegerType, Seq(1, 2, -1, -2, 3, null), () => pick(Seq(-3, -2, -1, 1, 2, 3))),
    In("js", StringType, Seq("", " ", "\uFEFF[1]", "\uFEFF7", " \t\n[1, 2]", "[1,2] x", "{\"a\":1} }",
      "[junk", "{junk", "\"[]\"", "[]", "10.0.0.1", "a1b2-c3", "/* c */ {}", "\u0000[1]", null) ++ json,
      () => pick(json ++ Seq("1.2.3.4", "req-" + rng.nextInt(1000), "{bad", "true"))),
    In("jv", StringType, json :+ null, () => pick(json)),
    In("path", StringType, Seq("$", "$.a", "$.a[2]", "$['b']", "$[1]", "$.b.c", null),
      () => pick(Seq("$", "$.a", "$.a[0]", "$.b", "$[0]"))),
    In("m1", MapType(StringType, DoubleType), Seq(Map(), Map("a" -> 0.0), Map("a" -> Double.NaN), null,
      Map("a" -> 1.0, "b" -> null)), () => (0 until rng.nextInt(4)).map(_ => word() -> rng.nextGaussian()).toMap),
    In("m2", MapType(StringType, DoubleType), Seq(Map("a" -> 1.0), Map(), Map("a" -> -0.0), Map("b" -> 2.0)),
      () => (0 until rng.nextInt(4)).map(_ => word() -> rng.nextGaussian()).toMap),
    In("ja", StringType, Seq("[]", "[1, 2.0, true, \"x\"]", "{\"a\": 1}", "[9223372036854775808]", "junk", null),
      () => pick(json)),
    In("ps", StringType, Seq("x", "1", "", null), () => pick(Seq("x", "7.1.14.12", "s", "a"))),
    In("pl", LongType, Seq(2L, 1L, Long.MinValue, null), () => rng.nextInt(4).toLong),
    In("pd", DoubleType, Seq(2.0, -0.0, Double.NaN, 9.223372036854775807e18, null), () => rng.nextInt(4) / 2.0),
    In("pb", BooleanType, Seq(true, false, null), () => rng.nextBoolean()),
    In("data", BinaryType, Seq(Array[Byte](), "what do ya want for nothing?".getBytes("UTF-8"), null),
      () => Array.fill(rng.nextInt(40))(rng.nextInt(256).toByte)),
    In("key", BinaryType, Seq("Jefe".getBytes("UTF-8"), Array.fill(200)(7.toByte)),
      () => Array.fill(1 + rng.nextInt(70))(rng.nextInt(256).toByte)),
    In("num", StringType, Seq("", "abc", "1.5", " 12 ", "+7", "-0", "１２", "127", "128", "-129",
      "32767", "32768", "2147483647", "2147483648", "-2147483649", "9223372036854775807",
      "9223372036854775808", "-9223372036854775809", "99999999999999999999", "1e3", "0x10", null),
      () => pick(Seq(rng.nextInt(300) - 150, rng.nextInt(), rng.nextLong()).map(_.toString) ++ Seq("12a"))))

  private lazy val input: DataFrame = {
    val rows = (0 until N).map { i =>
      Row.fromSeq(i.toLong +: inputs.map { in =>
        if (i < in.edges.size) in.edges(i)
        else if (rng.nextInt(12) == 0) null
        else in.gen()
      })
    }
    // an RDD-backed relation: over a LocalRelation the optimizer would
    // evaluate the projection itself, in the interpreter, before either run
    val schema = StructType(StructField("id", LongType, nullable = false) +:
      inputs.map(in => StructField(in.name, in.dt)))
    // hamming needs equal code-point lengths: t2 mirrors t1
    val t1 = schema.fieldIndex("t1")
    val withT2 = rows.map(r => Row.fromSeq(r.toSeq :+ Option(r.getString(t1)).map(sameLength).orNull))
    spark.createDataFrame(spark.sparkContext.parallelize(withT2, 2), schema.add("t2", StringType))
  }

  /** Arguments of each [[Kernels]] binding, one or more call shapes each. */
  private val kernelArgs: Map[String, Seq[Seq[Column]]] = {
    def c(names: String*) = names.map(col)
    Map(
      "VectorOps.dot" -> Seq(c("v1", "v2"), c("v1", "v1")),
      "VectorOps.bitmapJaccard" -> Seq(c("h", "l1"), c("h", "h")),
      "VectorOps.sortedIntersectCount" -> Seq(c("i1", "i2")),
      "VectorOps.sortedIntersectCountStr" -> Seq(Seq(org.apache.spark.sql.functions.sort_array(col("w1")),
        org.apache.spark.sql.functions.sort_array(col("w2")))),
      "VectorOps.simhash64" -> Seq(c("h"), c("l1")),
      "VectorOps.minhashSig" -> Seq(Seq(col("w1"), lit(16)), Seq(col("w2"), lit(1))),
      "VectorOps.distinctBigrams" -> Seq(c("w1")),
      "VectorOps.wordNgrams" -> Seq(Seq(col("w1"), lit(2)), Seq(col("w2"), lit(3))),
      "VectorOps.sq8EncodeCodes" -> Seq(c("v1", "mm")),
      "VectorOps.sq8Dequant" -> Seq(c("qe", "mm")),
      "VectorOps.lshBuckets" -> Seq(Seq(col("v1"), col("planes"), lit(3))),
      "VectorOps.l1Dist" -> Seq(c("l1", "l2")),
      "VectorOps.l2sq" -> Seq(c("l1", "l2")),
      "VectorOps.xxhashChain" -> Seq(c("w1")),
      "VectorOps.signWords" -> Seq(c("v1")),
      "VectorOps.l2normalize" -> Seq(c("v1"), c("v2")),
      "VectorOps.polyHash46" -> Seq(c("t1"), c("nt")),
      "VectorOps.lexStats" -> Seq(c("t1")),
      "VectorOps.dupNgramCoverage" -> Seq(c("t1", "n")),
      "VectorOps.topNGram" -> Seq(c("w1", "n")),
      "VectorOps.pqArgmin" -> Seq(c("l1", "pqc")),
      "VectorOps.centArgmax" -> Seq(c("v1", "cents")),
      "StringMetrics.jaroWinkler" -> Seq(c("t1", "t2"), c("t1", "t3")),
      "StringMetrics.hamming" -> Seq(c("t1", "t2")),
      "TextOps.normalize" -> Seq(c("nt", "form")),
      "Porter.stem" -> Seq(c("word", "lang")),
      "StrPosInstance.strpos" -> Seq(c("hay", "needle", "inst")),
      "IsJsonComposite.isComposite" -> Seq(c("js")),
      "JsonParseCanonical.parse" -> Seq(c("jv")))
  }

  /** The expression classes that still hand-write their generated code. */
  private val handWritten: Seq[(String, Column)] = {
    def e(name: String) = graftshim.expression(col(name))
    Seq(
      "MapCosineSim(m1, m2)" -> graftshim.column(MapCosineSim(e("m1"), e("m2"))),
      "MapCosineSim(m1, m1)" -> graftshim.column(MapCosineSim(e("m1"), e("m1")))) ++
      Seq("ps", "pl", "pd", "pb").map(p =>
        s"JsonArrayContains(ja, $p)" -> graftshim.column(JsonArrayContains(e("ja"), e(p)))) ++
      Seq("js", "jv").map(j =>
        s"JsonSizeAtPath($j, path)" -> graftshim.column(JsonSizeAtPath(e(j), e("path")))) ++
      Seq("HmacMD5", "HmacSHA1", "HmacSHA256", "HmacSHA512").map(a =>
        s"Hmac($a)" -> graftshim.column(Hmac(e("data"), e("key"), a))) ++
      Seq(ByteType, ShortType, IntegerType, LongType).map(t =>
        s"TryCastIntegral($t)" -> graftshim.column(TryCastIntegral(e("num"), t)))
  }

  private val Codegen = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.fallback" -> "false")
  private val Interpreted = Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    "spark.sql.codegen.wholeStage" -> "false")

  private def withConf[T](kvs: Seq[(String, String)])(body: => T): T = {
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** Bit-exact rendering: doubles by their raw IEEE bits, so -0.0 vs 0.0
    * counts. Every NaN renders alike: the JVM leaves the sign and payload
    * of a computed NaN unspecified, and for one dot product over NaN and
    * infinite elements they came out differently in two runs of this
    * spec (0xfff8... from generated code in one run only). */
  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double if d.isNaN => "NaN"
    case d: Double => "d" + java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => canon(k) + "->" + canon(x) }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => s"${other.getClass.getSimpleName}:$other"
  }

  /** The rows of `out` over the inputs under `mode`, after checking which
    * codegen path the plan took. */
  private def run(out: Column, mode: Seq[(String, String)]): Seq[String] = withConf(mode) {
    val df = input.select(col("id"), out.as("out"))
    val rows = df.collect()
    val wscg = collect(df.queryExecution.executedPlan) { case w: WholeStageCodegenExec => w }
    assert(wscg.nonEmpty == (mode == Codegen), df.queryExecution.executedPlan.toString)
    rows.sortBy(_.getLong(0)).map(r => s"${r.getLong(0)}: ${canon(r.get(1))}").toSeq
  }

  private def mismatches(label: String, out: Column): Seq[String] = {
    val g = run(out, Codegen)
    val i = run(out, Interpreted)
    assert(g.size == N && i.size == N, label)
    g.zip(i).collect { case (a, b) if a != b => s"$label row $a (generated) vs $b (interpreted)" }
  }

  test("every Kernels binding has parity inputs, and only topNGram returns a nullable result") {
    assert(Kernels.all.map(_.name).toSet == kernelArgs.keySet,
      s"kernels without parity inputs: ${Kernels.all.map(_.name).toSet -- kernelArgs.keySet}; " +
        s"inputs for no kernel: ${kernelArgs.keySet -- Kernels.all.map(_.name)}")
    assert(Kernels.all.filter(_.returnNullable).map(_.name) == Seq("VectorOps.topNGram"))
    // over non-nullable arguments a binding is non-nullable unless it
    // returns nullable: persisted schemas keep the hand-written classes'
    // nullability
    for (k <- Kernels.all; args <- kernelArgs(k.name)) {
      val bound = input.select(k(args: _*).as("out")).queryExecution.analyzed.expressions.head
        .asInstanceOf[Alias].child
      assert(bound.nullable, k.name)
      val strict = bound.transform { case a: AttributeReference => a.withNullability(false) }
      assert(strict.nullable == k.returnNullable, k.name)
    }
  }

  test("every Kernels binding: generated code == interpreted, bit for bit") {
    val bad = Kernels.all.flatMap { k =>
      kernelArgs(k.name).zipWithIndex.flatMap { case (args, i) => mismatches(s"${k.name}#$i", k(args: _*)) }
    }
    assert(bad.isEmpty, bad.take(20).mkString("\n"))
  }

  test("hand-written doGenCode classes: generated code == interpreted, bit for bit") {
    val bad = handWritten.flatMap { case (label, out) => mismatches(label, out) }
    assert(bad.isEmpty, bad.take(20).mkString("\n"))
  }

  test("kernel errors: the same message from generated code and the interpreter") {
    def message(out: Column, mode: Seq[(String, String)]): String = withConf(mode) {
      val e = intercept[Exception](input.filter(col("id") === 0L).select(out).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq.last.getMessage
    }
    val cases = Seq(
      Kernels.hamming(lit("ab"), col("t3")) -> "hamming_distance requires equal-length strings",
      Kernels.strpos(col("needle"), lit("a"), lit(0)) -> "strpos: instance must not be 0",
      Kernels.normalize(col("nt"), lit("NFX")) -> "NFX",
      Kernels.wordStem(col("word"), lit("de")) -> "word_stem: unsupported language 'de'",
      Kernels.jsonParse(col("js")) -> "json_parse: invalid JSON text")
    cases.foreach { case (out, expected) =>
      val g = message(out, Codegen)
      assert(g.contains(expected), g)
      assert(message(out, Interpreted) == g)
    }
  }
}
