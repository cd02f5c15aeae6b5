package graft.functions

import org.apache.spark.sql.{graftshim, Column}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** One static kernel method — `owner.method(args)` over Catalyst's
  * internal values (ArrayData, UTF8String, primitives) — bound as an
  * expression. Spark's StaticInvoke supplies the whole binding: generated
  * code is the single static call (so the kernel stays inside whole-stage
  * codegen), the interpreter calls the same method by reflection, and a
  * NULL argument yields NULL without calling it. The result is nullable
  * only when an argument is, unless `returnNullable`, in which case a null
  * returned by the kernel is a NULL result. */
final case class Kernel(owner: AnyRef, method: String, dataType: DataType, returnNullable: Boolean) {
  def name: String = s"${owner.getClass.getSimpleName.stripSuffix("$")}.$method"

  def expr(args: Expression*): StaticInvoke =
    StaticInvoke(owner.getClass, dataType, method, args,
      propagateNull = true, returnNullable = returnNullable)

  def apply(args: Column*): Column = graftshim.column(expr(args.map(graftshim.expression): _*))
}

/** Every kernel bound through [[Kernel]], in one table. A new kernel is a
  * static method plus one `kernel(...)` line here; CodegenParitySpec walks
  * [[all]] and fails until the kernel has inputs there, so none skips the
  * generated-code vs interpreted check. */
object Kernels {
  private val table = scala.collection.mutable.LinkedHashMap.empty[String, Kernel]

  private def kernel(owner: AnyRef, method: String, dataType: DataType,
      returnNullable: Boolean = false): Kernel = {
    val k = Kernel(owner, method, dataType, returnNullable)
    require(table.put(k.name, k).isEmpty, s"kernel ${k.name} bound twice")
    k
  }

  private val longs = ArrayType(LongType, containsNull = false)
  private val doubles = ArrayType(DoubleType, containsNull = false)
  private val strings = ArrayType(StringType, containsNull = false)
  private def pair(a: String, at: DataType, b: String, bt: DataType) =
    StructType(Seq(StructField(a, at, nullable = false), StructField(b, bt, nullable = false)))

  // vectors, sets and signatures (VectorOps)
  val dot = kernel(VectorOps, "dot", DoubleType)
  val bitmapJaccard = kernel(VectorOps, "bitmapJaccard", DoubleType)
  val sortedIntersectCount = kernel(VectorOps, "sortedIntersectCount", IntegerType)
  val sortedIntersectCountStr = kernel(VectorOps, "sortedIntersectCountStr", IntegerType)
  val simhash64 = kernel(VectorOps, "simhash64", LongType)
  val minhashSig = kernel(VectorOps, "minhashSig", longs)
  val distinctBigrams = kernel(VectorOps, "distinctBigrams", strings)
  val wordNgrams = kernel(VectorOps, "wordNgrams", strings)
  val sq8EncodeCodes = kernel(VectorOps, "sq8EncodeCodes", longs)
  val sq8Dequant = kernel(VectorOps, "sq8Dequant", doubles)
  val lshBuckets = kernel(VectorOps, "lshBuckets", longs)
  val l1Dist = kernel(VectorOps, "l1Dist", LongType)
  val l2sq = kernel(VectorOps, "l2sq", LongType)
  val xxhashChain = kernel(VectorOps, "xxhashChain", LongType)
  val signWords = kernel(VectorOps, "signWords", longs)
  val l2normalize = kernel(VectorOps, "l2normalize", doubles)
  val polyHash46 = kernel(VectorOps, "polyHash46", LongType)
  val lexStats = kernel(VectorOps, "lexStats", longs)
  val dupNgramCoverage = kernel(VectorOps, "dupNgramCoverage", longs)
  // a token array shorter than n has no n-gram: the kernel returns null
  val topNGram = kernel(VectorOps, "topNGram",
    pair("gram", StringType, "cnt", LongType), returnNullable = true)
  val pqArgmin = kernel(VectorOps, "pqArgmin", pair("dist", LongType, "c", LongType))
  val centArgmax = kernel(VectorOps, "centArgmax", pair("s", DoubleType, "c", LongType))

  // text
  val jaroWinkler = kernel(StringMetrics, "jaroWinkler", DoubleType)
  val hamming = kernel(StringMetrics, "hamming", LongType)
  val normalize = kernel(TextOps, "normalize", StringType)
  val wordStem = kernel(Porter, "stem", StringType)
  val strpos = kernel(StrPosInstance, "strpos", IntegerType)

  // JSON
  val isJsonComposite = kernel(IsJsonComposite, "isComposite", BooleanType)
  val jsonParse = kernel(JsonParseCanonical, "parse", StringType)

  /** Every kernel, in binding order. */
  val all: Seq[Kernel] = table.values.toList
}
