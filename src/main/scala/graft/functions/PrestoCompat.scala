package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String
import graft.json._
import com.fasterxml.jackson.core.{JsonParser => JacksonParser, JsonToken}

/** Presto source-compatibility expressions, so the reference's published
  * queries (`/root/reference/README.md:89-109,121-136`) run VERBATIM against
  * this engine — `json_array_contains(json_extract(details,'$._ipaddresses'),
  * '7.1.14.12')` and friends. Registered as SQL functions by
  * [[GraftExtensions]].
  *
  * All expressions here generate static-call code (r16 — the original
  * CodegenFallback forms knocked their whole stage out of whole-stage
  * codegen). The native formulations —
  * `array_contains(from_json(get_json_object(...), 'array<string>'), x)` —
  * remain a fine hot-path spelling (used by q_pipeline_readme2), but the
  * pasted Presto spellings now codegen too.
  */

/** Presto `json_array_contains(json, value)`: true/false membership test on
  * a JSON array text; NULL when the input is not a JSON array (Presto
  * behavior). Value may be varchar, bigint, double, or boolean; JSON numbers
  * compare numerically (2 matches 2.0). */
case class JsonArrayContains(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override protected def nullSafeEval(json: Any, value: Any): Any =
    JsonArrayContains.containsBoxed(json.asInstanceOf[UTF8String], value)
  // codegen'd with an explicit null channel (r16): NULL for non-array
  // input even when both operands are non-null, so the boxed static call
  // sets isNull itself. This keeps the PASTED readme-2 spelling inside
  // whole-stage codegen.
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (j, v) => {
      val tmp = ctx.freshName("jsonArrContains")
      s"""
      java.lang.Boolean $tmp =
        graft.functions.JsonArrayContains.containsBoxed($j, (Object) $v);
      if ($tmp == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = $tmp.booleanValue();
      }
      """
    })
}

object JsonArrayContains {
  /** null when the input is not a JSON array (Presto behavior). */
  def containsBoxed(json: UTF8String, value: Any): java.lang.Boolean =
    Json.parseOpt(json.toString) match {
      case Some(JArray(items)) =>
        val found = value match {
          case s: UTF8String =>
            val str = s.toString
            items.exists { case JString(x) => x == str; case _ => false }
          case b: java.lang.Boolean =>
            items.exists { case JBool(x) => x == b.booleanValue; case _ => false }
          case n: java.lang.Number =>
            val d = n.doubleValue
            items.exists {
              case JLong(x)   => x.toDouble == d
              case JDouble(x) => x == d
              case JBigInt(x) => x.toDouble == d
              case _          => false
            }
          case _ => false
        }
        java.lang.Boolean.valueOf(found)
      case _ => null
    }
}

/** True when the string parses as a JSON object or array — used to give
  * `json_extract_scalar` Presto's NULL-on-composite semantics on top of
  * GetJsonObject (bound as [[Kernels.isJsonComposite]]). Deliberate edge
  * deviation: a *string* scalar whose text is itself valid composite JSON
  * (e.g. the two-char string "[]") is indistinguishable from a composite
  * after GetJsonObject unquotes it, and maps to NULL here where Presto
  * would return the string. */
object IsJsonComposite {
  /** A document is composite only when its first token opens an object or
    * an array, so any other first character after the whitespace Jackson
    * skips (space, tab, CR, LF) answers false without a parse: the scalars
    * json_extract_scalar mostly sees (IPs, request ids) no longer build a
    * tree and throw. A 0xEF lead byte (a BOM among others) takes the full
    * parse, which decides it as before. */
  def isComposite(s: UTF8String): Boolean = {
    val n = s.numBytes()
    var i = 0
    while (i < n && { val b = s.getByte(i); b == ' ' || b == '\t' || b == '\n' || b == '\r' }) i += 1
    if (i == n) return false
    val first = s.getByte(i)
    if (first != '{' && first != '[' && first != 0xEF.toByte) return false
    Json.parseOpt(s.toString) match {
      case Some(_: JObject) | Some(_: JArray) => true
      case _                                  => false
    }
  }
}

/** Presto/Trino `json_parse(text)` — validate and CANONICALIZE a JSON text.
  * Trino's kernel (JsonFunctions.jsonParse) re-serializes through a sorted
  * ObjectMapper (ORDER_MAP_ENTRIES_BY_KEYS): whitespace is stripped, object
  * keys are sorted lexicographically, duplicate keys collapse last-wins —
  * all reproduced here over the repo's JSON AST (json/JsonAst.scala, whose
  * parser is already last-wins). Invalid JSON fails LOUDLY (Trino:
  * INVALID_FUNCTION_ARGUMENT), never silently NULL — json_parse is the
  * validating entry point, unlike the NULL-tolerant extract family.
  * Deviation (documented): non-integral numbers render in this engine's
  * float convention (JsonAst.pyFloatRepr), which can differ from Jackson's
  * for exotic exponents; integers — the reference corpus's only JSON
  * numbers — render identically. */
object JsonParseCanonical {
  def parse(s: UTF8String): UTF8String = {
    val v =
      try Json.parse(s.toString)
      catch {
        // stack-trace-free rethrow (r18 optimization round): under TRY (the
        // dirty-data hot path) every malformed row pays for this exception
        // and the trace is discarded unread; the message — the part a
        // non-TRY caller actually sees — is kept verbatim. fillInStackTrace
        // is the dominant cost of constructing a JVM exception.
        case e: Exception => throw new IllegalArgumentException(
          s"json_parse: invalid JSON text: ${e.getMessage}") {
          override def fillInStackTrace(): Throwable = this
        }
      }
    UTF8String.fromString(Json.render(sortKeys(v)))
  }

  def sortKeys(v: JValue): JValue = v match {
    case JObject(fields) =>
      JObject(fields.map { case (k, x) => (k, sortKeys(x)) }.sortBy(_._1))
    case JArray(items) => JArray(items.map(sortKeys))
    case other => other
  }
}

/** Presto/Trino `json_size(json, path)` — the size of the value at a JSON
  * path: object → number of keys, array → number of elements, scalar → 0,
  * missing path or invalid JSON → NULL (the extract-family tolerance). The
  * path grammar is the subset Presto documents and the reference's queries
  * use: `$`, `.key`, `['key']`, `[index]`; a malformed path fails loudly. */
case class JsonSizeAtPath(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override protected def nullSafeEval(json: Any, path: Any): Any =
    JsonSizeAtPath.sizeBoxed(
      json.asInstanceOf[UTF8String], path.asInstanceOf[UTF8String])
  // codegen'd with an explicit null channel: the result is NULL for
  // invalid JSON or a missing path even when both inputs are non-null, so
  // the boxed static call sets isNull itself (defineCodeGen assumes
  // non-null-from-non-null and cannot express this)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (j, p) => {
      val tmp = ctx.freshName("jsonSize") // fresh per occurrence: the same
      // expression can be codegen'd twice into one function
      s"""
      java.lang.Long $tmp = graft.functions.JsonSizeAtPath.sizeBoxed($j, $p);
      if ($tmp == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = $tmp.longValue();
      }
      """
    })
}

object JsonSizeAtPath {
  /** null for invalid JSON / missing path (the extract-family tolerance).
    *
    * STREAMING kernel: the declared row calls json_size several times per
    * document, and an AST build per call (Json.parse allocates a JValue
    * tree) dominated the row's cost. This walks Jackson tokens directly —
    * navigate the path (skipChildren over non-matching subtrees), count
    * the target (DISTINCT field names for objects, matching the AST's
    * last-wins dup-key collapse; elements for arrays; 0 for scalars),
    * then consume the remainder so a document with trailing garbage or a
    * malformed tail is NULL exactly like Json.parseOpt. Duplicate keys on
    * the PATH re-measure each match and keep the last — JObject.get's
    * last-occurrence-wins, reproduced without rewind. The AST walker
    * below stays as the independent oracle (FunctionsSpec pins
    * streaming == AST on adversarial docs). */
  def sizeBoxed(json: UTF8String, path: UTF8String): java.lang.Long = {
    val segs = JsonPathWalk.segments(path.toString) // malformed path: loud
    try {
      val p = Json.streamParser(json.toString)
      try {
        if (p.nextToken() == null) return null // empty document
        val res = nav(p, segs, 0)
        if (p.nextToken() != null) null // trailing content: not a JSON doc
        else res
      } finally p.close()
    } catch { case _: Exception => null } // malformed JSON anywhere
  }

  /** Entry: currentToken = first token of the current value. Exit: the
    * current value fully consumed (currentToken = its last token). */
  private def nav(
      p: JacksonParser, segs: IndexedSeq[JsonPathWalk.Seg], i: Int): java.lang.Long = {
    val t = p.currentToken()
    if (i == segs.length) {
      t match {
        case JsonToken.START_OBJECT =>
          val names = new java.util.HashSet[String]()
          while (p.nextToken() != JsonToken.END_OBJECT) {
            names.add(p.currentName())
            p.nextToken()
            p.skipChildren()
          }
          java.lang.Long.valueOf(names.size.toLong)
        case JsonToken.START_ARRAY =>
          var n = 0L
          while (p.nextToken() != JsonToken.END_ARRAY) { p.skipChildren(); n += 1 }
          java.lang.Long.valueOf(n)
        case _ => java.lang.Long.valueOf(0L) // scalar: single token, consumed
      }
    } else segs(i) match {
      case JsonPathWalk.Key(k) =>
        if (t != JsonToken.START_OBJECT) { p.skipChildren(); null }
        else {
          var result: java.lang.Long = null
          var matched = false
          while (p.nextToken() != JsonToken.END_OBJECT) {
            val name = p.currentName()
            p.nextToken()
            if (name == k) { matched = true; result = nav(p, segs, i + 1) }
            else p.skipChildren()
          }
          if (matched) result else null
        }
      case JsonPathWalk.Idx(want) =>
        if (t != JsonToken.START_ARRAY) { p.skipChildren(); null }
        else {
          var j = 0
          var result: java.lang.Long = null
          var found = false
          while (p.nextToken() != JsonToken.END_ARRAY) {
            if (j == want) { found = true; result = nav(p, segs, i + 1) }
            else p.skipChildren()
            j += 1
          }
          if (found) result else null
        }
    }
  }

  /** AST twin of [[sizeBoxed]] — the independent oracle the unit suite
    * compares the streaming kernel against (two-implementation check). */
  def sizeViaAst(json: String, path: String): java.lang.Long =
    Json.parseOpt(json) match {
      case None => null
      case Some(root) =>
        JsonPathWalk.walk(root, path) match {
          case None                 => null
          case Some(JObject(f))     => java.lang.Long.valueOf(f.size.toLong)
          case Some(JArray(items))  => java.lang.Long.valueOf(items.size.toLong)
          case Some(_)              => java.lang.Long.valueOf(0L)
        }
    }
}

/** Minimal JSONPath-subset grammar shared by the json_size spelling:
  * `$` root, `.key` member access, `['key']` quoted member, `[n]` array
  * index. Missing hops yield None; malformed paths throw (Presto raises on
  * an unparseable path, but tolerates a path that merely doesn't match). */
object JsonPathWalk {
  sealed trait Seg
  final case class Key(k: String) extends Seg
  final case class Idx(i: Int) extends Seg

  /** Parse a path into segments; throws on malformed input. */
  def segments(path: String): IndexedSeq[Seg] = {
    val n = path.length
    if (n == 0 || path.charAt(0) != '$')
      throw new IllegalArgumentException(s"json path must start with '$$': $path")
    val out = Vector.newBuilder[Seg]
    var i = 1
    while (i < n) {
      path.charAt(i) match {
        case '.' =>
          var j = i + 1
          while (j < n && path.charAt(j) != '.' && path.charAt(j) != '[') j += 1
          val key = path.substring(i + 1, j)
          if (key.isEmpty)
            throw new IllegalArgumentException(s"empty key segment in json path: $path")
          out += Key(key)
          i = j
        case '[' =>
          val j = path.indexOf(']', i)
          if (j < 0)
            throw new IllegalArgumentException(s"unclosed '[' in json path: $path")
          val seg = path.substring(i + 1, j).trim
          if (seg.length >= 2 && (seg.charAt(0) == '\'' || seg.charAt(0) == '"') &&
              seg.charAt(seg.length - 1) == seg.charAt(0)) {
            out += Key(seg.substring(1, seg.length - 1))
          } else {
            val idx =
              try seg.toInt
              catch {
                case _: NumberFormatException => throw new IllegalArgumentException(
                  s"bad array index '$seg' in json path: $path")
              }
            out += Idx(idx)
          }
          i = j + 1
        case c =>
          throw new IllegalArgumentException(s"unexpected '$c' in json path: $path")
      }
    }
    out.result()
  }

  /** AST navigation over pre-parsed segments (the streaming kernel's
    * independent oracle; negative indexes never match, as before). */
  def walk(root: JValue, path: String): Option[JValue] = {
    var cur: Option[JValue] = Some(root)
    segments(path).foreach { seg =>
      cur = cur.flatMap { v =>
        (seg, v) match {
          case (Key(k), o: JObject) => o.get(k)
          case (Idx(ix), JArray(items)) if ix >= 0 && ix < items.size => Some(items(ix))
          case _ => None
        }
      }
    }
    cur
  }
}

/** Column-level wrapper for the json_parse kernel. */
object PrestoJsonFunctions {
  import org.apache.spark.sql.Column
  def jsonParse(c: Column): Column = Kernels.jsonParse(c)
}
