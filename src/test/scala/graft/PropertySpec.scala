package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.json._
import graft.pipeline.{Dates, Helpers}

/** Property tests (SURVEY §5.4(4)): toUTC epoch round-trips across
  * magnitudes, brace-scanner recovery, lowercase idempotence, merge laws.
  * Raw scalacheck generators driven by a fixed-seed sampler (the
  * scalatest-scalacheck bridge isn't in the offline cache). */
class PropertySpec extends AnyFunSuite {

  /** Deterministic forAll: 200 samples from a fixed seed. */
  private def forAllG[A](gen: Gen[A])(check: A => Unit): Unit = {
    var seed = Seed(42L)
    var n = 0
    while (n < 200) {
      gen.apply(Gen.Parameters.default, seed).foreach { a => check(a); n += 1 }
      seed = seed.next
    }
  }

  test("toUTC: 10-digit epoch seconds round-trip") {
    forAllG(Gen.choose(1000000000L, 2000000000L)) { epoch =>
      assert(Dates.toUTC(JLong(epoch)).toEpochSecond == epoch)
    }
  }

  test("toUTC: 13-digit epoch millis round-trip") {
    forAllG(Gen.choose(1000000000000L, 2000000000000L)) { ms =>
      assert(Dates.toUTC(JLong(ms)).toInstant.toEpochMilli == ms)
    }
  }

  test("toUTC: float epochs of any magnitude land in the sane era") {
    // the magnitude rule scales into [1e9, 1e10) seconds = years 2001..2286
    // ("This breaks in the year 2286", dates.py:51)
    forAllG(Gen.choose(1.0e9, 2.0e18)) { d =>
      val yr = Dates.toUTC(JDouble(d)).getYear
      assert(yr >= 2001 && yr <= 2286, s"epoch $d -> year $yr")
    }
  }

  private val safeKey: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(8).mkString)
  private val safeValue: Gen[JValue] = Gen.oneOf(
    Gen.listOf(Gen.alphaNumChar).map(cs => JString(cs.take(12).mkString)),
    Gen.choose(-1000000L, 1000000L).map(JLong(_)),
    Gen.oneOf(JBool(true), JBool(false), JNull))
  private val flatObj: Gen[JObject] = Gen.mapOf(Gen.zip(safeKey, safeValue))
    .map(m => JObject(m.toVector))

  test("brace scanner: parse(emit(concatenated docs)) == docs (brace-free strings)") {
    forAllG(Gen.listOfN(4, flatObj)) { objs =>
      val text = objs.map(Json.render).mkString("  ")
      val recovered = Helpers.emitJsonBlocks(text).filter(_.nonEmpty).flatMap(Json.parseOpt).toVector
      assert(recovered == objs.toVector)
    }
  }

  test("json round-trip: parse(render(x)) == x") {
    forAllG(flatObj) { o => assert(Json.parse(Json.render(o)) == o) }
  }

  test("lowercaseKeys is idempotent") {
    forAllG(flatObj) { o =>
      val once = JsonOps.lowercaseKeys(o)
      assert(JsonOps.lowercaseKeys(once) == once)
    }
  }

  test("merge: identity and self-absorption") {
    forAllG(flatObj) { o =>
      assert(JsonOps.merge(o, JObject.empty) == o)
      assert(JsonOps.merge(JObject.empty, o) == o)
      assert(JsonOps.merge(o, o) == o)
    }
  }

  test("dotGet agrees with top-level lookup") {
    forAllG(flatObj) { o =>
      o.fields.foreach { case (k, _) =>
        assert(JsonOps.dotGet(o, k) == Some(o(k)))
        assert(JsonOps.getPath(o, k) == o(k))
      }
    }
  }

  // --- deletion-neighborhood recall (the q_join_fuzzy_varlen guarantee) ---

  /** The string plus every single-character deletion — the candidate key
    * set the varlen fuzzy join generates per record (Relational.scala). */
  private def delNeighborhood(s: String): Set[String] =
    Set(s) ++ s.indices.map(i => s.substring(0, i) + s.substring(i + 1))

  test("deletion neighborhood: ANY single edit (sub/ins/del) shares a variant — recall 1.0") {
    val word = for {
      n <- Gen.choose(1, 24)
      cs <- Gen.listOfN(n, Gen.alphaNumChar)
    } yield cs.mkString
    val edit = for {
      w <- word
      kind <- Gen.choose(0, 2)
      pos <- Gen.choose(0, math.max(0, w.length - 1))
      c <- Gen.alphaNumChar
    } yield (w, kind match {
      case 0 => w.substring(0, pos) + c + w.substring(pos + 1) // substitute
      case 1 => w.substring(0, pos) + c + w.substring(pos)     // insert
      case 2 if w.length > 1 => w.substring(0, pos) + w.substring(pos + 1) // delete
      case _ => w + c // length-1 word: degrade delete to append (still ed 1)
    })
    forAllG(edit) { case (a, b) =>
      // the pigeonhole the join's equi-key relies on: every edit-distance-1
      // pair meets through at least one shared deletion variant, regardless
      // of WHERE the edit lands or whether it changes the length
      assert(delNeighborhood(a).intersect(delNeighborhood(b)).nonEmpty,
        s"ed-1 pair ('$a', '$b') shares no deletion variant")
    }
  }

  test("deletion neighborhood: candidate-set size is linear in the key length") {
    forAllG(Gen.listOfN(24, Gen.alphaNumChar).map(_.mkString)) { w =>
      assert(delNeighborhood(w).size <= w.length + 1)
    }
  }

  test("polyHash46 kernel: matches the reference char fold on arbitrary ASCII strings") {
    def refFold(s: String): Long =
      s.foldLeft(7L)((acc, c) => (acc * 131L + c.toLong) % 70368744177664L)
    val asciiStr = Gen.listOf(Gen.choose(32.toChar, 126.toChar)).map(_.mkString)
    forAllG(asciiStr) { s =>
      val got = graft.functions.VectorOps.polyHash46(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      assert(got == refFold(s), s"polyHash46('$s') = $got != ${refFold(s)}")
      assert(got >= 0L && got < 70368744177664L) // 46-bit range (ANSI-shift safe)
    }
  }

  test("audioFingerprint: invariant under any non-clipping integer gain") {
    val wave = Gen.listOfN(64, Gen.choose(-8000, 8000)).map(_.map(_.toShort).toArray)
    forAllG(Gen.zip(wave, Gen.choose(1, 4))) { case (w, g) =>
      val scaled = w.map(s => (s * g).toShort)
      assert(graft.operators.Multimodal.audioFingerprint(w) ==
        graft.operators.Multimodal.audioFingerprint(scaled), s"gain $g moved the fingerprint")
    }
  }

  test("phash8: invariant under any uniform non-clipping brightness shift") {
    val img = Gen.listOfN(64, Gen.choose(20, 235)).map(_.map(_.toByte).toArray)
    forAllG(Gen.zip(img, Gen.choose(-15, 15))) { case (px, sh) =>
      val shifted = px.map(b => ((b & 0xff) + sh).toByte)
      assert(graft.operators.Multimodal.phash8(px) ==
        graft.operators.Multimodal.phash8(shifted), s"shift $sh moved the pHash")
    }
  }

  test("rewriteUnnest: IDENTITY on arbitrary UNNEST-free SQL (every Engine.sql call flows through it)") {
    // fragments deliberately include the scanner's trigger characters
    // (commas, quotes with '' escapes, parens, the words CROSS/LEFT/JOIN
    // standalone) without a rewritable UNNEST table reference — the
    // rewrite must reproduce these byte-for-byte
    val frag: Gen[String] = Gen.oneOf(
      Gen.const("SELECT a, b FROM t"),
      Gen.const(", f(x, y)"),
      Gen.const(" CROSS JOIN s ON a = b"),
      Gen.const(" LEFT JOIN s ON TRUE"),
      Gen.const(" LEFT OUTER JOIN (SELECT 1) q ON TRUE"),
      Gen.const("'it''s a, CROSS JOIN UNNEST(lit) AS t(x)'"),
      Gen.const("\"quoted, ident\""),
      Gen.const(" WHERE x IN (1, 2, 3) AND unnested = 7"),
      Gen.const(" GROUP BY cube(a, b)"),
      Gen.const(" /* not a rewrite: UNNEST with no paren */ UNNEST"),
      Gen.const(" /* it's a block, /* nested */ comment */ x"),
      Gen.const("'back\\'slash, CROSS JOIN UNNEST(esc) AS t(x)'"),
      Gen.const(" ORDER BY 1, 2"),
      Gen.alphaNumStr.map(_.take(6)))
    forAllG(Gen.listOfN(6, frag).map(_.mkString(" "))) { q =>
      assert(graft.Engine.rewriteUnnest(q) == q, s"not identity on <$q>")
    }
    // and a rewritable form embedded among the same noise still rewrites
    val withUnnest = "SELECT a, 'x,y' FROM t, UNNEST(split(s, ',')) u(w) ORDER BY 1, 2"
    assert(graft.Engine.rewriteUnnest(withUnnest) ==
      "SELECT a, 'x,y' FROM t, LATERAL explode(split(s, ',')) u(w) ORDER BY 1, 2")
  }

  test("sortedIntersectCount: merge walk equals set intersection on sorted distinct ids") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val ids: Gen[Seq[Int]] = Gen.listOf(Gen.chooseNum(0, 200)).map(_.distinct.sorted)
    forAllG(Gen.zip(ids, ids)) { case (a, b) =>
      val expected = a.toSet.intersect(b.toSet).size
      val got = graft.functions.VectorOps.sortedIntersectCount(
        new GenericArrayData(a.toArray), new GenericArrayData(b.toArray))
      assert(got == expected, s"a=$a b=$b")
    }
  }

  test("sortedIntersectCountStr: merge walk equals set intersection on sorted distinct strings (r19)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    // adversarial alphabet: shared prefixes, multi-byte UTF-8, empty string
    val word: Gen[String] = Gen.oneOf(
      Gen.const(""), Gen.const("a"), Gen.const("ab"), Gen.const("abc"),
      Gen.const("abé"), Gen.const("世界"), Gen.const("zz"),
      Gen.alphaStr.map(_.take(6)))
    // sort by UTF8String BINARY order (what sort_array produces), not Java
    // String UTF-16 order — the kernel's precondition is the former
    val sets: Gen[Seq[String]] = Gen.listOf(word).map(_.distinct.sortWith(
      (x, y) => UTF8String.fromString(x).compareTo(UTF8String.fromString(y)) < 0))
    forAllG(Gen.zip(sets, sets)) { case (a, b) =>
      val expected = a.toSet.intersect(b.toSet).size
      val got = graft.functions.VectorOps.sortedIntersectCountStr(
        new GenericArrayData(a.map(UTF8String.fromString).toArray),
        new GenericArrayData(b.map(UTF8String.fromString).toArray))
      assert(got == expected, s"a=$a b=$b")
    }
    // null elements (sorted first) are skipped, not counted
    val withNull = new GenericArrayData(
      Array[Any](null, UTF8String.fromString("x"), UTF8String.fromString("y")))
    val plain = new GenericArrayData(
      Array[Any](UTF8String.fromString("x")))
    assert(graft.functions.VectorOps.sortedIntersectCountStr(withNull, plain) == 1)
    assert(graft.functions.VectorOps.sortedIntersectCountStr(withNull, withNull) == 2)
  }

  test("rewritePresto (full chain): IDENTITY on arbitrary rewrite-free SQL, incl. backticks") {
    // same contract as the rewriteUnnest identity, through BOTH rewrites
    // and with the r17 ADVICE backtick forms in the noise pool: a backtick
    // identifier containing an apostrophe, a comment opener, or an
    // UNNEST(-shaped / array_agg(-shaped substring must ride through
    // byte-for-byte
    val frag: Gen[String] = Gen.oneOf(
      Gen.const("SELECT a, b FROM t"),
      Gen.const(" `it's--tricky` "),
      Gen.const(" `weird/*ident*/` "),
      Gen.const(" `has``UNNEST(a)``quote` "),
      Gen.const(" `array_agg(x ORDER BY y)` "),
      Gen.const("'array_agg(v ORDER BY k), literal'"),
      Gen.const(" array_agg(x) "),
      Gen.const(" array_agg(DISTINCT x ORDER BY x) "),
      Gen.const(" -- array_agg(c ORDER BY d) in a comment\n"),
      Gen.const(" ORDER BY 1, 2"),
      Gen.alphaNumStr.map(_.take(6)))
    forAllG(Gen.listOfN(6, frag).map(_.mkString(" "))) { q =>
      assert(graft.Engine.rewritePresto(q) == q, s"not identity on <$q>")
    }
    // a rewritable ordered array_agg among the same noise still rewrites
    val q = "SELECT `it's` , array_agg(x ORDER BY y) FROM t"
    val rw = graft.Engine.rewritePresto(q)
    assert(rw.contains("`it's`") && rw.contains("array_sort(array_agg(named_struct("), rw)
  }
}
