package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Presto text/temporal source-compatibility helpers that need real logic
  * (not just a registry alias): Unicode normalization and the Joda-pattern
  * datetime formatter dialect.
  *
  * Reference surface: `/root/reference/README.md:116` ("any valid Presto
  * SQL") — Presto ships `normalize(s[, form])` and the Joda-patterned
  * `format_datetime`/`parse_datetime`, Spark has neither spelling.
  */
object TextOps {

  /** Unicode-normalize `s` per `form` (NFC/NFD/NFKC/NFKD — Presto's set).
    * java.text.Normalizer is the canonical JDK implementation; invalid
    * forms throw (Presto raises INVALID_FUNCTION_ARGUMENT the same way). */
  def normalize(s: UTF8String, form: UTF8String): UTF8String =
    UTF8String.fromString(
      java.text.Normalizer.normalize(
        s.toString, java.text.Normalizer.Form.valueOf(form.toString.toUpperCase)))

  /** Translate a MySQL %-pattern (Presto's `date_parse`/`date_format`
    * dialect — the OTHER Presto datetime pattern language beside Joda;
    * Athena queries use date_parse constantly) to Spark's dialect.
    * Unsupported MySQL fields (week-based %U/%u/%V/%v/%X/%x, ordinal %D)
    * reject by name; `%%` is a literal percent; any non-% text passes
    * through, quoted if it contains pattern letters. */
  def mysqlToJava(pattern: String): String = {
    val out = new StringBuilder(pattern.length)
    def lit(c: Char): Unit =
      if (c.isLetter) out.append('\'').append(c).append('\'')
      else if (c == '\'') out.append("''")
      else out.append(c)
    var i = 0
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if (c == '%' && i + 1 < pattern.length) {
        val m = pattern.charAt(i + 1) match {
          case 'Y' => "yyyy"
          case 'y' => "yy"
          case 'm' => "MM"
          case 'c' => "M"
          case 'd' => "dd"
          case 'e' => "d"
          case 'H' => "HH"
          case 'k' => "H"
          case 'h' | 'I' => "hh"
          case 'l' => "h"
          case 'i' => "mm" // MySQL minutes
          case 's' | 'S' => "ss"
          case 'f' => "SSSSSS"
          case 'p' => "a"
          case 'W' => "EEEE"
          case 'a' => "EEE"
          case 'b' => "MMM"
          case 'M' => "MMMM" // MySQL full month NAME (not minutes!)
          case 'j' => "DDD"
          case 'T' => "HH:mm:ss"
          case 'r' => "hh:mm:ss a"
          case '%' => "%"
          case bad @ ('U' | 'u' | 'V' | 'v' | 'X' | 'x' | 'D') =>
            throw new IllegalArgumentException(
              s"MySQL pattern %$bad (week-based/ordinal field) has no Spark " +
                "datetime-pattern equivalent; rewrite with %Y/%m/%d/%j")
          case other =>
            throw new IllegalArgumentException(
              s"unsupported MySQL pattern %$other in '$pattern'")
        }
        out.append(m); i += 2
      } else { lit(c); i += 1 }
    }
    out.toString
  }

  /** Translate a Joda-Time pattern (Presto's `format_datetime`/
    * `parse_datetime` dialect) to Spark's datetime pattern dialect.
    *
    * Most letters coincide; the two DANGEROUS divergences are handled
    * explicitly rather than passed through:
    *   - Joda `Y` = year-of-era, but Spark/java.time `Y` = WEEK-BASED
    *     year — passing it through would format Dec 29-31 into the next
    *     year silently. Mapped to `y` (identical for CE dates).
    *   - Joda's week-based fields (`x` weekyear, `w` week, `e` numeric
    *     day-of-week) and `C` (century) have NO Spark equivalent — Spark
    *     4 bans week-based fields outright — so they are REJECTED with a
    *     named error instead of silently misformatting.
    * Quoted literal sections (including the `''` escape) pass through
    * verbatim; both dialects quote identically. */
  def jodaToJava(pattern: String): String = {
    val out = new StringBuilder(pattern.length)
    var i = 0
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if (c == '\'') { // literal section: copy verbatim through the closing quote
        out.append(c); i += 1
        var closed = false
        while (i < pattern.length && !closed) {
          out.append(pattern.charAt(i))
          if (pattern.charAt(i) == '\'') closed = true
          i += 1
        }
      } else if (c.isLetter) {
        var j = i
        while (j < pattern.length && pattern.charAt(j) == c) j += 1
        val n = j - i
        val mapped = c match {
          // letters whose meaning coincides in both dialects
          case 'y' | 'M' | 'd' | 'H' | 'h' | 'K' | 'k' | 'm' | 's' | 'S' |
              'a' | 'E' | 'D' | 'G' | 'z' =>
            c.toString * n
          case 'Y' => "y" * n // Joda year-of-era; java Y is week-based (hazard)
          case 'Z' => // Joda: Z=+0800, ZZ=+08:00, ZZZ=zone id
            if (n == 1) "Z" else if (n == 2) "XXX" else "VV"
          case 'x' | 'w' | 'e' | 'C' =>
            throw new IllegalArgumentException(
              s"Joda pattern letter '$c' (week-based/century field) has no Spark " +
                "datetime-pattern equivalent (Spark 4 bans week-based fields); " +
                "rewrite the pattern with y/M/d/D")
          case other =>
            throw new IllegalArgumentException(
              s"unsupported Joda pattern letter '$other' in '$pattern'")
        }
        out.append(mapped); i = j
      } else { out.append(c); i += 1 }
    }
    out.toString
  }
}

/** Record-linkage string metrics the fuzzy-join family needs beyond
  * levenshtein. The Jaro-Winkler variant here matches the one DuckDB ships
  * (the common C reference): boost threshold 0.7 (prefix bonus only when
  * jaro > 0.7), prefix cap 4, scale 0.1, and the EMPTY-string convention
  * that any empty operand scores 0 — including '' vs '' (a deliberate
  * deviation from "equal strings score 1", pinned in FunctionsSpec, so the
  * oracle and the engine can never disagree on degenerate rows). */
object StringMetrics {

  /** Jaro similarity (match window + transposition count).
    *
    * Documented deviation (r14 ADVICE): positions are UTF-16 code units,
    * exactly as DuckDB's variant walks its input — the two engines agree
    * by construction on BMP text (all of the corpus); a supplementary-
    * plane character counts as two positions in both. Presto's own
    * implementation is code-point based, so jaro_winkler scores on
    * supplementary-plane text can differ from Presto — BMP-only
    * compatibility, like the other documented dialect deviations. */
  def jaro(a: String, b: String): Double = {
    if (a.isEmpty || b.isEmpty) return 0.0
    if (a == b) return 1.0
    val la = a.length
    val lb = b.length
    val w = math.max(0, math.max(la, lb) / 2 - 1)
    val fa = new Array[Boolean](la)
    val fb = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - w)
      val hi = math.min(lb - 1, i + w)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!fb(j) && b.charAt(j) == a.charAt(i)) {
          fa(i) = true; fb(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (fa(i)) {
        while (!fb(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val tr = t / 2
    (m.toDouble / la + m.toDouble / lb + (m - tr).toDouble / m) / 3.0
  }

  /** Jaro-Winkler: prefix bonus (cap 4, scale 0.1) when jaro > 0.7. */
  def jaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val sa = a.toString
    val sb = b.toString
    val j = jaro(sa, sb)
    if (j <= 0.7) return j
    var l = 0
    val n = math.min(4, math.min(sa.length, sb.length))
    while (l < n && sa.charAt(l) == sb.charAt(l)) l += 1
    j + l * 0.1 * (1.0 - j)
  }

  /** Presto `hamming_distance(s1, s2)`: positions where equal-length
    * strings differ; throws on a length mismatch (Presto behavior).
    * Presto defines both the positions and the length check over CODE
    * POINTS, so the walk is codePointAt-based — a supplementary-plane
    * character is one position, not two UTF-16 units (r14 ADVICE). */
  def hamming(a: UTF8String, b: UTF8String): Long = {
    val sa = a.toString
    val sb = b.toString
    val na = sa.codePointCount(0, sa.length)
    val nb = sb.codePointCount(0, sb.length)
    if (na != nb)
      throw new IllegalArgumentException(
        s"hamming_distance requires equal-length strings ($na vs $nb code points)")
    var d = 0L
    var i = 0
    var j = 0
    while (i < sa.length) {
      val ca = sa.codePointAt(i)
      val cb = sb.codePointAt(j)
      if (ca != cb) d += 1
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    d
  }
}

/** Column-level entry points for the text kernels (see [[Kernels]]). */
object TextFunctions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.lit

  /** Presto normalize(s, form) as a Column (see [[TextOps.normalize]]). */
  def normalize(s: Column, form: String = "NFC"): Column = Kernels.normalize(s, lit(form))

  /** Jaro-Winkler similarity (see [[StringMetrics.jaroWinkler]]). */
  def jaroWinkler(a: Column, b: Column): Column = Kernels.jaroWinkler(a, b)

  /** Presto hamming_distance (see [[StringMetrics.hamming]]). */
  def hammingDistance(a: Column, b: Column): Column = Kernels.hamming(a, b)

  /** Presto word_stem (English Porter; see [[Porter.stem]]). */
  def wordStem(w: Column): Column = Kernels.wordStem(w, lit("en"))

  /** Presto strpos(string, substring, instance) (see
    * [[StrPosInstance.strpos]] — negative instance counts from the end). */
  def strposInstance(str: Column, sub: Column, instance: Int): Column =
    Kernels.strpos(str, sub, lit(instance))
}
