package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** The Porter stemming algorithm, implemented from the public specification
  * (M.F. Porter, "An algorithm for suffix stripping", Program 14(3), 1980 —
  * the same algorithm behind Presto/Trino's `word_stem` for English, which
  * delegates to Lucene's PorterStemmer). Written from the paper's rule
  * tables, NOT ported from any implementation; the independent Python twin
  * in tools/gen_expected.py (also from the paper) is the oracle for
  * q_text_word_stem — agreement is a genuine two-implementation check.
  *
  * Dialect notes (this is the ORIGINAL 1980 rule set):
  *   - step 2 carries the paper's 20 rules (no later LOGI→LOG / BLI→BLE
  *     revisions Martin Porter published afterwards);
  *   - words of length <= 2 are returned unchanged (the paper's k <= 1
  *     guard);
  *   - only lowercase-ASCII-letter tokens are stemmed; anything else
  *     (digits, punctuation, uppercase, non-ASCII) passes through
  *     unchanged — the stemmer is defined over lowercase English words,
  *     and a pass-through beats silently mangling a URL or a hash token.
  */
object Porter {

  /** Presto `word_stem(word, lang)`, the kernel behind [[Kernels.wordStem]].
    * Only 'en' is supported (the reference's Athena corpus is English
    * security logs); any other language tag throws a NAMED error rather
    * than silently returning wrong stems. */
  def stem(word: UTF8String, lang: UTF8String): UTF8String = {
    if (lang.toString != "en")
      throw new IllegalArgumentException(
        s"word_stem: unsupported language '$lang' — only 'en' (Porter) is implemented")
    UTF8String.fromString(stemWord(word.toString))
  }

  def stemWord(word: String): String = {
    val n = word.length
    if (n <= 2) return word
    var i = 0
    while (i < n) {
      val c = word.charAt(i)
      if (c < 'a' || c > 'z') return word
      i += 1
    }
    var w = word
    w = step1a(w)
    w = step1b(w)
    w = step1c(w)
    w = step2(w)
    w = step3(w)
    w = step4(w)
    w = step5a(w)
    w = step5b(w)
    w
  }

  /** Paper definition: a consonant is a letter other than a,e,i,o,u and
    * other than y preceded by a consonant (so "toy" = C V C, "syzygy" =
    * C V C V C V). */
  private def isCons(w: String, i: Int): Boolean = w.charAt(i) match {
    case 'a' | 'e' | 'i' | 'o' | 'u' => false
    case 'y'                         => if (i == 0) true else !isCons(w, i - 1)
    case _                           => true
  }

  /** The measure m of a stem: [C](VC)^m[V] — the count of VC sequences. */
  private def measure(stem: String): Int = {
    val n = stem.length
    var m = 0
    var i = 0
    while (i < n && isCons(stem, i)) i += 1 // optional leading C run
    while (i < n) {
      while (i < n && !isCons(stem, i)) i += 1 // vowel run
      if (i >= n) return m
      m += 1 // the C that closes a VC
      while (i < n && isCons(stem, i)) i += 1
    }
    m
  }

  /** *v* — the stem contains a vowel. */
  private def hasVowel(stem: String): Boolean = {
    var i = 0
    while (i < stem.length) { if (!isCons(stem, i)) return true; i += 1 }
    false
  }

  /** *d — the stem ends with a double consonant (e.g. -TT, -SS). */
  private def endsDoubleCons(stem: String): Boolean = {
    val n = stem.length
    n >= 2 && stem.charAt(n - 1) == stem.charAt(n - 2) && isCons(stem, n - 1)
  }

  /** *o — the stem ends cvc where the second c is not w, x or y. */
  private def endsCvc(stem: String): Boolean = {
    val n = stem.length
    if (n < 3) return false
    val last = stem.charAt(n - 1)
    isCons(stem, n - 1) && !isCons(stem, n - 2) && isCons(stem, n - 3) &&
      last != 'w' && last != 'x' && last != 'y'
  }

  /** SSES→SS, IES→I, SS→SS, S→"" (longest suffix wins). */
  private def step1a(w: String): String =
    if (w.endsWith("sses")) w.dropRight(2)
    else if (w.endsWith("ies")) w.dropRight(2)
    else if (w.endsWith("ss")) w
    else if (w.endsWith("s")) w.dropRight(1)
    else w

  /** (m>0) EED→EE; (*v*) ED→""; (*v*) ING→"" — with the paper's cleanup
    * when the 2nd/3rd rule fired: AT→ATE, BL→BLE, IZ→IZE; double consonant
    * not in {l,s,z} → single; (m=1 and *o) → +E. */
  private def step1b(w: String): String = {
    if (w.endsWith("eed")) {
      val stem = w.dropRight(3)
      return if (measure(stem) > 0) w.dropRight(1) else w
    }
    val stripped =
      if (w.endsWith("ed") && hasVowel(w.dropRight(2))) Some(w.dropRight(2))
      else if (w.endsWith("ing") && hasVowel(w.dropRight(3))) Some(w.dropRight(3))
      else None
    stripped match {
      case None => w
      case Some(s) =>
        if (s.endsWith("at") || s.endsWith("bl") || s.endsWith("iz")) s + "e"
        else if (endsDoubleCons(s) && !"lsz".contains(s.charAt(s.length - 1)))
          s.dropRight(1)
        else if (measure(s) == 1 && endsCvc(s)) s + "e"
        else s
    }
  }

  /** (*v*) Y→I. */
  private def step1c(w: String): String =
    if (w.endsWith("y") && hasVowel(w.dropRight(1))) w.dropRight(1) + "i" else w

  // Each step-2/3/4 table applies AT MOST ONE rule: the first suffix that
  // matches decides (ordered so overlapping suffixes list longest first —
  // e.g. ational before tional, ization before ation, ement before ment
  // before ent), and if its m-condition fails the word is left unchanged,
  // exactly the paper's per-group behavior.
  private val step2Rules: Seq[(String, String)] = Seq(
    "ational" -> "ate", "tional" -> "tion", "enci" -> "ence", "anci" -> "ance",
    "izer" -> "ize", "abli" -> "able", "alli" -> "al", "entli" -> "ent",
    "eli" -> "e", "ousli" -> "ous", "ization" -> "ize", "ation" -> "ate",
    "ator" -> "ate", "alism" -> "al", "iveness" -> "ive", "fulness" -> "ful",
    "ousness" -> "ous", "aliti" -> "al", "iviti" -> "ive", "biliti" -> "ble")

  private val step3Rules: Seq[(String, String)] = Seq(
    "icate" -> "ic", "ative" -> "", "alize" -> "al", "iciti" -> "ic",
    "ical" -> "ic", "ful" -> "", "ness" -> "")

  private def applyTable(w: String, rules: Seq[(String, String)], minM: Int): String = {
    rules.foreach { case (suffix, repl) =>
      if (w.endsWith(suffix)) {
        val stem = w.dropRight(suffix.length)
        return if (measure(stem) > minM) stem + repl else w
      }
    }
    w
  }

  private def step2(w: String): String = applyTable(w, step2Rules, 0)
  private def step3(w: String): String = applyTable(w, step3Rules, 0)

  /** (m>1) drop al/ance/ence/er/ic/able/ible/ant/ement/ment/ent/
    * ion(stem ends s|t)/ou/ism/ate/iti/ous/ive/ize. */
  private val step4Suffixes: Seq[String] = Seq(
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant",
    "ement", "ment", "ent", "ion", "ou", "ism", "ate", "iti",
    "ous", "ive", "ize")

  private def step4(w: String): String = {
    step4Suffixes.foreach { suffix =>
      if (w.endsWith(suffix)) {
        val stem = w.dropRight(suffix.length)
        val ok = measure(stem) > 1 &&
          (suffix != "ion" || (stem.nonEmpty &&
            (stem.charAt(stem.length - 1) == 's' || stem.charAt(stem.length - 1) == 't')))
        return if (ok) stem else w
      }
    }
    w
  }

  /** (m>1) E→""; (m=1 and not *o) E→"". */
  private def step5a(w: String): String = {
    if (!w.endsWith("e")) return w
    val stem = w.dropRight(1)
    val m = measure(stem)
    if (m > 1 || (m == 1 && !endsCvc(stem))) stem else w
  }

  /** (m>1 and *d and *L) → single letter. */
  private def step5b(w: String): String =
    if (w.endsWith("ll") && measure(w.dropRight(1)) > 1) w.dropRight(1) else w
}

/** Presto `strpos(string, substring, instance)` — 1-based character position
  * of the instance-th occurrence of substring (0 when absent); a NEGATIVE
  * instance counts occurrences from the end of the string. instance = 0 is
  * an error, per Presto. Positions are counted in Unicode code points
  * (Presto positions are code-point based — the same convention the r14
  * hamming_distance fix adopted). Occurrences are enumerated OVERLAPPING,
  * Trino's model (StringFunctions.stringPositionFromStart/FromEnd advance
  * the scan by ONE position past each match, not past its end): positive
  * instances scan forward with next-start = found + 1, negative instances
  * scan backward from the end with next-end = found - 1 — so
  * strpos('aaa','aa',2) = 2 (the overlapping second occurrence) and
  * strpos('aaa','aa',-2) = 1. The empty needle matches at the start for
  * EVERY instance: strpos(s, '', k) = 1 for all k != 0 (r16 ADVICE fix —
  * the r15 scan was non-overlapping, which diverged from Trino on
  * self-overlapping needles). */
object StrPosInstance {

  def strpos(str: UTF8String, sub: UTF8String, instance: Int): Int = {
    if (instance == 0)
      throw new IllegalArgumentException("strpos: instance must not be 0")
    val s = str.toString
    val t = sub.toString
    // Presto: strpos(s, '', k) = 1 for any s and any k != 0 — the empty
    // needle matches at the start for every instance (Trino's
    // StringFunctions short-circuits before counting occurrences).
    if (t.isEmpty) return 1
    val pick =
      if (instance > 0) {
        // forward OVERLAPPING scan: next search starts one position past
        // the previous match's START (Trino's index + 1), so
        // strpos('aaa','aa',2) = 2
        var remaining = instance
        var from = 0
        var found = -1
        while (remaining > 0) {
          found = s.indexOf(t, from)
          if (found < 0) return 0
          remaining -= 1
          from = found + 1
        }
        found
      } else {
        // backward OVERLAPPING scan from the end: next search ends one
        // position before the previous match's start (Trino's index - 1)
        var remaining = -instance
        var from = s.length - t.length
        var found = -1
        while (remaining > 0) {
          if (from < 0) return 0
          found = s.lastIndexOf(t, from)
          if (found < 0) return 0
          remaining -= 1
          from = found - 1
        }
        found
      }
    s.codePointCount(0, pick) + 1
  }
}
