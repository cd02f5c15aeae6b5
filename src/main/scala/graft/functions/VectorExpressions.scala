package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Tight-loop vector kernels for the similarity-search operators.
  *
  * The naive declarative form — `aggregate(zip_with(a, b, _*_), 0d, _+_)` —
  * evaluates a lambda expression tree per element per row: at 12.5M candidate
  * pairs x 64 dims that's ~1.6B interpreted expression nodes and dominates
  * the query. These kernels read ArrayData primitives directly in one JIT'd
  * loop and participate in whole-stage codegen (bound through [[Kernels]],
  * the generated code is a single static call), which is the
  * custom-Expression upgrade path SURVEY §4 reserved for exactly this case.
  */
object VectorOps {
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    var s = 0.0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  def norm(a: ArrayData): Double = {
    val n = a.numElements()
    var i = 0
    var s = 0.0
    while (i < n) { val x = a.getDouble(i); s += x * x; i += 1 }
    math.sqrt(s)
  }

  /** SimHash signature from per-token 64-bit hashes: per-bit ±1 votes, bit
    * set where votes are positive. One pass over the tokens in a JIT'd
    * loop — the declarative twin (aggregate over sequence(0,63) x tokens)
    * interprets 64 lambda trees per token per row. */
  def simhash64(hs: ArrayData): Long = {
    val n = hs.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= 1L << b; b += 1 }
    sig
  }

  /** MinHash signature over an array<string> token set: sig[i] = min over
    * tokens of Spark's xxhash64(token, i) for i in 0 until perms —
    * BIT-IDENTICAL to the declarative nested-HOF form
    * `transform(sequence(0, perms-1), i -> array_min(transform(ws, w ->
    * xxhash64(w, i))))` (pinned in FunctionsSpec), but one JIT'd loop:
    * the string hashes once per TOKEN (xxhash64(w, i) chains hashBytes(w,
    * seed=42) then hashInt(i), so the expensive byte hash is shared across
    * all perms), then perms cheap integer-hash chains. The HOF form
    * interprets perms x tokens lambda trees per row and dominated the
    * round-2 ngram/minhash bench.
    *
    * EMPTY-ARRAY divergence (deliberate): on a zero-token set the kernel
    * returns the Long.MaxValue-filled signature (min over nothing = the
    * fill), where `array_min` over an empty transform yields nulls. No
    * graft call site can produce an empty set — `split` always yields >= 1
    * element — but a caller banding arbitrary word sets through
    * minhashBandTable should know all empty sets share one signature and
    * would band together; filter empties upstream if that matters. */
  def minhashSig(ws: ArrayData, perms: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val n = ws.numElements()
    val sig = new Array[Long](perms)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var t = 0
    while (t < n) {
      val w = ws.getUTF8String(t)
      val base = XXH64.hashUnsafeBytes(w.getBaseObject, w.getBaseOffset, w.numBytes(), 42L)
      var i = 0
      while (i < perms) {
        val h = XXH64.hashInt(i, base)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      t += 1
    }
    ArrayData.toArrayData(sig)
  }

  /** Distinct bigram shingles of a token array, first-occurrence order —
    * BIT-IDENTICAL to `array_distinct(transform(sequence(0, n-2), i ->
    * concat_ws(" ", words[i], words[i+1])))` with the <2-token guard
    * (empty result), but one JIT'd loop instead of ~n interpreted
    * concat/element_at lambda trees per row. */
  def distinctBigrams(words: ArrayData): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val n = words.numElements()
    if (n < 2) return ArrayData.toArrayData(Array.empty[UTF8String])
    val space = UTF8String.fromString(" ")
    val seen = new java.util.LinkedHashSet[UTF8String](n * 2)
    var i = 0
    while (i < n - 1) {
      seen.add(UTF8String.concat(words.getUTF8String(i), space, words.getUTF8String(i + 1)))
      i += 1
    }
    val out = new Array[AnyRef](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    ArrayData.toArrayData(out)
  }

  /** The MOST-FREQUENT word n-gram of a token array with (count DESC,
    * gram ASC) tie-break — the Gopher top-n-gram repetition kernel
    * (`q_text_rep_ngrams`), doc-local by definition so the whole argmax is
    * one per-row JIT'd pass (r18 optimization round; the r15 relational
    * form shuffled the corpus × len gram STRINGS through a count exchange
    * plus a window sort, and the interim HOF fold rewrite evaluated an
    * interpreted lambda per gram). Returns struct(gram, cnt). Grams are
    * space-joined (`concatWs`), sorted with UTF8String's binary comparator
    * — exactly Spark's string ordering, so the winner equals the old
    * `row_number() OVER (ORDER BY cnt DESC, gram)` rn=1 row: a run only
    * replaces the incumbent when STRICTLY longer, and runs arrive in
    * ascending gram order. O(len·log len) comparisons, zero exchange. */
  def topNGram(words: ArrayData, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    import org.apache.spark.unsafe.types.UTF8String
    val w = words.numElements()
    val l = w - n + 1
    if (l <= 0) return null
    val space = UTF8String.fromString(" ")
    val grams = new Array[UTF8String](l)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i < l) {
      var j = 0
      // null tokens substitute as empty strings (r19 ADVICE hardening: the
      // split()-fed query path never produces them, but the kernel is
      // exposed generically via VectorFunctions.topNGram and concatWs/sort
      // would NPE on a null element)
      while (j < n) {
        val t = words.getUTF8String(i + j)
        parts(j) = if (t == null) UTF8String.EMPTY_UTF8 else t
        j += 1
      }
      grams(i) = UTF8String.concatWs(space, parts: _*)
      i += 1
    }
    java.util.Arrays.sort(grams.asInstanceOf[Array[AnyRef]])
    var bestG = grams(0)
    var bestC = 1L
    var run = 1L
    i = 1
    while (i < l) {
      if (grams(i).equals(grams(i - 1))) run += 1 else run = 1
      if (run > bestC) { bestC = run; bestG = grams(i) }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestG, bestC))
  }

  /** SQ8 int8 encoding of an array<double> against a per-dimension
    * (d, mn, mx) calibration struct array — BIT-IDENTICAL to the
    * declarative `transform(de, (x, i) -> when(mx = mn, 0L)
    * .otherwise(least(255L, floor((x - mn) * 256.0 / (mx - mn)))))` with
    * `element_at(mm, i+1)` field extraction (r19): the transform is
    * CodegenFallback, so every component paid an interpreted lambda plus
    * an element_at struct walk. floor(double).toLong and min(255, _) are
    * exactly what Spark's Floor/Least lower to, including the NaN→0 and
    * ±Infinity saturation edges. Precondition: mm has >= as many entries
    * as de (the calibration row always carries all Dim dimensions). */
  def sq8EncodeCodes(de: ArrayData, mm: ArrayData): ArrayData = {
    val n = de.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val m = mm.getStruct(i, 3)
      val mn = m.getDouble(1)
      val mx = m.getDouble(2)
      out(i) =
        if (mx == mn) 0L
        else math.min(255L, math.floor((de.getDouble(i) - mn) * 256.0 / (mx - mn)).toLong)
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** SQ8 midpoint reconstruction of an int8 code array against the same
    * calibration row — BIT-IDENTICAL to `transform(qe, (c, i) ->
    * when(mx = mn, mn).otherwise(mn + (c + 0.5) * (mx - mn) / 256.0))`
    * (same IEEE op order: ((c + 0.5) * (mx - mn)) / 256.0, then + mn). */
  def sq8Dequant(qe: ArrayData, mm: ArrayData): ArrayData = {
    val n = qe.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val m = mm.getStruct(i, 3)
      val mn = m.getDouble(1)
      val mx = m.getDouble(2)
      out(i) = if (mx == mn) mn else mn + (qe.getLong(i) + 0.5) * (mx - mn) / 256.0
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** All hyperplane-LSH bucket values of a vector in one JIT'd pass —
    * BIT-IDENTICAL to the declarative
    * `transform(sequence(0, tables-1), t -> aggregate(sequence(0, k-1), 0L,
    * (acc, j) -> acc + when(dot(emb, planes[t*k+j+1]) > 0, 1L << j)
    * .otherwise(0L)))`: same sign test (> 0, so a 0.0 or NaN dot clears
    * the bit), same bit weights, and VectorOps.dot is the same
    * accumulation the Column-level kernel runs. The HOF form is
    * CodegenFallback and paid k x tables interpreted fold steps per row
    * on the LSH banding entry path (r19). `planes` is the flat
    * plane-list array; tables = planes.length / k. */
  def lshBuckets(emb: ArrayData, planes: ArrayData, k: Int): ArrayData = {
    val tables = planes.numElements() / k
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var j = 0
      while (j < k) {
        if (dot(emb, planes.getArray(t * k + j)) > 0) bucket |= 1L << j
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Σ|a_i - b_i| over two array<long> columns in one JIT'd loop —
    * BIT-IDENTICAL to `aggregate(zip_with(a, b, (x, y) -> abs(x - y)),
    * 0L, +)` over EQUAL-LENGTH arrays (zip_with's null-padding on a
    * length mismatch cannot arise at the call sites — every frame vector
    * is the same fixed pixel count). The HOF form interpreted a lambda
    * tree per element per row (r19; the scene-cut SAD hot path). */
  def l1Dist(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    var s = 0L
    while (i < n) { s += math.abs(a.getLong(i) - b.getLong(i)); i += 1 }
    s
  }

  /** Chained xxhash64 fold over a token array — BIT-IDENTICAL to
    * `aggregate(ws, 0L, (acc, w) -> xxhash64(acc, w))` (r19): Spark's
    * two-argument xxhash64 hashes the long accumulator (XXH64.hashLong
    * with seed 42) then the string bytes with the intermediate as seed,
    * and the fold threads the result as the next accumulator. One JIT'd
    * loop instead of one interpreted lambda + hash-expression tree per
    * token per row (q_text_fingerprint's whole computation). Null tokens
    * cannot arise from split(); a null element keeps the accumulator
    * (matching xxhash64's skip-null-child behavior). */
  def xxhashChain(ws: ArrayData): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val n = ws.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!ws.isNullAt(i)) {
        val w = ws.getUTF8String(i)
        val h = XXH64.hashLong(acc, 42L)
        acc = XXH64.hashUnsafeBytes(w.getBaseObject, w.getBaseOffset, w.numBytes(), h)
      }
      i += 1
    }
    acc
  }

  /** Packed sign words [w0, w1] of a 64-dim array<double>: bit j of w0 set
    * iff emb[j] > 0 for j in 0..31, bit j-32 of w1 for j in 32..63 —
    * BIT-IDENTICAL to the two `aggregate(sequence(...), 0L, (acc, j) ->
    * acc + IF(element_at(emb, j+1) > 0D, shiftleft(1L, j), 0L))` folds
    * (same strict > 0 test: -0.0 and NaN clear the bit), one JIT'd pass
    * instead of 64 interpreted fold steps per row (r19; the binary-code
    * quantization family). */
  def signWords(emb: ArrayData): ArrayData = {
    val n = math.min(64, emb.numElements())
    var w0 = 0L
    var w1 = 0L
    var j = 0
    while (j < n) {
      if (emb.getDouble(j) > 0) {
        if (j < 32) w0 |= 1L << j else w1 |= 1L << (j - 32)
      }
      j += 1
    }
    ArrayData.toArrayData(Array(w0, w1))
  }

  /** Unit-L2 normalization of an array<double> in one JIT'd pass —
    * BIT-IDENTICAL to the declarative
    * `transform(a, x -> x / sqrt(aggregate(transform(a, x -> x*x), 0.0, +)))`:
    * the sum of squares accumulates left-to-right exactly like the fold
    * (same IEEE addition order), `java.lang.Math.sqrt` is what Spark's
    * Sqrt lowers to, and the division is the same IEEE op. DOCUMENTED
    * DIVERGENCE: an ALL-ZERO vector — ANSI-mode Divide raises
    * DIVIDE_BY_ZERO even for doubles, where this kernel returns the IEEE
    * 0/0 = NaN fill (no graft corpus produces a zero embedding; the full
    * oracle run pins that, and the pin test asserts the NaN fill).
    * Precondition: null-free elements (every call site feeds parquet
    * doubles or arithmetic over them). */
  def l2normalize(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val x = a.getDouble(i); s += x * x; i += 1 }
    val nrm = math.sqrt(s)
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = a.getDouble(i) / nrm; i += 1 }
    ArrayData.toArrayData(out)
  }

  /** ALL stride-1 word n-grams of a token array, space-joined, position
    * order — BIT-IDENTICAL to the declarative
    * `transform(sequence(0, size(ws) - n), i -> array_join(slice(ws, i + 1,
    * n), " "))` (and its 1-based `sequence(1, size - (n-1))`/`slice(ws, i,
    * n)` spelling) including null-element skipping (concatWs and
    * array_join both drop nulls without a separator), but one JIT'd loop
    * instead of ~len interpreted array_join+slice lambda trees per row
    * (r19; transform is CodegenFallback, so every gram paid interpreted
    * evaluation + two array allocations). For arrays shorter than n the
    * kernel returns an EMPTY array, where the raw declarative form would
    * error on the descending sequence — every graft call site guards that
    * case to empty/"" anyway, so the kernel absorbs the guard. */
  def wordNgrams(words: ArrayData, n: Int): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val w = words.numElements()
    val l = w - n + 1
    if (l <= 0) return ArrayData.toArrayData(Array.empty[UTF8String])
    val space = UTF8String.fromString(" ")
    val out = new Array[AnyRef](l)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i < l) {
      var j = 0
      while (j < n) { parts(j) = words.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(space, parts: _*)
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Within-document duplicated word-n-gram COVERAGE — the Gopher Table A1
    * "fraction of characters in duplicate n-grams" kernel (dup coverage is
    * doc-local by definition, so the whole measurement is one per-row JIT'd
    * pass; the r15 relational form shuffled + externally sorted the full
    * corpus gram stream and carried a measured 1.6x-per-decade slope).
    * Returns [covered_tokens, covered_chars]: the POSITION-UNION size of
    * tokens under n-grams occurring >1 time in the document, and the sum of
    * those tokens' character lengths. Method: argsort gram start indexes by
    * token-sequence order (no gram strings are materialized — comparisons
    * walk the token arrays), mark starts equal to a sorted neighbor, paint
    * a boolean coverage array, count. O(len·log len·n) comparisons, O(len)
    * memory, zero exchange. `UTF8String.split` carries Spark's own
    * `split(text, ' ')` semantics (empty tokens included), numChars
    * matches `length(token)`. */
  def dupNgramCoverage(s: org.apache.spark.unsafe.types.UTF8String, n: Int): ArrayData = {
    val words = s.split(org.apache.spark.unsafe.types.UTF8String.fromString(" "), -1)
    val w = words.length
    val l = w - n + 1
    if (l <= 0) return ArrayData.toArrayData(Array(0L, 0L))
    val idx = new Array[Integer](l)
    var i = 0
    while (i < l) { idx(i) = Integer.valueOf(i); i += 1 }
    val cmp = new java.util.Comparator[Integer] {
      override def compare(x: Integer, y: Integer): Int = {
        val a = x.intValue(); val b = y.intValue()
        var k = 0
        while (k < n) {
          val c = words(a + k).compareTo(words(b + k))
          if (c != 0) return c
          k += 1
        }
        0
      }
    }
    java.util.Arrays.sort(idx, cmp)
    val dupStart = new Array[Boolean](l)
    var j = 0
    while (j < l - 1) {
      if (cmp.compare(idx(j), idx(j + 1)) == 0) {
        dupStart(idx(j).intValue()) = true
        dupStart(idx(j + 1).intValue()) = true
      }
      j += 1
    }
    val covered = new Array[Boolean](w)
    i = 0
    while (i < l) {
      if (dupStart(i)) { var p = i; while (p < i + n) { covered(p) = true; p += 1 } }
      i += 1
    }
    var tok = 0L
    var chars = 0L
    var p = 0
    while (p < w) {
      if (covered(p)) { tok += 1L; chars += words(p).numChars().toLong }
      p += 1
    }
    ArrayData.toArrayData(Array(tok, chars))
  }

  /** Run-length lexical stats of a space-separated string: [distinct-token
    * count, Σ count², token count] over its token multiset — the kernel
    * twin of the declarative fold `TextQueries.lexStats` (row-identical by
    * construction: the stats are order-independent aggregations of the
    * same token counts; `UTF8String.split` carries Spark's own
    * `split(text, ' ')` semantics, empty tokens included). One sort + one
    * fused counting pass per row instead of a per-element interpreted
    * lambda tree — the same upgrade economics as [[dot]]. The token count
    * rides along so callers never pay a second `split` for it. */
  def lexStats(s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val toks = s.split(org.apache.spark.unsafe.types.UTF8String.fromString(" "), -1)
    java.util.Arrays.sort(toks.asInstanceOf[Array[AnyRef]]) // UTF8String binary order
    var types = 0L
    var sumc2 = 0L
    var run = 0L
    var prev: org.apache.spark.unsafe.types.UTF8String = null
    var i = 0
    while (i < toks.length) {
      val w = toks(i)
      if (prev != null && w.equals(prev)) run += 1L
      else {
        if (prev != null) sumc2 += run * run
        types += 1L; run = 1L; prev = w
      }
      i += 1
    }
    if (prev != null) sumc2 += run * run
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(types, sumc2, toks.length.toLong))
  }

  /** 46-bit polynomial string hash — acc = (acc*131 + byte) % 2^46, seed 7
    * — the shared n-gram/word hash behind the Bloom decontamination probes
    * and the feature-hashing vectorizer. BIT-IDENTICAL on ASCII input to
    * the declarative fold `aggregate(transform(sequence(1, length(s)), i ->
    * ascii(substr(s, i, 1))), 7L, (acc, c) -> (acc*131 + c) % 2^46)`
    * (pinned in FunctionsSpec), which interprets one lambda tree per
    * CHARACTER per row; this is one JIT'd byte loop. On non-ASCII input
    * the fold hashes code points and this hashes UTF-8 bytes — the graft
    * corpora are ASCII (the frames-query invariant); both sides of every
    * caller use one form consistently. */
  def polyHash46(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val n = s.numBytes()
    var acc = 7L
    var i = 0
    while (i < n) {
      acc = (acc * 131L + (s.getByte(i) & 0xff)) % 70368744177664L
      i += 1
    }
    acc
  }

  /** Sparse-vector cosine over two value-normalized maps (Presto's
    * `cosine_similarity(map<K, double>, map<K, double>)`). One hash build
    * over the smaller map + one probe pass over the larger — O(|a|+|b|),
    * vs the declarative HOF fold's O(|a|·|b|) (element_at on map data is a
    * linear scan). NULL map values are treated as absent; a zero-norm
    * operand yields NaN (the formula's own value, matching Presto).
    * Key equality is the runtime value's equals/hashCode — exact for
    * atomic keys (the only keys Presto's ML functions take). */
  def mapCosine(a: org.apache.spark.sql.catalyst.util.MapData,
      b: org.apache.spark.sql.catalyst.util.MapData,
      keyType: DataType): Double = {
    val (small, big) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val idx = new java.util.HashMap[Any, Double](small.numElements() * 2)
    val sk = small.keyArray(); val sv = small.valueArray()
    var i = 0
    var normS = 0.0
    while (i < small.numElements()) {
      if (!sv.isNullAt(i)) {
        val v = sv.getDouble(i)
        idx.put(sk.get(i, keyType), v)
        normS += v * v
      }
      i += 1
    }
    val bk = big.keyArray(); val bv = big.valueArray()
    var dot = 0.0
    var normB = 0.0
    var j = 0
    while (j < big.numElements()) {
      if (!bv.isNullAt(j)) {
        val v = bv.getDouble(j)
        normB += v * v
        // a missing key unboxes to 0.0 — exactly its dot contribution
        dot += idx.get(bk.get(j, keyType)) * v
      }
      j += 1
    }
    dot / (math.sqrt(normS) * math.sqrt(normB))
  }

  /** |A intersect B| over two SORTED-ascending int-id arrays: one merge
    * walk, O(|a|+|b|), zero allocation — the sparse-bitset twin of
    * [[bitmapJaccard]] (r18: q_dedup_minhash's sparse verify was paying
    * array_intersect's hash-set build + dedup + result materialization
    * per candidate pair; the ids are distinct and sorted by construction,
    * so a merge walk computes the same count). */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val va = a.getInt(i)
      val vb = b.getInt(j)
      if (va == vb) { inter += 1; i += 1; j += 1 }
      else if (va < vb) i += 1
      else j += 1
    }
    inter
  }

  /** |A intersect B| over two SORTED-ascending (UTF8String binary order —
    * what `sort_array` produces for StringType) string arrays: the string
    * twin of [[sortedIntersectCount]] (r19). Comparing the words directly
    * removes the entire word->bit-id vocabulary-numbering subplan
    * (explode + distinct + window rank + numbering join + collect_list —
    * 6+ exchanges per banded table) that existed only to hand the verify
    * int ids; set-intersection cardinality is invariant to the encoding,
    * so Jaccard values are bit-identical. Null elements (sorted first by
    * sort_array) are skipped — a null is not a set member. */
  def sortedIntersectCountStr(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < na && a.isNullAt(i)) i += 1
    while (j < nb && b.isNullAt(j)) j += 1
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter
  }

  /** Exact integer squared L2 between two micro-fixed-point sub-vectors —
    * the codegen'd twin of the declarative fold
    * `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0L, +)` over
    * EQUAL-LENGTH arrays (every graft call site slices/means fixed
    * [[graft.queries.QuantQueries.PqSubDim]]-wide sub-vectors; zip_with's
    * null-padding on a length mismatch cannot arise). One JIT'd loop per
    * row instead of an interpreted lambda tree per element. */
  def l2sq(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    var s = 0L
    while (i < n) { val d = a.getLong(i) - b.getLong(i); s += d * d; i += 1 }
    s
  }

  /** Argmin assignment against a PACKED sub-codebook: `cands` is a
    * cent_id-ASCENDING array<struct<cent_id: long, cm: array<long>>> and the
    * winner is min by (l2sq dist, cent_id) — the loop replaces the incumbent
    * only on a STRICTLY smaller distance, exactly the
    * `aggregate(...when(dd < acc.dist...))` fold it supersedes (r18 shipped
    * that fold to kill the corpus x NCells argmin shuffle, but Catalyst
    * higher-order functions are CodegenFallback: every row paid an
    * interpreted candidate x sub-dim lambda walk plus per-step struct
    * allocation — the r18 verdict's measured 6-31% wall regression across
    * the PQ family). Returns struct(dist, c); empty candidate array yields
    * (Long.MaxValue, -1), the fold's initial accumulator. */
  def pqArgmin(sub: ArrayData, cands: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val k = cands.numElements()
    var bestD = Long.MaxValue
    var bestC = -1L
    var i = 0
    while (i < k) {
      val row = cands.getStruct(i, 2)
      val d = l2sq(sub, row.getArray(1))
      if (d < bestD) { bestD = d; bestC = row.getLong(0) }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestD, bestC))
  }

  /** Spark's `round(x, 6)` for doubles, bit for bit (RoundBase: NaN and
    * infinities pass through; otherwise decimal-string HALF_UP at scale 6). */
  def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  /** Argmax cosine assignment against a PACKED centroid table: `cands` is a
    * cent_id-ASCENDING array<struct<cent_id: long, cemb: array<double>>>,
    * score is `round(dot(emb, cemb), 6)` (the [[round6]] device — identical
    * to the SQL round both engines hash), and the winner is max by
    * (score, -cent_id): the loop replaces only on a STRICTLY greater score
    * under Spark's NaN-greatest double ordering (SQLOrderingUtil), exactly
    * the `aggregate(...when(sim > acc.s...))` fold it supersedes (same
    * interpreted-HOF disease as [[pqArgmin]]; q_sim_kmeans drifted
    * 1.07 -> 1.30 isolated on it, r18 verdict). Returns struct(s, c);
    * empty candidates yield (-2.0, -1), the fold's initial accumulator. */
  def centArgmax(emb: ArrayData, cands: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val k = cands.numElements()
    var bestS = -2.0
    var bestC = -1L
    var i = 0
    while (i < k) {
      val row = cands.getStruct(i, 2)
      val sim = round6(dot(emb, row.getArray(1)))
      if (org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(sim, bestS) > 0) {
        bestS = sim; bestC = row.getLong(0)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestS, bestC))
  }

  /** Exact Jaccard similarity of two bitmap-encoded sets (array<long> of
    * packed 64-bit words): |A intersect B| / |A union B| as popcount(AND) /
    * popcount(OR) in one fused pass; 0.0 when both sets are empty. With a
    * small shingle vocabulary an inverted-index self-join degenerates
    * (every shingle is a hot key); packing each document's shingle set into
    * a few machine words makes even all-pairs verification a popcount loop. */
  def bitmapJaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    val n = math.max(na, nb)
    var i = 0
    var inter = 0L
    var union = 0L
    while (i < n) {
      val wa = if (i < na) a.getLong(i) else 0L
      val wb = if (i < nb) b.getLong(i) else 0L
      inter += java.lang.Long.bitCount(wa & wb)
      union += java.lang.Long.bitCount(wa | wb)
      i += 1
    }
    if (union == 0L) 0.0 else inter.toDouble / union
  }
}

/** cosine_similarity(m1, m2) over two map<K, double> columns; codegen'd
  * (see [[VectorOps.mapCosine]]). Value type is coerced to double at
  * registration; the key DataType rides as a codegen reference object. */
case class MapCosineSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  private def keyType: DataType = left.dataType match {
    case org.apache.spark.sql.types.MapType(kt, _, _) => kt
    case other => other
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.types.MapType
    (left.dataType, right.dataType) match {
      case (MapType(k1, DoubleType, _), MapType(k2, DoubleType, _)) if k1 == k2 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_similarity expects two map<K, double> with matching key types, got $l / $r")
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.mapCosine(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData],
      keyType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kt = ctx.addReferenceObj("keyType", keyType)
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.mapCosine($a, $b, $kt)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): MapCosineSim =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  import org.apache.spark.sql.functions.lit

  // Callers cast inputs to the kernel's argument types (array<double> for
  // the vector kernels): the binding resolves the static method by the
  // arguments' Catalyst types.

  /** Merge-walk intersection count over sorted int-id arrays (see
    * [[VectorOps.sortedIntersectCount]]). */
  def sortedIntersectCount(a: Column, b: Column): Column = Kernels.sortedIntersectCount(a, b)
  /** Merge-walk intersection count over sorted string arrays (see
    * [[VectorOps.sortedIntersectCountStr]]). */
  def sortedIntersectCountStr(a: Column, b: Column): Column = Kernels.sortedIntersectCountStr(a, b)
  /** Exact set Jaccard over packed bitmaps (see [[VectorOps.bitmapJaccard]]). */
  def bitmapJaccard(a: Column, b: Column): Column = Kernels.bitmapJaccard(a, b)
  /** Column-level dot product over array<double> (see [[VectorOps.dot]]). */
  def dot(a: Column, b: Column): Column = Kernels.dot(a, b)
  /** SimHash of an array<long> of token hashes (see [[VectorOps.simhash64]]). */
  def simhash64(hs: Column): Column = Kernels.simhash64(hs)
  /** MinHash signature of an array<string> token set (see [[VectorOps.minhashSig]]). */
  def minhashSig(ws: Column, perms: Int): Column = Kernels.minhashSig(ws, lit(perms))
  /** Distinct bigram shingles of a token array (see [[VectorOps.distinctBigrams]]). */
  def distinctBigrams(words: Column): Column = Kernels.distinctBigrams(words)
  /** All space-joined stride-1 word n-grams (see [[VectorOps.wordNgrams]]). */
  def wordNgrams(words: Column, n: Int): Column = Kernels.wordNgrams(words, lit(n))
  /** SQ8 int8 codes against a calibration struct array (see
    * [[VectorOps.sq8EncodeCodes]]). */
  def sq8EncodeCodes(de: Column, mm: Column): Column = Kernels.sq8EncodeCodes(de, mm)
  /** SQ8 midpoint reconstructions (see [[VectorOps.sq8Dequant]]). */
  def sq8Dequant(qe: Column, mm: Column): Column = Kernels.sq8Dequant(qe, mm)
  /** Hyperplane-LSH per-table sign buckets (see [[VectorOps.lshBuckets]]). */
  def lshBuckets(emb: Column, planes: Column, k: Int): Column = Kernels.lshBuckets(emb, planes, lit(k))
  /** Exact integer L1 distance over array<long> (see [[VectorOps.l1Dist]]). */
  def l1Dist(a: Column, b: Column): Column = Kernels.l1Dist(a, b)
  /** Chained xxhash64 token fold (see [[VectorOps.xxhashChain]]). */
  def xxhashChain(ws: Column): Column = Kernels.xxhashChain(ws)
  /** Packed [w0, w1] sign words of a 64-dim vector (see [[VectorOps.signWords]]). */
  def signWords(emb: Column): Column = Kernels.signWords(emb)
  /** 46-bit polynomial string hash (see [[VectorOps.polyHash46]]). */
  def polyHash(s: Column): Column = Kernels.polyHash46(s)
  /** [types, Σcount², n_tokens] lexical stats of a space-separated string
    * (see [[VectorOps.lexStats]]). */
  def lexStats(text: Column): Column = Kernels.lexStats(text)
  /** [covered_tokens, covered_chars] under within-doc duplicated n-grams
    * (see [[VectorOps.dupNgramCoverage]]; `n` is an int column). */
  def dupNgramCoverage(text: Column, n: Column): Column = Kernels.dupNgramCoverage(text, n)
  /** struct(gram, cnt) of the most-frequent n-gram, (count DESC, gram ASC);
    * NULL when the array is shorter than `n`, an int column (see
    * [[VectorOps.topNGram]]). */
  def topNGram(words: Column, n: Column): Column = Kernels.topNGram(words, n)
  /** Exact integer squared L2 over equal-length array<long> sub-vectors
    * (see [[VectorOps.l2sq]]). */
  def l2sqDist(a: Column, b: Column): Column = Kernels.l2sq(a, b)
  /** struct(dist, c) argmin over a packed PQ sub-codebook (see
    * [[VectorOps.pqArgmin]]). */
  def pqArgmin(sub: Column, cands: Column): Column = Kernels.pqArgmin(sub, cands)
  /** struct(s, c) rounded-cosine argmax over packed centroids (see
    * [[VectorOps.centArgmax]]). */
  def centArgmax(emb: Column, cands: Column): Column = Kernels.centArgmax(emb, cands)

  /** Bit positions -> packed bitmap words. A Scala UDF on purpose: it runs
    * once per DOCUMENT (not per candidate pair), and the equivalent nested
    * higher-order-function expression generates a janino compilation unit
    * large enough that plan compile time dominates small benchmarks. */
  val packBits: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (bits: Seq[Int], nWords: Int) =>
      val words = new Array[Long](nWords)
      bits.foreach { b => if (b >= 0 && b < nWords * 64) words(b / 64) |= 1L << (b % 64) }
      words
    }

  /** Cosine similarity of two PRE-NORMALIZED vectors is just their dot. For
    * raw vectors use `dot(a,b) / (norm(a)*norm(b))` — but normalize once at
    * scan time instead of per candidate pair: at k queries x n corpus pairs
    * that turns 3 kernel passes per pair into 1.
    *
    * Codegen'd kernel (r19): the previous declarative form —
    * `transform(a, x -> x / sqrt(aggregate(transform(a, x -> x*x), 0.0, +)))`
    * — is a CodegenFallback HOF whose norm subtree sits INSIDE the
    * per-element lambda, so interpretation re-evaluated the whole
    * O(dim) sum-of-squares fold for EVERY element: O(dim²) interpreted
    * expression nodes per row, on the entry path of every similarity
    * query (FunctionsSpec pins kernel == declarative bit-for-bit,
    * including the zero-vector 0/0 and x/0 IEEE edges). */
  def l2Normalize(a: Column): Column = Kernels.l2normalize(a)

  /** Shuffle-FREE nearest-centroid assignment, shared by the whole IVF /
    * kmeans / outlier family.
    *
    * The previous idiom (crossJoin to n·k rows, then `row_number() OVER
    * (PARTITION BY vec_id ORDER BY csim DESC, cent_id)`) was correct but
    * exchanged n·k rows on vec_id — at 100 TB the assignment shuffle is the
    * first line of the cluster bill. This shape does ZERO exchanges on the
    * corpus: the centroid table (bounded — NCells rows) folds into ONE row
    * holding a cent_id-sorted array, rides a broadcast nested-loop join onto
    * the corpus scan, and each row computes its argmax with a higher-order
    * `aggregate` fold. Ranking is identical to the window version —
    * round(dot, 6) descending with lowest-cent_id tiebreak (the array is
    * sorted ascending and the fold only replaces on STRICT improvement), so
    * DuckDB mirror oracles written against the row_number() formulation
    * hash-match unchanged.
    *
    * `corpus` must carry an `emb` column; `cents` must carry (cent_id, cemb).
    * Adds `cent_id` and `csim` (the winning rounded cosine) to `e`'s
    * columns. */
  def nearestCentroid(corpus: org.apache.spark.sql.DataFrame,
                      cents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val packed = cents.agg(
      sort_array(collect_list(struct(col("cent_id"), col("cemb")))).as("__cents"))
    corpus.crossJoin(broadcast(packed))
      // r19: the higher-order `aggregate` fold that lived here was
      // CodegenFallback — every corpus row paid an interpreted NCells x Dim
      // lambda walk with per-step struct allocation (the r18 verdict's
      // measured kmeans/IVF regression). VectorOps.centArgmax is its codegen'd twin:
      // same round(dot, 6) score (VectorOps.round6 = RoundBase's
      // BigDecimal HALF_UP; same Spark double ordering via
      // SQLOrderingUtil), same strict-improvement lowest-cent_id tiebreak,
      // same (-2.0, -1) empty-candidates accumulator.
      .withColumn("__best", centArgmax(col("emb"), col("__cents")))
      .withColumn("cent_id", col("__best").getField("c"))
      .withColumn("csim", col("__best").getField("s"))
      .drop("__cents", "__best")
  }
}
