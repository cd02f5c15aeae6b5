package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The client surface: what pyathena + the Athena/Glue table were to the
  * reference (`/root/reference/lambdas/utils/athena.py`, `README.md:141-185`),
  * `spark.sql` over a registered `events` view is to this engine. The whole
  * start-query/poll/fetch-CSV client layer collapses into one call that
  * returns a DataFrame (A23); partition registration (A22,
  * `generate_partitions.py`) collapses into parquet partition discovery.
  */
object Engine {

  /** Cores of every entry point's local session: `SPARK_GRAFT_CPUS` when
    * set, else the machine's core count. The one reader of the variable. */
  lazy val cores: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)

  /** `local[cores]`: the master Bench, Verify, RunOne and the probes run on. */
  def localMaster: String = s"local[$cores]"

  /** The one session of every entry point (Bench, Verify, RunOne, the
    * probes, perfbench, the specs), tuned for the target deployment shape:
    * AQE re-plans skew and batch-query partition counts at runtime; 64 MB
    * broadcast threshold catches dimension tables; GraftExtensions installs
    * the Presto dialect. Per-batch fan-out follows the session's core count
    * (`defaultParallelism`), because AQE never coalesces a stateful
    * streaming shuffle. Local `file:` paths go through the spawn-free
    * filesystem ([[SpawnFreeLocalFileSystem]], [[SpawnFreeLocalFs]]): the
    * same files, `.crc` sidecars and permissions without a `chmod` or
    * `readlink` process per write; other schemes are untouched.
    *
    * `conf` carries settings that must be in place before the session
    * exists and are the caller's subject (a scheduler mode, a Tungsten page
    * size, a warehouse dir); a pair passed there wins over the factory's own
    * value. Runtime settings a caller pins go through `spark.conf.set`. */
  def createSession(appName: String, master: String, conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .appName(appName)
      .master(master)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.hadoop.fs.file.impl", classOf[SpawnFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[SpawnFreeLocalFs].getName)
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    val parallelism = spark.sparkContext.defaultParallelism.toString
    // a stateful operator's partition count is fixed in the checkpoint when
    // the query first starts, and every micro-batch commits one state store
    // and writes up to one sink file per hour partition for each of them;
    // listing more than 32 paths (a file-stream batch re-stats each of its
    // files) is a Spark job with one task per path up to the second cap
    Seq("spark.sql.shuffle.partitions", "spark.sql.sources.parallelPartitionDiscovery.parallelism")
      .filterNot(k => conf.exists(_._1 == k))
      .foreach(spark.conf.set(_, parallelism))
    spark
  }

  /** Register the ingested events table for SQL access. Partition discovery
    * happens at read (no ALTER TABLE cron); partition columns stay strings
    * per the reference DDL. */
  def registerEvents(spark: SparkSession, eventsDir: String, viewName: String = "events"): Unit =
    graft.pipeline.Ingest.eventsTable(spark, eventsDir).createOrReplaceTempView(viewName)

  /** "Queries can be any valid Presto SQL" (README.md:116) -> any valid
    * Spark SQL, parsed/optimized/executed by Catalyst — plus the pre-parse
    * rewrites of the Presto grammar shapes Spark rejects outright: the
    * UNNEST table-reference forms ([[rewriteUnnest]]) and ORDER BY inside
    * array_agg ([[rewriteOrderedArrayAgg]]). */
  def sql(spark: SparkSession, query: String): DataFrame =
    spark.sql(rewritePresto(query))

  /** All pre-parse rewrites, in one place: the UNNEST table-reference forms
    * ([[rewriteUnnest]]) and the ORDER BY-inside-array_agg aggregate form
    * ([[rewriteOrderedArrayAgg]]) — the two Presto grammar shapes Spark's
    * parser rejects outright (everything else lands in the function
    * registry, where GraftExtensions intercepts at resolution). */
  private[graft] def rewritePresto(query: String): String =
    rewriteOrderedArrayAgg(rewriteUnnest(query))

  /** Quote/comment-aware scanning over a SQL text, shared by the pre-parse
    * rewrites. Tracks all THREE quote forms Spark's lexer knows — '...'
    * literals and "..." identifiers (doubled-quote AND backslash escapes)
    * plus `...` backtick identifiers (doubled-backtick escape ONLY: the
    * lexer treats a backslash inside backticks as a literal character, so
    * tracking it as an escape would misalign on a trailing-backslash
    * identifier — r17 ADVICE: an apostrophe or comment-opener inside a
    * backtick identifier must not flip the scanner's idea of what is code).
    * Each rewrite is one [[rewrite]] walk; [[group]] is the one
    * balanced-paren walker both use for argument lists. */
  private[graft] final class SqlScan(val query: String) {
    val n: Int = query.length
    def isIdent(c: Char): Boolean = c.isLetterOrDigit || c == '_'
    def isQuote(c: Char): Boolean = c == '\'' || c == '"' || c == '`'
    /** End index (exclusive) of the quoted region starting at i. */
    def skipQuoted(i: Int): Int = {
      val q = query.charAt(i)
      val backslashEscapes = q != '`'
      var k = i + 1
      while (k < n) {
        val c = query.charAt(k)
        if (c == '\\' && backslashEscapes) k += 2
        else if (c == q) {
          if (k + 1 < n && query.charAt(k + 1) == q) k += 2 // doubled-quote escape
          else return k + 1
        } else k += 1
      }
      n
    }
    // end index (exclusive) of the comment starting at i, or i when i does
    // not start one. `--` runs to end of line; bracketed comments nest
    // (Spark's lexer nests them); an unterminated comment runs to EOF.
    def commentEnd(i: Int): Int = {
      if (i + 1 < n && query.charAt(i) == '-' && query.charAt(i + 1) == '-') {
        var k = i + 2
        while (k < n && query.charAt(k) != '\n') k += 1
        if (k < n) k + 1 else n
      } else if (i + 1 < n && query.charAt(i) == '/' && query.charAt(i + 1) == '*') {
        var k = i + 2; var depth = 1
        while (k < n && depth > 0) {
          if (k + 1 < n && query.charAt(k) == '/' && query.charAt(k + 1) == '*') { depth += 1; k += 2 }
          else if (k + 1 < n && query.charAt(k) == '*' && query.charAt(k + 1) == '/') { depth -= 1; k += 2 }
          else k += 1
        }
        k
      } else i
    }
    // does the keyword start at i (case-insensitive, word-bounded)?
    def kwAt(i: Int, kw: String): Boolean =
      i + kw.length <= n &&
        query.regionMatches(true, i, kw, 0, kw.length) &&
        (i == 0 || !isIdent(query.charAt(i - 1))) &&
        (i + kw.length == n || !isIdent(query.charAt(i + kw.length)))
    // whitespace AND comments are both inter-token filler for the parser
    def skipWs(i: Int): Int = {
      var k = i; var moved = true
      while (moved) {
        moved = false
        while (k < n && query.charAt(k).isWhitespace) { k += 1; moved = true }
        val ce = commentEnd(k)
        if (ce > k) { k = ce; moved = true }
      }
      k
    }
    def ident(i: Int): Option[(String, Int)] = {
      var k = i
      while (k < n && isIdent(query.charAt(k))) k += 1
      if (k > i && !query.charAt(i).isDigit) Some((query.substring(i, k), k)) else None
    }
    /** The query with each span `at` claims replaced: at every code position
      * i, `at(i)` returns Some((replacement, end)) to emit `replacement` in
      * place of [i, end), or None to copy the character. Quoted regions and
      * comments are copied verbatim and never offered to `at`. */
    def rewrite(at: Int => Option[(String, Int)]): String = {
      val out = new StringBuilder
      var i = 0
      while (i < n) {
        val c = query.charAt(i)
        val skip = if (isQuote(c)) skipQuoted(i) else commentEnd(i)
        if (skip > i) { out.append(query.substring(i, skip)); i = skip }
        else at(i) match {
          case Some((replacement, end)) => out.append(replacement); i = end
          case None => out.append(c); i += 1
        }
      }
      out.toString
    }
    /** The parenthesised group opening at `open`: its top-level
      * comma-separated items, trimmed, and the index just past its closing
      * paren; None when no '(' is at `open` or it never closes. Each
      * comment inside becomes one space, so an item spliced into generated
      * text cannot turn that text's tail into a `--` comment. */
    def group(open: Int): Option[(Seq[String], Int)] = {
      if (open >= n || query.charAt(open) != '(') return None
      val items = Seq.newBuilder[String]
      val item = new StringBuilder
      var depth = 1; var k = open + 1
      while (k < n && depth > 0) {
        val c = query.charAt(k)
        val ce = commentEnd(k)
        if (isQuote(c)) { val e = skipQuoted(k); item.append(query.substring(k, e)); k = e }
        else if (ce > k) { item.append(' '); k = ce }
        else {
          if (c == '(') depth += 1 else if (c == ')') depth -= 1
          if (depth == 1 && c == ',') { items += item.toString.trim; item.clear() }
          else if (depth > 0) item.append(c)
          k += 1
        }
      }
      if (depth > 0) None else { items += item.toString.trim; Some((items.result(), k)) }
    }
  }

  /** Pre-parse rewrite of the Presto `UNNEST` table-reference forms — the
    * most common Athena spellings a migrating reference user types over
    * `details` arrays (README.md:116 "any valid Presto SQL"):
    *
    *   ... CROSS JOIN UNNEST(<expr>) [AS] t(x)        -- array element
    *   ... , UNNEST(<expr>) [AS] t(x)                 -- implicit-join comma form
    *   ... LEFT [OUTER] JOIN UNNEST(<expr>) [AS] t(x) ON TRUE  -- outer flatten
    *   ...                               [AS] t(k, v) -- map entries (any form)
    *   ... UNNEST(<expr>) WITH ORDINALITY [AS] t(x, ord)       -- 1-based position
    *   ... UNNEST(<e1>, <e2>, ...) [WITH ORDINALITY] [AS] t(x, y[, ord])
    *       -- multi-array zip: lockstep expansion to the LONGEST argument,
    *       -- shorter/NULL arrays pad with NULL (Presto's contract)
    *   ... UNNEST(<array-of-rows>) [AS] t(c1, c2, c3, ...)   -- >= 3 cols:
    *       -- row fields expand into columns (the UNNEST(zip(...)) idiom)
    *       -- via `inline`; a TWO-field row array is untyped-ambiguous
    *       -- with a map and stays the map rewrite (deviation: use the
    *       -- direct multi-arg form for 2-field rows)
    *
    * Only `UNNEST(<args>) [WITH ORDINALITY]` is replaced, in place, by a
    * Spark generator in table-function position, `LATERAL <generator>`;
    * the comma or join keyword and the `[AS] t(cols)` alias stay where
    * they were written, so the unnest may sit anywhere in FROM (before a
    * further join or comma relation too). Catalyst plans the lateral
    * generator as the same `Generate` node a `LATERAL VIEW` gives. The
    * column count only picks the generator:
    *
    *   - simple array/map: `explode(<expr>)` (inner: empty/NULL arrays
    *     produce no rows — Presto's CROSS JOIN / comma UNNEST drop them);
    *   - WITH ORDINALITY: `inline(transform(<expr>, (e, i) -> struct(e,
    *     CAST(i + 1 AS BIGINT))))` — transform's 0-based index shifted to
    *     Presto's 1-based BIGINT ordinal (maps go through map_entries);
    *   - multi-array zip: `inline(transform(slice(sequence(1, greatest(N,
    *     1)), 1, N), i -> struct(try_element_at(e1, i), ...)))` with
    *     N = greatest over coalesce(size(ek), 0) — try_element_at NULLs
    *     past each array's end (and on NULL arrays), reproducing Presto's
    *     pad-to-longest; the slice guard keeps sequence() ascending when
    *     every array is empty (sequence(1, 0) would be the DESCENDING
    *     [1, 0]). Argument expressions appear twice in the generated text
    *     (size + subscript) — Spark's subexpression elimination dedups the
    *     evaluation in codegen. DOCUMENTED DEVIATION (r17 ADVICE —
    *     deviation #16 in README): that elimination EXCLUDES
    *     non-deterministic expressions, so a multi-arg
    *     UNNEST(shuffle(a), b)-style argument is evaluated independently
    *     for its size and its elements and the zipped columns can come
    *     from two different evaluations — unlike Presto's single
    *     evaluation. Deterministic arguments (every published use of the
    *     idiom) are unaffected; bind a non-deterministic argument in a
    *     subquery/CTE first.
    *
    * The outer form `LEFT [OUTER] JOIN UNNEST(...) t(x) ON TRUE` becomes
    * `CROSS JOIN LATERAL explode_outer(...) t(x)` (`inline_outer` for the
    * inline shapes) with `ON TRUE` dropped: empty/NULL arrays keep the row
    * with NULL columns on both engines. A `LEFT JOIN LATERAL ... ON TRUE`
    * would be decorrelated into an aggregate plus an outer join; the
    * generator's own outer flag plans as one `Generate`.
    *
    * The scanner is quote-aware (no rewriting inside '...' literals or
    * "..." identifiers, with both doubled-quote and backslash escapes
    * tracked — Spark's lexer processes \' escapes, so the scanner mirrors
    * it) and comment-aware (`--` line and nested bracketed comments are
    * copied verbatim and never scanned for rewrite shapes, so an
    * apostrophe in a comment cannot misalign the quote tracking — r16
    * ADVICE), and balances nested parens in <expr>, so function-call
    * arguments rewrite correctly.
    *
    * DOCUMENTED DEVIATION (beside the GROUPS/EXCLUDE notes in
    * GraftExtensions): a multi-arg UNNEST whose arguments include a MAP
    * (Presto lets each map argument contribute two columns) is not
    * rewritten — the column-count arithmetic is untyped here — and a LEFT
    * JOIN UNNEST without ON TRUE is likewise left verbatim (Presto itself
    * rejects other ON conditions on an unnest join). Both reach Spark's
    * parser unchanged and fail LOUDLY — never silently wrong. EngineSpec
    * pins the rewrites and the loud failures. */
  private[graft] def rewriteUnnest(query: String): String = {
    val sc = new SqlScan(query)
    import sc.{kwAt, skipWs, ident, group}
    /** The Spark generator for one UNNEST, or None when the (args,
      * ordinality, cols) arity fits no rewritable shape. Arity table:
      * 1 arg → 1 col (array) / 2 cols (map) / >= 3 cols (array of rows),
      * +1 col with ordinality; k ≥ 2 args (arrays only) → exactly k cols,
      * +1 with ordinality. */
    def generator(outer: Boolean, args: Seq[String], ordinality: Boolean, cols: Int): Option[String] = {
      val o = if (outer) "_outer" else ""
      def ord = "CAST(graft_i + 1 AS BIGINT)"
      (args.size, ordinality, cols) match {
        case (1, false, 1) | (1, false, 2) => Some(s"explode$o(${args.head})")
        // single argument, >= 3 columns: Presto's array-of-ROWS expansion
        // (each row's fields become columns — the `UNNEST(zip(...))`
        // idiom); unambiguous at >= 3 because a map is always exactly 2.
        // A TWO-field row array cannot be told apart from a map without
        // types, so 2 columns stays the map rewrite (deviation: spell a
        // 2-field row unnest as the direct multi-arg `UNNEST(a, b)`).
        case (1, false, c) if c >= 3 => Some(s"inline$o(${args.head})")
        case (1, true, 2) => Some(
          s"inline$o(transform(${args.head}, (graft_e, graft_i) -> struct(graft_e, $ord)))")
        case (1, true, 3) => Some( // map entries + ordinal
          s"inline$o(transform(map_entries(${args.head}), (graft_e, graft_i) -> " +
            s"struct(graft_e.key, graft_e.value, $ord)))")
        case (k, ordered, c) if k >= 2 && c == k + (if (ordered) 1 else 0) =>
          // lockstep zip, padded to the longest argument with NULLs:
          // try_element_at is 1-based and NULLs past-the-end AND on NULL
          // arrays (ANSI-safe); the slice keeps sequence() ascending when
          // every array is empty or NULL
          val len = args.map(a => s"coalesce(size($a), 0)").mkString("greatest(", ", ", ", 0)")
          val fields = args.map(a => s"try_element_at($a, graft_i)") ++
            (if (ordered) Seq("CAST(graft_i AS BIGINT)") else Nil)
          Some(s"inline$o(transform(slice(sequence(1, greatest($len, 1)), 1, $len), " +
            s"graft_i -> struct(${fields.mkString(", ")})))")
        case _ => None
      }
    }
    /** `UNNEST ( args ) [WITH ORDINALITY] [AS] alias ( cols )` at `at`:
      * (`LATERAL <generator>`, end of the `UNNEST … [ORDINALITY]` span it
      * replaces, end of the alias), or None when the shape is not a
      * rewritable form. */
    def unnest(at: Int, outer: Boolean): Option[(String, Int, Int)] = for {
      (args, argsEnd) <- if (kwAt(at, "UNNEST")) group(skipWs(at + 6)) else None
      w = skipWs(argsEnd)
      ordinality = kwAt(w, "WITH")
      genEnd <- if (!ordinality) Some(argsEnd)
                else Some(skipWs(w + 4)).filter(kwAt(_, "ORDINALITY")).map(_ + 10)
      as = skipWs(genEnd)
      (_, aliasEnd) <- ident(if (kwAt(as, "AS")) skipWs(as + 2) else as)
      (cols, end) <- group(skipWs(aliasEnd))
      if !args.exists(_.isEmpty) && !cols.exists(_.isEmpty)
      gen <- generator(outer, args, ordinality, cols.size)
    } yield (s"LATERAL $gen", genEnd, end)
    def joinAt(k: Int) = if (kwAt(k, "JOIN")) Some(k + 4) else None
    sc.rewrite { i =>
      val comma = query.charAt(i) == ','
      if (comma || kwAt(i, "CROSS")) {
        // the inner forms keep everything up to UNNEST (the comma or CROSS
        // JOIN and any comments after it)
        (if (comma) Some(i + 1) else joinAt(skipWs(i + 5))).flatMap { k =>
          val u = skipWs(k)
          unnest(u, outer = false).map { case (gen, genEnd, _) => (query.substring(i, u) + gen, genEnd) }
        }
      } else if (kwAt(i, "LEFT")) {
        val o = skipWs(i + 4)
        joinAt(if (kwAt(o, "OUTER")) skipWs(o + 5) else o).flatMap { k =>
          val u = skipWs(k)
          unnest(u, outer = true).flatMap { case (gen, genEnd, end) =>
            // Presto requires ON TRUE on an outer unnest join; anything
            // else is not this form — leave verbatim (loud downstream)
            val on = skipWs(end)
            val t = skipWs(on + 2)
            if (!kwAt(on, "ON") || !kwAt(t, "TRUE")) None
            else Some((s"CROSS JOIN${query.substring(k, u)}$gen${query.substring(genEnd, end)}", t + 4))
          }
        }
      } else None
    }
  }

  /** Pre-parse rewrite of Presto's ORDER BY-inside-array_agg —
    * `array_agg(x ORDER BY k1 [ASC|DESC] [NULLS FIRST|LAST][, k2 ...])` —
    * which Spark's grammar rejects outright (r17 verdict missing #3; the
    * semantics already existed as q_agg_collect's sort-before-collect, but
    * the pasted spelling failed at parse). The rewrite is exact and local:
    *
    *   transform(array_sort(
    *     array_agg(named_struct('graft_v', x, 'graft_k1', k1, ...)),
    *     (graft_a, graft_b) -> CASE ... END),   -- multi-key comparator
    *   graft_s -> graft_s.graft_v)
    *
    * The generated comparator implements Presto's ORDER BY semantics
    * key-by-key: per-key ASC/DESC, NULL keys ranked as LARGEST by default
    * (Presto/PostgreSQL convention: ASC → nulls last, DESC → nulls first),
    * explicit NULLS FIRST/LAST honored. Ties — arbitrary in Presto — fall
    * through to 0 and keep Spark's sort order. A side effect is MORE
    * Presto-faithful than plain array_agg: NULL x values ride inside the
    * struct and are KEPT (Presto's array_agg keeps nulls; Spark's
    * collect_list drops them — that deviation remains for the UNORDERED
    * spelling, where no struct wrapping happens).
    *
    * Scale shape: identical partial-collect economics to array_agg itself —
    * the sort is per-group post-aggregation over the already-bounded group
    * payload (the bounded-before-collect discipline q_agg_collect
    * documents), never a corpus sort.
    *
    * Out of scope (left verbatim → Spark's parser fails LOUDLY, never
    * silently wrong): `array_agg(DISTINCT x ORDER BY ...)`, and ORDER BY
    * inside any OTHER aggregate name (Presto allows it generally; the
    * array_agg form is the one that appears in practice — others can
    * register here the same way). */
  private[graft] def rewriteOrderedArrayAgg(query: String): String = {
    val sc = new SqlScan(query)
    import sc.{kwAt, skipWs, group}
    /** Parse one sort item's tail flags from `spec`, already split. */
    def parseItem(item: String): Option[(String, Boolean, Boolean)] = {
      // returns (key expr text, descending, nullsFirst)
      var end = item.length
      var desc = false
      var nullsExplicit: Option[Boolean] = None
      // scan trailing keywords right-to-left: [NULLS FIRST|LAST] then [ASC|DESC]
      def trimEnd(e: Int): Int = { var k = e; while (k > 0 && item.charAt(k - 1).isWhitespace) k -= 1; k }
      end = trimEnd(end)
      def lastWord(e: Int): (String, Int) = {
        var s2 = e
        while (s2 > 0 && sc.isIdent(item.charAt(s2 - 1))) s2 -= 1
        (item.substring(s2, e), s2)
      }
      val (w1, s1) = lastWord(end)
      if (w1.equalsIgnoreCase("FIRST") || w1.equalsIgnoreCase("LAST")) {
        val e2 = trimEnd(s1)
        val (w2, s2) = lastWord(e2)
        if (!w2.equalsIgnoreCase("NULLS")) return None
        nullsExplicit = Some(w1.equalsIgnoreCase("FIRST"))
        end = trimEnd(s2)
      }
      val (w3, s3) = lastWord(end)
      if (w3.equalsIgnoreCase("ASC")) end = trimEnd(s3)
      else if (w3.equalsIgnoreCase("DESC")) { desc = true; end = trimEnd(s3) }
      val key = item.substring(0, end).trim
      if (key.isEmpty) None
      else Some((key, desc, nullsExplicit.getOrElse(desc))) // default: nulls largest
    }
    sc.rewrite { i =>
      if (!kwAt(i, "ARRAY_AGG")) None
      else group(skipWs(i + 9)).flatMap { case (args, end) =>
        // `x ORDER BY k1` is the first top-level item, further keys the
        // rest; the ORDER is the first one outside a nested group or quote
        val head = new SqlScan(args.head)
        @annotation.tailrec def orderAt(j: Int): Int =
          if (j >= head.n || head.kwAt(j, "ORDER")) j
          else if (head.isQuote(head.query.charAt(j))) orderAt(head.skipQuoted(j))
          else if (head.query.charAt(j) == '(') orderAt(head.group(j).fold(head.n)(_._2))
          else orderAt(j + 1)
        val order = orderAt(0)
        val by = head.skipWs(order + 5)
        val exprText = args.head.substring(0, order).trim
        if (order >= head.n || !head.kwAt(by, "BY") || exprText.isEmpty ||
            exprText.toUpperCase.startsWith("DISTINCT ")) None
        else {
          val parsed = (args.head.substring(by + 2) +: args.tail).map(parseItem)
          if (parsed.exists(_.isEmpty)) None
          else {
            val keys = parsed.map(_.get)
            val fields = ("'graft_v', " + exprText) +:
              keys.zipWithIndex.map { case ((kx, _, _), ix) => s"'graft_k${ix + 1}', $kx" }
            val cmp = keys.zipWithIndex.map { case ((_, desc, nullsFirst), ix) =>
              val a = s"graft_a.graft_k${ix + 1}"
              val b = s"graft_b.graft_k${ix + 1}"
              val nf = if (nullsFirst) -1 else 1
              val dr = if (desc) -1 else 1
              s"WHEN $a IS NULL AND $b IS NOT NULL THEN $nf " +
                s"WHEN $a IS NOT NULL AND $b IS NULL THEN ${-nf} " +
                s"WHEN $a < $b THEN ${-dr} WHEN $a > $b THEN $dr"
            }.mkString(" ")
            Some((s"transform(array_sort(array_agg(named_struct(${fields.mkString(", ")})), " +
              s"(graft_a, graft_b) -> CASE $cmp ELSE 0 END), graft_s -> graft_s.graft_v)", end))
          }
        }
      }
    }
  }

  /** Full reference-client compatibility: register the events table under
    * the reference's own catalog name (`"defenda_data_lake"."events"`,
    * README.md:94) as an external partitioned table, so the README queries
    * run VERBATIM — double-quoted identifiers need
    * `spark.sql.ansi.doubleQuotedIdentifiers=true`, and the
    * json_extract_scalar/json_extract/json_array_contains functions come
    * from [[graft.functions.GraftExtensions]]. `MSCK REPAIR` is the exact
    * Spark analogue of the reference's partition-registration cron
    * (generate_partitions.py) — run once per registration, not per hour. */
  def registerReferenceCatalog(spark: SparkSession, eventsDir: String): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS defenda_data_lake")
    spark.sql("DROP TABLE IF EXISTS defenda_data_lake.events")
    spark.sql(s"""CREATE TABLE defenda_data_lake.events (
        eventid STRING, utctimestamp STRING, severity STRING, summary STRING,
        category STRING, source STRING, tags ARRAY<STRING>,
        plugins ARRAY<STRING>, details STRING)
      USING parquet
      PARTITIONED BY (year STRING, month STRING, day STRING, hour STRING)
      LOCATION '$eventsDir'""")
    spark.sql("MSCK REPAIR TABLE defenda_data_lake.events")
  }
}
