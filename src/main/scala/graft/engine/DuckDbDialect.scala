package graft.engine

import graft.functions.{AsOfMarker, FrameExclude, GroupsFrame}

/** DuckDB-dialect acceptance shim (VERDICT r11 #3; SURVEY §7.4-1).
  *
  * The reference's NL→SQL contract pins DuckDB SQL
  * (the reference's doc.py:186-188); a user pasting DuckDB-isms would
  * get a parse or analysis error where the reference runs them. The
  * DuckDB surface is served in two layers:
  *
  *  - FUNCTIONS Spark's parser reads but Spark does not define
  *    (`strftime`, `list_*`, `epoch`, `time_bucket`, `quantile_disc`,
  *    …) are Catalyst function builders in
  *    [[graft.functions.DuckDbFunctions.table]], injected into every
  *    session by [[graft.functions.GraftExtensions]]. They resolve at
  *    analysis time with the analyzed arguments in hand, so DISTINCT,
  *    FILTER, OVER, lambdas and generators apply as for any builtin.
  *  - TEXT surgery here, by [[rewrite]], only where Spark cannot take
  *    the DuckDB spelling as a function call:
  *     - syntax Spark's parser cannot read or reads differently: `//`,
  *       FROM-first, QUALIFY, DISTINCT ON, `* REPLACE`, `* EXCLUDE`,
  *       USING SAMPLE, SIMILAR TO, in-paren IGNORE NULLS, bracket lists
  *       and 1-based indexing; the window-frame keywords GROUPS and
  *       EXCLUDE, which [[rewriteFrames]] only spells as a marked spec
  *       for [[graft.functions.DuckWindowRule]]; and ASOF JOIN, which
  *       [[rewriteAsOfJoin]] only spells as a join marked for
  *       [[graft.functions.DuckAsOfRule]];
  *     - a window aggregate's FILTER clause, which Spark's analyzer
  *       rejects before any injected rule sees the plan;
  *     - `struct_pack(a := 1)`: Spark cannot parse `:=`;
  *     - 2-arg `regexp_extract` and 3-arg `date_diff`/`datediff`:
  *       Spark builtins with other semantics at that arity, so a
  *       builder override would change Spark SQL for the whole session,
  *       DataFrame code included. The text pass rewrites only the
  *       DuckDB arity and leaves Spark's spelling byte-identical.
  *
  * Every pass is a no-op on valid Spark SQL (DialectPropertySpec pins
  * identity on generated ANSI statements and idempotence on generated
  * DuckDB ones), so the shim runs unconditionally.
  *
  * Every pass reads its text through one scanner, [[Lex]], and none
  * scans characters on its own. Its contract: one mask per text (string
  * literals, quoted identifiers and comments — `'a//b'` or `'qualify'`
  * inside a data literal is never touched); one keyword test; one
  * bracket matcher, which raises each pass's own "unbalanced …" message;
  * one depth-0 search and split; one set-operation cut, where EXCEPT
  * right after `*` and before a non-query paren list is the star
  * modifier; and one innermost-query-block-first recursion
  * ([[innermostFirst]]) for QUALIFY and COLUMNS.
  *
  * Deliberately bounded (documented, not silently wrong):
  *  - `//` becomes Spark's ` div `, whose analyzed [[IntegralDivide]]
  *    is then replaced by the type-aware
  *    [[graft.functions.DuckDiv]] via an injected resolution rule
  *    (the analyzer knows the operand types a string-level shim
  *    cannot): INTEGER `//` truncates toward zero (-5//2 = -2,
  *    measured), any FLOAT operand gives plain division (-5.0//2 =
  *    -2.5 — the docs say floor; the engine disagrees), and divisor 0
  *    yields NULL in both regimes.
  *  - Window-frame EXCLUDE (CURRENT ROW, GROUP, TIES) is computed by
  *    [[graft.functions.DuckWindowRule]] on the analyzed frame for
  *    COUNT/SUM/AVG, over ROWS, RANGE and GROUPS frames, including
  *    DuckDB 1.0's measured extension of a frame that misses the
  *    current row; `EXCLUDE NO OTHERS` drops. MIN/MAX (non-subtractive)
  *    and DISTINCT arguments fail with a named error.
  *  - GROUPS frames (for the reference's pinned duckdb>=1.3.2; the
  *    local 1.0 oracle rejects them, so they are pinned against ANSI
  *    goldens, not oracle-checked): the same rule computes them as a
  *    RANGE over the spec's DENSE_RANK (dense ranks have no gaps, so
  *    value distance is group distance — exact). Offsets must be
  *    constant integers.
  *  - Bracket syntax (round 15): list literals `[e, …]` (and the
  *    `ARRAY[…]` spelling) become array(...); 1-based indexing `x[i]`
  *    becomes try_element_at — Spark's own bracket indexing is 0-BASED,
  *    so a pass-through was the silent off-by-one class. NULL at index
  *    0 / out of bounds / negative-from-end all measured and matched;
  *    slices `x[a:b]` throw (operand type unknowable from text).
  *  - 3-arg date_diff/datediff → per-part BOUNDARY-CROSSING arithmetic
  *    (calendar-part index difference, ISO-week truncation difference,
  *    local part truncation for sub-day parts) — Spark's own 2-arg
  *    datediff and unquoted-part spellings pass through untouched.
  *  - DISTINCT window aggregates (`COUNT/SUM/AVG/MIN/MAX(DISTINCT x)
  *    OVER …`) need no text at all: Spark parses them and only its
  *    final check rejects them, so the same rule computes them over one
  *    collect_set per argument, for any numeric type, DECIMAL included.
  *  - `USING SAMPLE n[%|PERCENT|ROWS]` after a table reference becomes
  *    `TABLESAMPLE (n PERCENT|ROWS)` — an acceptance rewrite: both draw
  *    the requested sample size, by different algorithms (sampling is
  *    nondeterministic in the reference too). Query-level placement
  *    (after WHERE) surfaces Spark's parse error.
  */
object DuckDbDialect {
  /** [[rewrite]] with relation schemas available (the gateway path):
    * [[expandColumns]], which needs the FROM relation's columns, and
    * then the text passes. */
  def rewriteWithSchema(sql: String,
      schemaOf: String => Option[Seq[String]]): String =
    rewrite(expandColumns(sql, schemaOf))

  def rewrite(sql: String): String =
    passes.foldLeft(new Lex(sql)) { (lx, pass) =>
      val out = pass(lx)
      if (out == lx.s) lx else new Lex(out)
    }.s

  /** The text passes in order. Each reads the [[Lex]] the previous one
    * left, so the text is scanned again only after a pass changed it. */
  private val passes: Seq[Lex => String] = Seq(
    rewriteFromFirst, rewriteQualifyDeep, rewriteDistinctOn, rewriteStarReplace,
    rewriteAsOfJoin, rewriteOperatorIntDiv, rewriteUsingSample, rewriteSimilarTo,
    rewriteIgnoreNulls, rewriteBrackets, rewriteFrames,
    rewriteCalls(_, "date_diff")(dateDiffCall),
    rewriteCalls(_, "datediff")(dateDiffCall), // 3-arg alias; 2-arg passes
    rewriteCalls(_, "struct_pack")(structPackCall),
    rewriteCalls(_, "regexp_extract")(regexpExtractCall),
    renameFn(_, "exclude", "except"))

  // ---- FROM-first syntax -------------------------------------------------

  /** DuckDB's FROM-first "friendly SQL" (promoted throughout its docs):
    * `FROM t`, `FROM t WHERE …`, and `FROM t SELECT list …` are all
    * legal statements. Measured forms (each verified on DuckDB 1.0):
    * bare FROM = SELECT *; a SELECT clause may appear after the source
    * and before WHERE/GROUP/…; trailing clauses bind as usual. The
    * rewrite relocates the SELECT list (or inserts `SELECT *`) in front
    * of each top-level set-operation branch that starts with FROM.
    * TOP-LEVEL only — a parenthesized FROM-first subquery surfaces
    * Spark's parse error (loud, documented), and set-op EXCEPT is told
    * from `* EXCEPT (cols)` by [[Lex.isSetOp]]. */
  private def rewriteFromFirst(lx: Lex): String = {
    val sql = lx.s
    // The statement needs the rewrite when its FIRST branch is
    // FROM-first OR when any LATER set-op branch is (legal in DuckDB:
    // `SELECT 1 UNION ALL FROM t`) — the branch scan below finds the
    // latter, so the head-only gate decides nothing by itself.
    val headFromFirst = lx.word(lx.code(0, 1), "from")
    // segment boundaries: the set operations whose branch starts with
    // FROM — only those branches need the rewrite
    val bounds = lx.setOps().collect { case (op, end) if lx.word(lx.code(end, 1), "from") => op }
    if (!headFromFirst && bounds.isEmpty) return sql
    val cuts = (0 +: bounds).distinct.sorted :+ sql.length
    // every cut lands exactly at a set-op keyword; segments join on a
    // NEWLINE (not a space) so a `--` line comment ending one segment
    // cannot swallow the next branch's keywords
    cuts.sliding(2).map { case Seq(a, b) =>
      rewriteFromFirstSegment(sql.substring(a, b)).trim
    }.mkString("\n")
  }

  /** One set-op branch: `[UNION|INTERSECT|EXCEPT [ALL|DISTINCT]] FROM
    * <source> [SELECT <list>] <rest>` → prefix + `SELECT <list|*> FROM
    * <source> <rest>`. */
  private def rewriteFromFirstSegment(seg: String): String = {
    val lx = new Lex(seg)
    // the prefix (set-op keyword, ALL/DISTINCT, comments) runs to FROM
    val first = lx.code(0, 1)
    val fromAt =
      if (lx.isSetOp(first)) lx.code(lx.setOps(first, first + 1).head._2, 1) else first
    if (!lx.word(fromAt, "from")) return seg
    val prefix = seg.substring(0, fromAt)
    val afterFrom = fromAt + 4
    // top-level clause keywords after the source: the first one ends the
    // source or, when it is SELECT, starts the relocated list, which the
    // next non-SELECT one ends. A set-op EXCEPT is one; the star modifier
    // `* EXCEPT (cols)` is not.
    val clauses = lx.tops(afterFrom)(i => lx.isSetOp(i) ||
      Seq("select", "where", "group", "having", "qualify", "window", "order",
        "limit", "offset").exists(lx.word(i, _))).toList
    // Relocated pieces join on NEWLINES: the source (or list) text may
    // end in a `--` line comment, and a space join would comment out
    // the clause that follows it (`FROM t -- c\nWHERE …` must not
    // become `… FROM t -- c WHERE …`).
    clauses match {
      case selPos :: later if lx.word(selPos, "select") =>
        val listEnd = later.find(!lx.word(_, "select")).getOrElse(seg.length)
        val source = seg.substring(afterFrom, selPos)
        val list = seg.substring(selPos + 6, listEnd)
        val rest = seg.substring(listEnd).trim
        prefix + "SELECT " + list.trim + "\nFROM " + source.trim +
          (if (rest.isEmpty) "" else "\n" + rest)
      case _ =>
        val srcEnd = clauses.headOption.getOrElse(seg.length)
        val source = seg.substring(afterFrom, srcEnd)
        val rest = seg.substring(srcEnd).trim
        prefix + "SELECT * FROM " + source.trim +
          (if (rest.isEmpty) "" else "\n" + rest)
    }
  }

  // ---- QUALIFY ---------------------------------------------------------

  /** QUALIFY at any depth (round 13 — closes the r12 "QUALIFY inside
    * a subquery" bound): a QUALIFY inside a parenthesized query block is
    * top-level relative to that block's content, so [[innermostFirst]]
    * rewrites the innermost such block first (deeper nests resolve
    * first), splices it back, and repeats until only a top-level QUALIFY
    * (or none) remains for [[rewriteQualify]]. Each step eliminates one
    * QUALIFY token, so the recursion is finite; the per-block guards (set
    * operations, DISTINCT + inline windows) still apply within whichever
    * block carries the clause. */
  private def rewriteQualifyDeep(lx: Lex): String =
    innermostFirst(lx, required("QUALIFY: unbalanced parentheses")) { block =>
      val nested = block.find()(i => block.word(i, "qualify") && block.opens(i).nonEmpty)
      Seq(nested, block.find()(block.word(_, "qualify"))).find(_ >= 0)
    }((block, _) => rewriteQualify(block))

  /** DuckDB's `QUALIFY <pred>` (filter on window results — Spark has no
    * equivalent clause) rewrites to a wrapped subquery:
    *
    *   <head> QUALIFY <pred> [ORDER BY/LIMIT tail]
    *     →  SELECT * FROM ( <head> ) __qualify WHERE <pred> <tail>
    *
    * When the predicate names a select-list ALIAS the wrap alone
    * suffices. When it contains INLINE window expressions
    * (`fn(args) OVER (spec)`), each is APPENDED to the head's own
    * select list as a synthetic `__qualify_wN` column (so the window
    * evaluates against the head's FROM relation, exactly DuckDB's
    * semantics), the predicate references the alias, and an outer
    * `* EXCEPT` drops the synthetic columns from the result schema.
    *
    * Subquery-level QUALIFY is handled by [[rewriteQualifyDeep]], which
    * reduces every nested occurrence to this top-level case. Bounded
    * (throws, never silently wrong): QUALIFY followed at the same block's
    * top level by a set operation, or combining an inline window with
    * SELECT DISTINCT (appending a column would change the distinct key),
    * is rejected with a message naming the limitation. */
  private def rewriteQualify(lx: Lex): String = {
    val sql = lx.s
    val q = lx.find()(lx.word(_, "qualify"))
    if (q < 0) return sql
    if (lx.depthAt(q) > 0) throw new IllegalStateException(
      "QUALIFY at depth > 0 reached rewriteQualify — " +
        "rewriteQualifyDeep should have reduced it first")
    // QUALIFY binds to ITS OWN branch of a compound (measured: `A UNION
    // ALL B QUALIFY p` filters only B; trailing ORDER BY/LIMIT binds to
    // the whole compound), so the rewrite wraps just the branch between
    // the surrounding set operations
    val branchStart = lx.setOps(0, q).lastOption.fold(0)(_._2)
    val prefix =
      if (branchStart == 0) "" else sql.substring(0, branchStart) + " "
    val head = sql.substring(branchStart, q).trim
    // the predicate ends at the earliest top-level ORDER BY / LIMIT /
    // OFFSET (compound-level tail) or set operation (the next branch)
    val predAt = q + "qualify".length
    val tailAt = lx.findTop(predAt)(i => lx.isSetOp(i) ||
      Seq("order", "limit", "offset").exists(lx.word(i, _)))
    val (pred0, tail) =
      if (tailAt < 0) (sql.substring(predAt).trim, "")
      else (sql.substring(predAt, tailAt).trim, " " + sql.substring(tailAt).trim)
    val (pred, hoisted) = hoistWindows(pred0)
    if (hoisted.isEmpty)
      // recurse: a later branch of the compound may carry its own QUALIFY
      rewriteQualify(new Lex(s"${prefix}SELECT * FROM ( $head ) __qualify WHERE $pred$tail"))
    else {
      // Locate the head's MAIN select (the LAST top-level SELECT — a
      // WITH-prefixed head keeps its CTE bodies inside parens) and its
      // FROM, so the DISTINCT guard and the synthetic-column insertion
      // both anchor to the right block even under CTEs.
      val (selAt, fromAt) = new Lex(head).selectFrom()
      require(selAt >= 0 && fromAt > selAt,
        "QUALIFY: could not locate the head query's SELECT ... FROM block")
      if ("(?is)^select\\s+distinct\\b".r
            .findFirstIn(head.substring(selAt)).isDefined)
        throw new IllegalArgumentException(
          "QUALIFY with an inline window over SELECT DISTINCT is outside the " +
            "shim's bounded support — alias the window in the select list instead")
      val synth = hoisted.map { case (expr, alias) => s"$expr AS $alias" }.mkString(", ")
      val headWithSynth =
        head.substring(0, fromAt) + s", $synth " + head.substring(fromAt)
      val drop = hoisted.map(_._2).mkString(", ")
      rewriteQualify(new Lex(
        s"${prefix}SELECT * EXCEPT ($drop) FROM ( $headWithSynth ) __qualify WHERE $pred$tail"))
    }
  }

  /** Replace each inline `identifier(args) OVER (spec)` in `pred` with a
    * synthetic alias; returns (rewritten predicate, (expr, alias) list). */
  private def hoistWindows(pred0: String): (String, Seq[(String, String)]) = {
    var pred = pred0
    val hoisted = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var guard = 0
    while (guard < 50) {
      guard += 1
      val lx = new Lex(pred)
      val overAt = lx.find()(lx.word(_, "over"))
      if (overAt < 0) return (pred, hoisted.toSeq)
      // spec parens after OVER
      val j = lx.fwd(overAt + 4)
      require(j < pred.length && pred(j) == '(',
        "QUALIFY: expected ( after OVER (named windows are unsupported)")
      val specEnd = lx.closeOf(j, required("QUALIFY: unbalanced OVER specification")) + 1
      // function call before OVER: its ')' , the matching '(' and the
      // identifier before it
      val p = lx.back(overAt - 1)
      require(p >= 0 && pred(p) == ')',
        "QUALIFY: expected fn(...) immediately before OVER")
      val m = lx.openOf(p, required("QUALIFY: unbalanced window function call"))
      val idStart = lx.identTo(m - 1)
      require(idStart < m, "QUALIFY: expected a function name before OVER")
      val alias = s"__qualify_w${hoisted.size + 1}"
      hoisted += ((pred.substring(idStart, specEnd), alias))
      pred = pred.substring(0, idStart) + alias + pred.substring(specEnd)
    }
    throw new IllegalArgumentException("QUALIFY window hoisting did not converge")
  }

  // ---- DISTINCT ON -----------------------------------------------------

  /** PostgreSQL-style `SELECT DISTINCT ON (keys) items … ORDER BY …`
    * (DuckDB supports it; Spark does not): keep the FIRST row of each
    * distinct key tuple under the query's ORDER BY. Rewritten to the
    * window formulation:
    *
    *   SELECT items FROM ( SELECT *, ROW_NUMBER() OVER (PARTITION BY
    *     keys ORDER BY <order-tail>) AS __don_rn FROM <from-part>
    *   ) __don WHERE __don_rn = 1 [ORDER BY …] [LIMIT …]
    *
    * Bounds (throws, never silently wrong): an ORDER BY is REQUIRED
    * (without one the picked row is engine-arbitrary — refusing beats
    * silently diverging); no GROUP BY/HAVING in the same block; one
    * top-level DISTINCT ON per statement (none inside subqueries); and
    * every star item drops the synthetic rank column: a bare `*`
    * becomes `* EXCEPT (__don_rn)`, a `* EXCEPT|EXCLUDE (cols)` gains
    * `__don_rn` in its list, and a `* REPLACE (…)` gains the EXCEPT
    * that the star-replace pass merges. Window ORDER BY reuses the
    * query's ORDER BY text verbatim; ordinal ORDER BY is rejected
    * (ordinals would re-bind inside the window). */
  private def rewriteDistinctOn(lx: Lex): String = {
    val sql = lx.s
    // locate the SELECT DISTINCT ON (
    def distinctOnAt(i: Int): Boolean = lx.word(i, "select") && {
      val j = lx.fwd(i + 6)
      sql.regionMatches(true, j, "distinct", 0, 8) && {
        val k = lx.fwd(j + 8)
        sql.regionMatches(true, k, "on", 0, 2) &&
          (k + 2 >= sql.length || !isIdentChar(sql(k + 2)))
      }
    }
    val at = lx.find()(distinctOnAt)
    if (at < 0) return sql
    if (lx.depthAt(at) > 0) throw new IllegalArgumentException(
      "DISTINCT ON inside a subquery is outside the shim's bounded support")
    // keys list
    val p = sql.indexOf('(', at)
    val keysEnd = lx.closeOf(p, required("DISTINCT ON: unbalanced key list"))
    val keys = sql.substring(p + 1, keysEnd).trim
    require(keys.nonEmpty, "DISTINCT ON: empty key list")
    // select items run to the top-level FROM
    val itemsStart = keysEnd + 1
    val fromAt = lx.topWord(itemsStart, sql.length, "from")
    require(fromAt > 0, "DISTINCT ON: could not locate FROM")
    val items = sql.substring(itemsStart, fromAt).trim
    // from-part runs to the top-level ORDER BY / LIMIT / OFFSET (GROUP/
    // HAVING/QUALIFY/set ops are out of bounds)
    val tailWords = Seq("order", "limit", "offset")
    val tailAt = lx.findTop(fromAt)(i => lx.isSetOp(i) ||
      (tailWords ++ Seq("group", "having", "qualify")).exists(lx.word(i, _)))
    if (tailAt >= 0 && !tailWords.exists(lx.word(tailAt, _)))
      throw new IllegalArgumentException(
        "DISTINCT ON combined with GROUP BY/HAVING/QUALIFY/set operations " +
          "is outside the shim's bounded support")
    val fromPart = sql.substring(fromAt + 4,
      if (tailAt < 0) sql.length else tailAt).trim
    val tail = if (tailAt < 0) "" else sql.substring(tailAt).trim
    require(tail.toLowerCase.startsWith("order"),
      "DISTINCT ON without ORDER BY picks an engine-arbitrary row — add an " +
        "ORDER BY naming the keys first (the shim refuses rather than diverge)")
    // window order = the ORDER BY expressions, verbatim
    val obEnd = lx.topWord(tailAt, sql.length, "limit", "offset") match {
      case -1 => tail.length
      case e => e - tailAt
    }
    val orderExprs = tail.substring(tail.toLowerCase.indexOf("by") + 2, obEnd).trim
    require(!orderExprs.split(',').exists(_.trim.matches("[0-9]+.*")),
      "DISTINCT ON with ordinal ORDER BY is outside the shim's bounded " +
        "support — name the expressions")
    // no star item may surface the synthetic rank column
    def dropRank(item: String): String = {
      val it = new Lex(item.trim)
      if (!it.s.startsWith("*")) return it.s
      val m = it.code(1, 1)
      if (m >= it.n) return "* EXCEPT (__don_rn)"
      val open = it.code(it.identFrom(m), 1)
      if ((it.word(m, "except") || it.word(m, "exclude")) && open < it.n && it.s(open) == '(') {
        val close = it.closeOf(open, required("DISTINCT ON: unbalanced star EXCEPT list"))
        it.s.substring(0, close) + ", __don_rn" + it.s.substring(close)
      } else if (it.word(m, "replace")) "* EXCEPT (__don_rn) " + it.s.substring(m)
      else it.s
    }
    val outItems = new Lex(items).split(',').map(dropRank).mkString(", ")
    s"SELECT $outItems FROM ( SELECT *, ROW_NUMBER() OVER (PARTITION BY $keys " +
      s"ORDER BY $orderExprs) AS __don_rn FROM $fromPart ) __don " +
      s"WHERE __don_rn = 1 $tail"
  }

  // ---- * REPLACE (expr AS col, ...) ------------------------------------

  /** DuckDB's star-replace modifier — `SELECT * REPLACE (e AS c) …`
    * (reference contract: any DuckDB SELECT) — has no Spark spelling.
    * Rewritten to `* EXCEPT (c), e AS c`: identical column SET and
    * values, but the replaced columns surface at the END of the star
    * expansion instead of in place (Spark's EXCEPT cannot splice). That
    * ordering difference is the documented bound; value semantics match.
    *
    * Disambiguation from multiplication by the REPLACE() function
    * (`price * replace(s,'a','b')`): the star-modifier's `*` is itself a
    * select item, so the non-space char before it is `,` or the keyword
    * SELECT/DISTINCT; any other left context is arithmetic and skipped.
    * The combined chain `* EXCLUDE (cols) REPLACE (e AS c)` (DuckDB's
    * modifier order) is recognized by looking through the EXCLUDE list
    * when the char before REPLACE is its `)`: the exclusion columns are
    * merged into the EXCEPT (`* EXCEPT (cols, c), e AS c`). The reversed
    * spelling `* REPLACE (...) EXCLUDE (...)` is not DuckDB grammar and
    * surfaces as a parse error rather than silently-wrong columns. */
  private def rewriteStarReplace(lx: Lex): String = {
    val sql = lx.s
    // the statement with the REPLACE at `i` rewritten, if it is the star
    // modifier
    def rewriteAt(i: Int): Option[String] = {
      // star immediately before (modifier), '(' after (argument list);
      // OR the chain form `* EXCLUDE (cols) REPLACE (...)`, where the
      // non-space char before REPLACE is the EXCLUDE list's ')'.
      val p = lx.back(i - 1)
      val a = lx.fwd(i + 7)
      // starPos = the modifier's '*'; for the chain form also collect
      // the EXCLUDE column list (merged into the EXCEPT below).
      var starPos = -1
      var excludeCols: Seq[String] = Nil
      if (p >= 0 && sql(p) == '*') starPos = p
      else if (p >= 0 && sql(p) == ')') {
        val b = lx.openOf(p)
        if (b >= 0) {
          val q2 = lx.back(b - 1)
          val kwStart = lx.identTo(q2)
          val kw = sql.substring(kwStart, q2 + 1).toLowerCase
          if (kw == "exclude" || kw == "except") {
            val s2 = lx.back(kwStart - 1)
            if (s2 >= 0 && sql(s2) == '*') {
              starPos = s2
              excludeCols = lx.split(',', b + 1, p).map(_.trim)
            }
          }
        }
      }
      if (starPos < 0 || a >= sql.length || sql(a) != '(') return None
      // context before the star: ',' or SELECT/DISTINCT → modifier
      val q = lx.back(starPos - 1)
      val isModifier = q < 0 || sql(q) == ',' || {
        val w = sql.substring(lx.identTo(q), q + 1).toLowerCase
        w == "select" || w == "distinct"
      }
      if (!isModifier) return None
      val k = lx.closeOf(a, required("* REPLACE: unbalanced argument list"))
      val pairs = lx.split(',', a + 1, k).map { it =>
        val m = "(?is)^(.*\\S)\\s+AS\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$".r
          .findFirstMatchIn(it.trim).getOrElse(throw new IllegalArgumentException(
            s"* REPLACE: expected `expr AS column`, got: ${it.trim}"))
        (m.group(1), m.group(2))
      }
      val except = (excludeCols ++ pairs.map(_._2)).mkString(", ")
      val repl = pairs.map { case (e, c) => s"$e AS $c" }.mkString(", ")
      Some(sql.substring(0, starPos) + s"* EXCEPT ($except), $repl" + sql.substring(k + 1))
    }
    val at = lx.find()(i => lx.word(i, "replace") && rewriteAt(i).isDefined)
    if (at < 0) sql
    else rewriteStarReplace(new Lex(rewriteAt(at).get)) // handle any further occurrence
  }

  // ---- ASOF JOIN -------------------------------------------------------

  /** DuckDB `ASOF [LEFT] JOIN r [[AS] alias] ON cond` → `[LEFT] JOIN r
    * [[AS] alias] ON graft_asof() AND cond`. Only the syntax moves: the
    * relation `r` is a (dotted) name or a parenthesized subquery, kept
    * as it is, and the condition needs no end, since the marker leads
    * it. [[graft.functions.DuckAsOfRule]] plans the marked join on the
    * analyzed plan, where it tells the two sides apart by attribute set;
    * its scaladoc has the semantics and the errors for an ON clause
    * outside `=` equalities plus one inequality. RIGHT/FULL ASOF and
    * ASOF … USING fail here, by name. */
  private def rewriteAsOfJoin(lx: Lex): String = {
    val sql = lx.s
    val start = lx.find()(lx.word(_, "asof"))
    if (start < 0) return sql
    var j = start + 4
    def word(): String = { j = lx.fwd(j); val s0 = j; j = lx.identFrom(j); sql.substring(s0, j) }
    var w = word()
    val isLeft = w.equalsIgnoreCase("left")
    if (isLeft) w = word()
    require(w.equalsIgnoreCase("join"),
      s"ASOF: expected [LEFT] JOIN after ASOF, got '$w' (RIGHT/FULL ASOF is outside the shim's bounded support)")
    val rel = j
    if (lx.fwd(j) < sql.length && sql(lx.fwd(j)) == '(')
      j = lx.closeOf(lx.fwd(j), required("ASOF: unbalanced subquery after JOIN")) + 1
    else {
      require(word().nonEmpty, "ASOF: expected a table name or subquery after JOIN")
      while (j < sql.length && sql(j) == '.') { j += 1; word() }
    }
    w = word()
    if (w.equalsIgnoreCase("as")) { word(); w = word() }
    else if (w.nonEmpty && !Seq("on", "using").exists(w.equalsIgnoreCase)) w = word()
    require(w.equalsIgnoreCase("on"), s"ASOF: expected ON, got '$w'")
    rewriteAsOfJoin(new Lex(sql.substring(0, start) + (if (isLeft) "LEFT JOIN" else "JOIN") +
      sql.substring(rel, j) + s" ${AsOfMarker.Name}() AND" + sql.substring(j)))
  }

  // ---- the lexical scanner ----------------------------------------------

  /** The lexical facts of one SQL text, worked out once per text. Every
    * text pass (and the gateway's statement parsers) reads a text through
    * one of these instead of scanning characters itself:
    *
    *  - MASK: [[masked]] is true inside single-quoted string literals,
    *    double-quoted identifiers, `--` line comments and `/* */` block
    *    comments. Nothing in the mask is ever matched: a QUALIFY/UNION/
    *    ORDER inside a literal, quoted identifier or comment never steers
    *    a clause scan, and `//` inside a comment is never "rewritten".
    *  - DEPTH: [[depthAt]] counts the unmasked parens before a position.
    *    A search "from `from`" stays at the paren depth of `from`, which
    *    is the clause level of the block that starts there.
    *  - WORD: [[word]], the one keyword test — case-insensitive, on
    *    identifier boundaries, outside the mask.
    *  - MATCHER: [[closeOf]]/[[openOf]], the one bracket matcher. Without
    *    a message it answers -1 for unbalanced text; with one it throws
    *    `IllegalArgumentException(message)`, the caller's own text.
    *  - DEPTH-0 SEARCH and SPLIT: [[find]] (any position), [[findTop]],
    *    [[tops]], [[topWord]], [[selectFrom]]; [[split]] by a character.
    *  - SET-OP CUT: [[setOps]]/[[isSetOp]], with one EXCEPT rule.
    *  - BLOCKS: [[opens]] and [[opensQuery]], which [[innermostFirst]]
    *    uses to recurse into the innermost query block.
    *
    * A pass that edits its text builds a new Lex over the result. */
  private[engine] final class Lex(val s: String) {
    val n: Int = s.length
    val masked: Array[Boolean] = new Array[Boolean](n)
    private val depth = new Array[Int](n + 1)
    /** Comments as [start, end) ranges, in text order. */
    private val comments = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    locally {
      var i = 0
      while (i < n) {
        s(i) match {
          case '\'' | '"' =>
            val quote = s(i)
            masked(i) = true; i += 1
            while (i < n && s(i) != quote) { masked(i) = true; i += 1 }
            if (i < n) { masked(i) = true; i += 1 } // closing quote
          case '-' if i + 1 < n && s(i + 1) == '-' =>
            val start = i
            while (i < n && s(i) != '\n') { masked(i) = true; i += 1 }
            comments += ((start, i))
          case '/' if i + 1 < n && s(i + 1) == '*' =>
            val start = i
            masked(i) = true; masked(i + 1) = true; i += 2
            while (i < n && !(s(i) == '*' && i + 1 < n && s(i + 1) == '/')) {
              masked(i) = true; i += 1
            }
            if (i + 1 < n) { masked(i) = true; masked(i + 1) = true; i += 2 }
            comments += ((start, i))
          case _ => i += 1
        }
      }
      var d = 0
      i = 0
      while (i < n) {
        depth(i) = d
        if (!masked(i)) { if (s(i) == '(') d += 1 else if (s(i) == ')') d -= 1 }
        i += 1
      }
      depth(n) = d
    }

    def depthAt(i: Int): Int = depth(i)

    /** Keyword `w` (lowercase) starts at `i`: outside the mask, in any
      * case, on identifier boundaries. */
    def word(i: Int, w: String): Boolean = {
      val end = i + w.length
      if (i < 0 || end > n || masked(i) || (i > 0 && isIdentChar(s(i - 1)))) return false
      var k = 0
      while (k < w.length) {
        if (Character.toLowerCase(s(i + k)) != w.charAt(k)) return false
        k += 1
      }
      end == n || !isIdentChar(s(end))
    }

    /** The `)` (or `]`) matching the `(` (or `[`) at `open`; -1 when the
      * text ends first. */
    def closeOf(open: Int): Int = {
      val (o, c) = if (open >= 0 && s(open) == '[') ('[', ']') else ('(', ')')
      var d = 1; var k = open + 1
      while (k < n) {
        if (!masked(k)) {
          if (s(k) == o) d += 1
          else if (s(k) == c) { d -= 1; if (d == 0) return k }
        }
        k += 1
      }
      -1
    }

    /** The `(` (or `[`) matching the `)` (or `]`) at `close`; -1 when the
      * text starts first. */
    def openOf(close: Int): Int = {
      val (o, c) = if (s(close) == ']') ('[', ']') else ('(', ')')
      var d = 1; var k = close - 1
      while (k >= 0) {
        if (!masked(k)) {
          if (s(k) == c) d += 1
          else if (s(k) == o) { d -= 1; if (d == 0) return k }
        }
        k -= 1
      }
      -1
    }

    def closeOf(open: Int, unbalanced: String): Int = matched(closeOf(open), unbalanced)
    def openOf(close: Int, unbalanced: String): Int = matched(openOf(close), unbalanced)
    private def matched(at: Int, unbalanced: String): Int =
      if (at >= 0) at else throw new IllegalArgumentException(unbalanced)

    /** The first position in [from, until) where `p` holds; -1 if none. */
    def find(from: Int = 0, until: Int = n)(p: Int => Boolean): Int = {
      var i = from
      while (i < until) { if (p(i)) return i; i += 1 }
      -1
    }

    /** A TOP position of the block starting at `from`: unmasked, no
      * paren, at the paren depth of `from`. */
    private def top(from: Int)(i: Int): Boolean =
      depth(i) == depth(from) && !masked(i) && s(i) != '(' && s(i) != ')'

    /** The first top position in [from, until) where `p` holds; -1 if none. */
    def findTop(from: Int = 0, until: Int = n)(p: Int => Boolean): Int =
      find(from, until)(i => top(from)(i) && p(i))

    /** Every top position in [from, until) where `p` holds. */
    def tops(from: Int = 0, until: Int = n)(p: Int => Boolean): Seq[Int] = {
      val out = Array.newBuilder[Int]
      var i = from
      while (i < until) { if (top(from)(i) && p(i)) out += i; i += 1 }
      out.result().toSeq
    }

    /** The first top position where one of `words` starts; -1 if none. */
    def topWord(from: Int, until: Int, words: String*): Int =
      findTop(from, until)(i => words.exists(word(i, _)))

    /** The last top-level SELECT in [from, until) and the first top-level
      * FROM after it (-1 when absent): the main block of a query whose CTE
      * bodies sit in parens. */
    def selectFrom(from: Int = 0, until: Int = n): (Int, Int) = {
      val sel = tops(from, until)(word(_, "select")).lastOption.getOrElse(-1)
      (sel, if (sel < 0) -1 else topWord(sel, until, "from"))
    }

    /** The text of [from, until) cut at each top-level `sep`. */
    def split(sep: Char, from: Int = 0, until: Int = n): Seq[String] = {
      val cuts = tops(from, until)(s(_) == sep)
      ((from - 1) +: cuts).zip(cuts :+ until).map { case (a, b) => s.substring(a + 1, b) }
    }

    /** A set operation (UNION, INTERSECT, EXCEPT) starts at `i`. The one
      * EXCEPT rule: right after a `*` and before a parenthesized list
      * that is not a query, EXCEPT is the star modifier (`* EXCEPT
      * (cols)`), not a set operation. */
    def isSetOp(i: Int): Boolean =
      word(i, "union") || word(i, "intersect") || (word(i, "except") && {
        val p = code(i - 1, -1)
        val a = code(i + 6, 1)
        !(p >= 0 && s(p) == '*' && a < n && s(a) == '(' && !opensQuery(a))
      })

    /** Top-level set operations in [from, until) as (keyword start, end
      * past an optional ALL/DISTINCT). */
    def setOps(from: Int = 0, until: Int = n): Seq[(Int, Int)] =
      tops(from, until)(isSetOp).map { i =>
        val kwEnd = identFrom(i)
        val m = code(kwEnd, 1)
        (i, if (word(m, "all") || word(m, "distinct")) identFrom(m) else kwEnd)
      }

    /** The unmasked `(` enclosing position `at`, innermost first. */
    def opens(at: Int): List[Int] = {
      var stack = List.empty[Int]
      for (i <- 0 until at if !masked(i)) {
        if (s(i) == '(') stack ::= i else if (s(i) == ')') stack = stack.drop(1)
      }
      stack
    }

    /** The paren at `open` starts a query block: past whitespace and
      * comments, its first word is SELECT, FROM, WITH or VALUES. */
    def opensQuery(open: Int): Boolean = {
      var j = fwd(open + 1)
      var comment = comments.find(_._1 == j)
      while (comment.isDefined) {
        j = fwd(comment.get._2)
        comment = comments.find(_._1 == j)
      }
      Seq("select", "from", "with", "values").exists(word(j, _))
    }

    /** The text with each comment replaced by one space. */
    def uncommented: String = {
      val sb = new StringBuilder
      var from = 0
      comments.foreach { case (start, end) =>
        sb.append(s.substring(from, start)).append(' ')
        from = end
      }
      sb.append(s.substring(from)).toString
    }

    /** First position from `i` in direction `step` (±1) that is neither
      * whitespace nor masked; -1 or n past either end. */
    def code(i: Int, step: Int): Int = {
      var j = i
      while (j >= 0 && j < n && (masked(j) || s(j).isWhitespace)) j += step
      j
    }

    /** First non-whitespace position at or after `i` (n if none). */
    def fwd(i: Int): Int = { var j = i; while (j < n && s(j).isWhitespace) j += 1; j }

    /** Last non-whitespace position at or before `i` (-1 if none). */
    def back(i: Int): Int = { var j = i; while (j >= 0 && s(j).isWhitespace) j -= 1; j }

    /** End (exclusive) of the identifier run starting at `i`. */
    def identFrom(i: Int): Int = { var j = i; while (j < n && isIdentChar(s(j))) j += 1; j }

    /** Start of the identifier run ending at `i` (inclusive); `i + 1`
      * when `s(i)` is no identifier character. */
    def identTo(i: Int): Int = { var j = i; while (j >= 0 && isIdentChar(s(j))) j -= 1; j + 1 }
  }

  /** The message `require(false, what)` raises. Most passes report
    * unbalanced text in this form; the matcher throws exactly the message
    * it is given, so each pass keeps its error text. */
  private[engine] def required(what: String): String = s"requirement failed: $what"

  /** Innermost query block first — the recursion behind the QUALIFY
    * and COLUMNS passes. `locate` finds the next construct the pass
    * rewrites.
    * When it sits inside a parenthesized QUERY block (a subquery or CTE
    * body: [[Lex.opensQuery]]), the innermost such block's content is
    * rewritten on its own (relative to it the construct is top-level),
    * spliced back, and the whole text is searched again. An expression
    * paren (CAST, a function call) around the construct belongs to the
    * same query block and is not recursed into: doing so would strand a
    * COLUMNS call (`min(COLUMNS('x'))`) without its SELECT ... FROM. A
    * construct in no query block goes to `top`, with the text's Lex and
    * the construct's position. */
  private def innermostFirst(lx: Lex, unbalanced: String)(
      locate: Lex => Option[Int])(top: (Lex, Int) => String): String = {
    val sql = lx.s
    locate(lx) match {
      case None => sql
      case Some(at) => lx.opens(at).find(lx.opensQuery) match {
        case None => top(lx, at)
        case Some(open) =>
          val end = lx.closeOf(open, unbalanced)
          val inner = innermostFirst(new Lex(sql.substring(open + 1, end)), unbalanced)(locate)(top)
          innermostFirst(new Lex(sql.substring(0, open + 1) + inner + sql.substring(end)),
            unbalanced)(locate)(top)
      }
    }
  }

  private def isIdentChar(c: Char): Boolean =
    c.isLetterOrDigit || c == '_'

  /** `expr [NOT] SIMILAR TO '<pattern>'` → `expr [NOT] RLIKE
    * '^(?:<pattern>)$'`. The SQL standard (and DuckDB's own docs) says
    * SIMILAR TO treats `%`/`_` as LIKE wildcards, but DuckDB 1.0.0 —
    * the oracle this engine answers to — implements it as a plain
    * ANCHORED regex full-match with NO wildcard translation (measured:
    * `'abbbc' SIMILAR TO 'a%c'` is FALSE, `'abc' SIMILAR TO 'a(.|x)c'`
    * is TRUE); `\x` escapes the next char in both regex dialects. So
    * the faithful rewrite is anchor + pass-through, with backslashes
    * doubled for Spark's escaping string-literal parser. Bounds
    * (throws, never silently wrong): an ESCAPE clause. */
  private def rewriteSimilarTo(lx: Lex): String = {
    val sql = lx.s
    val re = "(?i)\\b(not\\s+)?similar\\s+to\\s+('(?:[^']|'')*')".r
    re.replaceAllIn(sql, m => {
      if (lx.masked(m.start)) scala.util.matching.Regex.quoteReplacement(m.matched)
      else {
        if (sql.substring(m.end).matches("(?is)\\s*escape\\b.*"))
          throw new IllegalArgumentException(
            "SIMILAR TO ... ESCAPE is not supported by the dialect shim")
        val lit = m.group(2)
        val pat = lit.substring(1, lit.length - 1).replace("\\", "\\\\")
        val neg = if (m.group(1) != null) "not " else ""
        scala.util.matching.Regex.quoteReplacement(s"${neg}rlike '^(?:$pat)$$'")
      }
    })
  }

  // ---- COLUMNS('regex') star expansion -----------------------------------

  /** DuckDB's `COLUMNS('regex')` star expansion (friendly SQL). It
    * needs the FROM relation's SCHEMA, which the text shim does not
    * have — so this pass takes a resolver and runs from the GATEWAY
    * (SqlGateway.run), not from [[rewrite]]; a bare rewrite() leaves
    * COLUMNS untouched (Spark's unresolved-routine error names it).
    *
    * Measured semantics (DuckDB 1.0): the regex matches PARTIALLY (RE2
    * search — 'a' matches column 'abc') and case-sensitively; columns
    * expand in relation order; ZERO matches is a binder error (kept: a
    * silent empty expansion would change the projection arity); a
    * COLUMNS inside an expression replicates the ENTIRE select-list
    * item once per matching column, each output named by the BASE
    * column (`SELECT min(COLUMNS('.*')) FROM t` → columns a, b — not
    * min(a)).
    *
    * Bounds (named errors, never silently wrong): literal regex only;
    * one COLUMNS per select-list item; no explicit alias on the item
    * (the replicas are named by column); the FROM must list plain
    * identifiers (joins supported — schemas concatenate in FROM order —
    * but a derived-table FROM is rejected). Subquery-level COLUMNS
    * reduces through the same query-block recursion as the QUALIFY
    * pass. */
  def expandColumns(sql: String, schemaOf: String => Option[Seq[String]]): String =
    innermostFirst(new Lex(sql), required("COLUMNS: unbalanced parentheses")) { lx =>
      // the first COLUMNS( call outside strings
      Some(lx.find()(i => lx.word(i, "columns") && {
        val j = lx.fwd(i + 7)
        j < lx.n && lx.s(j) == '('
      })).filter(_ >= 0)
    }((lx, found) => expandColumns(expandColumnsAt(lx, found, schemaOf), schemaOf))

  /** One top-level COLUMNS call, at `found`, expanded in place. */
  private def expandColumnsAt(lx: Lex, found: Int,
      schemaOf: String => Option[Seq[String]]): String = {
    val sql = lx.s
    // argument: a single quoted regex literal
    val argOpen = sql.indexOf('(', found + 7)
    val colEnd = lx.closeOf(argOpen, required("COLUMNS: unbalanced parentheses"))
    val arg = sql.substring(argOpen + 1, colEnd).trim
    val litRe = "(?s)^'((?:[^']|'')*)'$".r
    // COLUMNS(*) = every column (measured); a bare-star arg maps to the
    // match-everything regex so the single code path serves both forms
    val regex = arg match {
      case "*" => ""
      case litRe(r) => r.replace("''", "'")
      case _ => throw new IllegalArgumentException(
        "COLUMNS(...) supports a quoted regex literal or * only — the " +
          "* EXCLUDE / lambda forms are outside the dialect shim")
    }
    // owning SELECT ... FROM of this block (COLUMNS is top-level here):
    // the first top-level FROM after a SELECT, and the last SELECT
    // before that FROM
    val firstSel = lx.topWord(0, sql.length, "select")
    val fromAt = if (firstSel < 0) -1 else lx.topWord(firstSel, sql.length, "from")
    val selAt = lx.tops(0, if (fromAt < 0) sql.length else fromAt)(lx.word(_, "select"))
      .lastOption.getOrElse(-1)
    require(selAt >= 0 && selAt < found && fromAt > colEnd,
      "COLUMNS: could not locate the owning SELECT ... FROM block")
    // relation schema: plain identifiers after FROM and each JOIN,
    // concatenated in order (DuckDB expands over the joined relation)
    val cols = scala.collection.mutable.ArrayBuffer.empty[String]
    val stopWords = Seq("where", "group", "order", "limit", "having", "window",
      "qualify", "union", "intersect", "except")
    var p = fromAt + 4
    var expectTable = true
    var stop = false
    while (p < sql.length && !stop) {
      if (!lx.masked(p)) {
        val c = sql(p)
        if (c == '(')
          throw new IllegalArgumentException(
            "COLUMNS over a derived-table FROM is outside the dialect shim — " +
              "name the subquery's columns instead")
        else if (expectTable && isIdentChar(c)) {
          var e = p
          while (e < sql.length && (isIdentChar(sql(e)) || sql(e) == '.')) e += 1
          val name = sql.substring(p, e)
          cols ++= schemaOf(name).getOrElse(throw new IllegalArgumentException(
            s"COLUMNS: unknown relation '$name'"))
          expectTable = false
          p = e - 1
        } else if (!expectTable && lx.word(p, "join")) { expectTable = true; p += 3 }
        // a depth-0 comma is a relation separator (comma cross join) —
        // DuckDB expands COLUMNS over the WHOLE comma join (measured:
        // COLUMNS('a|b') FROM t1, t2 yields both relations' columns),
        // so the next identifier is a table again, not an alias
        else if (!expectTable && c == ',') expectTable = true
        else if (!expectTable && stopWords.exists(lx.word(p, _))) stop = true
      }
      p += 1
    }
    val pat = java.util.regex.Pattern.compile(regex)
    val matched = cols.distinct.filter(c => pat.matcher(c).find())
    if (matched.isEmpty)
      throw new IllegalArgumentException(
        s"""No matching columns found that match regex "$regex"""")
    // the select-list ITEM containing COLUMNS: between the top-level
    // commas of the list around the call
    val commas = lx.tops(selAt + "select".length, fromAt)(sql(_) == ',')
    val itemStart = commas.filter(_ < found).lastOption.fold(selAt + "select".length)(_ + 1)
    val itemEnd = commas.find(_ > colEnd).getOrElse(fromAt)
    val item = sql.substring(itemStart, itemEnd)
    val rel = found - itemStart
    val relEnd = colEnd - itemStart + 1
    if ("(?i)\\bcolumns\\b".r.findAllMatchIn(
        item.substring(relEnd)).exists(m => !lx.masked(itemStart + relEnd + m.start)))
      throw new IllegalArgumentException(
        "multiple COLUMNS(...) in one select-list item are outside the dialect shim")
    val suffix = item.substring(relEnd)
    if ("(?is)^\\s*(as\\s+)?[A-Za-z_][A-Za-z0-9_]*\\s*$".r.findFirstIn(suffix).isDefined
        && suffix.trim.nonEmpty)
      throw new IllegalArgumentException(
        "COLUMNS(...) with an explicit item alias is outside the dialect shim — " +
          "the replicas are named by the matched columns")
    val prefix = item.substring(0, rel)
    val replicas = matched.map(c => s"$prefix`$c`$suffix AS `$c`").mkString(", ")
    sql.substring(0, itemStart) + " " + replicas + " " + sql.substring(itemEnd)
  }

  // ---- GROUPS frames -----------------------------------------------------

  /** Constant integer offset EXPRESSIONS the shim folds at rewrite time
    * (round 19): parenthesized +|−|* arithmetic over digit literals, or
    * CAST(<digits> AS <int type>). Division is deliberately excluded —
    * DuckDB's `/` is float division (5/2 = 2.5), so a shim-side integer
    * fold could silently disagree with the engine the SQL targets. */
  private val GroupsIntExpr =
    "(?:\\((?:[\\d\\s+*\\-()])+\\)|cast\\s*\\(\\s*\\d+\\s+as\\s+\\w+\\s*\\))"
  private val GroupsBound =
    s"(?:unbounded\\s+(?:preceding|following)|current\\s+row|(?:\\d+|$GroupsIntExpr)\\s+(?:preceding|following))"
  private val GroupsBetweenRe =
    s"(?is)^groups\\s+between\\s+($GroupsBound)\\s+and\\s+($GroupsBound)".r
  private val GroupsSingleRe = s"(?is)^groups\\s+($GroupsBound)".r
  private val GroupsShapeRe =
    s"(?is)^groups\\s+(between\\s|unbounded\\s+preceding|current\\s+row|(?:\\d+|$GroupsIntExpr)\\s+(preceding|following))".r
  private val GroupsOffsetRe = s"(?is)(\\d+|$GroupsIntExpr)(\\s+(?:preceding|following))".r

  /** Folds the constant-integer offset grammar [[GroupsIntExpr]] admits
    * into the literal offset [[rewriteFrames]] writes. Throws (named,
    * never silent) on anything non-constant, negative, or outside the
    * +|−|* grammar. */
  private def foldIntOffset(expr0: String): Long = {
    val expr = expr0.trim
    if (expr.nonEmpty && expr.forall(_.isDigit)) return expr.toLong
    "(?is)^cast\\s*\\(\\s*(\\d+)\\s+as\\s+\\w+\\s*\\)$".r.findFirstMatchIn(expr) match {
      case Some(m) => return m.group(1).toLong
      case None => ()
    }
    var i = 0
    def ws(): Unit = while (i < expr.length && expr(i).isWhitespace) i += 1
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"GROUPS frame offset `$expr0`: $why — only constant integer " +
        "+|-|* arithmetic and CAST(<int> AS <int type>) fold to the " +
        "literal bound of a rank-space frame")
    def atom(): Long = {
      ws()
      if (i < expr.length && expr(i) == '(') {
        i += 1; val v = sum(); ws()
        if (i >= expr.length || expr(i) != ')') fail("unbalanced parentheses")
        i += 1; v
      } else {
        val st = i
        while (i < expr.length && expr(i).isDigit) i += 1
        if (i == st) fail(s"expected an integer at `${expr.substring(st)}`")
        expr.substring(st, i).toLong
      }
    }
    def prod(): Long = {
      var v = atom(); ws()
      while (i < expr.length && expr(i) == '*') { i += 1; v *= atom(); ws() }
      v
    }
    def sum(): Long = {
      var v = prod(); ws()
      while (i < expr.length && (expr(i) == '+' || expr(i) == '-')) {
        val op = expr(i); i += 1
        val r = prod(); v = if (op == '+') v + r else v - r; ws()
      }
      v
    }
    val v = sum(); ws()
    if (i != expr.length) fail(s"trailing `${expr.substring(i)}`")
    if (v < 0) fail(s"folds to $v, but a frame offset must be non-negative")
    v
  }

  /** Locate the first frame-syntax token: a GROUPS frame keyword or an
    * EXCLUDE clause, outside strings, at depth 0 of a paren group whose
    * content is a window SPEC (the word before the open paren is OVER, or
    * AS for a named-window definition whose content does not start with
    * SELECT/FROM/WITH/VALUES — an AS followed by a query is a CTE/derived
    * table, not a spec). A GROUPS token must be followed by
    * frame-bound-shaped text (a mere column named `groups` inside a spec
    * does not match the bound shape). Returns (tokenPos, specOpenParen). */
  private def findFrameToken(lx: Lex): Option[(Int, Int)] = {
    val sql = lx.s
    def specOf(i: Int): Option[Int] =
      if (!lx.word(i, "exclude") &&
          !(lx.word(i, "groups") && GroupsShapeRe.findFirstIn(sql.substring(i)).isDefined)) None
      else lx.opens(i).headOption.filter { sp =>
        val w = lx.back(sp - 1)
        val kw = sql.substring(lx.identTo(w), w + 1).toLowerCase(java.util.Locale.ROOT)
        (kw == "over" || kw == "as") && !lx.opensQuery(sp)
      }
    val at = lx.find()(specOf(_).isDefined)
    specOf(at).map(sp => (at, sp))
  }

  private val ExcludeRe = "(?is)^exclude\\s+(current\\s+row|group|ties|no\\s+others)".r

  private val FilterFolds = Set("count", "sum", "avg", "min", "max")

  /** DuckDB's filtered window aggregate, `f(x) FILTER (WHERE c) OVER …`,
    * for COUNT/SUM/AVG/MIN/MAX of one argument: the first one in the
    * text, with the filter folded into the argument as
    * `f([DISTINCT] CASE WHEN c THEN x END) OVER …` (`*` counts as 1).
    * These aggregates skip NULLs, so a row the filter drops is one whose
    * argument is NULL. Spark parses the clause but rejects it on a window
    * aggregate while extracting the window, before any injected rule
    * sees the plan, so the fold is textual. */
  private def foldWindowFilter(lx: Lex): Option[String] = {
    val sql = lx.s
    def foldAt(i: Int): Option[String] = if (!lx.word(i, "filter")) None else {
      val open = lx.code(i + "filter".length, 1)
      val where = lx.code(open + 1, 1)
      val close = if (open < sql.length && sql(open) == '(' && lx.word(where, "where"))
        lx.closeOf(open) else -1
      val callEnd = lx.code(i - 1, -1)
      val callOpen = if (close > 0 && lx.word(lx.code(close + 1, 1), "over") &&
        callEnd > 0 && sql(callEnd) == ')') lx.openOf(callEnd) else -1
      val nameEnd = lx.back(callOpen - 1)
      if (callOpen <= 0 || lx.split(',', callOpen + 1, callEnd).size != 1 || !FilterFolds(
          sql.substring(lx.identTo(nameEnd), nameEnd + 1).toLowerCase(java.util.Locale.ROOT))) None
      else {
        val first = lx.code(callOpen + 1, 1)
        val (distinct, arg) =
          if (lx.word(first, "distinct")) ("DISTINCT ", sql.substring(first + 8, callEnd).trim)
          else ("", sql.substring(callOpen + 1, callEnd).trim)
        val cond = sql.substring(where + "where".length, close).trim
        Some(sql.substring(0, callOpen + 1) + distinct +
          s"CASE WHEN $cond THEN ${if (arg == "*") "1" else arg} END)" + sql.substring(close + 1))
      }
    }
    val at = lx.find()(foldAt(_).isDefined)
    if (at < 0) None else foldAt(at)
  }

  /** The window-frame syntax Spark's grammar lacks: ANSI GROUPS frames
    * and DuckDB's frame EXCLUDE clause, in inline OVER specs and
    * named-WINDOW definitions alike. A text pass cannot add the Window
    * operators their meaning needs, so this pass only carries the
    * syntax into Catalyst, as a marker first in the spec's PARTITION BY:
    *
    *   OVER ([PARTITION BY p] ORDER BY o GROUPS <bounds> [EXCLUDE <kind>])
    *     → OVER (PARTITION BY [graft_frame_exclude('<kind>'), ]
    *               graft_groups_frame()[, p] ORDER BY o ROWS <bounds>)
    *
    * [[graft.functions.DuckWindowRule]] then sees the markers in the
    * analyzed Window's partition spec and computes the frame: GROUPS as
    * a RANGE over the spec's DENSE_RANK, the exclusion as helper windows
    * plus arithmetic. `EXCLUDE NO OTHERS`, the ANSI default, is dropped.
    * WHERE, GROUP BY, DISTINCT, QUALIFY, set operations and qualified
    * stars compose because the rule works on the analyzed plan.
    *
    * GROUPS is for the reference's pinned `duckdb>=1.3.2`
    * (pyproject.toml:8); the local DuckDB 1.0 oracle cannot parse it
    * ("GROUPS mode for window functions is not implemented yet",
    * measured), so its semantics are pinned against hand-derived ANSI
    * goldens (DuckDbDialectSpec) and the soaks' oracle runs a dense-rank
    * equivalent (COVERAGE.md). Spark has no GROUPS token (checked against
    * the 4.1 SqlBaseLexer); ROWS parses and resolves with any number of
    * ORDER BY keys and constant offsets.
    *
    * Checked here, each with a named error: GROUPS offsets must be
    * integer literals or the constant expressions [[foldIntOffset]] folds
    * (a folded expression is replaced by its literal); a negative fold; a
    * GROUPS spec without ORDER BY (both engines reject it); an exclusion
    * kind other than CURRENT ROW, GROUP, TIES or NO OTHERS; and a
    * GROUP/TIES exclusion without a frame clause (DuckDB rejects it too).
    * The shorthand `GROUPS n PRECEDING` is BETWEEN n PRECEDING AND
    * CURRENT ROW, as everywhere else. */
  private def rewriteFrames(lx0: Lex): String = {
    var lx = lx0
    var folded = foldWindowFilter(lx)
    while (folded.isDefined) { lx = new Lex(folded.get); folded = foldWindowFilter(lx) }
    var next = findFrameToken(lx)
    while (next.isDefined) {
      val (at, sp) = next.get
      val sql = lx.s
      // the token's text [from, until) becomes `frame`, and the spec
      // gains `mark` unless it is None
      val (from, until, frame, mark) = if (lx.word(at, "groups")) {
        val m = GroupsBetweenRe.findFirstMatchIn(sql.substring(at))
          .orElse(GroupsSingleRe.findFirstMatchIn(sql.substring(at)))
          .getOrElse(throw new IllegalArgumentException(
            "GROUPS frame: only integer-literal, constant-expression " +
              "((1+1), CAST(2 AS INT)) and UNBOUNDED/CURRENT ROW bounds are " +
              "supported by the dialect shim (a column-dependent offset has " +
              "no rank-space frame)"))
        if (lx.topWord(sp + 1, at, "order") < 0)
          throw new IllegalArgumentException(
            "GROUPS frame requires a window ORDER BY (both engines reject it without one)")
        // ROWS for GROUPS, each offset folded (a literal stays as it is)
        (at, at + m.matched.length,
          "ROWS" + GroupsOffsetRe.replaceAllIn(m.matched.substring("groups".length),
            o => foldIntOffset(o.group(1)).toString + o.group(2)),
          Some(s"${GroupsFrame.Name}()"))
      } else {
        val m = ExcludeRe.findFirstMatchIn(sql.substring(at)).getOrElse(
          throw new IllegalArgumentException(
            "window frame EXCLUDE: expected CURRENT ROW, GROUP, TIES or NO OTHERS"))
        val kind = m.group(1).toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
        if ((kind == "group" || kind == "ties") &&
            lx.topWord(sp + 1, at, "rows", "range", "groups") < 0)
          throw new IllegalArgumentException(
            s"window frame EXCLUDE ${kind.toUpperCase(java.util.Locale.ROOT)} needs an " +
              "explicit frame clause (DuckDB itself rejects a frameless " +
              "exclusion — measured parse error)")
        (lx.back(at - 1) + 1, at + m.matched.length, "",
          if (kind == "no others") None else Some(s"${FrameExclude.Name}('$kind')"))
      }
      val partAt = lx.topWord(sp + 1, at, "partition")
      val (markAt, marked) = mark match {
        case None => (from, "")
        case Some(mk) if partAt < 0 => (lx.fwd(sp + 1), s"PARTITION BY $mk ")
        case Some(mk) => (lx.code(partAt + "partition".length, 1) + "by".length, s" $mk,")
      }
      lx = new Lex(sql.substring(0, markAt) + marked + sql.substring(markAt, from) + frame +
        sql.substring(until))
      next = findFrameToken(lx)
    }
    lx.s
  }

  /** DuckDB-keyword set for the bracket classifier: a '[' straight
    * after one of these is a LIST LITERAL position (`SELECT [1,2]`,
    * `WHEN [..] THEN`, `ARRAY[..]`), not an index on an operand. */
  private val BracketKeywords: Set[String] = Set(
    "select", "from", "where", "when", "then", "else", "end", "and",
    "or", "not", "in", "on", "by", "as", "all", "distinct", "case",
    "union", "intersect", "except", "having", "limit", "offset",
    "join", "cross", "inner", "left", "right", "full", "outer",
    "semi", "anti", "using", "over", "partition", "order", "group",
    "between", "like", "ilike", "is", "null", "asc", "desc", "values",
    "array", "row", "interval", "exists", "any", "some", "escape",
    "nulls", "first", "last", "filter", "within", "window", "qualify",
    "lateral", "natural", "if", "struct", "returning", "cast")

  /** DuckDB bracket syntax (all measured on 1.0): list LITERALS
    * `[e1, e2, …]`, 1-based INDEXING `x[i]` (NULL past either end AND
    * at index 0; negative counts from the end; `x` may be any operand —
    * identifier, call, literal, parenthesized expression or a chained
    * index), and slices `x[a:b]`. Spark parses `x[i]` as 0-BASED
    * GetArrayItem (throwing out of bounds under the default ANSI mode)
    * and rejects bracket literals outright — a bare pass-through is
    * either a parse error or SILENTLY OFF BY ONE, the worst class.
    *
    * Rewrites (outside strings/comments, innermost-last by rescan):
    *  - literal position (bracket follows start of statement, ',', '(',
    *    an operator, or a keyword) → `array(items)`;
    *  - operand position → `try_element_at(operand, nullif(idx, 0))` —
    *    Spark's try_element_at IS DuckDB's indexing (1-based, NULL out
    *    of bounds, negative from the end), and the nullif zero-guard
    *    reproduces l[0] = NULL where Spark's element_at family rejects
    *    index 0 (a NULL index returns NULL on both engines).
    *
    * Bounds: slices `x[a:b]` THROW — the text cannot carry the
    * operand's type (list slice vs string substring); array-TYPE
    * brackets (`CAST(x AS INT[])`, `x::INT[3]`) THROW a named error —
    * Spark spells array types ARRAY<...>; STRING indexing
    * ('abc'[2] = 'b' in DuckDB) surfaces Spark's type error (loud);
    * MAP bracket access diverges by design — DuckDB wraps the value in
    * a one-element LIST, the rewrite yields the scalar (element_at
    * semantics; documented acceptance). */
  private def rewriteBrackets(lx0: Lex): String = {
    var sql = lx0.s
    var guard = 0
    var changed = true
    while (changed && guard < 200) {
      guard += 1
      changed = false
      val lx = if (sql eq lx0.s) lx0 else new Lex(sql)
      var i = 0
      while (i < sql.length && !changed) {
        if (sql(i) == '[' && !lx.masked(i)) {
          val close = lx.closeOf(i, "unbalanced '[' in expression")
          // a ':' outside nested brackets and parens marks a slice
          var nested = 0
          val slice = (i + 1 until close).exists(j => !lx.masked(j) && (sql(j) match {
            case '[' => nested += 1; false
            case ']' => nested -= 1; false
            case ':' => nested == 0 && lx.depthAt(j) == lx.depthAt(i)
            case _ => false
          }))
          val p = lx.back(i - 1)
          // keyword just before the bracket ⇒ literal position; the
          // `ARRAY[...]` spelling consumes its keyword (it abuts the
          // bracket and `array(...)` already says it), other abutting
          // keywords get a separating space
          var kwStart = -1; var kwText = ""
          if (p >= 0 && isIdentChar(sql(p)) && !lx.masked(p)) {
            val w = lx.identTo(p)
            val t = sql.substring(w, p + 1).toLowerCase(java.util.Locale.ROOT)
            if (BracketKeywords.contains(t)) { kwStart = w; kwText = t }
          }
          val kwBefore = kwStart >= 0
          val operandPos = p >= 0 && !kwBefore &&
            (lx.masked(p) || isIdentChar(sql(p)) || sql(p) == ')' || sql(p) == ']')
          if (!operandPos) {
            val spliceAt = if (kwText == "array") kwStart else i
            val sep = if (spliceAt == i && p == i - 1 && kwBefore) " " else ""
            sql = sql.substring(0, spliceAt) + sep + "array(" +
              sql.substring(i + 1, close) + ")" + sql.substring(close + 1)
            changed = true
          } else if (slice) {
            throw new IllegalArgumentException(
              "bracket slice x[a:b] is not supported by the dialect shim: the " +
                "text cannot carry the operand's type (list slice vs string " +
                "substring) — use list_slice(x, a, b) or substring(x, a, n)")
          } else {
            // capture the operand: walk back over a suffix chain of
            // identifiers, '.'-qualified names, call/paren groups,
            // bracket groups and literals
            var s0 = p
            var cont = true
            while (cont && s0 >= 0) {
              if (lx.masked(s0)) { while (s0 >= 0 && lx.masked(s0)) s0 -= 1 }
              else if (sql(s0) == ')' || sql(s0) == ']') s0 = (lx.openOf(s0) max 0) - 1
              else if (isIdentChar(sql(s0))) s0 = lx.identTo(s0) - 1
              else cont = false
              if (cont) {
                if (s0 >= 0 && sql(s0) == '.') s0 -= 1
                else if (!(s0 >= 0 && isIdentChar(sql(s0)))) cont = false
              }
            }
            val opStart = s0 + 1
            val operand = sql.substring(opStart, i).trim
            val idx = sql.substring(i + 1, close).trim
            // TYPE-position brackets: in CAST(x AS INT[]) / x::INT[3]
            // the bracket modifies a type name, not a value — treating
            // it as indexing would emit try_element_at(INT, 3) and
            // surface a misattributed Spark parse error. Detect the
            // two spellings (:: or AS immediately before the captured
            // operand) and throw the NAMED error instead.
            val beforeOp = lx.back(opStart - 1)
            val typePos = beforeOp >= 1 && !lx.masked(beforeOp) && (
              (sql(beforeOp) == ':' && sql(beforeOp - 1) == ':') ||
              (isIdentChar(sql(beforeOp)) &&
                sql.substring(lx.identTo(beforeOp), beforeOp + 1).equalsIgnoreCase("as")))
            if (typePos)
              throw new IllegalArgumentException(
                s"array-type bracket syntax ('$operand[...]', as in CAST(x AS $operand[]) " +
                  s"or x::$operand[n]) is not supported by the dialect shim — " +
                  "Spark spells array types ARRAY<...>")
            require(operand.nonEmpty && idx.nonEmpty,
              s"bracket index: malformed expression near '${sql.substring(opStart, close + 1)}'")
            // zero-guard by index SHAPE: a quoted literal is a MAP key
            // (no zero concept, and nullif(key, 0) would be an ANSI
            // cast error); an integer literal resolves statically; any
            // other expression gets the runtime nullif guard (a
            // COMPUTED string map key through that guard surfaces the
            // cast error loudly — documented, use element_at there)
            val guarded =
              if ("(?s)^'(?:[^']|'')*'$".r.findFirstIn(idx).isDefined)
                s"try_element_at($operand, $idx)"
              else if (idx.matches("[0-9]+"))
                if (idx.toLong == 0L) s"try_element_at($operand, CAST(NULL AS INT))"
                else s"try_element_at($operand, $idx)"
              else if (idx.matches("-[0-9]+"))
                s"try_element_at($operand, $idx)"
              else s"try_element_at($operand, nullif($idx, 0))"
            sql = sql.substring(0, opStart) + guarded + sql.substring(close + 1)
            changed = true
          }
        }
        i += 1
      }
    }
    if (guard >= 200)
      throw new IllegalArgumentException("bracket rewriting did not converge")
    sql
  }

  /** DuckDB spells IGNORE/RESPECT NULLS INSIDE a window function's call
    * parens, as the last token after the arguments (`last_value(x IGNORE
    * NULLS)`, `lag(x, 1 IGNORE NULLS)`); Spark only parses the ANSI
    * TRAILING position (`last_value(x) IGNORE NULLS OVER ...`). Both
    * facts measured on DuckDB 1.0 / Spark 4.1 — neither engine accepts
    * the other's spelling, so this hoists the in-paren form out:
    * `<args> IGNORE NULLS ) OVER` → `<args> ) IGNORE NULLS OVER`. The
    * OVER lookahead pins the rewrite to window calls (the only place
    * DuckDB accepts the modifier), so ordinary identifiers named
    * `ignore`/`nulls` elsewhere are untouched. Spark-style input has no
    * in-paren form to match and passes through byte-identical. */
  private def rewriteIgnoreNulls(lx: Lex): String = {
    val sql = lx.s
    val re = "(?i)\\s+(ignore|respect)\\s+nulls\\s*\\)(?=\\s*over\\b)".r
    re.replaceAllIn(sql, m =>
      if (lx.masked(m.start)) scala.util.matching.Regex.quoteReplacement(m.matched)
      else scala.util.matching.Regex.quoteReplacement(
        s") ${m.group(1).toUpperCase(java.util.Locale.ROOT)} NULLS"))
  }

  /** DuckDB `USING SAMPLE n[%|PERCENT|ROWS]` after a table reference →
    * Spark `TABLESAMPLE (n PERCENT|ROWS)` (round 13). A bare count is
    * rows (DuckDB's default). Equivalence bound, stated: both engines
    * then draw a sample of the requested size — the sampling ALGORITHM
    * differs (DuckDB reservoir vs Spark bernoulli/row-limit), so this
    * is an acceptance rewrite (the statement runs and means the same
    * thing), not a row-identical one; sampling is nondeterministic in
    * the reference too. DuckDB also allows the clause at query level
    * (after WHERE); Spark's TABLESAMPLE is table-level only, so that
    * placement surfaces Spark's parse error — a clear message, never a
    * silently different result. */
  private def rewriteUsingSample(lx: Lex): String = {
    val sql = lx.s
    val b = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val j = if (lx.word(i, "using")) lx.fwd(i + "using".length) else -1
      if (j >= 0 && lx.word(j, "sample")) {
        var k = lx.fwd(j + "sample".length)
        val numStart = k
        while (k < sql.length && (sql(k).isDigit || sql(k) == '.')) k += 1
        require(k > numStart,
          "USING SAMPLE: expected a numeric sample size")
        val num = sql.substring(numStart, k)
        val m = lx.fwd(k)
        val (unit, end) =
          if (m < sql.length && sql(m) == '%') ("PERCENT", m + 1)
          else if (m < sql.length && sql.regionMatches(true, m, "percent", 0, 7) &&
                   (m + 7 >= sql.length || !isIdentChar(sql(m + 7))))
            ("PERCENT", m + 7)
          else if (m < sql.length && sql.regionMatches(true, m, "rows", 0, 4) &&
                   (m + 4 >= sql.length || !isIdentChar(sql(m + 4))))
            ("ROWS", m + 4)
          else ("ROWS", k)
        b.append(s"TABLESAMPLE ($num $unit)")
        i = end
      } else { b.append(sql(i)); i += 1 }
    }
    b.toString
  }

  /** Replace `//` with ` div ` outside string literals. */
  private def rewriteOperatorIntDiv(lx: Lex): String = {
    val sql = lx.s
    val b = new StringBuilder
    var i = 0
    while (i < sql.length) {
      if (!lx.masked(i) && i + 1 < sql.length && sql(i) == '/' && sql(i + 1) == '/') {
        b.append(" div "); i += 2
      } else { b.append(sql(i)); i += 1 }
    }
    b.toString
  }

  /** Case-insensitive rename of `from(` call sites outside strings. Only
    * star `EXCLUDE (c1, c2)` → Spark's `EXCEPT (c1, c2)` uses it: the
    * '('-requirement leaves DuckDB's window-frame `EXCLUDE CURRENT ROW`
    * (no paren; consumed by [[rewriteFrames]]) untouched, and
    * Spark has no EXCLUDE( spelling of its own. */
  private def renameFn(lx: Lex, from: String, to: String): String = {
    val sql = lx.s
    val b = new StringBuilder
    var i = 0
    while (i < sql.length) {
      if (lx.word(i, from) && {
            val j = lx.fwd(i + from.length)
            j < sql.length && sql(j) == '('
          }) {
        b.append(to); i += from.length
      } else { b.append(sql(i)); i += 1 }
    }
    b.toString
  }

  /** Find each `fname( args )` call outside strings, split its top-level
    * args, and substitute `f(args)`; `f` returns None to leave a call
    * site untouched (scanning resumes after it) — needed for names both
    * dialects define with different arities, e.g. DuckDB's 3-arg
    * date_diff('part', a, b) vs Spark's own 2-arg date_diff(end, start),
    * whose Spark spelling must survive byte-identical. A replacement
    * restarts the scan, so nested occurrences in rewritten output are
    * handled too. */
  private def rewriteCalls(lx0: Lex, fname: String)(
      f: Seq[String] => Option[String]): String = {
    var s = lx0.s
    var from = 0
    var guard = 0
    while (guard < 200) {
      guard += 1
      val lx = if (s eq lx0.s) lx0 else new Lex(s)
      val found = lx.find(from)(i => lx.word(i, fname) && {
        val j = lx.fwd(i + fname.length)
        j < s.length && s(j) == '('
      })
      if (found < 0) return s
      val open = s.indexOf('(', found + fname.length)
      val argEnd = lx.closeOf(open, s"$fname(: unbalanced parentheses in SQL")
      val args = lx.split(',', open + 1, argEnd).map(_.trim).filter(_.nonEmpty)
      f(args) match {
        case Some(repl) =>
          s = s.substring(0, found) + repl + s.substring(argEnd + 1)
          from = 0
        case None =>
          from = found + fname.length
      }
    }
    throw new IllegalArgumentException(s"$fname rewrite did not converge")
  }

  // ---- function spellings Spark cannot take as a call -----------------

  /** DuckDB struct_pack(a := 1, b := x): named-field struct literal —
    * Spark spells it named_struct('a', 1, 'b', x). */
  private def structPackCall(args: Seq[String]): Option[String] = {
    val field = "(?s)^([A-Za-z_][A-Za-z0-9_]*)\\s*:=\\s*(.+)$".r
    val pairs = args.map {
      case field(n, e) => s"'$n', ${e.trim}"
      case other => throw new IllegalArgumentException(
        s"struct_pack: expected name := expr, got '$other'")
    }
    Some(s"named_struct(${pairs.mkString(", ")})")
  }

  /** DuckDB's 2-arg regexp_extract(s, re) returns the FULL MATCH (group
    * 0); Spark's 2-arg form DEFAULTS TO GROUP 1 and errors when the
    * pattern has no group. The gateway serves DuckDB semantics, so the
    * 2-arg form pins idx=0 explicitly; 3-arg calls agree already and
    * pass through. */
  private def regexpExtractCall(args: Seq[String]): Option[String] =
    if (args.size == 2) Some(s"regexp_extract(${args(0)}, ${args(1)}, 0)")
    else None

  /** DuckDB's 3-arg date_diff('part', start, end) / datediff alias:
    * counts PART BOUNDARIES CROSSED between start and end (measured:
    * month of Jan-31→Feb-01 is 1; Jan-01→Mar-31 is 2 — boundary
    * crossings, NOT elapsed complete months), signed by direction.
    * Spark has no boundary-crossing dateDiff, so each part becomes its
    * boundary arithmetic: calendar parts difference their part index
    * (year/quarter/month), week differences Monday-truncated dates
    * (both engines' weeks are ISO-Monday), day is datediff, and
    * sub-day parts difference the SESSION-LOCAL part truncation
    * (unix_micros of date_trunc), so boundary counts follow the local
    * clock like DuckDB's naive timestamps even in half-hour-offset
    * zones where a raw epoch floor lands mid-hour; both truncations
    * sit on local part boundaries, so the micros delta is an exact
    * unit multiple and `div` is exact. Residual bound: across a DST
    * transition Spark's local clock skips/repeats an hour while
    * DuckDB's naive timestamps do not — counts diverge inside the
    * transition hour only (the gateway's sessions pin UTC).
    * Results CAST BIGINT (DuckDB's type). The 2-arg Spark spelling and
    * non-literal part expressions pass through untouched; an
    * unsupported part name throws with the supported list. DuckDB's
    * date_sub family (COMPLETE elapsed intervals, a different count) is
    * NOT mapped — Spark's arity error surfaces, documented bound. */
  private def dateDiffCall(args: Seq[String]): Option[String] = {
    if (args.size != 3) return None
    val lit = "(?s)^'([A-Za-z]+)'$".r
    val part = args(0) match {
      case lit(p) =>
        val t = p.toLowerCase(java.util.Locale.ROOT)
        if (t.endsWith("s")) t.dropRight(1) else t
      case _ => return None
    }
    val s0 = args(1); val e0 = args(2)
    def truncDiff(unit: String, unitMicros: Long): String =
      s"((unix_micros(date_trunc('$unit', CAST($e0 AS TIMESTAMP))) - " +
        s"unix_micros(date_trunc('$unit', CAST($s0 AS TIMESTAMP)))) div $unitMicros)"
    Some(part match {
      case "year" => s"CAST(year($e0) - year($s0) AS BIGINT)"
      case "quarter" =>
        s"CAST((year($e0) * 4 + quarter($e0)) - (year($s0) * 4 + quarter($s0)) AS BIGINT)"
      case "month" =>
        s"CAST((year($e0) * 12 + month($e0)) - (year($s0) * 12 + month($s0)) AS BIGINT)"
      case "week" =>
        s"CAST(datediff(date_trunc('week', $e0), date_trunc('week', $s0)) / 7 AS BIGINT)"
      case "day" => s"CAST(datediff($e0, $s0) AS BIGINT)"
      case "hour" => truncDiff("hour", 3600000000L)
      case "minute" => truncDiff("minute", 60000000L)
      case "second" => truncDiff("second", 1000000L)
      case "millisecond" => truncDiff("millisecond", 1000L)
      case "microsecond" => truncDiff("microsecond", 1L)
      case other => throw new IllegalArgumentException(
        s"date_diff part '$other' is not supported by the dialect shim " +
          "(year/quarter/month/week/day/hour/minute/second/millisecond/microsecond)")
    })
  }

}
