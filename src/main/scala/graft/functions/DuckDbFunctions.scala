package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.PercentileDisc
import org.apache.spark.sql.types.{DayTimeIntervalType, DoubleType, LongType, StringType, TimestampType, YearMonthIntervalType}
import org.apache.spark.unsafe.types.UTF8String

import GraftExtensions.{Entry, entry}

/** The DuckDB function surface of the gateway: every DuckDB function
  * Spark's parser reads but Spark does not define, as a Catalyst
  * function builder. [[GraftExtensions]] injects [[table]] into every
  * session, so `spark.sql("SELECT list_value(1, 2)")` resolves like any
  * builtin — the dialect shim (engine.DuckDbDialect) keeps text surgery
  * only for syntax Spark's parser cannot read.
  *
  * Two kinds of entry:
  *  - aliases: same arity and argument order as a Spark builtin. The
  *    builder returns that builtin's own expression, so the analyzer
  *    still applies DISTINCT, FILTER, OVER, lambdas and generators, and
  *    the auto-generated column name is the Spark spelling's.
  *  - translations: DuckDB's measured semantics differ from the nearest
  *    builtin (argument order, NULL handling, 1-based indexing, literal
  *    formats). Each builds the Spark expression tree over the analyzed
  *    arguments; format, delimiter, aggregate-name and INTERVAL
  *    arguments must arrive as literals, and every unsupported form
  *    throws an IllegalArgumentException naming itself.
  *
  * A name Spark already defines is never registered here except `len`
  * (an override would change Spark SQL for the whole session,
  * DataFrame code included); DuckDbDialectSpec pins that boundary.
  */
object DuckDbFunctions {

  /** The Spark builtin `name` over already-built arguments. */
  private def builtin(name: String, args: Expression*): Expression =
    FunctionRegistry.builtin.lookupFunction(FunctionIdentifier(name), args)

  private def alias(duck: String, target: String): Entry =
    entry(duck, s"$duck(...) - DuckDB spelling of Spark's $target")(
      args => builtin(target, args: _*))

  /** A lambda `(names) -> body`, bound by the analyzer exactly like a
    * parsed one. */
  private def lambda(names: String*)(body: Seq[Expression] => Expression): LambdaFunction = {
    val vars = names.map(n => UnresolvedNamedLambdaVariable(Seq(n)))
    LambdaFunction(body(vars), vars)
  }

  private def arity(name: String, args: Seq[Expression], n: Int, shape: String): Unit =
    require(args.size == n, s"$name: expected $shape, got ${args.size}")

  private def stringLiteral(e: Expression): Option[String] = e match {
    case Literal(v: UTF8String, _: StringType) => Some(v.toString)
    case _ => None
  }

  private def lit(v: Any): Literal = Literal(v)
  private val nullLit = Literal(null)

  val table: Seq[Entry] = Seq(
    alias("list_value", "array"),
    alias("list_pack", "array"),
    alias("list_contains", "array_contains"),
    alias("list_has", "array_contains"),
    alias("list_length", "array_size"),
    alias("list_sort", "array_sort"),
    alias("list_position", "array_position"),
    alias("list_indexof", "array_position"),
    alias("list_min", "array_min"),
    alias("list_max", "array_max"),
    // both inclusive-end list builders with an optional step; the TABLE-
    // function placement (FROM generate_series(...)) has no Spark twin
    // and surfaces Spark's error — clear, not silently wrong
    alias("generate_series", "sequence"),
    alias("regexp_matches", "regexp_like"),
    alias("epoch_ms", "unix_millis"),
    alias("epoch_us", "unix_micros"),
    // measured-equal twins: arg_max/arg_min(x, y) IS max_by/min_by(x, y)
    // (value of x at the extreme y; NULL y rows skipped by both); list
    // lambdas map 1:1 (same `x ->` syntax); `list(x)` is the
    // collect_list aggregate (ORDER BY inside the call surfaces Spark's
    // parse error — loud); quantile_cont(x, q) is Spark's
    // `percentile(x, q)` — the same linear interpolation, measured, and
    // the array-of-quantiles form carries over; a basic unnest(list) in
    // the select list is explode (struct-unnest and DuckDB's
    // multi-unnest zipping surface Spark's generator errors)
    alias("arg_max", "max_by"),
    alias("arg_min", "min_by"),
    alias("argmax", "max_by"),
    alias("argmin", "min_by"),
    alias("list_transform", "transform"),
    alias("list_apply", "transform"),
    alias("list_filter", "filter"),
    alias("quantile_cont", "percentile"),
    alias("list", "collect_list"),
    alias("unnest", "explode"),
    // string predicates and position, list mutation, reversal (each
    // measured on both engines)
    alias("starts_with", "startswith"),
    alias("ends_with", "endswith"),
    alias("prefix", "startswith"),
    alias("suffix", "endswith"),
    alias("strpos", "instr"),
    alias("list_reverse", "reverse"),
    alias("array_reverse", "reverse"),
    alias("list_append", "array_append"),
    // regex split: Spark's split IS regex-based — the names map 1:1
    alias("string_split_regex", "split"),
    alias("str_split_regex", "split"),
    alias("regexp_split_to_array", "split"),
    entry("len", "len(x) - DuckDB len: chars of a string, bytes of a blob, elements of a list (BIGINT)") {
      e => require(e.size == 1, "len takes 1 argument"); DuckLen(e.head)
    },
    entry("array_length", "array_length(l) - DuckDB array_length: element count of a list (BIGINT)") {
      e => require(e.size == 1, "array_length takes 1 argument"); DuckLen(e.head)
    },
    entry("list_prepend", "list_prepend(e, l) - DuckDB list_prepend: e in front of l")(listPrepend),
    entry("list_unique", "list_unique(l) - DuckDB list_unique: count of distinct non-NULL elements")(listUnique),
    entry("list_aggregate", "list_aggregate(l, 'name') - DuckDB list_aggregate: sum/min/max/count/avg over l")(listAggregate),
    entry("list_extract", "list_extract(l, i) - DuckDB list_extract: 1-based element, NULL out of bounds")(listExtract),
    entry("array_extract", "array_extract(l, i) - DuckDB array_extract: 1-based element, NULL out of bounds")(listExtract),
    entry("list_has_any", "list_has_any(a, b) - DuckDB list_has_any: a and b share a non-NULL element")(listHasAny),
    entry("array_has_any", "array_has_any(a, b) - DuckDB array_has_any: a and b share a non-NULL element")(listHasAny),
    entry("list_has_all", "list_has_all(l, sub) - DuckDB list_has_all: every element of sub is in l")(listHasAll),
    entry("array_has_all", "array_has_all(l, sub) - DuckDB array_has_all: every element of sub is in l")(listHasAll),
    entry("list_slice", "list_slice(l, b, e) - DuckDB list_slice: 1-based inclusive bounds")(listSlice),
    entry("list_distinct", "list_distinct(l) - DuckDB list_distinct: distinct non-NULL elements")(listDistinct),
    entry("array_to_string", "array_to_string(l, sep) - DuckDB array_to_string: NULL when no non-NULL element")(arrayToString),
    entry("list_concat", "list_concat(a, b) - DuckDB list_concat: a NULL side counts as empty")(listConcat),
    entry("list_cat", "list_cat(a, b) - DuckDB list_cat: a NULL side counts as empty")(listConcat),
    entry("string_split", "string_split(s, 'd') - DuckDB string_split: split on a literal delimiter")(stringSplit),
    entry("str_split", "str_split(s, 'd') - DuckDB str_split: split on a literal delimiter")(stringSplit),
    entry("string_to_array", "string_to_array(s, 'd') - DuckDB string_to_array: split on a literal delimiter")(stringSplit),
    entry("strftime", "strftime(ts, '%fmt') - DuckDB strftime: format with C-style %-codes")(fmtCall("date_format")),
    entry("strptime", "strptime(s, '%fmt') - DuckDB strptime: parse with C-style %-codes")(fmtCall("to_timestamp")),
    entry("epoch", "epoch(ts) - DuckDB epoch: DOUBLE seconds since 1970, fraction kept")(epoch),
    entry("quantile_disc", "quantile_disc(x, q) - DuckDB quantile_disc: discrete quantile")(quantileDisc),
    entry("quantile", "quantile(x, q) - DuckDB quantile: discrete quantile")(quantileDisc),
    entry("time_bucket", "time_bucket(INTERVAL w, ts[, origin]) - DuckDB time_bucket: start of ts's width-w bucket")(timeBucket))

  /** DuckDB list_prepend(elem, list): the ARGUMENT ORDER is reversed
    * vs Spark's array_prepend(list, elem) — an alias would be the
    * silent swapped-args class. */
  private def listPrepend(args: Seq[Expression]): Expression = {
    arity("list_prepend", args, 2, "(element, list)")
    builtin("array_prepend", args(1), args(0))
  }

  /** DuckDB list_unique(l): the number of DISTINCT NON-NULL elements
    * (measured: list_unique([1,2,2,3,NULL]) = 3 — NULL is excluded,
    * where a bare size(array_distinct(l)) would count it). */
  private def listUnique(args: Seq[Expression]): Expression = {
    arity("list_unique", args, 1, "1 argument")
    builtin("size", builtin("filter", builtin("array_distinct", args.head),
      lambda("__lu_x")(x => IsNotNull(x.head))))
  }

  /** DuckDB list_aggregate(l, 'name'): apply a named aggregate over the
    * list. The supported names map to Spark's array algebra — count
    * counts non-NULLs, avg is the sum/count pair. Other names throw
    * with the supported list.
    *
    * The fold runs over the NULL-FILTERED list (DuckDB's aggregates
    * skip NULL elements), accumulating in DOUBLE: the seed is the first
    * element cast to double times zero — 0.0 on a non-empty list, NULL
    * on an empty one (DuckDB's empty-sum), and a stable accumulator
    * type for int, double AND decimal element types (an element-typed
    * decimal seed grows precision per addition and fails Spark's lambda
    * type check — measured). The result type is therefore DOUBLE where
    * DuckDB keeps the element-derived type — value-equal within 2^53,
    * the quantile_disc-style widening bound. */
  private def listAggregate(args: Seq[Expression]): Expression = {
    require(args.size == 2,
      s"list_aggregate: expected (list, 'name'), got ${args.size} arguments")
    val l = args(0)
    val name = stringLiteral(args(1)).map(_.toLowerCase(java.util.Locale.ROOT))
    def fl = builtin("filter", l, lambda("__la_x")(x => IsNotNull(x.head)))
    def sum0 = builtin("aggregate", fl,
      Multiply(Cast(builtin("try_element_at", fl, lit(1)), DoubleType), lit(0)),
      lambda("__la_a", "__la_b")(v => Add(v(0), v(1))))
    def cnt = builtin("size", fl)
    name match {
      case Some("sum") => sum0
      case Some("min") => builtin("array_min", l)
      case Some("max") => builtin("array_max", l)
      case Some("count") => cnt
      case Some("avg" | "mean") => CaseWhen(Seq(GreaterThan(cnt, lit(0)) -> Divide(sum0, cnt)))
      case other => throw new IllegalArgumentException(
        s"list_aggregate name '${other.getOrElse(args(1).sql)}' is not supported by the " +
          "dialect shim (sum/min/max/count/avg)")
    }
  }

  /** DuckDB list_extract(l, i) / array_extract: 1-based, negative from
    * the end, NULL for index 0 and out-of-bounds (all measured on
    * DuckDB 1.0: extract([1,2,3], 0) = NULL, (-1) = 3, (9) = NULL).
    * Spark's try_element_at matches everywhere EXCEPT index 0, which it
    * rejects at runtime — the same nullif(idx, 0) guard the bracket
    * rewrite uses pins that case to NULL. Bound: DuckDB also accepts a
    * VARCHAR first argument (character extraction); Spark's element_at
    * family is array/map-only, so string inputs surface Spark's type
    * error (loud), same as the bracket rewrite's documented bound. */
  private def listExtract(args: Seq[Expression]): Expression = {
    arity("list_extract", args, 2, "(list, index)")
    builtin("try_element_at", args(0), builtin("nullif", args(1), lit(0)))
  }

  /** DuckDB list_has_any(a, b): TRUE when the lists share a NON-NULL
    * element, FALSE when both are non-NULL lists without a shared
    * element — NULL elements never match (measured:
    * has_any([1,NULL],[NULL]) = false) — and NULL when EITHER list
    * argument is NULL (measured: has_any(NULL,[1,2]) = NULL, both
    * positions). Spark's arrays_overlap is three-valued on NULL
    * *elements* (NULL when no match but NULLs present), so the no-match
    * case is pinned to false with coalesce — but only under non-NULL
    * list arguments, so the whole-argument-NULL case still propagates
    * NULL like DuckDB. */
  private def listHasAny(args: Seq[Expression]): Expression = {
    arity("list_has_any", args, 2, "2 lists")
    val (a, b) = (args(0), args(1))
    CaseWhen(Seq(Or(IsNull(a), IsNull(b)) -> nullLit),
      builtin("coalesce", builtin("arrays_overlap", a, b), lit(false)))
  }

  /** DuckDB list_has_all(l, sub): TRUE when every element of sub is in
    * l — including NULL matching NULL (measured:
    * has_all([1,NULL],[NULL]) = true; has_all(l, []) = true) — and NULL
    * when either LIST argument is NULL (measured: has_all(NULL,[1]) =
    * NULL, has_all([1],NULL) = NULL). Spark has no direct twin; forall
    * + a NULL-aware membership test reproduces the element semantics
    * exactly (bare array_contains is three-valued on NULL-bearing
    * lists, hence the coalesce), and forall already propagates a NULL
    * sub — the CASE adds the NULL-l half so a NULL list on either side
    * yields NULL instead of a fabricated false. */
  private def listHasAll(args: Seq[Expression]): Expression = {
    arity("list_has_all", args, 2, "2 lists")
    val (l, sub) = (args(0), args(1))
    CaseWhen(Seq(IsNull(l) -> nullLit), builtin("forall", sub, lambda("__ha_x") { x =>
      CaseWhen(Seq(IsNull(x.head) -> builtin("exists", l, lambda("__ha_y")(y => IsNull(y.head)))),
        builtin("coalesce", builtin("array_contains", l, x.head), lit(false)))
    }))
  }

  /** DuckDB's list_slice(l, b, e) takes a 1-based INCLUSIVE end index
    * (negative indexes count from the end, 0 behaves as 1, out-of-range
    * bounds clamp — all measured), while Spark's slice takes a LENGTH —
    * a bare alias would return one extra element for every
    * positive-end call. Translated positionally:
    * start = clamp(b), length = max(0, pos(e) − pos(b) + 1). The 4-arg
    * step form throws. */
  private def listSlice(args: Seq[Expression]): Expression = {
    require(args.size == 3,
      s"list_slice: expected (list, begin, end) — got ${args.size} arguments " +
        "(the 4-arg step form is not supported)")
    val Seq(l, b, e) = args
    val size = builtin("size", l)
    val pb = CaseWhen(Seq(LessThan(b, lit(0)) -> builtin("greatest", lit(1), Add(Add(size, b), lit(1)))),
      builtin("greatest", lit(1), b))
    val pe = CaseWhen(Seq(LessThan(e, lit(0)) -> Add(Add(size, e), lit(1))), e)
    builtin("slice", l, pb, builtin("greatest", lit(0), Add(Subtract(pe, pb), lit(1))))
  }

  /** DuckDB's list_distinct REMOVES NULL elements (measured:
    * list_distinct([1,NULL,1,2,NULL]) = [2,1]); a bare array_distinct
    * keeps one NULL, so NULLs are filtered first. Element ORDER is an
    * ACCEPTANCE bound (the USING SAMPLE precedent): DuckDB returns hash
    * order ([3,1,3,2] → [2,1,3] — measured, not first-occurrence),
    * Spark first-occurrence order — both are "the distinct elements",
    * deterministically per engine, but not bit-identical; wrap in
    * list_sort for a cross-engine-stable spelling. */
  private def listDistinct(args: Seq[Expression]): Expression = {
    arity("list_distinct", args, 1, "1 argument")
    builtin("array_distinct",
      builtin("filter", args.head, lambda("__ls_t")(t => IsNotNull(t.head))))
  }

  /** DuckDB's array_to_string returns NULL when the list has NO
    * non-null elements — empty list, [NULL], or a NULL list — and joins
    * the non-null elements otherwise (measured: [''] gives '', ['','x']
    * gives '+x', [NULL,'x'] gives 'x'). Spark's array_join returns ''
    * for the empty cases (round-14 dlst fuzz, seed 14011, 2/300). Both
    * engines skip NULL elements once something non-null remains. */
  private def arrayToString(args: Seq[Expression]): Expression = {
    arity("array_to_string", args, 2, "2 arguments")
    val l = args(0)
    val nonNull = builtin("filter", l, lambda("__ats_t")(t => IsNotNull(t.head)))
    CaseWhen(Seq(EqualTo(builtin("size", nonNull), lit(0)) -> nullLit),
      builtin("array_join", l, args(1)))
  }

  /** DuckDB's list_concat treats a NULL side as EMPTY (measured:
    * list_concat(NULL, [1,2]) = [1,2]; both-NULL = NULL), while Spark's
    * concat is NULL-propagating. Exactly two arguments in DuckDB 1.0
    * (the variadic spelling is a binder error there too). */
  private def listConcat(args: Seq[Expression]): Expression = {
    arity("list_concat", args, 2, "2 arguments")
    val (a, b) = (args(0), args(1))
    CaseWhen(Seq(IsNull(a) -> b, IsNull(b) -> a), builtin("concat", a, b))
  }

  /** DuckDB's string_split splits on a LITERAL delimiter; Spark's split
    * takes a Java REGEX — an alias would silently break any metachar
    * delimiter (measured: string_split('a.b.c', '.') is ['a','b','c']
    * in DuckDB but six empty strings through a bare split-on-'.'). A
    * literal delimiter is regex-escaped per character; a non-literal
    * delimiter expression throws (wrapping an arbitrary expression in
    * \Q..\E would itself break on values containing \E — bounded,
    * never silently wrong). With the escape in place the edge behaviors
    * are measured identical: trailing empties kept, empty delimiter
    * splits per character, empty input gives [''], and consecutive
    * delimiters yield empty middle elements. */
  private def stringSplit(args: Seq[Expression]): Expression = {
    arity("string_split", args, 2, "2 arguments")
    val raw = stringLiteral(args(1)).getOrElse(throw new IllegalArgumentException(
      "string_split: only a string-literal delimiter is supported by the dialect shim " +
        "(a non-literal delimiter cannot be regex-quoted safely)"))
    val meta = "\\^$.|?*+()[]{}"
    val escaped = raw.flatMap(c => if (meta.indexOf(c.toInt) >= 0) s"\\$c" else c.toString)
    builtin("split", args(0), lit(escaped))
  }

  /** strftime %-codes → Spark datetime pattern letters. */
  private val fmtCodes: Map[Char, String] = Map(
    'Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'd' -> "dd",
    'H' -> "HH", 'I' -> "hh", 'M' -> "mm", 'S' -> "ss",
    'p' -> "a", 'j' -> "DDD", 'a' -> "EEE", 'A' -> "EEEE",
    'b' -> "MMM", 'B' -> "MMMM", 'f' -> "SSSSSS", 'g' -> "SSS",
    'G' -> "yyyy", 'n' -> "M", 'e' -> "d", '%' -> "%")

  /** strftime/strptime: the format is the string literal containing `%`
    * codes among the two arguments — DuckDB order (value, fmt) and
    * sqlite order (fmt, value) are both accepted — converted to a Spark
    * pattern for `target(value, pattern)`. */
  private def fmtCall(target: String)(args: Seq[Expression]): Expression = {
    arity("strftime/strptime", args, 2, "2 arguments")
    def fmtOf(e: Expression) = stringLiteral(e).filter(_.contains("%"))
    val (value, fmt) = fmtOf(args(1)).map(f => (args(0), f))
      .orElse(fmtOf(args(0)).map(f => (args(1), f)))
      .getOrElse(throw new IllegalArgumentException(
        s"strftime/strptime: no %-format string literal among (${args.map(_.sql).mkString(", ")})"))
    builtin(target, value, lit(convertFormat(fmt)))
  }

  /** C-style strftime format → Spark datetime pattern: %-codes map via
    * [[fmtCodes]]; runs of literal letters are wrapped in ONE quoted
    * section (per-letter quoting would read 'a''b' as the literal a'b —
    * '' is an escaped quote inside a pattern); an unrecognized %-code
    * throws with the offending code named. */
  private[graft] def convertFormat(fmt: String): String = {
    val b = new StringBuilder
    val lit = new StringBuilder // pending literal run that needs quoting
    def flush(): Unit = if (lit.nonEmpty) {
      b.append('\'').append(lit.toString.replace("'", "''")).append('\'')
      lit.clear()
    }
    var i = 0
    while (i < fmt.length) {
      val c = fmt(i)
      if (c == '%') {
        if (i + 1 >= fmt.length) throw new IllegalArgumentException(
          "strftime format ends with a bare %")
        val code = fmt(i + 1)
        flush()
        b.append(fmtCodes.getOrElse(code, throw new IllegalArgumentException(
          s"strftime format code %$code has no Spark pattern mapping")))
        i += 2
      } else if (c.isLetter || c == '\'') { lit.append(c); i += 1 }
      else { flush(); b.append(c); i += 1 }
    }
    flush()
    b.toString
  }

  /** epoch(ts): DuckDB returns DOUBLE seconds INCLUDING the fractional
    * part (bit-identical to epoch_us/1e6) — an alias of unix_timestamp
    * would floor to whole seconds and round differently under a later
    * CAST. The exact translation divides microseconds as a double. */
  private def epoch(args: Seq[Expression]): Expression = {
    arity("epoch", args, 1, "1 argument")
    Divide(builtin("unix_micros", args.head), lit(1.0e6))
  }

  /** DuckDB quantile_disc(x, q) / its alias quantile(x, q): the
    * discrete quantile — the smallest element whose cumulative
    * distribution reaches q. Spark's twin is the ANSI
    * `percentile_disc(q) WITHIN GROUP (ORDER BY x)` aggregate (measured
    * equal on DuckDB 1.0: quantile_disc over 1..4 gives 2 at 0.5 and 1
    * at 0.25, exactly percentile_disc's smallest-cum≥q element; the
    * result TYPE widens to double where DuckDB keeps the element type —
    * same element value, callers cast). The CONTINUOUS twin
    * quantile_cont is the `percentile` alias above. Array-q
    * quantile_disc surfaces percentile_disc's loud type error —
    * documented bound. */
  private def quantileDisc(args: Seq[Expression]): Expression = {
    require(args.size == 2,
      s"quantile_disc/quantile: expected (value, quantile), got ${args.size} arguments")
    PercentileDisc(args(0), args(1))
  }

  private val MicrosPerSecond = 1000000L
  private val TruncUnits = Map(1L -> "second", 60L -> "minute", 3600L -> "hour",
    86400L -> "day", 604800L -> "week")

  /** time_bucket(INTERVAL w, ts[, origin]). Spark's parser reads
    * `INTERVAL '15 minutes'` / `'2 weeks'` / `'2 months'` as typed
    * day-time / year-month literals, so the width arrives as a value:
    *  - no origin: a width of exactly one second/minute/hour/day/week/
    *    month/year is date_trunc of that unit. Other whole-second widths
    *    floor relative to DuckDB's measured default origin
    *    2000-01-03 00:00:00 UTC (946857600 s; measured on 2-day/5-hour/
    *    90-minute/7-second/2-week widths incl. pre-origin floors — epoch
    *    alignment agrees only for widths dividing 946857600). Month
    *    widths floor with pmod from the measured 2000-01-01 origin
    *    (2-month bucket of 1999-02-03 → 1999-01-01; 2-year of
    *    1997-07-14 → 1996-01-01), so pre-2000 instants round DOWN.
    *  - explicit origin (measured on DuckDB 1.0): second granularity
    *    keeps the origin's FULL sub-bucket offset (3-day origin
    *    2024-01-02 12:00 → boundaries at 12:00); month granularity
    *    truncates the origin to its month start (origin 2024-02-15
    *    06:00 → boundaries 02-01, 04-01, …); instants before the origin
    *    floor downward in both.
    * FLOOR of the double quotient is exact: both operands stay far
    * below 2^53. A width that is not a positive literal of whole seconds
    * or whole months throws. */
  private def timeBucket(args: Seq[Expression]): Expression = {
    require(args.size == 2 || args.size == 3,
      s"time_bucket: expected 2 or 3 arguments, got ${args.size}")
    val ts = args(1)
    val origin = args.lift(2)
    def year(e: Expression) = builtin("year", e)
    def month(e: Expression) = builtin("month", e)
    def truncTo(unit: String) = builtin("date_trunc", lit(unit), ts)
    def floorSeconds(w: Long, oe: Expression) =
      builtin("timestamp_seconds", Add(Multiply(Cast(Floor(
        Divide(Subtract(builtin("unix_timestamp", ts), oe), lit(w))), LongType), lit(w)), oe))
    def floorMonths(n: Int, base: Expression, months: Expression) =
      Cast(builtin("add_months", base, Subtract(months, builtin("pmod", months, lit(n)))),
        TimestampType)
    args(0) match {
      case Literal(n: Int, _: YearMonthIntervalType) if n > 0 => origin match {
        case Some(o) =>
          floorMonths(n, builtin("date_trunc", lit("month"), o),
            Subtract(Add(Multiply(Subtract(year(ts), year(o)), lit(12)), month(ts)), month(o)))
        case None if n == 1 => truncTo("month")
        case None if n == 12 => truncTo("year")
        case None =>
          floorMonths(n, lit(java.time.LocalDate.of(2000, 1, 1)),
            Subtract(Add(Multiply(Subtract(year(ts), lit(2000)), lit(12)), month(ts)), lit(1)))
      }
      case Literal(us: Long, _: DayTimeIntervalType) if us > 0 && us % MicrosPerSecond == 0 =>
        val w = us / MicrosPerSecond
        origin match {
          case Some(o) => floorSeconds(w, builtin("unix_timestamp", o))
          case None => TruncUnits.get(w).map(truncTo).getOrElse(floorSeconds(w, lit(946857600L)))
        }
      case other => throw new IllegalArgumentException(
        "time_bucket: first argument must be a positive INTERVAL literal of whole seconds " +
          s"or whole months, got ${other.sql}")
    }
  }
}
