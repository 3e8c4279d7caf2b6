package graft.tools

import scala.util.Random

/** Seeded bounded-grammar differential SELECT fuzzer.
  *
  * The reference's capability contract is "any DuckDB-compatible SELECT
  * over the registered table" (/root/reference/doc.py:186-188). The 120
  * hand-written operator queries SAMPLE that surface; this generator
  * COVERS it: it emits ANSI-common SQL (the dialect intersection of
  * Spark SQL and DuckDB), runs each statement through `spark.sql`, and
  * hands the identical text to the DuckDB oracle via the existing
  * `tools/check_oracle.py` plumbing (oracle_sql.json + one parquet dir
  * per query — the same artifact shape Verify.scala produces).
  *
  * Determinism rules baked into the grammar (each one is a class of
  * false-positive divergence that would otherwise drown real bugs):
  *  - every query ORDER BYs **all** output columns by ordinal with an
  *    explicit NULLS FIRST/LAST (Spark defaults ASC→NULLS FIRST while
  *    DuckDB defaults ASC→NULLS LAST); ties are then full-row duplicates,
  *    which compare equal under the oracle's row-order comparison, so a
  *    unique key is NOT required — important because (l_orderkey,
  *    l_linenumber) is not unique in the driver's lineitem;
  *  - window ORDER BY clauses end in a genuinely unique key of the
  *    table (o_orderkey, event_id, …) so ROW_NUMBER/LAG/LEAD are
  *    well-defined;
  *  - SUM over money-style doubles uses the shared fixed-point image
  *    `CAST(SUM(CAST(FLOOR(e*100+0.5) AS BIGINT)) AS DOUBLE)/100.0`
  *    (see [[graft.ops.Tables.oSum]]) — order-independent, so Spark's
  *    parallel partial aggregation and DuckDB's sequential sum agree to
  *    the bit; plain SUM(double) would differ in the last ulps;
  *  - bare FLOOR never escapes into a projection: Spark's FLOOR(double)
  *    returns BIGINT while DuckDB's returns DOUBLE, so FLOOR is always
  *    wrapped in an explicit CAST;
  *  - integer aggregates are CAST(... AS BIGINT): DuckDB widens SUM to
  *    INT128 (pandas-materialized as float64), Spark keeps BIGINT;
  *  - `/` is only applied to operands cast to DOUBLE (identical IEEE
  *    division on both engines); `//`/`div` (dialect-specific) never
  *    appear;
  *  - UPPER/LOWER touch only known-ASCII columns (documents.text is
  *    multilingual and the engines' case tables could drift).
  *
  * The generator is pure given (seed, count): `java.util.Random`'s LCG is
  * specified, so the same seed reproduces the same suite on any JVM —
  * FuzzSpec pins this.
  */
final class SqlFuzzer(seed: Long) {
  private val rnd = new Random(seed)

  // ---- data model (column kinds drive the typed grammar) ---------------
  private sealed trait Kind
  private case object IntK extends Kind      // integral, non-negative in data
  private case object MoneyK extends Kind    // double with ≤2dp true value
  private case object StrK extends Kind      // ASCII, low-to-mid cardinality
  private case object TsK extends Kind       // µs timestamp

  private final case class Col(name: String, kind: Kind)
  private final case class Table(
      name: String,
      cols: Seq[Col],
      uniqueKey: Option[String],
      pools: Map[String, Seq[String]],     // string col -> sampled domain
      intRanges: Map[String, (Long, Long)],
      moneyRanges: Map[String, (Double, Double)],
      tsRange: Option[(String, String)])   // inclusive 'yyyy-MM-dd' days

  // Domains sampled once from the driver's deterministic sf0.01 testdata
  // (seed=42 generator, TESTDATA.md); they only steer predicate
  // selectivity — a literal outside the live range still compares
  // correctly (often as an empty result on both engines).
  private val lineitem = Table("lineitem",
    Seq(Col("l_orderkey", IntK), Col("l_partkey", IntK), Col("l_suppkey", IntK),
      Col("l_linenumber", IntK), Col("l_quantity", MoneyK),
      Col("l_extendedprice", MoneyK), Col("l_discount", MoneyK),
      Col("l_tax", MoneyK), Col("l_returnflag", StrK), Col("l_linestatus", StrK),
      Col("l_shipdate", TsK)),
    uniqueKey = None,
    pools = Map("l_returnflag" -> Seq("A", "N", "R"),
      "l_linestatus" -> Seq("F", "O")),
    intRanges = Map("l_orderkey" -> (0L, 15000L), "l_partkey" -> (0L, 2000L),
      "l_suppkey" -> (0L, 100L), "l_linenumber" -> (1L, 7L)),
    moneyRanges = Map("l_quantity" -> (1.0, 50.0),
      "l_extendedprice" -> (900.0, 105000.0), "l_discount" -> (0.0, 0.1),
      "l_tax" -> (0.0, 0.08)),
    tsRange = Some(("1995-01-02", "2001-11-04")))

  private val orders = Table("orders",
    Seq(Col("o_orderkey", IntK), Col("o_custkey", IntK),
      Col("o_orderstatus", StrK), Col("o_totalprice", MoneyK),
      Col("o_orderdate", TsK), Col("o_orderpriority", StrK)),
    uniqueKey = Some("o_orderkey"),
    pools = Map("o_orderstatus" -> Seq("F", "O", "P"),
      "o_orderpriority" -> Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")),
    intRanges = Map("o_orderkey" -> (0L, 15000L), "o_custkey" -> (0L, 1500L)),
    moneyRanges = Map("o_totalprice" -> (1000.0, 500000.0)),
    tsRange = Some(("1995-01-01", "2001-08-01")))

  private val customer = Table("customer",
    Seq(Col("c_custkey", IntK), Col("c_name", StrK), Col("c_nationkey", IntK),
      Col("c_acctbal", MoneyK), Col("c_mktsegment", StrK)),
    uniqueKey = Some("c_custkey"),
    pools = Map("c_mktsegment" -> Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
      "HOUSEHOLD", "MACHINERY"),
      "c_name" -> Seq("Customer#000000001", "Customer#000000042")),
    intRanges = Map("c_custkey" -> (0L, 1500L), "c_nationkey" -> (0L, 24L)),
    moneyRanges = Map("c_acctbal" -> (-1000.0, 10000.0)),
    tsRange = None)

  private val part = Table("part",
    Seq(Col("p_partkey", IntK), Col("p_name", StrK), Col("p_brand", StrK),
      Col("p_type", StrK), Col("p_size", IntK), Col("p_retailprice", MoneyK)),
    uniqueKey = Some("p_partkey"),
    pools = Map("p_brand" -> Seq("Brand#1", "Brand#12", "Brand#15", "Brand#23"),
      "p_type" -> Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"),
      "p_name" -> Seq("small ring", "red widget", "blue bolt")),
    intRanges = Map("p_partkey" -> (0L, 2000L), "p_size" -> (1L, 50L)),
    moneyRanges = Map("p_retailprice" -> (900.0, 2000.0)),
    tsRange = None)

  private val supplier = Table("supplier",
    Seq(Col("s_suppkey", IntK), Col("s_name", StrK), Col("s_nationkey", IntK),
      Col("s_acctbal", MoneyK)),
    uniqueKey = Some("s_suppkey"),
    pools = Map("s_name" -> Seq("Supplier#000000001", "Supplier#000000010")),
    intRanges = Map("s_suppkey" -> (0L, 100L), "s_nationkey" -> (0L, 24L)),
    moneyRanges = Map("s_acctbal" -> (-1000.0, 10000.0)),
    tsRange = None)

  private val documents = Table("documents",
    Seq(Col("doc_id", IntK), Col("lang", StrK), Col("source", StrK),
      Col("n_chars", IntK)),
    uniqueKey = Some("doc_id"),
    pools = Map("lang" -> Seq("de", "en", "es", "fr", "zh"),
      "source" -> Seq("src0", "src3", "src7", "src12", "src19")),
    intRanges = Map("doc_id" -> (0L, 500L), "n_chars" -> (48L, 553L)),
    moneyRanges = Map.empty,
    tsRange = None)

  private val events = Table("events",
    Seq(Col("event_id", IntK), Col("user_id", IntK), Col("event_type", StrK),
      Col("value", MoneyK), Col("ts", TsK)),
    uniqueKey = Some("event_id"),
    pools = Map("event_type" -> Seq("click", "error", "purchase", "signup", "view")),
    intRanges = Map("event_id" -> (0L, 100000L), "user_id" -> (0L, 1000L)),
    moneyRanges = Map("value" -> (0.0, 500.0)),
    tsRange = Some(("2024-01-01", "2024-01-30")))

  private val nation = Table("nation",
    Seq(Col("n_nationkey", IntK), Col("n_name", StrK), Col("n_regionkey", IntK)),
    uniqueKey = Some("n_nationkey"),
    pools = Map("n_name" -> Seq("ALGERIA", "BRAZIL", "CHINA", "FRANCE",
      "GERMANY", "UNITED STATES")),
    intRanges = Map("n_nationkey" -> (0L, 24L), "n_regionkey" -> (0L, 4L)),
    moneyRanges = Map.empty,
    tsRange = None)

  private val tables = Seq(lineitem, orders, customer, part, supplier,
    documents, events, nation)

  /** FK edges for the join generator: (left, right, leftCol, rightCol). */
  private val joins = Seq(
    (orders, customer, "o_custkey", "c_custkey"),
    (lineitem, orders, "l_orderkey", "o_orderkey"),
    (lineitem, part, "l_partkey", "p_partkey"),
    (lineitem, supplier, "l_suppkey", "s_suppkey"),
    (customer, supplier, "c_nationkey", "s_nationkey"),
    (customer, nation, "c_nationkey", "n_nationkey"),
    (supplier, nation, "s_nationkey", "n_nationkey"))

  // ---- small helpers ---------------------------------------------------
  private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
  private def intLit(lo: Long, hi: Long): Long =
    lo + (rnd.nextLong().abs % math.max(1L, hi - lo + 1))
  private def moneyLit(lo: Double, hi: Double): String = {
    val cents = (lo * 100).toLong + (rnd.nextLong().abs %
      math.max(1L, ((hi - lo) * 100).toLong + 1))
    val sign = if (cents < 0) "-" else ""
    s"$sign${math.abs(cents) / 100}.${f"${math.abs(cents) % 100}%02d"}"
  }
  private def tsLit(t: Table): String = {
    val (lo, hi) = t.tsRange.get
    val loD = java.time.LocalDate.parse(lo)
    val days = java.time.temporal.ChronoUnit.DAYS
      .between(loD, java.time.LocalDate.parse(hi))
    val d = loD.plusDays(rnd.nextLong().abs % math.max(1L, days + 1))
    val h = rnd.nextInt(24)
    f"TIMESTAMP '$d $h%02d:00:00'"
  }
  private def cols(t: Table, k: Kind): Seq[Col] = t.cols.filter(_.kind == k)

  // ---- typed scalar expressions ---------------------------------------
  /** Integer-valued SQL expression over table t (BIGINT-safe: source ints
    * are ≤1e5 and multipliers ≤9, far from overflow in either engine). */
  private def intExpr(t: Table, depth: Int): String = {
    val c = pick(cols(t, IntK)).name
    if (depth <= 0) c
    else rnd.nextInt(9) match {
      case 0 => c
      case 1 => s"($c + ${intLit(1, 100)})"
      case 2 => s"($c * ${intLit(2, 9)})"
      case 3 => s"($c % ${intLit(2, 97)})"
      case 4 => s"CAST(FLOOR(CAST($c AS DOUBLE) / ${intLit(2, 9)}.0) AS BIGINT)"
      case 5 => s"(CASE WHEN ${pred(t, 0)} THEN ${intExpr(t, 0)} ELSE ${intExpr(t, 0)} END)"
      // GREATEST/LEAST skip NULLs identically in both engines
      // (Postgres-style: NULL only when every argument is NULL)
      case 6 => s"GREATEST(${intExpr(t, 0)}, ${intLit(0, 1000)})"
      case 7 => s"LEAST(${intExpr(t, 0)}, ${intLit(0, 1000)})"
      // INSTR shares (haystack, needle) order and 1-based/0-miss
      // semantics; widths differ (Spark INT, DuckDB BIGINT) → CAST
      case 8 if cols(t, StrK).nonEmpty =>
        s"CAST(INSTR(${pick(cols(t, StrK)).name}, '${pick(Seq("a", "e", "1", "r"))}') AS BIGINT)"
      case _ => c
    }
  }

  /** Double-valued expression; all arithmetic is identical IEEE on both
    * engines, so bit-exact. Division only by non-zero literals. */
  private def dblExpr(t: Table, depth: Int): String = {
    val mc = cols(t, MoneyK)
    if (mc.isEmpty) return s"CAST(${intExpr(t, 0)} AS DOUBLE)"
    val c = pick(mc).name
    if (depth <= 0) c
    else rnd.nextInt(6) match {
      case 0 => c
      case 1 => s"($c * ${intLit(2, 5)}.0)"
      case 2 => s"($c + ${moneyLit(1, 100)})"
      case 3 => s"ABS($c - ${moneyLit(1, 1000)})"
      case 4 => s"(CAST($c AS DOUBLE) / ${intLit(2, 8)}.0)"
      case 5 => s"(CASE WHEN ${pred(t, 0)} THEN ${dblExpr(t, 0)} ELSE ${dblExpr(t, 0)} END)"
    }
  }

  private def strExpr(t: Table, depth: Int): String = {
    val sc = cols(t, StrK)
    if (sc.isEmpty) return "'k'"
    val c = pick(sc).name
    if (depth <= 0) c
    else rnd.nextInt(12) match {
      case 0 => c
      case 1 => s"UPPER($c)"
      case 2 => s"LOWER($c)"
      case 3 => s"SUBSTR($c, 1, ${intLit(1, 4)})"
      case 4 => s"($c || '_${pick(Seq("x", "y", "z"))}')"
      case 5 => s"TRIM($c)"
      case 6 => s"REPLACE($c, '${pick(Seq("a", "e", "r", "0"))}', '_')"
      case 7 => s"LPAD($c, ${intLit(3, 12)}, '.')"
      case 8 => s"RPAD($c, ${intLit(3, 12)}, '.')"
      case 9 => s"REVERSE($c)"
      case 10 => s"COALESCE(NULLIF($c, '${pick(t.pools.get(c).getOrElse(Seq("zz")))}'), '<none>')"
      // COALESCE'd input: DuckDB's split_part returns '' on a NULL
      // string where Spark propagates NULL (divergence class #3,
      // FUZZ_NOTES.md — found by --nulls mode); '' behaves identically
      // in both, so the split semantics stay covered on real values
      case 11 => s"SPLIT_PART(COALESCE($c, ''), '${pick(Seq("_", "#", "-"))}', ${intLit(1, 3)})"
    }
  }

  /** EXTRACT always lands in the int family (value-compared as text, so
    * Spark's INT vs DuckDB's BIGINT width difference is immaterial). */
  private def tsProj(t: Table): (String, Kind) = {
    val c = pick(cols(t, TsK)).name
    rnd.nextInt(8) match {
      case 0 => (c, TsK)
      // day truncation, re-cast to TIMESTAMP: a bare DATE output column is
      // materialized as datetime.date by Spark's parquet but Timestamp by
      // DuckDB's fetchdf — same instant, artifact-level mismatch (the only
      // divergence class seed 12 found: 6/500, all this; see FUZZ_NOTES.md)
      case 1 => (s"CAST(CAST($c AS DATE) AS TIMESTAMP)", TsK)
      case 2 => (s"EXTRACT(YEAR FROM $c)", IntK)
      case 3 => (s"EXTRACT(MONTH FROM $c)", IntK)
      case 4 => (s"EXTRACT(DAY FROM $c)", IntK)
      case 5 => (s"date_trunc('${pick(Seq("month", "day", "hour"))}', $c)", TsK)
      // unquoted-count INTERVAL literals are the shared spelling
      // (Spark also takes INTERVAL '3' DAY; DuckDB also INTERVAL '3 days')
      // MONTH/YEAR included since round 14: both engines clamp
      // month-end arithmetic identically (measured: 01-31 + 1 MONTH →
      // 02-29, 02-29 + 12 MONTH → 02-28, 03-31 − 1 MONTH → 02-29)
      case 6 => (s"($c + INTERVAL ${intLit(1, 72)} " +
        s"${pick(Seq("DAY", "HOUR", "MINUTE", "MONTH"))})", TsK)
      case 7 => (s"($c - INTERVAL ${intLit(1, 24)} " +
        s"${pick(Seq("DAY", "HOUR", "MONTH", "YEAR"))})", TsK)
    }
  }

  // ---- predicates ------------------------------------------------------
  private val cmpOps = Seq("<", "<=", ">", ">=", "=", "<>")
  private def basePred(t: Table): String = rnd.nextInt(6) match {
    case 0 =>
      val c = pick(cols(t, IntK))
      val (lo, hi) = t.intRanges(c.name)
      s"${c.name} ${pick(cmpOps)} ${intLit(lo, hi)}"
    case 1 if cols(t, MoneyK).nonEmpty =>
      val c = pick(cols(t, MoneyK))
      val (lo, hi) = t.moneyRanges(c.name)
      s"${c.name} ${pick(cmpOps)} ${moneyLit(lo, hi)}"
    case 2 if t.pools.nonEmpty =>
      val (c, pool) = pick(t.pools.toSeq.sortBy(_._1))
      rnd.nextInt(3) match {
        case 0 => s"$c = '${pick(pool)}'"
        case 1 =>
          val subset = rnd.shuffle(pool).take(1 + rnd.nextInt(pool.size))
          s"$c IN (${subset.sorted.map(v => s"'$v'").mkString(", ")})"
        case 2 =>
          val v = pick(pool)
          // ILIKE is shared syntax (Spark ≥3.3 and DuckDB); uppercasing
          // the probe slice exercises real case-insensitivity on the
          // known-ASCII pools
          pick(Seq(s"$c LIKE '${v.take(1)}%'", s"$c LIKE '%${v.takeRight(1)}'",
            s"$c ILIKE '${v.take(2).toUpperCase}%'"))
      }
    case 3 if t.tsRange.nonEmpty =>
      val c = pick(cols(t, TsK)).name
      rnd.nextInt(2) match {
        case 0 => s"$c ${pick(cmpOps)} ${tsLit(t)}"
        case 1 =>
          val (a, b) = (tsLit(t), tsLit(t))
          val (loT, hiT) = if (a <= b) (a, b) else (b, a)
          s"$c BETWEEN $loT AND $hiT"
      }
    case 4 =>
      val c = pick(cols(t, IntK))
      val (lo, hi) = t.intRanges(c.name)
      val (a, b) = (intLit(lo, hi), intLit(lo, hi))
      s"${c.name} BETWEEN ${math.min(a, b)} AND ${math.max(a, b)}"
    case _ =>
      val c = pick(t.cols)
      pick(Seq(s"${c.name} IS NOT NULL", s"${c.name} IS NULL"))
  }

  private def pred(t: Table, depth: Int): String =
    if (depth <= 0) basePred(t)
    else rnd.nextInt(4) match {
      case 0 => basePred(t)
      case 1 => s"(${pred(t, depth - 1)} AND ${pred(t, depth - 1)})"
      case 2 => s"(${pred(t, depth - 1)} OR ${pred(t, depth - 1)})"
      case 3 => s"(NOT ${pred(t, depth - 1)})"
    }

  // ---- aggregate expressions (order-independent by construction) -------
  private def aggExpr(t: Table): String = rnd.nextInt(10) match {
    case 0 => "CAST(COUNT(*) AS BIGINT)"
    case 1 => s"CAST(COUNT(DISTINCT ${pick(t.cols).name}) AS BIGINT)"
    case 2 => s"MIN(${pick(t.cols).name})"
    case 3 => s"MAX(${pick(t.cols).name})"
    case 4 => s"CAST(SUM(${intExpr(t, 1)}) AS BIGINT)"
    case 5 => s"CAST(COUNT(*) FILTER (WHERE ${basePred(t)}) AS BIGINT)"
    // boolean aggregates over a predicate (round 13); under --nulls a
    // group of all-NULL predicate rows yields NULL in both engines —
    // the documented NULL-boolean materialization rule covers it
    case 6 => s"BOOL_OR(${basePred(t)})"
    case 7 => if (rnd.nextBoolean()) s"BOOL_AND(${basePred(t)})"
      // bitwise aggregates (round 13): same names and semantics in both
      // engines over non-negative integral columns
      else s"CAST(${pick(Seq("BIT_AND", "BIT_OR", "BIT_XOR"))}" +
        s"(${pick(cols(t, IntK)).name}) AS BIGINT)"
    // ordered-set aggregate (round 13c): PERCENTILE_CONT/DISC WITHIN
    // GROUP — identical ANSI spelling in Spark 4 and DuckDB. CONT
    // interpolates between two exact ints: both engines' results agree
    // well inside the 6-dp round (values ≤1e7 → double error ≪1e-6);
    // DISC picks an actual value, exact. NULL ordering values are
    // ignored by both per ANSI (an all-NULL group yields NULL).
    case 8 =>
      val q = pick(Seq("0.25", "0.5", "0.9"))
      val c = pick(cols(t, IntK)).name
      if (rnd.nextBoolean())
        s"ROUND(PERCENTILE_CONT($q) WITHIN GROUP (ORDER BY $c), 6)"
      else s"CAST(PERCENTILE_DISC($q) WITHIN GROUP (ORDER BY $c) AS BIGINT)"
    case _ if cols(t, MoneyK).nonEmpty => oSumSql(pick(cols(t, MoneyK)).name)
    case _ => "CAST(COUNT(*) AS BIGINT)"
  }
  /** Shared-text twin of [[graft.ops.Tables.oSum]]. */
  private def oSumSql(e: String): String =
    s"(CAST(SUM(CAST(FLOOR(($e) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0)"

  // ---- ORDER BY all output columns, explicit null placement ------------
  private def orderAll(n: Int): String =
    (1 to n).map { i =>
      if (rnd.nextInt(4) == 0) s"$i DESC NULLS LAST" else s"$i ASC NULLS FIRST"
    }.mkString("ORDER BY ", ", ", "")

  /** LIMIT, sometimes with OFFSET (identical `LIMIT n OFFSET m` clause
    * order in Spark ≥3.4 and DuckDB). A tie straddling the offset
    * boundary is safe for the same reason ties are safe under LIMIT:
    * orderAll orders ALL output columns, so tied rows are full-row
    * duplicates and either engine's pick hashes the same. */
  private def limit(): String = {
    val base = s"LIMIT ${pick(Seq(20, 50, 100, 200))}"
    if (rnd.nextInt(4) == 0) s"$base OFFSET ${pick(Seq(3, 10, 25))}" else base
  }

  // ---- projection lists ------------------------------------------------
  /** n scalar projections over t, each aliased c1..cn. */
  private def projList(t: Table, n: Int): Seq[String] =
    (1 to n).map { i =>
      val e = rnd.nextInt(8) match {
        case 0 | 1 => intExpr(t, 1)
        case 2 | 3 if cols(t, MoneyK).nonEmpty => dblExpr(t, 1)
        case 4 | 5 => strExpr(t, 1)
        case 6 if cols(t, StrK).nonEmpty => s"LENGTH(${pick(cols(t, StrK)).name})"
        case _ if cols(t, TsK).nonEmpty => tsProj(t)._1
        case _ => intExpr(t, 1)
      }
      s"$e AS c$i"
    }

  // ---- query kinds -----------------------------------------------------
  private def qSimple(): String = {
    val t = pick(tables)
    val n = 2 + rnd.nextInt(3)
    val distinct = if (rnd.nextInt(5) == 0) "DISTINCT " else ""
    s"SELECT $distinct${projList(t, n).mkString(", ")} FROM ${t.name} " +
      s"WHERE ${pred(t, 1 + rnd.nextInt(2))} ${orderAll(n)} ${limit()}"
  }

  private def qGroupAgg(): String = {
    val t = pick(tables)
    val nG = 1 + rnd.nextInt(2)
    val groupExprs = (1 to nG).map { _ =>
      rnd.nextInt(3) match {
        case 0 if cols(t, StrK).nonEmpty => pick(cols(t, StrK)).name
        case 1 if cols(t, TsK).nonEmpty => s"EXTRACT(YEAR FROM ${pick(cols(t, TsK)).name})"
        case _ => s"(${pick(cols(t, IntK)).name} % ${intLit(2, 12)})"
      }
    }
    val groups = groupExprs.zipWithIndex.map { case (g, i) => s"$g AS c${i + 1}" }
    val nA = 1 + rnd.nextInt(3)
    val aggs = (1 to nA).map(i => s"${aggExpr(t)} AS c${nG + i}")
    // ROLLUP/CUBE/GROUPING SETS take the raw group expressions (ordinals
    // inside them are dialect-risky); super-aggregate rows carry NULL
    // group keys — the explicit NULLS FIRST/LAST in orderAll keeps them
    // comparable, and a CAST(GROUPING(e) AS BIGINT) output column
    // disambiguates data-NULL keys from super-aggregate NULLs (width
    // differs: Spark TINYINT/INT vs DuckDB BIGINT, hence the CAST).
    val superAgg: Option[String] =
      if (nG > 1 && rnd.nextInt(3) == 0)
        Some(rnd.nextInt(3) match {
          case 0 => s"ROLLUP(${groupExprs.mkString(", ")})"
          case 1 => s"CUBE(${groupExprs.mkString(", ")})"
          case _ => s"GROUPING SETS ((${groupExprs.mkString(", ")}), " +
            s"(${groupExprs.head}), ())"
        })
      else None
    val gcol = superAgg.map(_ =>
      s"CAST(GROUPING(${groupExprs.head}) AS BIGINT) AS c${nG + nA + 1}")
    val n = nG + nA + gcol.size
    // HAVING COUNT(*)>0 on every super-aggregate query: a REAL divergence
    // the fuzzer found (FUZZ_NOTES.md #2) — over a zero-row input DuckDB
    // emits the standard grand-total row for the empty grouping set,
    // Spark emits nothing. The guard makes both sides empty without
    // touching any non-degenerate group (every real group has COUNT >= 1).
    val having =
      if (rnd.nextInt(3) == 0) s"HAVING COUNT(*) > ${intLit(1, 20)} "
      else if (superAgg.nonEmpty) "HAVING COUNT(*) > 0 "
      else ""
    // GROUP BY ALL (round 13): DuckDB's idiomatic spelling, which Spark
    // ≥3.4 shares — both infer the grouping set as the non-aggregated
    // select items, here exactly the nG leading group expressions
    val groupClause = superAgg.getOrElse(
      if (rnd.nextInt(4) == 0) "ALL" else (1 to nG).mkString(", "))
    s"SELECT ${(groups ++ aggs ++ gcol).mkString(", ")} FROM ${t.name} " +
      s"WHERE ${pred(t, 1)} GROUP BY $groupClause " +
      having + orderAll(n) + " " + limit()
  }

  /** Window functions over an aggregated derived table — ranking groups
    * by their aggregate. The inner GROUP BY makes the group key unique,
    * so a window ORDER BY ending in that key is total and every ranking
    * function is deterministic; the ranked measure is COUNT / exact-image
    * SUM (integer-exact in both engines), so no ulp can flip a rank. */
  private def qAggWindow(): String = {
    val t = pick(tables)
    val g = rnd.nextInt(3) match {
      case 0 if t.pools.nonEmpty => pick(t.pools.keys.toSeq.sorted)
      case 1 if cols(t, TsK).nonEmpty =>
        s"EXTRACT(YEAR FROM ${pick(cols(t, TsK)).name})"
      case _ => s"(${pick(cols(t, IntK)).name} % ${intLit(2, 12)})"
    }
    val measure = rnd.nextInt(3) match {
      case 0 => "CAST(COUNT(*) AS BIGINT)"
      case 1 => s"CAST(SUM(${intExpr(t, 0)}) AS BIGINT)"
      case _ => s"CAST(COUNT(DISTINCT ${pick(t.cols).name}) AS BIGINT)"
    }
    val inner = s"(SELECT $g AS k, $measure AS m FROM ${t.name} " +
      s"WHERE ${pred(t, 1)} GROUP BY 1)"
    val over = "OVER (ORDER BY m DESC NULLS LAST, k ASC NULLS FIRST)"
    val wexpr = rnd.nextInt(4) match {
      case 0 => s"CAST(RANK() $over AS BIGINT)"
      case 1 => s"CAST(ROW_NUMBER() $over AS BIGINT)"
      case 2 => s"CAST(NTILE(${intLit(2, 5)}) $over AS BIGINT)"
      case _ => s"CAST(SUM(m) $over AS BIGINT)"
    }
    s"SELECT k AS c1, m AS c2, $wexpr AS c3 FROM $inner g " +
      s"${orderAll(3)} ${limit()}"
  }

  /** HAVING against an uncorrelated scalar subquery — group filtering by
    * a global statistic from a possibly different table. The comparison
    * stays integer-exact (COUNT scaled by an integer literal vs a COUNT
    * scalar), so the threshold can never flip on a float ulp. */
  private def qHavingSub(): String = {
    val t = pick(tables)
    val t2 = pick(tables)
    val g = rnd.nextInt(2) match {
      case 0 if t.pools.nonEmpty => pick(t.pools.keys.toSeq.sorted)
      case _ => s"(${pick(cols(t, IntK)).name} % ${intLit(2, 10)})"
    }
    val scalar =
      s"(SELECT CAST(COUNT(*) AS BIGINT) FROM ${t2.name} WHERE ${basePred(t2)})"
    val having =
      s"HAVING COUNT(*) * ${intLit(2, 50)} ${pick(cmpOps)} $scalar"
    s"SELECT $g AS c1, CAST(COUNT(*) AS BIGINT) AS c2, ${aggExpr(t)} AS c3 " +
      s"FROM ${t.name} WHERE ${pred(t, 1)} GROUP BY 1 $having " +
      s"${orderAll(3)} ${limit()}"
  }

  private def qWindow(): String = {
    val t = pick(tables.filter(_.uniqueKey.nonEmpty))
    val key = t.uniqueKey.get
    val partCol = rnd.nextInt(2) match {
      case 0 if t.pools.nonEmpty => pick(t.pools.keys.toSeq.sorted)
      case _ => s"(${pick(cols(t, IntK)).name} % ${intLit(2, 8)})"
    }
    // ORDER BY inside OVER ends in the unique key → total order, so
    // ROW_NUMBER/LAG/LEAD are deterministic even with value ties; the
    // value column carries explicit NULLS FIRST because the engines'
    // window-order null defaults differ (matters under --nulls data).
    val ord = rnd.nextInt(2) match {
      case 0 => s"$key ASC"
      case _ =>
        val v = pick(t.cols.filterNot(_.name == key)).name
        s"$v ASC NULLS FIRST, $key ASC"
    }
    val over = s"OVER (PARTITION BY $partCol ORDER BY $ord)"
    // explicit ROWS frame over the same total order — deterministic
    // because the order inside OVER ends in the unique key
    val framed = s"OVER (PARTITION BY $partCol ORDER BY $ord " +
      s"ROWS BETWEEN ${intLit(1, 4)} PRECEDING AND CURRENT ROW)"
    // RANGE frame: the order inside OVER ends in the unique key, so peer
    // groups are single rows — deterministic, and the RANGE/ROWS
    // distinction still exercises each engine's peer handling
    val ranged = s"OVER (PARTITION BY $partCol ORDER BY $ord " +
      "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    val wexpr = rnd.nextInt(14) match {
      case 0 => s"CAST(RANK() $over AS BIGINT)"
      case 1 => s"CAST(DENSE_RANK() $over AS BIGINT)"
      case 2 => s"CAST(ROW_NUMBER() $over AS BIGINT)"
      case 3 => s"LAG(${pick(cols(t, IntK)).name}, 1) $over"
      case 4 => s"LEAD(${pick(cols(t, IntK)).name}, 1) $over"
      case 5 => s"CAST(SUM(${pick(cols(t, IntK)).name}) $over AS BIGINT)"
      case 6 => s"CAST(SUM(${pick(cols(t, IntK)).name}) $framed AS BIGINT)"
      case 7 => s"CAST(COUNT(*) $framed AS BIGINT)"
      case 8 => s"CAST(NTILE(${intLit(2, 7)}) $over AS BIGINT)"
      case 9 => s"FIRST_VALUE(${pick(cols(t, IntK)).name}) $over"
      case 10 => s"LAST_VALUE(${pick(cols(t, IntK)).name}) $framed"
      case 11 => s"CAST(SUM(${pick(cols(t, IntK)).name}) $ranged AS BIGINT)"
      // distribution ranks: (rank-1)/(N-1) and peers/N — one double
      // division of exact small ints, identical in both engines; the
      // 6-dp round is the house float-output convention
      case 12 => s"ROUND(PERCENT_RANK() $over, 6)"
      case 13 => s"ROUND(CUME_DIST() $over, 6)"
      // NOTE: IGNORE NULLS is NOT shared syntax — DuckDB parses it only
      // INSIDE the call parens (`last_value(x IGNORE NULLS)`), Spark
      // only TRAILING (`last_value(x) IGNORE NULLS`); measured, not
      // assumed. It lives in the dialect grammar (dign) via the shim's
      // rewriteIgnoreNulls, not here.
    }
    // named WINDOW clause (round 13c — shared Spark/DuckDB syntax):
    // rewrite OVER (spec) to OVER w ... WINDOW w AS (spec), with two
    // expressions sharing the named spec some of the time
    if (rnd.nextInt(4) == 0) {
      val over2 = s"(PARTITION BY $partCol ORDER BY $ord)"
      val w1 = s"CAST(ROW_NUMBER() OVER w AS BIGINT)"
      val w2 = s"CAST(SUM(${pick(cols(t, IntK)).name}) OVER w AS BIGINT)"
      s"SELECT $key AS c1, $w1 AS c2, $w2 AS c3 FROM ${t.name} " +
        s"WHERE ${pred(t, 1)} WINDOW w AS $over2 ${orderAll(3)} ${limit()}"
    } else
    s"SELECT $key AS c1, $partCol AS c2, $wexpr AS c3 FROM ${t.name} " +
      s"WHERE ${pred(t, 1)} ${orderAll(3)} ${limit()}"
  }

  private def qJoin(): String = {
    val (lt, rt, lc, rc) = pick(joins)
    val kind = pick(Seq("JOIN", "JOIN", "LEFT JOIN"))
    val nL = 1 + rnd.nextInt(2)
    val lProj = (1 to nL).map(i => s"a.${pick(lt.cols).name} AS c$i")
    val nR = 1 + rnd.nextInt(2)
    val rProj = (1 to nR).map(i => s"b.${pick(rt.cols).name} AS c${nL + i}")
    val n = nL + nR
    // every basePred branch leads with its column name, so "a." qualifies it
    val wl = "a." + basePred(lt)
    s"SELECT ${(lProj ++ rProj).mkString(", ")} FROM ${lt.name} a " +
      s"$kind ${rt.name} b ON a.$lc = b.$rc WHERE $wl " +
      orderAll(n) + " " + limit()
  }

  /** FULL OUTER JOIN over independently filtered derived tables: the
    * WHERE must sit INSIDE each side (an outer-side WHERE would reject
    * the NULL-extended rows and silently degrade to inner/left — same in
    * both engines, but then the FULL path isn't exercised). */
  private def qFullJoin(): String = {
    val (lt, rt, lc, rc) = pick(joins)
    val a = s"(SELECT $lc AS k, CAST(COUNT(*) AS BIGINT) AS ca " +
      s"FROM ${lt.name} WHERE ${basePred(lt)} GROUP BY 1)"
    val b = s"(SELECT $rc AS k, CAST(COUNT(*) AS BIGINT) AS cb " +
      s"FROM ${rt.name} WHERE ${basePred(rt)} GROUP BY 1)"
    s"SELECT a.k AS c1, a.ca AS c2, b.k AS c3, b.cb AS c4 " +
      s"FROM $a a FULL JOIN $b b ON a.k = b.k ${orderAll(4)} ${limit()}"
  }

  /** Join against an inline VALUES lookup table (constant-folded
    * dimension — the FROM (VALUES ...) v(k, s) shape is shared syntax). */
  private def qValuesJoin(): String = {
    val (t, keyCol, lookup) = pick(Seq(
      (lineitem, "l_returnflag", Seq("A" -> "returned", "N" -> "kept", "R" -> "refused")),
      (orders, "o_orderstatus", Seq("F" -> "final", "O" -> "open", "P" -> "pending")),
      (events, "event_type", Seq("click" -> "ui", "view" -> "ui", "purchase" -> "commerce"))))
    val vals = lookup.map { case (k, v) => s"('$k', '$v')" }.mkString(", ")
    val kind = pick(Seq("JOIN", "LEFT JOIN"))
    s"SELECT a.$keyCol AS c1, v.label AS c2, CAST(COUNT(*) AS BIGINT) AS c3 " +
      s"FROM ${t.name} a $kind (VALUES $vals) v(k, label) ON a.$keyCol = v.k " +
      s"WHERE a.${basePred(t)} GROUP BY 1, 2 ${orderAll(3)} ${limit()}"
  }

  /** lineitem → orders → customer chain, grouped — the 3-way star. */
  private def qJoin3(): String = {
    val agg = pick(Seq(
      "CAST(COUNT(*) AS BIGINT)", oSumSql("l.l_extendedprice"),
      "CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT)", "MAX(l.l_quantity)"))
    val g = pick(Seq("c.c_mktsegment", "o.o_orderstatus", "l.l_returnflag"))
    s"SELECT $g AS c1, $agg AS c2 " +
      s"FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
      s"JOIN customer c ON o.o_custkey = c.c_custkey " +
      s"WHERE l.${basePred(lineitem)} AND c.${basePred(customer)} " +
      s"GROUP BY 1 ${orderAll(2)} ${limit()}"
  }

  /** WITH RECURSIVE (round 13 — Spark 4.1 executes it natively, same
    * spelling as DuckDB): a bounded spine generator (integer chain or
    * month chain) LEFT-JOINed to a fact table — recursion generates the
    * tiny dimension, facts join it once. All-integer/date arithmetic,
    * so both engines agree exactly. */
  private def qRecursive(): String = rnd.nextInt(2) match {
    case 0 =>
      val step = intLit(1, 7)
      val m = intLit(83, 97)
      val (t, key) = pick(Seq((lineitem, "l_orderkey"), (orders, "o_orderkey")))
      s"WITH RECURSIVE r(n) AS (SELECT CAST(0 AS BIGINT) " +
        s"UNION ALL SELECT n + $step FROM r WHERE n + $step < $m) " +
        s"SELECT CAST(r.n AS BIGINT) AS c1, CAST(COUNT(x.$key) AS BIGINT) AS c2 " +
        s"FROM r LEFT JOIN (SELECT $key FROM ${t.name} WHERE ${basePred(t)}) x " +
        s"ON x.$key % $m = r.n " +
        s"GROUP BY r.n ${orderAll(2)} ${limit()}"
    case _ =>
      val (lo, hi) = pick(Seq(
        ("1995-01-01", "1995-12-01"), ("1996-03-01", "1997-02-01"),
        ("1997-01-01", "1998-06-01")))
      s"WITH RECURSIVE d(m) AS (SELECT DATE '$lo' " +
        s"UNION ALL SELECT m + INTERVAL 1 MONTH FROM d WHERE m < DATE '$hi') " +
        "SELECT CAST(EXTRACT(YEAR FROM m) * 100 + EXTRACT(MONTH FROM m) AS BIGINT) AS c1, " +
        "CAST(COUNT(o_orderkey) AS BIGINT) AS c2 " +
        s"FROM d LEFT JOIN orders ON date_trunc('month', o_orderdate) = CAST(m AS TIMESTAMP) " +
        s"AND ${basePred(orders)} " +
        s"GROUP BY m ${orderAll(2)} ${limit()}"
  }

  private def qSetOp(): String = {
    val t = pick(tables)
    val n = 2 + rnd.nextInt(2)
    val proj = projList(t, n)
    val op = pick(Seq("UNION ALL", "UNION", "INTERSECT", "EXCEPT",
      "INTERSECT ALL", "EXCEPT ALL"))
    val s1 = s"SELECT ${proj.mkString(", ")} FROM ${t.name} WHERE ${pred(t, 1)}"
    val s2 = s"SELECT ${proj.mkString(", ")} FROM ${t.name} WHERE ${pred(t, 1)}"
    // occasionally nest a third branch with explicit subquery parens (set-op
    // precedence is the dialect risk, so the nesting is always explicit)
    if (rnd.nextInt(4) == 0) {
      val s3 = s"SELECT ${proj.mkString(", ")} FROM ${t.name} WHERE ${pred(t, 1)}"
      val op2 = pick(Seq("UNION ALL", "UNION", "EXCEPT"))
      s"SELECT * FROM (SELECT * FROM ($s1 $op $s2) u1 $op2 $s3) u ${orderAll(n)} ${limit()}"
    } else
      s"SELECT * FROM ($s1 $op $s2) u ${orderAll(n)} ${limit()}"
  }

  /** Correlated EXISTS / NOT EXISTS / NOT IN over an FK edge. NOT IN is
    * safe here because both key sides are non-null in the data — the
    * 3VL empty-on-null trap is identical in both engines anyway. */
  private def qExists(): String = {
    val (lt, rt, lc, rc) = pick(joins)
    val n = 2
    val shape = rnd.nextInt(3) match {
      case 0 => s"EXISTS (SELECT 1 FROM ${rt.name} b WHERE b.$rc = a.$lc AND b.${basePred(rt)})"
      case 1 => s"NOT EXISTS (SELECT 1 FROM ${rt.name} b WHERE b.$rc = a.$lc AND b.${basePred(rt)})"
      case 2 => s"a.$lc NOT IN (SELECT b.$rc FROM ${rt.name} b WHERE b.${basePred(rt)})"
    }
    val proj = (1 to n).map(i => s"a.${pick(lt.cols).name} AS c$i")
    s"SELECT ${proj.mkString(", ")} FROM ${lt.name} a " +
      s"WHERE a.${basePred(lt)} AND $shape ${orderAll(n)} ${limit()}"
  }

  private def qSubquery(): String = rnd.nextInt(4) match {
    case 0 => // scalar subquery in WHERE
      val t = pick(Seq(lineitem, orders, customer))
      val mc = pick(cols(t, MoneyK)).name
      val sub = s"SELECT ${pick(Seq("MIN", "MAX"))}($mc) FROM ${t.name} WHERE ${basePred(t)}"
      val n = 2
      s"SELECT ${projList(t, n).mkString(", ")} FROM ${t.name} " +
        s"WHERE $mc > ($sub) ${orderAll(n)} ${limit()}"
    case 3 => // uncorrelated scalar subquery in the SELECT clause
      val t = pick(Seq(lineitem, orders, customer))
      val st = pick(Seq(orders, customer, supplier))
      val sub = s"SELECT MAX(${pick(cols(st, IntK)).name}) FROM ${st.name} " +
        s"WHERE ${basePred(st)}"
      s"SELECT ${intExpr(t, 1)} AS c1, ($sub) AS c2 FROM ${t.name} " +
        s"WHERE ${pred(t, 1)} ${orderAll(2)} ${limit()}"
    case 1 => // IN subquery over an FK edge
      val (lt, rt, lc, rc) = pick(joins)
      val n = 2
      s"SELECT ${projList(lt, n).mkString(", ")} FROM ${lt.name} " +
        s"WHERE $lc IN (SELECT $rc FROM ${rt.name} WHERE ${basePred(rt)}) " +
        s"${orderAll(n)} ${limit()}"
    case _ => // CTE feeding a grouped aggregate
      val t = pick(tables)
      val g = if (t.pools.nonEmpty) pick(t.pools.keys.toSeq.sorted)
      else pick(cols(t, IntK)).name
      s"WITH base AS (SELECT * FROM ${t.name} WHERE ${pred(t, 1)}) " +
        s"SELECT $g AS c1, CAST(COUNT(*) AS BIGINT) AS c2, ${aggExpr(t)} AS c3 " +
        s"FROM base GROUP BY 1 ${orderAll(3)} ${limit()}"
  }

  // ---- correlated-subquery / LATERAL generator (--corr mode) -----------
  // Catalyst decorrelates (RewriteCorrelatedScalarSubquery /
  // DecorrelateInnerQuery) where DuckDB runs its own flattening — the two
  // optimizers' most plausible disagreement surface is empty-group
  // semantics (COUNT over no rows → 0 but MIN/MAX → NULL after the
  // rewrite-to-outer-join) and NULL correlation keys. All shapes are
  // ANSI-common text run verbatim on both engines.

  /** Correlated scalar aggregate in the SELECT list over an FK edge (or a
    * self-edge): the inner filter makes some groups empty, so the
    * COUNT-on-empty (0, not NULL) rewrite corner is actually exercised. */
  private def qCorrScalarSelect(): String = {
    val (lt, rt, lc, rc) =
      if (rnd.nextInt(4) == 0) { // self-edge on a non-unique grouping col
        val (t, k) = pick(Seq((orders, "o_custkey"), (lineitem, "l_suppkey"),
          (customer, "c_nationkey")))
        (t, t, k, k)
      } else pick(joins)
    val agg = rnd.nextInt(4) match {
      case 0 => "CAST(COUNT(*) AS BIGINT)"
      case 1 => s"MIN(b.${pick(rt.cols).name})"
      case 2 => s"MAX(b.${pick(rt.cols).name})"
      case _ if cols(rt, MoneyK).nonEmpty => oSumSql(s"b.${pick(cols(rt, MoneyK)).name}")
      case _ => "CAST(COUNT(*) AS BIGINT)"
    }
    val sub = s"SELECT $agg FROM ${rt.name} b WHERE b.$rc = a.$lc AND b.${basePred(rt)}"
    s"SELECT a.${pick(lt.cols).name} AS c1, a.$lc AS c2, ($sub) AS c3 " +
      s"FROM ${lt.name} a WHERE a.${basePred(lt)} ${orderAll(3)} ${limit()}"
  }

  /** Correlated scalar aggregate in WHERE; half the time wrapped in
    * COALESCE so the empty-group NULL takes both the filtered-out and the
    * defaulted path. */
  private def qCorrScalarWhere(): String = {
    val (lt, rt, lc, rc) = pick(joins)
    val inner = rnd.nextInt(3) match {
      case 0 => s"SELECT MAX(b.${pick(cols(rt, IntK)).name}) FROM ${rt.name} b WHERE b.$rc = a.$lc"
      case 1 => s"SELECT CAST(COUNT(*) AS BIGINT) FROM ${rt.name} b " +
        s"WHERE b.$rc = a.$lc AND b.${basePred(rt)}"
      case _ => s"SELECT MIN(b.${pick(cols(rt, IntK)).name}) FROM ${rt.name} b " +
        s"WHERE b.$rc = a.$lc AND b.${basePred(rt)}"
    }
    val probe = if (rnd.nextBoolean()) s"($inner)"
    else s"COALESCE(($inner), ${intLit(0, 5)})"
    val n = 2
    s"SELECT ${projList(lt, n).mkString(", ")} FROM ${lt.name} a " +
      s"WHERE a.${basePred(lt)} AND $probe ${pick(cmpOps)} ${intLit(0, 500)} " +
      s"${orderAll(n)} ${limit()}"
  }

  /** EXISTS/NOT EXISTS whose inner predicate mixes the FK equality with a
    * NON-equality outer reference (money/int inequality across the edge)
    * — the shape Catalyst turns into a semi/anti join with a mixed
    * condition rather than a plain key lookup. */
  private def qCorrExistsRich(): String = {
    val (lt, rt, lc, rc) = pick(joins)
    val extra =
      if (cols(lt, MoneyK).nonEmpty && cols(rt, MoneyK).nonEmpty && rnd.nextBoolean())
        s" AND b.${pick(cols(rt, MoneyK)).name} > a.${pick(cols(lt, MoneyK)).name}"
      else {
        // never re-use the FK equality pair for the extra inequality:
        // `b.rc = a.lc AND b.rc > a.lc` is unsatisfiable, and DuckDB
        // 1.0's decorrelation GARBLES it when a constant range conjunct
        // is also present (divergence class #7: it returns rows for a
        // contradictory EXISTS — Spark's empty result is the correct
        // one). The degenerate pair tests nothing; a distinct column
        // exercises real decorrelation.
        val rCand = cols(rt, IntK).filterNot(_.name == rc)
        val lCand = cols(lt, IntK).filterNot(_.name == lc)
        if (rCand.isEmpty && lCand.isEmpty) ""
        else {
          val rCol = pick(if (rCand.nonEmpty) rCand else cols(rt, IntK)).name
          val lCol = pick(if (lCand.nonEmpty) lCand else cols(lt, IntK)).name
          s" AND b.$rCol ${pick(Seq("<", ">", "<>"))} a.$lCol"
        }
      }
    val not = if (rnd.nextBoolean()) "NOT " else ""
    val n = 2
    s"SELECT ${projList(lt, n).mkString(", ")} FROM ${lt.name} a " +
      s"WHERE a.${basePred(lt)} AND ${not}EXISTS (SELECT 1 FROM ${rt.name} b " +
      s"WHERE b.$rc = a.$lc AND b.${basePred(rt)}$extra) ${orderAll(n)} ${limit()}"
  }

  /** Correlated IN: the membership list itself depends on the outer row
    * (inner WHERE carries the FK equality), probing an unrelated outer
    * int column against an inner int expression. */
  private def qCorrIn(): String = {
    val (lt, rt, lc, rc) = pick(joins)
    val probe = pick(cols(lt, IntK)).name
    val item = rnd.nextInt(3) match {
      case 0 => s"b.${pick(cols(rt, IntK)).name}"
      case 1 => s"(b.${pick(cols(rt, IntK)).name} % ${intLit(2, 50)})"
      case _ if cols(rt, TsK).nonEmpty => s"EXTRACT(DAY FROM b.${pick(cols(rt, TsK)).name})"
      case _ => s"b.${pick(cols(rt, IntK)).name}"
    }
    val not = if (rnd.nextInt(3) == 0) "NOT " else ""
    val n = 2
    s"SELECT ${projList(lt, n).mkString(", ")} FROM ${lt.name} a " +
      s"WHERE a.${basePred(lt)} AND a.$probe ${not}IN " +
      s"(SELECT $item FROM ${rt.name} b WHERE b.$rc = a.$lc) ${orderAll(n)} ${limit()}"
  }

  /** LATERAL derived table computing per-outer-row aggregates; the
    * aggregate block always yields exactly one row, so the comma /
    * CROSS JOIN LATERAL spellings are equivalent and both are emitted. */
  private def qLateralAgg(): String = {
    val (lt, rt, lc, rc) = pick(joins)
    val m = if (cols(rt, MoneyK).nonEmpty) oSumSql(s"b.${pick(cols(rt, MoneyK)).name}")
    else s"MAX(b.${pick(cols(rt, IntK)).name})"
    val sub = s"SELECT CAST(COUNT(*) AS BIGINT) AS lcnt, $m AS lval " +
      s"FROM ${rt.name} b WHERE b.$rc = a.$lc AND b.${basePred(rt)}"
    val joinKw = pick(Seq(",", " CROSS JOIN"))
    s"SELECT a.$lc AS c1, l.lcnt AS c2, l.lval AS c3 FROM ${lt.name} a" +
      s"$joinKw LATERAL ($sub) l WHERE a.${basePred(lt)} ${orderAll(3)} ${limit()}"
  }

  /** LATERAL top-k: correlated ORDER BY … LIMIT k inside the derived
    * table (per-outer-row smallest/largest k) — deterministic because the
    * inner order ends on the right table's unique key. */
  private def qLateralTopK(): String = {
    val (lt, rt, lc, rc) = pick(joins.filter(_._2.uniqueKey.isDefined))
    val uk = rt.uniqueKey.get
    val x = pick(cols(rt, IntK)).name
    val dir = pick(Seq("ASC", "DESC"))
    val nf = if (dir == "ASC") "NULLS FIRST" else "NULLS LAST"
    val k = 1 + rnd.nextInt(3)
    val sub = s"SELECT b.$x AS lx, b.$uk AS lk FROM ${rt.name} b " +
      s"WHERE b.$rc = a.$lc ORDER BY b.$x $dir $nf, b.$uk ASC NULLS FIRST LIMIT $k"
    s"SELECT a.$lc AS c1, l.lx AS c2, l.lk AS c3 FROM ${lt.name} a, " +
      s"LATERAL ($sub) l WHERE a.${basePred(lt)} ${orderAll(3)} ${limit()}"
  }

  /** TWO-level nesting: EXISTS whose inner predicate compares against a
    * scalar subquery correlated to the MIDDLE relation — each level
    * correlates one hop, the shape Catalyst must decorrelate twice. */
  private def qCorrNested(): String = {
    val shape = rnd.nextInt(2)
    val not = if (rnd.nextBoolean()) "NOT " else ""
    val n = 2
    if (shape == 0)
      // customer → orders (corr to a) → lineitem (corr to b)
      s"SELECT ${projList(customer, n).mkString(", ")} FROM customer a " +
        s"WHERE a.${basePred(customer)} AND ${not}EXISTS (" +
        s"SELECT 1 FROM orders b WHERE b.o_custkey = a.c_custkey AND " +
        s"b.o_totalprice > (SELECT COALESCE(${oSumSql("c.l_extendedprice")}, 0.0) " +
        s"FROM lineitem c WHERE c.l_orderkey = b.o_orderkey AND c.${basePred(lineitem)})" +
        s") ${orderAll(n)} ${limit()}"
    else
      // orders → lineitem (corr to a) → part (corr to b)
      s"SELECT ${projList(orders, n).mkString(", ")} FROM orders a " +
        s"WHERE a.${basePred(orders)} AND ${not}EXISTS (" +
        s"SELECT 1 FROM lineitem b WHERE b.l_orderkey = a.o_orderkey AND " +
        s"b.l_extendedprice > (SELECT COALESCE(MIN(c.p_retailprice), 0.0) " +
        s"FROM part c WHERE c.p_partkey = b.l_partkey)" +
        s") ${orderAll(n)} ${limit()}"
  }

  /** Correlated scalar inside a CASE WHEN projection — the subquery sits
    * under a conditional, so decorrelation must preserve the lazy
    * branch semantics (empty-group NULLs surface through COALESCE). */
  private def qCorrCaseProj(): String = {
    val (lt, rt, lc, rc) = pick(joins)
    val agg = pick(Seq("CAST(COUNT(*) AS BIGINT)", s"MAX(b.${pick(cols(rt, IntK)).name})"))
    val sub = s"SELECT $agg FROM ${rt.name} b WHERE b.$rc = a.$lc AND b.${basePred(rt)}"
    s"SELECT a.$lc AS c1, " +
      s"(CASE WHEN a.${basePred(lt)} THEN COALESCE(($sub), ${intLit(0, 9)}) " +
      s"ELSE ${intLit(100, 999)} END) AS c2 " +
      s"FROM ${lt.name} a WHERE a.${basePred(lt)} ${orderAll(2)} ${limit()}"
  }

  /** Chained LATERALs: the second derived table references BOTH the
    * outer row and the first lateral's output. */
  private def qLateralChain(): String = {
    val (lt, rt, lc, rc) = pick(Seq(
      (customer, orders, "c_custkey", "o_custkey"),
      (supplier, lineitem, "s_suppkey", "l_suppkey")))
    val m = if (cols(rt, MoneyK).nonEmpty) pick(cols(rt, MoneyK)).name
    else pick(cols(rt, IntK)).name
    s"SELECT a.$lc AS c1, l1.lcnt AS c2, l2.lbig AS c3 FROM ${lt.name} a, " +
      s"LATERAL (SELECT CAST(COUNT(*) AS BIGINT) AS lcnt FROM ${rt.name} b " +
      s"WHERE b.$rc = a.$lc) l1, " +
      s"LATERAL (SELECT CAST(COUNT(*) AS BIGINT) AS lbig FROM ${rt.name} b " +
      s"WHERE b.$rc = a.$lc AND CAST(b.$m AS DOUBLE) > CAST(l1.lcnt AS DOUBLE)) l2 " +
      s"WHERE a.${basePred(lt)} ${orderAll(3)} ${limit()}"
  }

  /** Correlated scalar aggregate in HAVING — the correlation key is the
    * outer GROUP BY column, the one outer reference ANSI allows from
    * under an Aggregate, so Catalyst must decorrelate through the
    * Aggregate node rather than a plain Filter/Project (a different
    * rewrite path from qCorrScalarWhere). Integer COUNT-vs-COUNT
    * compares can't flip on a float ulp; the inner basePred makes some
    * groups empty, exercising COUNT-on-empty → 0 (not NULL) after the
    * rewrite-to-outer-join on BOTH engines. */
  private def qCorrHaving(): String = {
    val (lt, rt, lc, rc) = pick(joins)
    val sub = s"SELECT CAST(COUNT(*) AS BIGINT) FROM ${rt.name} b " +
      s"WHERE b.$rc = a.$lc AND b.${basePred(rt)}"
    val probe = if (rnd.nextBoolean()) s"($sub)"
    else s"COALESCE(($sub), ${intLit(0, 3)})"
    s"SELECT a.$lc AS c1, CAST(COUNT(*) AS BIGINT) AS c2 " +
      s"FROM ${lt.name} a WHERE a.${basePred(lt)} GROUP BY a.$lc " +
      s"HAVING CAST(COUNT(*) AS BIGINT) ${pick(cmpOps)} $probe " +
      s"${orderAll(2)} ${limit()}"
  }

  /** Correlated-subquery / LATERAL suite (--corr mode): ANSI-common text,
    * both engines run it verbatim. */
  def corrQueries(count: Int): Vector[(String, String)] =
    (1 to count).map { i =>
      val (kind, sql) = rnd.nextInt(10) match {
        case 0 => ("csel", qCorrScalarSelect())
        case 1 => ("cwhr", qCorrScalarWhere())
        case 2 => ("cex", qCorrExistsRich())
        case 3 => ("cin", qCorrIn())
        case 4 => ("lat", qLateralAgg())
        case 5 => ("latk", qLateralTopK())
        case 6 => ("cnest", qCorrNested())
        case 7 => ("ccase", qCorrCaseProj())
        case 8 => ("chav", qCorrHaving())
        case _ => ("latc", qLateralChain())
      }
      (f"fz_$i%04d_$kind", sql)
    }.toVector

  // ---- DuckDB-dialect generator (--dialect mode) -----------------------
  // These queries are DuckDB SQL on purpose: the DuckDB oracle runs them
  // verbatim while the Spark side routes through the SAME
  // engine.DuckDbDialect.rewrite the SQL gateway applies — a differential
  // test of the dialect shim itself, far beyond its hand-written spec
  // fixtures. Constructs are restricted to spellings the shim translates
  // (strftime/strptime, epoch/epoch_ms, //, time_bucket, list_*/
  // string_split, regexp_matches) with scalar outputs, plus the same
  // determinism rules as the shared grammar (full-output ORDER BY with
  // explicit null placement, fixed-point money sums, CASTs on width-
  // divergent results).

  private val strftimeFmts = Seq(
    "%Y-%m", "%Y-%m-%d", "%d/%m/%Y", "%H:%M", "%Y-%m-%d %H:%M:%S", "%b %Y",
    // name / 12-hour / day-of-year codes (round 14): %a %A %b %B %j %p
    // %I %y measured bit-identical between date_format under the pinned
    // ROOT locale and DuckDB's C-locale names
    "%a %d %b %Y", "%A, %B %d", "%j/%Y", "%I:%M %p", "%y-%j %a")

  private def qDialectProj(): String = {
    val fmt = pick(strftimeFmts)
    // epoch() compares as a raw DOUBLE: DuckDB computes epoch_us/1e6 and
    // the shim now emits the same micros division — bit-identical IEEE.
    // (A CAST AS BIGINT would diverge: DuckDB rounds double→int, Spark
    // truncates.) epoch_ms is BIGINT in both already.
    val c2 = rnd.nextInt(4) match {
      case 0 => "epoch(ts)"
      case 1 => "epoch_ms(ts)"
      case 2 => s"(user_id // ${intLit(2, 9)})"
      // DuckDB len(): chars of a string / elements of a list — the
      // gateway registers the type-dispatching DuckLen (round 14)
      case 3 => pick(Seq("len(event_type)",
        "len(string_split(event_type, 'c'))", "array_length(list_value(1, 2, event_id))"))
    }
    s"SELECT strftime(ts, '$fmt') AS c1, $c2 AS c2, event_id AS c3 " +
      s"FROM events WHERE ${pred(events, 1)} ${orderAll(3)} ${limit()}"
  }

  private def qDialectGroup(): String = {
    val fmt = pick(Seq("%Y-%m", "%Y-%m-%d"))
    s"SELECT strftime(ts, '$fmt') AS c1, CAST(COUNT(*) AS BIGINT) AS c2, " +
      s"${oSumSql("value")} AS c3 FROM events " +
      s"WHERE ${pred(events, 1)} GROUP BY 1 ${orderAll(3)} ${limit()}"
  }

  private def qDialectBucket(): String = rnd.nextInt(3) match {
    case 0 =>
      // round 14: widths that do NOT divide the 946857600 s offset of
      // DuckDB's default origin (5 hours, 2 days, 90 minutes, 2 weeks,
      // 7 seconds) — these distinguish true 2000-01-03 alignment from
      // the epoch alignment the shim used before round 14
      val bucket = pick(Seq("5 minutes", "15 minutes", "1 hour", "1 day",
        "5 hours", "2 days", "90 minutes", "2 weeks", "7 seconds"))
      s"SELECT time_bucket(INTERVAL '$bucket', ts) AS c1, " +
        s"CAST(COUNT(*) AS BIGINT) AS c2 FROM events " +
        s"WHERE ${pred(events, 1)} GROUP BY 1 ${orderAll(2)} ${limit()}"
    case 1 =>
      // month-granularity buckets (round 13: pmod-floored add_months
      // from DuckDB's 2000-01-01 origin) over the 1995-2001 order dates
      // — both pre- and post-origin months exercised
      val bucket = pick(Seq("2 months", "3 months", "6 months", "1 year", "2 years"))
      s"SELECT time_bucket(INTERVAL '$bucket', o_orderdate) AS c1, " +
        s"CAST(COUNT(*) AS BIGINT) AS c2 FROM orders " +
        s"WHERE ${pred(orders, 1)} GROUP BY 1 ${orderAll(2)} ${limit()}"
    case _ =>
      // 3-arg explicit-origin form (round 13): a sub-bucket origin
      // offset for second-granularity, a mid-month origin for months
      val (bucket, origin, t, ts, tbl) = pick(Seq(
        ("15 minutes", "TIMESTAMP '2024-01-01 00:07:00'", "events", "ts", events),
        ("2 hours", "TIMESTAMP '2024-01-01 01:30:00'", "events", "ts", events),
        ("3 days", "TIMESTAMP '2024-01-02 12:00:00'", "events", "ts", events),
        ("2 months", "TIMESTAMP '1996-02-15 06:00:00'", "orders", "o_orderdate", orders),
        ("1 year", "TIMESTAMP '1995-07-01 00:00:00'", "orders", "o_orderdate", orders)))
      s"SELECT time_bucket(INTERVAL '$bucket', $ts, $origin) AS c1, " +
        s"CAST(COUNT(*) AS BIGINT) AS c2 FROM $t " +
        s"WHERE ${pred(tbl, 1)} GROUP BY 1 ${orderAll(2)} ${limit()}"
  }

  private def qDialectList(): String = rnd.nextInt(8) match {
    case 6 => // bracket indexing (round 15): DuckDB 1-based with NULL
      // at 0 / out of bounds / negative from the end — the shim's
      // try_element_at decomposition vs Spark's 0-based GetArrayItem
      // (a bare pass-through would be silently off by one)
      val idx = pick(Seq("1", "2", "3", "-1", "-2", "0", "9"))
      s"SELECT doc_id AS c1, (string_split(source, 'r'))[$idx] AS c2 " +
        s"FROM documents WHERE ${pred(documents, 1)} ${orderAll(2)} ${limit()}"
    case 7 => // bracket LIST LITERALS, nested + indexed (round 15)
      val i1 = 1 + rnd.nextInt(3)
      s"SELECT o_orderkey AS c1, " +
        s"([[o_custkey], [o_custkey + 1, ${intLit(2, 9)}]])[${1 + rnd.nextInt(2)}][$i1] AS c2 " +
        s"FROM orders WHERE ${pred(orders, 1)} ${orderAll(2)} ${limit()}"
    case 5 => // list_concat: DuckDB treats a NULL side as EMPTY (round
      // 14); under --nulls the split inputs go NULL for real
      s"SELECT doc_id AS c1, " +
        s"array_to_string(list_concat(string_split(lang, 'n'), " +
        s"string_split(source, '${pick(Seq("r", "c"))}')), '+') AS c2 " +
        s"FROM documents WHERE ${pred(documents, 1)} ${orderAll(2)} ${limit()}"
    case 3 => // inclusive-end list_slice (round 14: the shim translates
      // the positional end to Spark's length arg; negative ends count
      // from the end) — re-joined to a scalar so the compare is typed
      val (b, e) = (1 + rnd.nextInt(3), pick(Seq("2", "3", "-1", "-2")))
      s"SELECT doc_id AS c1, " +
        s"array_to_string(list_slice(string_split(source, 'r'), $b, $e), '+') AS c2 " +
        s"FROM documents WHERE ${pred(documents, 1)} ${orderAll(2)} ${limit()}"
    case 4 => // list_distinct drops NULLs; order is engine-defined so
      // the cross-engine spelling wraps in list_sort (round 14)
      s"SELECT doc_id AS c1, " +
        s"array_to_string(list_sort(list_distinct(string_split(source || source, " +
        s"'${pick(Seq("s", "r", "1"))}'))), '+') AS c2 " +
        s"FROM documents WHERE ${pred(documents, 1)} ${orderAll(2)} ${limit()}"
    case 0 => // membership of a column in an inline list
      val langs = rnd.shuffle(Seq("de", "en", "es", "fr", "zh"))
        .take(2 + rnd.nextInt(3)).sorted.map(l => s"'$l'").mkString(", ")
      s"SELECT doc_id AS c1, list_contains(list_value($langs), lang) AS c2 " +
        s"FROM documents WHERE ${pred(documents, 1)} ${orderAll(2)} ${limit()}"
    case 1 => // list_min/list_max over int columns
      val f = pick(Seq("list_min", "list_max"))
      s"SELECT o_orderkey AS c1, $f(list_value(o_custkey, ${intLit(0, 1500)})) AS c2 " +
        s"FROM orders WHERE ${pred(orders, 1)} ${orderAll(2)} ${limit()}"
    case _ => // string_split + list_contains over a token column; the
      // delimiter pool includes regex metachars since round 14 (DuckDB
      // splits literally — the shim must regex-escape, not rename)
      s"SELECT doc_id AS c1, " +
        s"list_contains(string_split(source, '${pick(Seq("c", ".", "|", "r", "1"))}'), " +
        s"'${pick(Seq("sr", "0", "12", "src12", "s"))}') AS c2 " +
        s"FROM documents WHERE ${pred(documents, 1)} ${orderAll(2)} ${limit()}"
  }

  private def qDialectRegex(): String = {
    val (t, c, pat) = pick(Seq(
      ("documents", "source", pick(Seq("^src1", "src[0-9]$", "1"))),
      ("orders", "o_orderpriority", pick(Seq("^[12]", "URGENT|HIGH"))),
      ("events", "event_type", pick(Seq("^(click|view)$", "r")))))
    val tbl = tables.find(_.name == t).get
    s"SELECT ${tbl.uniqueKey.get} AS c1, regexp_matches($c, '$pat') AS c2 " +
      s"FROM $t WHERE ${pred(tbl, 1)} ${orderAll(2)} ${limit()}"
  }

  private def qDialectDivFilter(): String = {
    // round 13d: the float and zero-divisor regimes ride too — DuckDB's
    // measured `//` is type-aware (int: truncating; any float operand:
    // plain division) and NULL on divisor 0; the shim's div image gets
    // the same semantics from functions.DuckDivRule
    val c2 = rnd.nextInt(4) match {
      case 0 => s"(l_orderkey // ${intLit(2, 9)})"
      case 1 => s"ROUND(l_extendedprice // ${intLit(2, 9)}, 6)"       // float // int → plain division
      case 2 => s"ROUND(l_extendedprice // ${intLit(2, 5)}.5, 6)"    // float // float
      case _ => s"(l_orderkey // (l_linenumber - l_linenumber))"      // divisor 0 → NULL in both
    }
    s"SELECT l_orderkey AS c1, $c2 AS c2, " +
      s"l_linenumber AS c3 FROM lineitem " +
      s"WHERE (l_suppkey // ${intLit(2, 7)}) % ${intLit(2, 5)} = 1 " +
      s"AND ${basePred(lineitem)} ${orderAll(3)} ${limit()}"
  }

  private def qDialectQualify(): String = {
    val (t, part, ord, key) = pick(Seq(
      ("orders", "o_custkey", "o_totalprice", "o_orderkey"),
      ("lineitem", "l_suppkey", "l_extendedprice", "l_orderkey * 10 + l_linenumber"),
      ("events", "user_id", "value", "event_id")))
    val tbl = tables.find(_.name == t).get
    val n = 1 + rnd.nextInt(3)
    val dir = pick(Seq("ASC", "DESC"))
    // Explicit NULLS placement on every window sort key: Spark defaults
    // ASC→NULLS FIRST, DuckDB→NULLS LAST, so a NULL ordering value (e.g.
    // under --nulls injection) would silently diverge row_number.
    val nf = if (dir == "ASC") "NULLS FIRST" else "NULLS LAST"
    val win = s"ROW_NUMBER() OVER (PARTITION BY $part ORDER BY $ord $dir $nf, $key ASC NULLS FIRST)"
    rnd.nextInt(4) match {
      case 0 => // alias form: predicate names the select-list alias
        s"SELECT $part AS c1, CAST(($key) AS BIGINT) AS c2, $win AS c3 " +
          s"FROM $t WHERE ${pred(tbl, 1)} QUALIFY c3 <= $n ${orderAll(3)} ${limit()}"
      case 1 => // inline form: the shim hoists the window into the select list
        s"SELECT $part AS c1, CAST(($key) AS BIGINT) AS c2 " +
          s"FROM $t WHERE ${pred(tbl, 1)} QUALIFY $win <= $n ${orderAll(2)} ${limit()}"
      case 2 => // round 13: QUALIFY inside a derived table (the deep rewrite)
        s"SELECT c1, c3 FROM (SELECT $part AS c1, CAST(($key) AS BIGINT) AS c2, " +
          s"$win AS c3 FROM $t WHERE ${pred(tbl, 1)} QUALIFY c3 <= $n) q " +
          s"${orderAll(2)} ${limit()}"
      case _ => // round 13d: QUALIFY bound to its own branch of a UNION ALL
        // (measured: filters only that branch; the trailing ORDER BY /
        // LIMIT binds to the whole compound)
        val qualSel = s"SELECT $part AS c1, CAST(($key) AS BIGINT) AS c2, " +
          s"CAST($win AS BIGINT) AS c3 FROM $t WHERE ${pred(tbl, 1)} QUALIFY c3 <= $n"
        val plainSel = s"SELECT $part AS c1, CAST(($key) AS BIGINT) AS c2, " +
          s"CAST(0 AS BIGINT) AS c3 FROM $t WHERE ${pred(tbl, 1)}"
        val compound = if (rnd.nextBoolean()) s"$qualSel UNION ALL $plainSel"
          else s"$plainSel UNION ALL $qualSel"
        s"$compound ${orderAll(3)} ${limit()}"
    }
  }

  /** `* REPLACE` over an aliased projection: the shim moves replaced
    * columns to the end of the star expansion (documented bound), so the
    * ORDER BY is BY NAME — ordinals would bind to different columns on
    * the two engines. The oracle compare sorts columns by name, so the
    * position difference itself is invisible to it. */
  private def qDialectReplace(): String = {
    val t = pick(Seq(lineitem, orders, customer))
    val ic = pick(cols(t, IntK)).name
    val mc = pick(cols(t, MoneyK)).name
    val sc = if (cols(t, StrK).nonEmpty) pick(cols(t, StrK)).name else ic
    val inner = s"SELECT $ic AS c1, $mc AS c2, $sc AS c3 FROM ${t.name} WHERE ${pred(t, 1)}"
    val repl = rnd.nextInt(3) match {
      case 0 => s"(c2 * 2.0) AS c2"
      case 1 => s"(c1 + ${intLit(1, 50)}) AS c1"
      case _ => s"(c2 * 2.0) AS c2, (c1 % ${intLit(2, 97)}) AS c1"
    }
    // half the suite chains DuckDB's other star modifier in front:
    // `* EXCLUDE (c3) REPLACE (...)` — the shim merges both into one
    // EXCEPT. The ORDER BY then omits the excluded column.
    val exclude = rnd.nextBoolean() && !repl.contains("c3")
    val star = if (exclude) "* EXCLUDE (c3) REPLACE" else "* REPLACE"
    val outCols = if (exclude) Seq("c1", "c2") else Seq("c1", "c2", "c3")
    val ord = outCols.map { n =>
      if (rnd.nextInt(4) == 0) s"$n DESC NULLS LAST" else s"$n ASC NULLS FIRST"
    }.mkString("ORDER BY ", ", ", "")
    s"SELECT $star ($repl) FROM ($inner) u $ord ${limit()}"
  }

  /** ASOF joins on an edge whose RIGHT key is unique (orders.o_orderkey):
    * at most one candidate row per left row, so the match is tie-free in
    * both engines regardless of the inequality direction. The shapes:
    * the plain `la a`, a bare `*` select list, a derived left table, and
    * a multi-join left side (`la ⋈ supplier`, unique on s_suppkey); the
    * right side is the CTE or a parenthesized subquery.
    *
    * Both sides are CTE-prefiltered to NON-NULL ordering values:
    * divergence class #5 (FUZZ_NOTES) — DuckDB's sort-based ASOF gives
    * NULL ordering keys implementation-defined match behavior (observed
    * on 1.0.0: a NULL left ts matches in every direction under
    * column-equality keys, NULL ≈ +∞ under `>=`, and direction-dependent
    * artifacts under `<=`), where `DuckAsOfRule`'s merge plan is 3VL
    * (NULL never matches). The rule documents NULL ordering keys as
    * outside its bounds; the fuzzer pins the agreed surface. */
  private def qDialectAsof(): String = {
    val op = pick(Seq(">=", ">", "<=", "<"))
    val left = if (rnd.nextBoolean()) " LEFT" else ""
    val (right, rightCols) = if (rnd.nextBoolean()) ("ob", 6)
      else ("(SELECT o_orderkey, o_orderdate, o_totalprice FROM ob " +
        s"WHERE o_orderkey % ${intLit(2, 5)} >= 0)", 3)
    val cols = "a.l_orderkey AS c1, a.l_linenumber AS c2, b.o_totalprice AS c3"
    val (sel, from, n) = rnd.nextInt(4) match {
      case 0 => ("*", "la a", 11 + rightCols) // both sides' columns, names distinct
      case 1 => (cols, s"(SELECT * FROM la WHERE ${basePred(lineitem)}) a", 3)
      case 2 => (s"$cols, s.s_nationkey AS c4", "la a JOIN supplier s ON s.s_suppkey = a.l_suppkey", 4)
      case _ => (cols, "la a", 3)
    }
    s"WITH la AS (SELECT * FROM lineitem WHERE l_shipdate IS NOT NULL AND l_orderkey IS NOT NULL), " +
      s"ob AS (SELECT * FROM orders WHERE o_orderdate IS NOT NULL) " +
      s"SELECT $sel FROM $from ASOF$left JOIN $right b ON b.o_orderkey = a.l_orderkey " +
      s"AND a.l_shipdate $op b.o_orderdate " +
      s"WHERE a.${basePred(lineitem)} ${orderAll(n)} ${limit()}"
  }

  /** PostgreSQL/DuckDB `DISTINCT ON`: first row per key under a total
    * ORDER (keys first, a value column, the table's UNIQUE key as the
    * tiebreak — so the picked row is well-defined on both engines). */
  /** DuckDB PIVOT statements (round 14): run verbatim by the oracle,
    * executed by the GATEWAY's runPivot on the Spark side (not the
    * dialect shim — PIVOT is a statement, not a SELECT), so the
    * statement parser itself is differentially tested: quote-aware IN
    * lists (values containing ',' or ')'), absent-value columns
    * (count-0 backfill vs sum-NULL), binder-style value discovery, and
    * the trailing ORDER BY/LIMIT. The dataset is always a derived
    * SELECT with IS NOT NULL guards on the ON and GROUP BY columns:
    * NULL pivot keys are engine-defined in discovery order, and a NULL
    * group key would sort NULLS FIRST in Spark but NULLS LAST in
    * DuckDB's default ORDER BY. The measure column is always integer
    * (sums exact; AVG divides two exact numbers identically). */
  private def qDialectPivot(): String = {
    val (t, cat, key, num) = pick(Seq(
      (documents, "lang", "source", "n_chars"),
      (documents, "source", "lang", "doc_id"),
      (orders, "o_orderstatus", "o_orderpriority", "o_custkey"),
      (orders, "o_orderpriority", "o_orderstatus", "o_orderkey"),
      (lineitem, "l_returnflag", "l_linestatus", "l_linenumber"),
      (lineitem, "l_linestatus", "l_returnflag", "l_suppkey")))
    // round 15: 1/4 of datasets suffix the pivot category with ',v' so
    // PRESENT IN-list values — and binder-discovered pivot columns —
    // contain a comma, locking the quote-aware IN-list scanner
    // (SqlGateway round-13 advice fix) on values that actually match
    // data, not just absent placeholders.
    val commaCat = rnd.nextInt(4) == 0
    val catExpr = if (commaCat) s"($cat || ',v')" else cat
    val ds = s"(SELECT $key, $catExpr AS $cat, $num FROM ${t.name} " +
      s"WHERE $cat IS NOT NULL AND $key IS NOT NULL AND ${pred(t, 1)})"
    val pool = t.pools(cat).map(v => if (commaCat) v + ",v" else v)
    val inList = rnd.nextInt(3) match {
      case 0 => "" // binder-style discovery (sorted ascending, both engines)
      case 1 =>
        val n = 1 + rnd.nextInt(pool.size)
        val vs = rnd.shuffle(pool).take(n).sorted
        s" IN (${vs.map(v => s"'$v'").mkString(", ")})"
      case _ =>
        // absent values, including one with a comma and a paren — the
        // quote-aware list parser must keep them whole (empty columns
        // on both engines)
        val vs = rnd.shuffle(pool).take(1 + rnd.nextInt(2)) ++
          Seq(pick(Seq("'zz,9'", "'no)pe'", "'absent'")))
        s" IN (${vs.map(v => if (v.startsWith("'")) v else s"'$v'").mkString(", ")})"
    }
    val using = rnd.nextInt(6) match {
      case 0 => "count(*)"
      case 1 => s"count($num)"
      case 2 => s"sum($num)"
      case 3 => s"min($num)"
      case 4 => s"max($num)"
      case _ => s"avg($num)"
    }
    val dir = if (rnd.nextBoolean()) "" else " DESC"
    val lim = if (rnd.nextInt(3) == 0) s" LIMIT ${1 + rnd.nextInt(5)}" else ""
    s"PIVOT $ds ON $cat$inList USING $using GROUP BY $key ORDER BY $key$dir$lim"
  }

  /** DuckDB UNPIVOT statements (round 14, the dpivot twin): melt two
    * same-type integer measures into NAME/VALUE rows through the
    * gateway's runUnpivot vs DuckDB verbatim. NULL measures are dropped
    * by BOTH engines (pinned in EngineSpec); the kept key columns get
    * IS NOT NULL guards because the trailing ORDER BY has no NULLS
    * placement syntax and the engines' defaults differ. The ORDER BY
    * covers every output column, so row order is fully pinned. */
  private def qDialectUnpivot(): String = {
    val (t, keep, cols) = pick(Seq(
      (documents, Seq("lang", "source"), Seq("doc_id", "n_chars")),
      (orders, Seq("o_orderstatus", "o_orderpriority"), Seq("o_orderkey", "o_custkey")),
      (lineitem, Seq("l_returnflag", "l_linestatus"), Seq("l_partkey", "l_suppkey"))))
    val guards = keep.map(k => s"$k IS NOT NULL").mkString(" AND ")
    val ds = s"(SELECT ${(keep ++ cols).mkString(", ")} FROM ${t.name} " +
      s"WHERE $guards AND ${pred(t, 1)})"
    val dir = if (rnd.nextBoolean()) "" else " DESC"
    val ord = (keep ++ Seq("k", "v")).mkString(", ")
    val lim = s" LIMIT ${20 + rnd.nextInt(80)}"
    s"UNPIVOT $ds ON ${cols.mkString(", ")} INTO NAME k VALUE v ORDER BY $ord$dir$lim"
  }

  /** FROM-first statements (round 14): DuckDB's promoted "friendly
    * SQL" — bare FROM, FROM…WHERE, FROM…SELECT list, and FROM-first
    * set-op branches. The oracle runs them verbatim; the shim
    * canonicalizes to SELECT-first. Row order pins on the unique key
    * (NULL-protected under --nulls). */
  private def qDialectFromFirst(): String = {
    val t = pick(Seq(orders, documents, events, customer))
    val uk = t.uniqueKey.get
    val ic = pick(cols(t, IntK)).name
    rnd.nextInt(3) match {
      case 0 =>
        s"FROM ${t.name} WHERE ${pred(t, 1)} ORDER BY $uk ASC NULLS FIRST ${limit()}"
      case 1 =>
        s"FROM ${t.name} SELECT $uk AS c1, ($ic % ${intLit(3, 20)}) AS c2 " +
          s"WHERE ${pred(t, 1)} ${orderAll(2)} ${limit()}"
      case _ =>
        s"FROM ${t.name} SELECT $uk AS c1 WHERE ${pred(t, 1)} " +
          s"UNION ALL FROM ${t.name} SELECT $uk AS c1 WHERE ${pred(t, 1)} " +
          s"ORDER BY 1 ASC NULLS FIRST ${limit()}"
    }
  }

  private def qDialectDistinctOn(): String = {
    val (t, key, value) = pick(Seq(
      (orders, "o_custkey", "o_totalprice"),
      (events, "user_id", "value"),
      (part, "p_brand", "p_retailprice")))
    val uk = t.uniqueKey.get
    val dir = pick(Seq("ASC NULLS FIRST", "DESC NULLS LAST"))
    s"SELECT DISTINCT ON ($key) $key AS c1, $uk AS c2, $value AS c3 " +
      s"FROM ${t.name} WHERE ${pred(t, 1)} " +
      s"ORDER BY $key ASC NULLS FIRST, $value $dir, $uk ASC NULLS FIRST ${limit()}"
  }

  /** SIMILAR TO over pooled ASCII columns (round 13c): DuckDB 1.0 runs
    * it as an ANCHORED regex full-match with NO %/_ translation
    * (measured — see the shim's scaladoc); the shim's anchored-RLIKE
    * rewrite must agree on alternations, regex dots, quantified
    * classes, and escaped literals. */
  private def qDialectSimilar(): String = {
    val (t, c, pool) = {
      val tt = pick(Seq(lineitem, orders, customer, part, documents, events))
      val (cc, pp) = pick(tt.pools.toSeq.sortBy(_._1))
      (tt, cc, pp)
    }
    val v = pick(pool)
    val pat = rnd.nextInt(5) match {
      case 0 => // alternation of two pool values
        val w = pick(pool)
        s"(${v}|${w})"
      case 1 => s"${v.take(1)}.*"              // regex wildcard tail
      case 2 => s".${v.drop(1)}"               // regex dot head
      case 3 => s"[${v.take(1)}${pick(pool).take(1)}].*" // class head
      case _ => s"${v.take(2)}.+"              // one-or-more tail
    }
    val neg = if (rnd.nextInt(4) == 0) "NOT " else ""
    s"SELECT $c AS c1, CAST(COUNT(*) AS BIGINT) AS c2 FROM ${t.name} " +
      s"WHERE $c ${neg}SIMILAR TO '$pat' GROUP BY 1 ${orderAll(2)} ${limit()}"
  }

  /** IGNORE/RESPECT NULLS through the shim's rewriteIgnoreNulls: the
    * query uses DuckDB's in-paren spelling (`lag(v, 1 IGNORE NULLS)`,
    * `last_value(v IGNORE NULLS)`), which Spark can only run after the
    * shim hoists the modifier to the ANSI trailing position. A no-op
    * skip on null-free base data; live value-skipping under --nulls.
    * The window order ends in the unique key with explicit NULLS
    * placement, so the skip target is deterministic in both engines. */
  private def qDialectIgnoreNulls(): String = {
    val (t, part, ord, key) = pick(Seq(
      ("orders", "o_custkey", "o_totalprice", "o_orderkey"),
      ("lineitem", "l_suppkey", "l_extendedprice", "l_orderkey * 10 + l_linenumber"),
      ("events", "user_id", "value", "event_id")))
    val tbl = tables.find(_.name == t).get
    val v = pick(cols(tbl, IntK)).name
    val dir = pick(Seq("ASC", "DESC"))
    val nf = if (dir == "ASC") "NULLS FIRST" else "NULLS LAST"
    val spec = s"PARTITION BY $part ORDER BY $ord $dir $nf, $key ASC NULLS FIRST"
    val framed = s"OVER ($spec ROWS BETWEEN ${1 + rnd.nextInt(4)} PRECEDING AND CURRENT ROW)"
    val over = s"OVER ($spec)"
    val kw = if (rnd.nextInt(5) == 0) "RESPECT NULLS" else "IGNORE NULLS"
    val expr = rnd.nextInt(5) match {
      case 0 => s"LAG($v, 1 $kw) $over"
      case 1 => s"LEAD($v, 1 $kw) $over"
      case 2 => s"FIRST_VALUE($v $kw) $framed"
      case 3 => s"LAST_VALUE($v $kw) $framed"
      case _ => s"NTH_VALUE($v, 2 $kw) $framed"
    }
    s"SELECT $key AS c1, CAST(($v) AS BIGINT) AS c2, CAST($expr AS BIGINT) AS c3 " +
      s"FROM $t WHERE ${pred(tbl, 1)} ${orderAll(3)} ${limit()}"
  }

  /** Window-frame EXCLUDE: DuckDB runs the ANSI frame-exclusion clause
    * natively; Spark gets the shim's marked spec and the analyzer rule's
    * (graft.functions.DuckWindowRule) helper windows, or the ROWS bound
    * moved when the frame misses the current row. Specs are inline or
    * named WINDOW definitions, and some aggregates carry a FILTER
    * clause. AVG is rounded 6 dp (double division); SUM/COUNT are exact. */
  private def qDialectFrameExclude(): String = {
    val (t, part, ord, key) = pick(Seq(
      ("orders", "o_custkey", "o_totalprice", "o_orderkey"),
      ("lineitem", "l_suppkey", "l_extendedprice", "l_orderkey * 10 + l_linenumber"),
      ("events", "user_id", "value", "event_id")))
    val tbl = tables.find(_.name == t).get
    val v = pick(cols(tbl, IntK)).name
    val dir = pick(Seq("ASC", "DESC"))
    val nf = if (dir == "ASC") "NULLS FIRST" else "NULLS LAST"
    val spec = s"PARTITION BY $part ORDER BY $ord $dir $nf, $key ASC NULLS FIRST"
    val frame = rnd.nextInt(4) match {
      case 0 => s"ROWS BETWEEN ${1 + rnd.nextInt(4)} PRECEDING AND CURRENT ROW"
      case 1 => s"ROWS BETWEEN ${1 + rnd.nextInt(4)} PRECEDING AND ${1 + rnd.nextInt(3)} FOLLOWING"
      case 2 => s"ROWS BETWEEN CURRENT ROW AND ${1 + rnd.nextInt(3)} FOLLOWING"
      case _ => "ROWS BETWEEN 3 PRECEDING AND 2 PRECEDING" // current NOT in frame → drop path
    }
    val excl = if (rnd.nextInt(5) == 0) "EXCLUDE NO OTHERS" else "EXCLUDE CURRENT ROW"
    val sub = rnd.nextInt(8)
    if (sub <= 1) {
      // RANGE-frame GROUP/TIES (round 13d; off-frame spellings round
      // 15): the window orders by a NON-unique integer expression so
      // peer groups are real; RANGE aggregates are tie-order-
      // insensitive, so c3 stays deterministic and the final orderAll
      // totalizes output order. The ordering value is prefiltered
      // IS NOT NULL: the pinned agreed surface, like dasof (NULL
      // peer-group frame semantics are their own engine-specific
      // corner).
      val gv = s"($v % ${intLit(3, 9)})"
      val rframe = rnd.nextInt(5) match {
        case 0 => "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        case 1 => s"RANGE BETWEEN ${intLit(1, 3)} PRECEDING AND ${intLit(1, 3)} FOLLOWING"
        case 2 => "RANGE BETWEEN CURRENT ROW AND CURRENT ROW"
        // round 15: frames NOT containing the current row — DuckDB's
        // segment arithmetic vs the shim's value-space half-windows
        case 3 => s"RANGE BETWEEN ${intLit(3, 9)} PRECEDING AND ${intLit(1, 2)} PRECEDING"
        case _ => s"RANGE BETWEEN ${intLit(1, 2)} FOLLOWING AND ${intLit(3, 9)} FOLLOWING"
      }
      val gexcl = if (rnd.nextBoolean()) "EXCLUDE GROUP" else "EXCLUDE TIES"
      val gover = s"OVER (PARTITION BY $part ORDER BY $gv ASC $rframe $gexcl)"
      val gexpr = rnd.nextInt(3) match {
        case 0 => s"CAST(SUM($v) $gover AS BIGINT)"
        case 1 => s"CAST(COUNT(*) $gover AS BIGINT)"
        case _ => s"ROUND(AVG($v) $gover, 6)"
      }
      s"SELECT $key AS c1, CAST(($v) AS BIGINT) AS c2, $gexpr AS c3 " +
        s"FROM $t WHERE $v IS NOT NULL AND ${pred(tbl, 1)} ${orderAll(3)} ${limit()}"
    } else if (sub <= 3) {
      // ROWS-frame GROUP/TIES (round 15): positional frames make the
      // PER-ROW result depend on the engine's tie order (which peer
      // holds which slot), so determinism comes from structure — the
      // aggregated value w is a pure function of (partition, order
      // value), hence CONSTANT within every peer group; each row's
      // result then depends only on (partition, gv, #earlier-peers)
      // and the (c1, c2, c3) row MULTISET is tie-order-invariant. The
      // output omits the unique key and totalizes ORDER BY over all
      // three columns, so the sorted-hash compare is deterministic.
      val gv = s"($v % ${intLit(3, 9)})"
      val w = s"($gv * 7 + ($part % 5))"
      val rframe = rnd.nextInt(8) match {
        case 0 => s"ROWS BETWEEN ${1 + rnd.nextInt(3)} PRECEDING AND ${1 + rnd.nextInt(3)} FOLLOWING"
        case 1 => s"ROWS BETWEEN ${2 + rnd.nextInt(3)} PRECEDING AND ${1 + rnd.nextInt(2)} PRECEDING"
        case 2 => s"ROWS BETWEEN ${1 + rnd.nextInt(2)} FOLLOWING AND ${2 + rnd.nextInt(3)} FOLLOWING"
        case 3 => "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        case 4 => s"ROWS ${1 + rnd.nextInt(3)} PRECEDING" // ANSI shorthand
        case 5 => "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"
        // round 15: off-frame RANGE + EXCLUDE CURRENT ROW — DuckDB's
        // ROW-space extension includes the current row's PEERS, so the
        // result depends on peer position and needs this branch's
        // multiset determinism, not the unique-key form
        case 6 => s"RANGE BETWEEN ${3 + rnd.nextInt(6)} PRECEDING AND ${1 + rnd.nextInt(2)} PRECEDING"
        case _ => s"RANGE BETWEEN ${1 + rnd.nextInt(2)} FOLLOWING AND ${3 + rnd.nextInt(6)} FOLLOWING"
      }
      val gexcl =
        if (rframe.startsWith("RANGE")) "EXCLUDE CURRENT ROW"
        else if (rnd.nextBoolean()) "EXCLUDE GROUP" else "EXCLUDE TIES"
      val gover = s"OVER (PARTITION BY $part ORDER BY $gv ASC $rframe $gexcl)"
      val gexpr = rnd.nextInt(3) match {
        case 0 => s"CAST(SUM($w) $gover AS BIGINT)"
        case 1 => s"CAST(COUNT(*) $gover AS BIGINT)"
        case _ => s"ROUND(AVG($w) $gover, 6)"
      }
      s"SELECT $part AS c1, CAST($gv AS BIGINT) AS c2, $gexpr AS c3 " +
        s"FROM $t WHERE $v IS NOT NULL AND $part IS NOT NULL " +
        s"AND ${pred(tbl, 1)} ${orderAll(3)} ${limit()}"
    } else if (sub == 4 && t == "orders") {
      // multi-token INTERVAL frame bounds (round-14 boundKind lock):
      // containing RANGE frames over a DATE ORDER BY. EXCLUDE CURRENT
      // ROW subtracts the row's OWN value, so c3 is per-row
      // deterministic even among date ties.
      val ivf = rnd.nextInt(3) match {
        case 0 => s"RANGE BETWEEN INTERVAL '${1 + rnd.nextInt(20)}' DAY PRECEDING AND CURRENT ROW"
        case 1 => s"RANGE BETWEEN CURRENT ROW AND INTERVAL '${1 + rnd.nextInt(20)}' DAY FOLLOWING"
        case _ => s"RANGE BETWEEN INTERVAL '${1 + rnd.nextInt(10)}' DAY PRECEDING " +
          s"AND INTERVAL '${1 + rnd.nextInt(10)}' DAY FOLLOWING"
      }
      val iover = s"OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC $ivf EXCLUDE CURRENT ROW)"
      val iexpr = rnd.nextInt(3) match {
        case 0 => s"CAST(SUM(o_orderkey % 97) $iover AS BIGINT)"
        case 1 => s"CAST(COUNT(*) $iover AS BIGINT)"
        case _ => s"ROUND(AVG(o_orderkey % 97) $iover, 6)"
      }
      s"SELECT o_orderkey AS c1, CAST(o_custkey AS BIGINT) AS c2, $iexpr AS c3 " +
        s"FROM orders WHERE o_orderdate IS NOT NULL AND o_custkey IS NOT NULL " +
        s"AND ${pred(tbl, 1)} ${orderAll(3)} ${limit()}"
    } else {
    // a named WINDOW definition carries the frame syntax as an inline
    // spec does; a FILTER clause drops rows from the frame and from the
    // current-row term alike
    val named = rnd.nextInt(4) == 0
    val over = if (named) "OVER w" else s"OVER ($spec $frame $excl)"
    val window = if (named) s" WINDOW w AS ($spec $frame $excl)" else ""
    val filter = if (rnd.nextInt(4) == 0) s" FILTER (WHERE $v % ${intLit(2, 5)} <> 0)" else ""
    val exprKind = rnd.nextInt(4)
    val expr = exprKind match {
      case 0 => s"CAST(SUM($v)$filter $over AS BIGINT)"
      case 1 => s"CAST(COUNT($v)$filter $over AS BIGINT)"
      case 2 => s"CAST(COUNT(*)$filter $over AS BIGINT)"
      case _ => s"ROUND(AVG($v)$filter $over, 6)"
    }
    // composition (round 13d): 1/4 of the integer-typed EXCLUDE queries
    // wrap the window in a derived table and aggregate over it — the
    // shim must rewrite INSIDE the subquery and Catalyst must push
    // through the derived boundary (the oracle runs the verbatim
    // nesting). BIGINT c3 only: an outer SUM over the AVG case's
    // doubles would be an order-dependent float sum.
    if (exprKind < 3 && rnd.nextInt(4) == 0)
      s"SELECT c1, CAST(SUM(c3) AS BIGINT) AS c2, CAST(COUNT(*) AS BIGINT) AS c3 " +
        s"FROM (SELECT $part AS c1, $key AS ck, $expr AS c3 " +
        s"FROM $t WHERE ${pred(tbl, 1)}$window) q GROUP BY c1 ${orderAll(3)} ${limit()}"
    else
    s"SELECT $key AS c1, CAST(($v) AS BIGINT) AS c2, $expr AS c3 " +
      s"FROM $t WHERE ${pred(tbl, 1)}$window ${orderAll(3)} ${limit()}"
    }
  }

  /** DuckDB-dialect suite: run verbatim on DuckDB, through
    * [[graft.engine.DuckDbDialect.rewrite]] on Spark. */
  /** DISTINCT window aggregates (round 15): COUNT/SUM/AVG/MIN(DISTINCT)
    * over partition-only and ROWS-framed specs, run natively by DuckDB
    * vs the analyzer rule's collect_set decomposition. The aggregand is
    * a low-cardinality modulus, an integer or a DECIMAL(12,2), so
    * distinct sets are real; partition-only frames are tie-order-free,
    * framed specs anchor on the unique key; SUM/COUNT/MIN cast BIGINT,
    * AVG rounds 6 dp as a DOUBLE (DuckDB's AVG type). */
  private def qDialectDistinctWindow(): String = {
    val (t, part, key) = pick(Seq(
      ("orders", "o_custkey", "o_orderkey"),
      ("lineitem", "l_suppkey", "l_orderkey * 10 + l_linenumber"),
      ("events", "user_id", "event_id")))
    val tbl = tables.find(_.name == t).get
    val v = pick(cols(tbl, IntK)).name
    val gv = s"($v % ${intLit(3, 17)})"
    val arg = if (rnd.nextInt(3) == 0) s"CAST($gv AS DECIMAL(12,2))" else gv
    val spec = rnd.nextInt(3) match {
      case 0 => s"PARTITION BY $part"
      case 1 => s"PARTITION BY $part ORDER BY $key ASC NULLS FIRST " +
        s"ROWS BETWEEN ${1 + rnd.nextInt(5)} PRECEDING AND CURRENT ROW"
      case _ => s"PARTITION BY $part ORDER BY $key ASC NULLS FIRST " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    }
    val expr = rnd.nextInt(4) match {
      case 0 => s"CAST(COUNT(DISTINCT $arg) OVER ($spec) AS BIGINT)"
      case 1 => s"CAST(SUM(DISTINCT $arg) OVER ($spec) AS BIGINT)"
      case 2 => s"CAST(ROUND(AVG(DISTINCT $arg) OVER ($spec), 6) AS DOUBLE)"
      case _ => s"CAST(MIN(DISTINCT $arg) OVER ($spec) AS BIGINT)"
    }
    s"SELECT $key AS c1, CAST($gv AS BIGINT) AS c2, $expr AS c3 " +
      s"FROM $t WHERE $v IS NOT NULL AND $part IS NOT NULL " +
      s"AND ${pred(tbl, 1)} ${orderAll(3)} ${limit()}"
  }

  /** GROUPS-frame differential suite (round 16). DuckDB 1.0 cannot
    * parse GROUPS at all, so unlike every other dialect kind the oracle
    * text DIFFERS from the Spark text: the generator templates an
    * equivalent the oracle CAN run — the direct RANGE/ROWS mapping for
    * UNBOUNDED/CURRENT bound mixes, an explicit DENSE_RANK subquery +
    * RANGE for integer offsets — independently of the shim's marker and
    * the analyzer rule (graft.functions.DuckWindowRule) that computes
    * the frame. The comparison therefore proves the rule on random
    * shapes (repeated specs, WHERE, named windows, set operations,
    * grouped blocks, ORDER BY/LIMIT tails); the decomposition CONCEPT
    * (RANGE over gapless dense ranks = GROUPS) is pinned separately
    * against hand-derived ANSI goldens in DuckDbDialectSpec. Aggregates are SUM/COUNT over group frames —
    * frame membership is group-based, so tie order cannot affect them.
    * Returns (name, sparkSql, oracleSql). */
  def groupsQueries(count: Int): Vector[(String, String, String)] =
    (1 to count).map { i =>
      val (s, o) = qGroupsFrame()
      (f"fz_$i%04d_dgf", s, o)
    }.toVector

  /** Round-18 composed kind (--groupsx): every query combines a
    * NUMERIC-offset GROUPS frame with at least one of the wrapping
    * passes — QUALIFY (wraps the head into a subquery BEFORE the groups
    * pass sees it, and hoists the predicate window into the head's
    * select list) or a DISTINCT window aggregate
    * (decomposed inline over collect_set) — across the inline /
    * named-WINDOW / grouped / set-op-subquery contexts. The round-17
    * dgf kind covers each context singly; this kind pins the
    * INTERACTIONS. The oracle replaces only the GROUPS window with its
    * dense-rank equivalent; QUALIFY and DISTINCT-over are DuckDB-native
    * and stay verbatim. */
  def groupsComposedQueries(count: Int): Vector[(String, String, String)] =
    (1 to count).map { i =>
      val (s, o) = qGroupsComposed()
      (f"fz_$i%04d_dgx", s, o)
    }.toVector

  private def qGroupsComposed(): (String, String) = {
    val (t, part, key) = pick(Seq(
      ("orders", "o_custkey", "o_orderkey"),
      ("lineitem", "l_suppkey", "l_orderkey * 10 + l_linenumber"),
      ("events", "user_id", "event_id")))
    val tbl = tables.find(_.name == t).get
    val v = pick(cols(tbl, IntK)).name
    val sv = pick(cols(tbl, IntK)).name
    val dv = pick(cols(tbl, IntK)).name // DISTINCT-window argument
    val ov = s"($v % ${intLit(3, 9)})"
    def nOff() = 1 + rnd.nextInt(4)
    val (a, b) = rnd.nextInt(3) match {
      case 0 => (s"${nOff()} PRECEDING", "CURRENT ROW")
      case 1 => (s"${nOff()} PRECEDING", s"${nOff()} FOLLOWING")
      case _ => ("CURRENT ROW", s"${nOff()} FOLLOWING")
    }
    val gFrame = s"GROUPS BETWEEN $a AND $b"
    val rFrame = s"RANGE BETWEEN $a AND $b"
    val where = s"$v IS NOT NULL AND $part IS NOT NULL AND ${pred(tbl, 1)}"
    val qn = 2 + rnd.nextInt(4)
    val sSpec = s"PARTITION BY $part ORDER BY $ov ASC NULLS FIRST $gFrame"
    // the hoisted-dense-rank oracle body shared by all shapes: c3's
    // window over g, plus the companion columns each shape adds
    def hoistedFrom(extra: String): String =
      s"(SELECT $key AS c1, CAST($ov AS BIGINT) AS c2, $sv AS s, " +
        s"$part AS p$extra, " +
        s"DENSE_RANK() OVER (PARTITION BY $part ORDER BY $ov ASC NULLS FIRST) AS g " +
        s"FROM $t WHERE $where) q"
    val oSpec = s"PARTITION BY p ORDER BY g ASC NULLS FIRST $rFrame"
    rnd.nextInt(10) match {
      case 9 => // round 20: multi-relation qualified star + qualified
        // references, through the GATEWAY (the leading /*dgq*/ marker
        // routes this query through SqlGateway.run). supplier ⋈ nation
        // have disjoint FIXED parquet schemas, so s.* is schema-stable
        // for the hash compare.
        val k9 = intLit(3, 9)
        val n9 = 1 + rnd.nextInt(3)
        val sv9 = if (rnd.nextBoolean()) "s_suppkey" else "s_nationkey"
        val ov9 = s"(s.s_suppkey % $k9)"
        val tail9 = s"${orderAll(6)} ${limit()}"
        val join9 = "FROM supplier s JOIN nation n " +
          "ON s.s_nationkey = n.n_nationkey WHERE s.s_acctbal IS NOT NULL"
        (s"/*dgq*/SELECT s.*, n.n_name, CAST(SUM(s.$sv9) OVER (PARTITION BY " +
          s"s.s_nationkey ORDER BY $ov9 ASC NULLS FIRST GROUPS BETWEEN $n9 " +
          s"PRECEDING AND CURRENT ROW) AS BIGINT) AS c6 $join9 $tail9",
          s"SELECT s_suppkey, s_name, s_nationkey, s_acctbal, n_name, " +
            s"CAST(SUM(sv) OVER (PARTITION BY p ORDER BY g ASC NULLS FIRST " +
            s"RANGE BETWEEN $n9 PRECEDING AND CURRENT ROW) AS BIGINT) AS c6 " +
            s"FROM (SELECT s.*, n.n_name, s.$sv9 AS sv, s.s_nationkey AS p, " +
            s"DENSE_RANK() OVER (PARTITION BY s.s_nationkey ORDER BY $ov9 " +
            s"ASC NULLS FIRST) AS g $join9) q $tail9")
      case 8 => // round 19: SELECT DISTINCT over a grouped GROUPS block
        // (the former r16 bound). c2 is constant within each order-value
        // peer group (group-frame SUM), so DISTINCT collapses each
        // order value to one row deterministically; the oracle applies
        // the same DISTINCT over the dense-rank formulation.
        val k = intLit(3, 9)
        val gov = s"($part % $k)"
        val tail = s"${orderAll(2)} ${limit()}"
        (s"SELECT DISTINCT $gov AS c1, CAST(SUM(COUNT(*)) OVER (ORDER BY " +
          s"$gov ASC NULLS FIRST $gFrame) AS BIGINT) AS c2 " +
          s"FROM $t WHERE $where GROUP BY $part $tail",
          s"SELECT DISTINCT gv AS c1, CAST(SUM(cnt) OVER (ORDER BY g ASC " +
            s"NULLS FIRST $rFrame) AS BIGINT) AS c2 " +
            s"FROM (SELECT $gov AS gv, COUNT(*) AS cnt, " +
            s"DENSE_RANK() OVER (ORDER BY $gov ASC NULLS FIRST) AS g " +
            s"FROM $t WHERE $where GROUP BY $part) q $tail")
      case 6 => // round 19: quoted keywords inside the spec + constant-
        // expression offsets. The named-window partition expression
        // carries string literals spelling 'order by'/'rows between'
        // (the scanner masks them — a mis-split would put the marker in
        // the wrong place), and the GROUPS offsets are spelled
        // as foldable arithmetic / CAST forms (foldIntOffset); the
        // oracle runs the CASE verbatim and the offsets pre-folded.
        val k = intLit(4, 9)
        val gov = s"($part % $k)"
        val qp = s"(CASE WHEN 'order by' = 'rows between' THEN 0 " +
          s"ELSE ($part % 3) END)"
        val n1 = 1 + rnd.nextInt(3)
        val aE = if (rnd.nextBoolean()) s"($n1+0) PRECEDING"
          else s"CAST($n1 AS INT) PRECEDING"
        val n2 = 1 + rnd.nextInt(3)
        val bE = s"((${n2}*2)-$n2) FOLLOWING"
        val tail = s"${orderAll(3)} ${limit()}"
        (s"SELECT $part AS c1, CAST(SUM($sv) AS BIGINT) AS c2, " +
          s"CAST(SUM(COUNT(*)) OVER w AS BIGINT) AS c3 " +
          s"FROM $t WHERE $where GROUP BY $part " +
          s"WINDOW w AS (PARTITION BY $qp ORDER BY $gov ASC NULLS FIRST " +
          s"GROUPS BETWEEN $aE AND $bE) $tail",
          s"SELECT c1, c2, CAST(SUM(cnt) OVER (PARTITION BY qp ORDER BY g " +
            s"ASC NULLS FIRST RANGE BETWEEN $n1 PRECEDING AND $n2 FOLLOWING) " +
            s"AS BIGINT) AS c3 " +
            s"FROM (SELECT $part AS c1, CAST(SUM($sv) AS BIGINT) AS c2, " +
            s"COUNT(*) AS cnt, $qp AS qp, " +
            s"DENSE_RANK() OVER (PARTITION BY $qp ORDER BY $gov ASC NULLS " +
            s"FIRST) AS g FROM $t WHERE $where GROUP BY $part) q $tail")
      case 7 => // round 19: `* EXCLUDE (cols)` beside a GROUPS window —
        // the rank column must not leak through the star; offsets
        // again in constant-expression spelling. The
        // derived table fixes the column set so the star is schema-
        // stable for the hash compare.
        val n1 = 1 + rnd.nextInt(3)
        val tail = s"${orderAll(5)} ${limit()}"
        (s"SELECT * EXCLUDE (x1), CAST(SUM(c4) OVER (PARTITION BY c5 " +
          s"ORDER BY c2 ASC NULLS FIRST GROUPS BETWEEN ($n1+0) PRECEDING " +
          s"AND CURRENT ROW) AS BIGINT) AS c3 " +
          s"FROM (SELECT $key AS c1, CAST($ov AS BIGINT) AS c2, " +
          s"$sv AS c4, $part AS c5, ($key % 7) AS x1 " +
          s"FROM $t WHERE $where) q $tail",
          s"SELECT * EXCLUDE (x1, g), CAST(SUM(c4) OVER (PARTITION BY c5 " +
            s"ORDER BY g ASC NULLS FIRST RANGE BETWEEN $n1 PRECEDING AND " +
            s"CURRENT ROW) AS BIGINT) AS c3 " +
            s"FROM (SELECT $key AS c1, CAST($ov AS BIGINT) AS c2, " +
            s"$sv AS c4, $part AS c5, ($key % 7) AS x1, " +
            s"DENSE_RANK() OVER (PARTITION BY $part ORDER BY CAST($ov AS " +
            s"BIGINT) ASC NULLS FIRST) AS g " +
            s"FROM $t WHERE $where) q $tail")
      case 5 => // grouped block + named WINDOW clause (round 18); a
        // second PLAIN named window rides along in the same clause
        val k = intLit(3, 9)
        val gov = s"($part % $k)"
        val tail = s"${orderAll(4)} ${limit()}"
        (s"SELECT $part AS c1, CAST(SUM($sv) AS BIGINT) AS c2, " +
          s"CAST(SUM(COUNT(*)) OVER w AS BIGINT) AS c3, " +
          s"CAST(SUM(SUM($sv)) OVER v AS BIGINT) AS c4 " +
          s"FROM $t WHERE $where GROUP BY $part " +
          s"WINDOW w AS (ORDER BY $gov ASC NULLS FIRST $gFrame), " +
          s"v AS (ORDER BY $gov ASC NULLS FIRST, $part ASC NULLS FIRST " +
          s"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) $tail",
          s"SELECT c1, c2, CAST(SUM(cnt) OVER (ORDER BY g ASC NULLS FIRST " +
            s"$rFrame) AS BIGINT) AS c3, " +
            s"CAST(SUM(c2) OVER (ORDER BY gv ASC NULLS FIRST, c1 ASC NULLS FIRST " +
            s"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c4 " +
            s"FROM (SELECT $part AS c1, CAST(SUM($sv) AS BIGINT) AS c2, " +
            s"COUNT(*) AS cnt, $gov AS gv, " +
            s"DENSE_RANK() OVER (ORDER BY $gov ASC NULLS FIRST) AS g " +
            s"FROM $t WHERE $where GROUP BY $part) q $tail")
      case 0 => // inline GROUPS + QUALIFY
        val tail = s"${orderAll(3)} ${limit()}"
        (s"SELECT $key AS c1, CAST($ov AS BIGINT) AS c2, " +
          s"CAST(SUM($sv) OVER ($sSpec) AS BIGINT) AS c3 FROM $t WHERE $where " +
          s"QUALIFY ROW_NUMBER() OVER (PARTITION BY $part ORDER BY $key ASC) <= $qn $tail",
          s"SELECT c1, c2, CAST(SUM(s) OVER ($oSpec) AS BIGINT) AS c3 " +
            s"FROM ${hoistedFrom("")} " +
            s"QUALIFY ROW_NUMBER() OVER (PARTITION BY p ORDER BY c1 ASC) <= $qn $tail")
      case 1 => // inline GROUPS + DISTINCT window aggregate in the same list
        val tail = s"${orderAll(4)} ${limit()}"
        (s"SELECT $key AS c1, CAST($ov AS BIGINT) AS c2, " +
          s"CAST(SUM($sv) OVER ($sSpec) AS BIGINT) AS c3, " +
          s"CAST(COUNT(DISTINCT $dv) OVER (PARTITION BY $part) AS BIGINT) AS c4 " +
          s"FROM $t WHERE $where $tail",
          s"SELECT c1, c2, CAST(SUM(s) OVER ($oSpec) AS BIGINT) AS c3, " +
            s"CAST(COUNT(DISTINCT d) OVER (PARTITION BY p) AS BIGINT) AS c4 " +
            s"FROM ${hoistedFrom(s", $dv AS d")} $tail")
      case 2 => // named WINDOW clause + QUALIFY
        val tail = s"${orderAll(3)} ${limit()}"
        (s"SELECT $key AS c1, CAST($ov AS BIGINT) AS c2, " +
          s"CAST(SUM($sv) OVER w AS BIGINT) AS c3 FROM $t WHERE $where " +
          s"WINDOW w AS ($sSpec) " +
          s"QUALIFY ROW_NUMBER() OVER (PARTITION BY $part ORDER BY $key ASC) <= $qn $tail",
          s"SELECT c1, c2, CAST(SUM(s) OVER ($oSpec) AS BIGINT) AS c3 " +
            s"FROM ${hoistedFrom("")} " +
            s"QUALIFY ROW_NUMBER() OVER (PARTITION BY p ORDER BY c1 ASC) <= $qn $tail")
      case 3 => // grouped GROUPS block + QUALIFY over the grouped rows
        val k = intLit(3, 9)
        val gov = s"($part % $k)"
        val tail = s"${orderAll(3)} ${limit()}"
        (s"SELECT $part AS c1, CAST(SUM($sv) AS BIGINT) AS c2, " +
          s"CAST(SUM(COUNT(*)) OVER (ORDER BY $gov ASC NULLS FIRST $gFrame) " +
          s"AS BIGINT) AS c3 FROM $t WHERE $where GROUP BY $part " +
          s"QUALIFY ROW_NUMBER() OVER (ORDER BY $part ASC) <= $qn $tail",
          s"SELECT c1, c2, CAST(SUM(cnt) OVER (ORDER BY g ASC NULLS FIRST " +
            s"$rFrame) AS BIGINT) AS c3 FROM (SELECT $part AS c1, " +
            s"CAST(SUM($sv) AS BIGINT) AS c2, COUNT(*) AS cnt, " +
            s"DENSE_RANK() OVER (ORDER BY $gov ASC NULLS FIRST) AS g " +
            s"FROM $t WHERE $where GROUP BY $part) q " +
            s"QUALIFY ROW_NUMBER() OVER (ORDER BY c1 ASC) <= $qn $tail")
      case _ => // set op: GROUPS inside a branch SUBQUERY (the round-18
        // deep-recursion fix) unioned with a DISTINCT-window branch
        val tail = s"${orderAll(3)} ${limit()}"
        (s"SELECT c1, c2, c3 FROM (SELECT $key AS c1, CAST($ov AS BIGINT) AS c2, " +
          s"CAST(SUM($sv) OVER ($sSpec) AS BIGINT) AS c3 FROM $t WHERE $where) s1 " +
          s"UNION ALL SELECT $key AS c1, CAST($ov AS BIGINT) AS c2, " +
          s"CAST(COUNT(DISTINCT $dv) OVER (PARTITION BY $part) AS BIGINT) AS c3 " +
          s"FROM $t WHERE $where $tail",
          s"SELECT c1, c2, CAST(SUM(s) OVER ($oSpec) AS BIGINT) AS c3 " +
            s"FROM ${hoistedFrom("")} " +
            s"UNION ALL SELECT $key AS c1, CAST($ov AS BIGINT) AS c2, " +
            s"CAST(COUNT(DISTINCT $dv) OVER (PARTITION BY $part) AS BIGINT) AS c3 " +
            s"FROM $t WHERE $where $tail")
    }
  }

  private def qGroupsFrame(): (String, String) = {
    val (t, part, key) = pick(Seq(
      ("orders", "o_custkey", "o_orderkey"),
      ("lineitem", "l_suppkey", "l_orderkey * 10 + l_linenumber"),
      ("events", "user_id", "event_id")))
    val tbl = tables.find(_.name == t).get
    val v = pick(cols(tbl, IntK)).name
    val sv = pick(cols(tbl, IntK)).name
    val ov = s"($v % ${intLit(3, 9)})" // low-cardinality order key → real peer groups
    // (a, b) as (sparkText, isNumeric), drawn from the VALID combination
    // space — including the off-frame both-PRECEDING / both-FOLLOWING
    // shapes (round-16 widening) where the frame can miss the current
    // row's group entirely
    def nOff() = 1 + rnd.nextInt(4)
    val (a, b) = rnd.nextInt(10) match {
      case 0 => (("UNBOUNDED PRECEDING", false), ("CURRENT ROW", false))
      case 1 => (("CURRENT ROW", false), ("UNBOUNDED FOLLOWING", false))
      case 2 => (("UNBOUNDED PRECEDING", false), ("UNBOUNDED FOLLOWING", false))
      case 3 => ((s"${nOff()} PRECEDING", true), ("CURRENT ROW", false))
      case 4 => ((s"${nOff()} PRECEDING", true), (s"${nOff()} FOLLOWING", true))
      case 5 => (("CURRENT ROW", false), (s"${nOff()} FOLLOWING", true))
      case 6 => (("UNBOUNDED PRECEDING", false), (s"${nOff()} FOLLOWING", true))
      case 7 => ((s"${nOff()} PRECEDING", true), ("UNBOUNDED FOLLOWING", false))
      case 8 => // both-PRECEDING off-frame: start n ≥ end j
        val n = 2 + rnd.nextInt(3); val j = 1 + rnd.nextInt(n - 1)
        ((s"$n PRECEDING", true), (s"$j PRECEDING", true))
      case _ => // both-FOLLOWING off-frame: start n ≤ end j
        val n = 1 + rnd.nextInt(3); val j = n + rnd.nextInt(3)
        ((s"$n FOLLOWING", true), (s"$j FOLLOWING", true))
    }
    val numeric = a._2 || b._2
    // single-bound shorthand sometimes, when the end is CURRENT ROW
    val shorthand = b._1 == "CURRENT ROW" && rnd.nextInt(3) == 0
    val gFrame =
      if (shorthand) s"GROUPS ${a._1}" else s"GROUPS BETWEEN ${a._1} AND ${b._1}"
    // the equivalent frame the ORACLE runs (RANGE over the order value
    // for UNBOUNDED/CURRENT mixes; RANGE over a dense rank for offsets)
    val oFrame =
      if (numeric) s"RANGE BETWEEN ${a._1} AND ${b._1}"
      else (a._1, b._1) match {
        case ("UNBOUNDED PRECEDING", "UNBOUNDED FOLLOWING") =>
          "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
        case (s, e) => s"RANGE BETWEEN $s AND $e"
      }
    // shape (round 17): 0–4 inline OVER spec, 5 named WINDOW clause,
    // 6 set-operation branches, 7 grouped block — the three contexts
    // the round-16 shim bounded out and round 17 closed
    val shape = rnd.nextInt(8)
    val secondWindow = shape <= 4 && rnd.nextInt(4) == 0 // repeated-spec stress
    val where = s"$v IS NOT NULL AND $part IS NOT NULL AND ${pred(tbl, 1)}"
    val tailCols = if (secondWindow) 4 else 3
    val tail = s"${orderAll(tailCols)} ${limit()}"
    val sSpec = s"PARTITION BY $part ORDER BY $ov ASC NULLS FIRST $gFrame"
    val oSpec = s"PARTITION BY $part ORDER BY $ov ASC NULLS FIRST $oFrame"
    // the dense-rank subquery equivalent of one branch (numeric oracle)
    def oracleHoisted(whereTxt: String): String = {
      val spec = "PARTITION BY p ORDER BY g ASC NULLS FIRST " + oFrame
      s"SELECT c1, c2, CAST(SUM(s) OVER ($spec) AS BIGINT) AS c3" +
        (if (secondWindow) s", CAST(COUNT(*) OVER ($spec) AS BIGINT) AS c4" else "") +
        s" FROM (SELECT $key AS c1, CAST($ov AS BIGINT) AS c2, $sv AS s, $part AS p, " +
        s"DENSE_RANK() OVER (PARTITION BY $part ORDER BY $ov ASC NULLS FIRST) AS g " +
        s"FROM $t WHERE $whereTxt) q"
    }
    def sparkBranch(whereTxt: String): String =
      s"SELECT $key AS c1, CAST($ov AS BIGINT) AS c2, " +
        s"CAST(SUM($sv) OVER ($sSpec) AS BIGINT) AS c3" +
        (if (secondWindow) s", CAST(COUNT(*) OVER ($sSpec) AS BIGINT) AS c4" else "") +
        s" FROM $t WHERE $whereTxt"
    def oracleBranch(whereTxt: String): String =
      if (!numeric)
        s"SELECT $key AS c1, CAST($ov AS BIGINT) AS c2, " +
          s"CAST(SUM($sv) OVER ($oSpec) AS BIGINT) AS c3" +
          (if (secondWindow) s", CAST(COUNT(*) OVER ($oSpec) AS BIGINT) AS c4" else "") +
          s" FROM $t WHERE $whereTxt"
      else oracleHoisted(whereTxt)
    val (sparkSql, oracleSql) = shape match {
      case 5 => // named WINDOW clause (round 17)
        (s"SELECT $key AS c1, CAST($ov AS BIGINT) AS c2, " +
          s"CAST(SUM($sv) OVER w AS BIGINT) AS c3 FROM $t WHERE $where " +
          s"WINDOW w AS ($sSpec) $tail",
          s"${oracleBranch(where)} $tail")
      case 6 => // set-operation branches: each has its own window
        val where2 = s"$v IS NOT NULL AND $part IS NOT NULL AND ${pred(tbl, 1)}"
        (s"${sparkBranch(where)} UNION ALL ${sparkBranch(where2)} $tail",
          s"${oracleBranch(where)} UNION ALL ${oracleBranch(where2)} $tail")
      case 7 => // grouped block: windows rank groups
        val k = intLit(3, 9)
        val gov = s"($part % $k)"
        val gTail = s"${orderAll(3)} ${limit()}"
        val sq =
          s"SELECT $part AS c1, CAST(SUM($sv) AS BIGINT) AS c2, " +
            s"CAST(SUM(COUNT(*)) OVER (ORDER BY $gov ASC NULLS FIRST $gFrame) " +
            s"AS BIGINT) AS c3 FROM $t WHERE $where GROUP BY $part $gTail"
        val oq =
          if (!numeric)
            s"SELECT $part AS c1, CAST(SUM($sv) AS BIGINT) AS c2, " +
              s"CAST(SUM(COUNT(*)) OVER (ORDER BY $gov ASC NULLS FIRST $oFrame) " +
              s"AS BIGINT) AS c3 FROM $t WHERE $where GROUP BY $part $gTail"
          else
            s"SELECT c1, c2, CAST(SUM(cnt) OVER (ORDER BY g ASC NULLS FIRST " +
              s"$oFrame) AS BIGINT) AS c3 FROM (SELECT $part AS c1, " +
              s"CAST(SUM($sv) AS BIGINT) AS c2, COUNT(*) AS cnt, " +
              s"DENSE_RANK() OVER (ORDER BY $gov ASC NULLS FIRST) AS g " +
              s"FROM $t WHERE $where GROUP BY $part) q $gTail"
        (sq, oq)
      case _ =>
        (s"${sparkBranch(where)} $tail", s"${oracleBranch(where)} $tail")
    }
    (sparkSql, oracleSql)
  }

  /** Round-16 function-surface kind: the argument-order/name twins the
    * shim now maps — arg_max/arg_min ↔ max_by/min_by, quantile_cont ↔
    * percentile, quantile_disc/quantile ↔ percentile_disc WITHIN GROUP,
    * 3-arg date_diff/datediff boundary arithmetic, list lambdas
    * (list_transform/list_filter ↔ transform/filter), the list()
    * aggregate ↔ collect_list (list_sort-normalized: neither engine
    * orders the aggregate), and select-list unnest ↔ explode. DuckDB
    * runs every query verbatim. */
  private def qDialectFn2(): String = {
    val t = pick(tables.filter(_.uniqueKey.nonEmpty))
    val key = t.uniqueKey.get
    val i1 = pick(cols(t, IntK)).name
    val i2 = pick(cols(t, IntK)).name
    val grp = s"($i1 % ${intLit(3, 9)})"
    val q = pick(Seq("0.1", "0.25", "0.5", "0.75", "0.9"))
    rnd.nextInt(8) match {
      case 0 =>
        // the BY expression is tie-broken with the unique key — a tied
        // extreme would make arg_max's pick engine-arbitrary (found by
        // this kind's own first soak: arg_min over a %-bucketed BY had
        // whole-group ties)
        val fn = pick(Seq("arg_max", "arg_min"))
        s"SELECT $grp AS c1, CAST($fn($i2, ($i2 % 1000) * 1000000 + $key) AS BIGINT) AS c2 " +
          s"FROM ${t.name} WHERE ${basePred(t)} AND $i1 IS NOT NULL AND $i2 IS NOT NULL " +
          s"GROUP BY 1 ${orderAll(2)} ${limit()}"
      case 1 =>
        s"SELECT $grp AS c1, ROUND(quantile_cont($i2, $q), 6) AS c2 " +
          s"FROM ${t.name} WHERE ${basePred(t)} AND $i1 IS NOT NULL " +
          s"GROUP BY 1 ${orderAll(2)} ${limit()}"
      case 2 =>
        val fn = pick(Seq("quantile_disc", "quantile"))
        s"SELECT $grp AS c1, CAST($fn($i2, $q) AS BIGINT) AS c2 " +
          s"FROM ${t.name} WHERE ${basePred(t)} AND $i1 IS NOT NULL " +
          s"GROUP BY 1 ${orderAll(2)} ${limit()}"
      case 3 =>
        val dcs = cols(t, TsK)
        if (dcs.isEmpty) qDialectFn2()
        else {
          // a second timestamp derived by a fixed shift so the pair
          // straddles part boundaries both ways
          val d1 = pick(dcs).name
          val d2 = s"($d1 + INTERVAL ${1 + rnd.nextInt(40)} DAY)"
          val part = pick(Seq("year", "quarter", "month", "week", "day", "hour"))
          val fn = pick(Seq("date_diff", "datediff"))
          s"SELECT $key AS c1, $fn('$part', $d1, $d2) AS c2, " +
            s"$fn('$part', $d2, $d1) AS c3 " +
            s"FROM ${t.name} WHERE ${basePred(t)} AND $d1 IS NOT NULL " +
            s"${orderAll(3)} ${limit()}"
        }
      case 4 =>
        val lam = rnd.nextInt(3) match {
          case 0 => s"list_transform([$i1 % 5, $i2 % 7, $i1 % 11], x -> x * 2 + 1)"
          case 1 => s"list_filter([$i1 % 5, $i2 % 7, $i1 % 11], x -> x > 2)"
          case _ => s"list_transform(list_filter([$i1 % 5, $i2 % 7], x -> x >= 0), x -> x + $i2 % 3)"
        }
        s"SELECT $key AS c1, $lam AS c2 FROM ${t.name} " +
          s"WHERE ${basePred(t)} AND $i1 IS NOT NULL AND $i2 IS NOT NULL " +
          s"${orderAll(1)} ${limit()}"
      case 5 =>
        s"SELECT $key AS c1, unnest([$i1 % 5, $i2 % 9]) AS c2 FROM ${t.name} " +
          s"WHERE ${basePred(t)} AND $i1 IS NOT NULL AND $i2 IS NOT NULL " +
          s"${orderAll(2)} ${limit()}"
      case 6 => // batch-2 string predicates/position over an ASCII column
        val sc = cols(t, StrK)
        if (sc.isEmpty) qDialectFn2()
        else {
          val c = pick(sc).name
          val lit = pick(Seq("a", "e", "o", "1", "C"))
          s"SELECT $key AS c1, starts_with($c, '$lit') AS c2, " +
            s"ends_with($c, '$lit') AS c3, CAST(strpos($c, '$lit') AS BIGINT) AS c4 " +
            s"FROM ${t.name} WHERE ${basePred(t)} AND $c IS NOT NULL " +
            s"${orderAll(4)} ${limit()}"
        }
      case _ => // batch-2/3 list mutation/extract/unique/aggregate/membership
        val base = s"[$i1 % 7, $i2 % 5, $i1 % 3]"
        val expr = rnd.nextInt(6) match {
          case 0 => s"list_extract(list_prepend($i2 % 9, $base), ${1 + rnd.nextInt(4)})"
          case 1 => s"CAST(list_unique($base) AS BIGINT)"
          case 2 => s"CAST(list_aggregate($base, '${pick(Seq("min", "max", "count"))}') AS BIGINT)"
          case 3 => s"ROUND(list_aggregate($base, '${pick(Seq("sum", "avg"))}'), 6)"
          case 4 => s"list_has_any($base, [$i2 % 5, ${rnd.nextInt(7)}])"
          case _ => s"list_has_all($base, [$i1 % 3, ${rnd.nextInt(5)}])"
        }
        s"SELECT $key AS c1, $expr AS c2 FROM ${t.name} " +
          s"WHERE ${basePred(t)} AND $i1 IS NOT NULL AND $i2 IS NOT NULL " +
          s"${orderAll(2)} ${limit()}"
    }
  }

  /** COLUMNS('regex') star-expansion kind (round 16). DuckDB runs the
    * spelling natively; the Spark side routes through SqlGateway.run
    * (the expansion needs the relation schema, so the gateway — not the
    * bare shim — owns it; the fuzz main routes any COLUMNS query there,
    * the same special-casing as PIVOT statements). Regexes are drawn
    * from each table's known column-prefix pools so the zero-match
    * binder error never fires; wrapped forms exercise the whole-item
    * replication; output columns are BASE column names on both engines,
    * and check_oracle's name-sorted compare aligns them. */
  private def qDialectColumns(): String = {
    // row-level shapes (cases 0/2) order by the key ALONE, so they are
    // restricted to tables with a genuinely UNIQUE single-column key —
    // lineitem's (l_orderkey, l_linenumber) identity is NOT unique in
    // the driver data (45832 distinct over 60000 rows), and key-only
    // ORDER BY + LIMIT picked different tie rows per engine (found by
    // this kind's first soak, 3/600); lineitem still appears in the
    // aggregate shape, whose output carries no row identity
    val (t, key, re) = pick(Seq(
      ("orders", "o_orderkey",
        pick(Seq("o_.*key", "o_total.*", "^o_order(key|status)$", "o_order.*"))),
      ("customer", "c_custkey",
        pick(Seq("c_.*key", "c_(name|address)", "^c_n", "c_acct.*"))),
      ("part", "p_partkey",
        pick(Seq("p_.*key", "p_(size|retailprice)", "^p_(name|brand)$")))))
    val tbl = tables.find(_.name == t).get
    rnd.nextInt(3) match {
      case 0 => // bare projection
        s"SELECT $key AS c0, COLUMNS('$re') FROM $t " +
          s"WHERE ${basePred(tbl)} ORDER BY 1 ASC NULLS FIRST ${limit()}"
      case 1 => // aggregate-wrapped: item replicated per column
        val (aggT, aggRe) =
          if (rnd.nextInt(2) == 0)
            (tables.find(_.name == "lineitem").get,
              pick(Seq("l_.*key", "l_.*price|l_quantity", "l_ship.*")))
          else (tbl, re)
        val fn = pick(Seq("min", "max", "count"))
        s"SELECT $fn(COLUMNS('$aggRe')) FROM ${aggT.name} WHERE ${basePred(aggT)} " +
          "ORDER BY 1 ASC NULLS FIRST LIMIT 10"
      case _ => // expression context around the expansion
        val i1 = pick(cols(tbl, IntK)).name
        s"SELECT $key AS c0, COLUMNS('${tbl.name.charAt(0)}_.*key') % 97 FROM $t " +
          s"WHERE ${basePred(tbl)} AND $i1 IS NOT NULL " +
          s"ORDER BY 1 ASC NULLS FIRST ${limit()}"
    }
  }

  def dialectQueries(count: Int): Vector[(String, String)] =
    (1 to count).map { i =>
      val (kind, sql) = rnd.nextInt(19) match {
        case 0 => ("dsel", qDialectProj())
        case 1 => ("dgrp", qDialectGroup())
        case 2 => ("dtb", qDialectBucket())
        case 3 => ("dlst", qDialectList())
        case 4 => ("drex", qDialectRegex())
        case 5 => ("dqual", qDialectQualify())
        case 6 => ("drep", qDialectReplace())
        case 7 => ("dasof", qDialectAsof())
        case 8 => ("ddon", qDialectDistinctOn())
        case 9 => ("dsim", qDialectSimilar())
        case 10 => ("dign", qDialectIgnoreNulls())
        case 11 => ("dexc", qDialectFrameExclude())
        case 12 => ("dpivot", qDialectPivot())
        case 13 => ("dunpivot", qDialectUnpivot())
        case 14 => ("dfrom", qDialectFromFirst())
        case 15 => ("ddw", qDialectDistinctWindow())
        case 16 => ("dfn2", qDialectFn2())
        case 17 => ("dcols", qDialectColumns())
        case _ => ("ddiv", qDialectDivFilter())
      }
      (f"fz_$i%04d_$kind", sql)
    }.toVector

  /** Deep-composition generator (round 13b): a random 2-4 level chain of
    * derived-table wraps — filter, group-agg, self equi-join, UNION ALL,
    * ranking window — over a typed 3-int-column base, so the engines are
    * compared on COMPOSED plans (pushdown through nested derived tables,
    * agg-over-setop, window-over-join, join-over-agg), not the single
    * shapes the other kinds sample. Determinism invariants per level:
    *  - all columns integer; aggregates CAST AS BIGINT (exact);
    *  - a `uniq` flag tracks whether c1 is unique (base key; after an
    *    agg, the group key) — the self-join only fires while c1 is
    *    unique, so row counts never multiply (a non-unique self-join on
    *    a %-bucketed key would be O(rows²/k) — a generator bug, not an
    *    engine comparison);
    *  - the ranking window orders by ALL columns with explicit NULLS
    *    placement, so tied rows are full-row duplicates and the output
    *    MULTISET is engine-independent even where rank assignment within
    *    a tie group is not;
    *  - the final SELECT orders the whole output (orderAll) + LIMIT. */
  private def qDeep(): String = {
    val t = pick(tables.filter(_.uniqueKey.nonEmpty))
    val key = t.uniqueKey.get
    val i1 = pick(cols(t, IntK)).name
    val i2 = pick(cols(t, IntK)).name
    var sql = s"SELECT $key AS c1, ($i1 % ${intLit(5, 40)}) AS c2, " +
      s"($i2 % ${intLit(5, 40)}) AS c3 FROM ${t.name} WHERE ${basePred(t)}"
    var uniq = true
    var alias = 0
    def wrap(body: String): String = { alias += 1; s"($body) d$alias" }
    (1 to (2 + rnd.nextInt(3))).foreach { _ =>
      rnd.nextInt(5) match {
        case 0 => // filter on a derived column
          val c = pick(Seq("c2", "c3"))
          sql = s"SELECT c1, c2, c3 FROM ${wrap(sql)} " +
            s"WHERE $c ${pick(cmpOps)} ${intLit(0, 30)}"
        case 1 => // group-agg: the bucketed key becomes the new unique c1
          sql = s"SELECT (c2 % ${intLit(2, 9)}) AS c1, " +
            s"CAST(COUNT(*) AS BIGINT) AS c2, CAST(SUM(c3) AS BIGINT) AS c3 " +
            s"FROM ${wrap(sql)} GROUP BY 1"
          uniq = true
        case 2 if uniq => // self equi-join on the unique c1: row-preserving
          // a/b ARE the derived-table aliases here (wrap's d$n alias
          // would double-alias: "(...) d2 a" is a syntax error — the
          // bug that proved this kind had never actually run)
          sql = s"SELECT a.c1 AS c1, a.c2 AS c2, b.c3 AS c3 " +
            s"FROM ($sql) a JOIN ($sql) b ON a.c1 = b.c1"
        case 3 => // UNION ALL with a filtered copy of the same chain
          sql = s"SELECT c1, c2, c3 FROM ${wrap(sql)} UNION ALL " +
            s"SELECT c1, c2, c3 FROM ${wrap(sql)} " +
            s"WHERE c3 ${pick(cmpOps)} ${intLit(0, 30)}"
          uniq = false
        case _ => // ranking window over all columns (multiset-deterministic)
          sql = s"SELECT c1, c2, CAST(ROW_NUMBER() OVER (" +
            s"PARTITION BY (c2 % ${intLit(2, 5)}) " +
            s"ORDER BY c3 ASC NULLS FIRST, c1 ASC NULLS FIRST, " +
            s"c2 ASC NULLS FIRST) AS BIGINT) AS c3 FROM ${wrap(sql)}"
      }
    }
    s"SELECT c1, c2, c3 FROM ${wrap(sql)} ${orderAll(3)} ${limit()}"
  }

  /** TPC-H Q19 signature (round 13c): an equi-join whose WHERE is an OR
    * of 2-3 conjunct groups mixing columns from BOTH sides — the planner
    * must keep the partkey equi-join and evaluate the disjunction as a
    * post-join residual. Grouped on a pooled column so the output is a
    * small deterministic rollup; the money sum uses the fixed-point
    * image. */
  private def qDisjJoin(): String = {
    def armGroup(): String = {
      val brand = pick(part.pools("p_brand"))
      val types = rnd.shuffle(part.pools("p_type")).take(1 + rnd.nextInt(3)).sorted
      val szLo = intLit(1, 25); val szHi = szLo + intLit(3, 20)
      val qLo = intLit(1, 30); val qHi = qLo + intLit(5, 20)
      s"(p_brand = '$brand' AND p_type IN (${types.map(t => s"'$t'").mkString(", ")}) " +
        s"AND p_size BETWEEN $szLo AND $szHi " +
        s"AND l_quantity >= $qLo.0 AND l_quantity <= $qHi.0)"
    }
    val arms = (1 to (2 + rnd.nextInt(2))).map(_ => armGroup())
    s"SELECT p_brand AS c1, CAST(COUNT(*) AS BIGINT) AS c2, " +
      s"${oSumSql("l_extendedprice")} AS c3 " +
      s"FROM lineitem JOIN part ON p_partkey = l_partkey " +
      s"WHERE ${arms.mkString(" OR ")} " +
      s"GROUP BY 1 ${orderAll(3)} ${limit()}"
  }

  /** TPC-H Q13 signature (round 13c): count-of-counts over a LEFT join
    * whose extra predicate sits INSIDE the ON clause — zero-match
    * parents must survive with count 0 (a WHERE would silently drop
    * them), and COUNT(col) vs COUNT(*) differ exactly on those rows.
    * Under --nulls the FK itself can be NULL, exercising the
    * null-join-key path through both aggregation levels. */
  private def qCountDist(): String = {
    val (child, parent, fk, pk) = pick(Seq(
      (orders, customer, "o_custkey", "c_custkey"),
      (lineitem, orders, "l_orderkey", "o_orderkey"),
      (lineitem, part, "l_partkey", "p_partkey"),
      (lineitem, supplier, "l_suppkey", "s_suppkey")))
    val onPred = "b." + basePred(child)
    val counted = if (rnd.nextBoolean()) s"b.$fk" else "b." + pick(cols(child, IntK)).name
    s"WITH co AS (SELECT a.$pk AS k, CAST(COUNT($counted) AS BIGINT) AS cc " +
      s"FROM ${parent.name} a LEFT JOIN ${child.name} b " +
      s"ON a.$pk = b.$fk AND $onPred GROUP BY 1) " +
      s"SELECT cc AS c1, CAST(COUNT(*) AS BIGINT) AS c2 " +
      s"FROM co GROUP BY 1 ${orderAll(2)} ${limit()}"
  }

  /** The full deterministic suite for this seed. */
  def queries(count: Int): Vector[(String, String)] =
    (1 to count).map { i =>
      val (kind, sql) = rnd.nextInt(20) match {
        case 0 | 1 | 2 => ("sel", qSimple())
        case 3 | 4 | 5 => ("grp", qGroupAgg())
        case 6 => ("win", qWindow())
        case 7 => ("join", qJoin())
        case 8 => ("set", qSetOp())
        case 9 => ("sub", qSubquery())
        case 10 => ("ex", qExists())
        case 11 => ("j3", qJoin3())
        case 12 => ("fj", qFullJoin())
        case 13 => ("aw", qAggWindow())
        case 14 => ("hs", qHavingSub())
        case 15 => ("rec", qRecursive())
        case 16 => ("dj", qDisjJoin())
        case 17 => ("cd", qCountDist())
        // the deep kind was DEAD until round 13c: the commit that added
        // qDeep widened nextInt(17)→18 but never dispatched it, so the
        // "deep" soak seeds exercised the default vj arm instead
        // (FUZZ_NOTES corrects the record)
        case 18 => ("deep", qDeep())
        case _ => ("vj", qValuesJoin())
      }
      (f"fz_$i%04d_$kind", sql)
    }.toVector
}

object SqlFuzzer {
  /** The two fixed parquet schemas every generated `/*dgq*/` query
    * resolves against (qGroups case 9: supplier ⋈ nation). Exposed so
    * DialectPropertySpec's idempotence pin resolves with THE SAME
    * column lists the soak path sees via spark.table — a hand-copied
    * map there could silently drift from the generator (r20 ADVICE). */
  val DgqSchemas: Map[String, Seq[String]] = Map(
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"))
}

/** Differential-fuzz driver: generate, run through Spark, dump the same
  * artifact shape as [[graft.Verify]] (per-query parquet + oracle_sql.json
  * + errors.json) so `tools/check_oracle.py <outDir> <sfDir>` performs the
  * DuckDB side and the comparison.
  *
  * Usage: runMain graft.tools.Fuzz <sfDir> <outDir> [count=500] [seed=12] [--nulls] [--dialect|--corr|--groups]
  *
  * `--corr`: correlated scalar subqueries (SELECT list + WHERE),
  * non-equi correlated EXISTS, correlated IN, and LATERAL derived
  * tables (per-row aggregate + correlated ORDER BY/LIMIT top-k) —
  * the decorrelation surface. ANSI-common text, run verbatim on both
  * engines; composes with `--nulls` (NULL correlation keys).
  *
  * `--dialect`: generate DuckDB-dialect SQL (strftime/strptime, epoch/
  * epoch_ms, `//`, time_bucket, list functions, string_split,
  * regexp_matches).
  * The DuckDB oracle runs each statement verbatim; the Spark side runs
  * `engine.DuckDbDialect.rewrite(sql)` — the same shim the SQL gateway
  * applies — in a session carrying the DuckDB function builders
  * (functions.DuckDbFunctions), so the mode differentially tests both
  * against DuckDB's actual semantics.
  *
  * `--nulls`: the driver testdata contains NO nulls, so 3VL predicate
  * logic, NULL group/join keys and NULLS FIRST/LAST placement are never
  * exercised on real nulls. This mode writes a deterministic
  * null-injected derivative of every table to `<outDir>/_data`
  * (~1/7 of each non-key cell nulled, keyed on xxhash64 of the original
  * row so reruns are identical), points BOTH engines at it
  * (`check_oracle.py <outDir> <outDir>/_data`), and runs the same
  * generated suite. Declared unique keys stay non-null (the window
  * grammar's determinism anchors on them). Timestamp columns are
  * written as TIMESTAMP_NTZ so DuckDB reads naive timestamps (the
  * adjusted-to-UTC form would materialize tz-aware and fail the
  * text-level compare); the Spark-side views relabel them back to
  * TimestampType under the UTC session — the same instant-preserving
  * relabel as Tables.normalizeTs.
  */
object Fuzz {
  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--")).toSet
    val pos = args.filterNot(_.startsWith("--"))
    val sfDir = pos(0)
    val outDir = pos(1)
    val count = if (pos.length > 2) pos(2).toInt else 500
    val seed = if (pos.length > 3) pos(3).toLong else 12L
    val spark = graft.engine.Session.local("graft-fuzz")
    // Register the same normalized views the operator library uses (the
    // events loader adapts ts across testdata generations; DuckDB reads
    // the raw parquet and agrees under the UTC session).
    import graft.ops.Tables
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val tableNames = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "events")
    def loadT(n: String) =
      if (n == "events") Tables.events(spark, sfDir) else Tables.t(spark, sfDir, n)
    if (flags.contains("--nulls")) {
      val dataDir = s"$outDir/_data"
      // row-identity columns stay non-null: the single-column unique keys
      // plus lineitem's COMPOSITE identity (l_orderkey, l_linenumber) —
      // the grammar's window total-order anchor `l_orderkey * 10 +
      // l_linenumber` must never be NULL, or rows with tied ordering
      // values become mutually unordered and ROWS-frame contents (found
      // by the dexc kind, seed 8484: 2/300) and ROW_NUMBER assignment
      // turn engine-dependent
      val keep = Set("o_orderkey", "c_custkey", "p_partkey", "s_suppkey",
        "doc_id", "event_id", "n_nationkey", "l_orderkey", "l_linenumber")
      tableNames.foreach { n =>
        val df0 = loadT(n)
        val outCols = df0.schema.fields.zipWithIndex.map { case (f, i) =>
          val base = col(f.name)
          // null condition hashes the ORIGINAL full row + column index:
          // deterministic across runs/JVMs, decorrelated across columns
          val v =
            if (keep(f.name)) base
            else when(pmod(xxhash64(df0.columns.map(col) :+ lit(i): _*),
              lit(7)) === 0, lit(null).cast(f.dataType)).otherwise(base)
          (f.dataType match {
            case TimestampType => v.cast(TimestampNTZType)
            case _ => v
          }).as(f.name)
        }
        df0.select(outCols.toIndexedSeq: _*).coalesce(1)
          .write.mode("overwrite").parquet(s"$dataDir/$n.parquet")
      }
      tableNames.foreach { n =>
        var df = spark.read.parquet(s"$dataDir/$n.parquet")
        df.schema.fields.filter(_.dataType == TimestampNTZType).foreach { f =>
          df = df.withColumn(f.name, col(f.name).cast(TimestampType))
        }
        df.createOrReplaceTempView(n)
      }
      println(s"[fuzz] null-injected tables at $dataDir; compare with: " +
        s"python3 tools/check_oracle.py $outDir $dataDir")
    } else {
      tableNames.foreach(n => loadT(n).createOrReplaceTempView(n))
    }

    // --dialect: generate DuckDB-dialect SQL; the oracle runs it
    // verbatim, Spark runs it through the gateway's dialect shim — a
    // differential test of engine.DuckDbDialect.rewrite itself.
    // --groups: GROUPS-frame differential — the one suite whose oracle
    // text differs from the Spark text (DuckDB 1.0 cannot parse GROUPS;
    // the generator templates the equivalent the oracle runs)
    // --groupsx: round-18 composed kind — GROUPS frames × QUALIFY ×
    // DISTINCT-window interactions (same oracle convention as --groups)
    val groupsMode = flags.contains("--groups")
    val groupsXMode = flags.contains("--groupsx")
    val dialect = flags.contains("--dialect") || groupsMode || groupsXMode
    val suite: Vector[(String, String, String)] =
      if (groupsXMode) new SqlFuzzer(seed).groupsComposedQueries(count)
      else if (groupsMode) new SqlFuzzer(seed).groupsQueries(count)
      else (if (dialect) new SqlFuzzer(seed).dialectQueries(count)
        else if (flags.contains("--corr")) new SqlFuzzer(seed).corrQueries(count)
        else new SqlFuzzer(seed).queries(count))
        .map { case (n, s) => (n, s, s) }
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var done = 0
    suite.foreach { case (name, sql, _) =>
      // PIVOT/UNPIVOT are STATEMENTS: they go through the gateway's
      // runPivot/runUnpivot (the units under test), not the
      // SELECT-level dialect shim
      def isStmt(kw: String) = sql.trim.regionMatches(true, 0, kw, 0, kw.length)
      // round-17 text properties, checked on every soak (DialectPropertySpec
      // pins fixed seeds; this extends the guard to each fresh-seed run):
      // the shim must be a byte-level no-op on ANSI-common statements and
      // idempotent on its own output for dialect statements
      if (!dialect) {
        val r = graft.engine.DuckDbDialect.rewrite(sql)
        if (r != sql)
          errors(name) = s"IDENTITY violated — rewrite changed ANSI text to: ${r.take(300)}"
      } else if (!isStmt("pivot") && !isStmt("unpivot")) {
        // /*dgq*/ queries run through the gateway, so the idempotence
        // check rewrites them the way the gateway does
        val rw: String => String =
          if (sql.startsWith("/*dgq*/"))
            s => graft.engine.DuckDbDialect.rewriteWithSchema(s, name =>
              scala.util.Try(spark.table(name).schema.fieldNames.toSeq).toOption)
          else graft.engine.DuckDbDialect.rewrite
        val r1 = rw(sql)
        val r2 = rw(r1)
        if (r2 != r1)
          errors(name) = s"IDEMPOTENCE violated — second rewrite produced: ${r2.take(300)}"
      }
      def sparkDf() =
        if (dialect && (isStmt("pivot") || isStmt("unpivot") ||
            "(?i)\\bcolumns\\s*\\(".r.findFirstIn(sql).isDefined ||
            // round 20: multi-relation qualified-star GROUPS queries
            // take the gateway path
            sql.startsWith("/*dgq*/")))
          graft.engine.SqlGateway.run(spark, sql)
        else spark.sql(if (dialect) graft.engine.DuckDbDialect.rewrite(sql) else sql)
      try sparkDf().coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[fuzz] $name FAILED: ${e.getMessage}\n  $sql")
        errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      done += 1
      if (done % 100 == 0) println(s"[fuzz] $done/${suite.size}")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = suite.map { case (k, _, o) => s"${q(k)}: ${q(o)}" }
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/errors.json"), errJson)
    println(s"[fuzz] wrote ${suite.size} queries, ${errors.size} Spark-side failures")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
