package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import Tables._

/** Scalar-function families (SURVEY.md §2 Tier B "Scalar functions"):
  * date/time, string, math, casts, JSON extraction, array/higher-order
  * functions, and UNNEST/explode.
  *
  * Dialect divergences handled per SURVEY §7.4: DuckDB `strftime` ↔ Spark
  * `date_format`; DuckDB `json_extract_string` ↔ Spark `get_json_object`;
  * DuckDB list_* ↔ Spark higher-order array functions; DuckDB `ceil`
  * returns DOUBLE while Spark returns BIGINT (both sides cast explicitly);
  * DuckDB's `dayofweek` is 0=Sunday while Spark's is 1=Sunday (aligned by
  * arithmetic).
  */
object Scalars {

  val queries: Seq[OpQuery] = Seq(

    OpQuery("q_scalar_date",
      """SELECT o_orderkey,
        |       CAST(year(o_orderdate) AS INT)    AS y,
        |       CAST(month(o_orderdate) AS INT)   AS m,
        |       CAST(day(o_orderdate) AS INT)     AS dom,
        |       CAST(quarter(o_orderdate) AS INT) AS q,
        |       CAST(dayofweek(o_orderdate) AS INT) AS dow,
        |       strftime(o_orderdate, '%Y-%m')    AS ym,
        |       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      orders(s, d).select("o_orderkey", "o_orderdate")
        .orderBy("o_orderkey")
        .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dom"),
        quarter(col("o_orderdate")).as("q"),
        (dayofweek(col("o_orderdate")) - 1).as("dow"), // Spark 1=Sun → DuckDB 0=Sun
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"))
    },

    // Date arithmetic: day difference, interval shift, truncation round trip.
    OpQuery("q_scalar_date_arith",
      """SELECT o_orderkey,
        |       CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INT) AS days_since,
        |       strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS due_day,
        |       strftime(o_orderdate - INTERVAL 1 MONTH, '%Y-%m-%d') AS month_before
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      orders(s, d).select("o_orderkey", "o_orderdate")
        .orderBy("o_orderkey")
        .select(col("o_orderkey"),
          datediff(to_date(col("o_orderdate")), to_date(lit("1995-01-01"))).as("days_since"),
          date_format(col("o_orderdate") + expr("INTERVAL 90 DAY"), "yyyy-MM-dd").as("due_day"),
          date_format(col("o_orderdate") - expr("INTERVAL 1 MONTH"), "yyyy-MM-dd").as("month_before"))
    },

    // String predicates + split_part.
    OpQuery("q_scalar_string_predicates",
      """SELECT p_partkey,
        |       CASE WHEN starts_with(p_name, 'large') THEN 1 ELSE 0 END AS is_large,
        |       CASE WHEN ends_with(p_name, 'widget') THEN 1 ELSE 0 END AS is_widget,
        |       split_part(p_name, ' ', 1) AS first_word,
        |       split_part(p_name, ' ', 2) AS second_word,
        |       CAST(strpos(p_name, 'o') AS INT) AS first_o
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      part(s, d).select("p_partkey", "p_name")
        .orderBy("p_partkey")
        .select(col("p_partkey"),
          when(col("p_name").startsWith("large"), 1).otherwise(0).as("is_large"),
          when(col("p_name").endsWith("widget"), 1).otherwise(0).as("is_widget"),
          expr("split_part(p_name, ' ', 1)").as("first_word"),
          expr("split_part(p_name, ' ', 2)").as("second_word"),
          instr(col("p_name"), "o").as("first_o"))
    },

    OpQuery("q_scalar_string",
      """SELECT c_custkey,
        |       lower(c_name)                    AS lo,
        |       upper(c_mktsegment)              AS up,
        |       substring(c_name, 10, 9)         AS tail9,
        |       concat(c_mktsegment, '-', c_name) AS joined,
        |       trim(concat(' ', c_name, ' '))   AS trimmed,
        |       CAST(length(c_name) AS INT)      AS name_len,
        |       replace(c_name, 'Customer', 'C') AS short_name,
        |       lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d).select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
        .select(
        col("c_custkey"),
        lower(col("c_name")).as("lo"),
        upper(col("c_mktsegment")).as("up"),
        substring(col("c_name"), 10, 9).as("tail9"),
        concat(col("c_mktsegment"), lit("-"), col("c_name")).as("joined"),
        trim(concat(lit(" "), col("c_name"), lit(" "))).as("trimmed"),
        length(col("c_name")).as("name_len"),
        regexp_replace(col("c_name"), "Customer", "C").as("short_name"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("padded"))
    },

    OpQuery("q_scalar_math",
      """SELECT c_custkey,
        |       abs(c_acctbal)                    AS abs_bal,
        |       CAST(ceil(c_acctbal) AS BIGINT)   AS ceil_bal,
        |       CAST(floor(c_acctbal) AS BIGINT)  AS floor_bal,
        |       ROUND(sqrt(abs(c_acctbal)), 6)    AS sqrt_bal,
        |       ROUND(ln(abs(c_acctbal) + 1), 6)  AS ln_bal,
        |       ROUND(power(c_acctbal, 2), 4)     AS sq_bal,
        |       CAST(c_custkey % 7 AS BIGINT)     AS mod7
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d).select("c_custkey", "c_acctbal")
        .orderBy("c_custkey")
        .select(
        col("c_custkey"),
        abs(col("c_acctbal")).as("abs_bal"),
        ceil(col("c_acctbal")).as("ceil_bal"),
        floor(col("c_acctbal")).as("floor_bal"),
        round(sqrt(abs(col("c_acctbal"))), 6).as("sqrt_bal"),
        round(log(abs(col("c_acctbal")) + 1), 6).as("ln_bal"),
        round(pow(col("c_acctbal"), 2), 4).as("sq_bal"),
        (col("c_custkey") % 7).as("mod7"))
    },

    OpQuery("q_scalar_cast",
      """SELECT l_orderkey, l_linenumber,
        |       CAST(l_linenumber AS VARCHAR)          AS ln_str,
        |       CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) AS qty_str,
        |       CAST(CAST(l_quantity AS DECIMAL(10,2)) AS VARCHAR) AS qty_dec_str,
        |       strftime(CAST(strftime(l_shipdate, '%Y-%m-%d') AS DATE), '%Y-%m-%d') AS ship_day,
        |       CAST('42' AS BIGINT)                   AS answer
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber")
        .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_linenumber").cast("string").as("ln_str"),
        col("l_quantity").cast("long").cast("string").as("qty_str"),
        col("l_quantity").cast(DecimalType(10, 2)).cast("string").as("qty_dec_str"),
        date_format(to_date(date_format(col("l_shipdate"), "yyyy-MM-dd")), "yyyy-MM-dd").as("ship_day"),
        lit("42").cast("long").as("answer"))
    },

    // Struct construction/field access + map literal/lookup (the nested
    // types the reference's flat model never exercises but DuckDB's
    // grammar includes; Spark: named_struct/map ↔ DuckDB: struct_pack/MAP).
    OpQuery("q_struct_map",
      """SELECT o_orderkey,
        |       struct_pack(s := o_orderstatus, p := o_totalprice).s AS st,
        |       struct_pack(s := o_orderstatus, p := o_totalprice).p AS price,
        |       MAP {'status': o_orderstatus}['status'][1] AS mv
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
        .select(col("o_orderkey"),
          struct(col("o_orderstatus").as("s"), col("o_totalprice").as("p")).getField("s").as("st"),
          struct(col("o_orderstatus").as("s"), col("o_totalprice").as("p")).getField("p").as("price"),
          element_at(map(lit("status"), col("o_orderstatus")), "status").as("mv"))
    },

    // Bitwise scalar ops (AND/OR/XOR/shifts/popcount).
    OpQuery("q_scalar_bits",
      """SELECT l_orderkey, l_linenumber,
        |       CAST(l_orderkey & 255 AS BIGINT)  AS low_byte,
        |       CAST(l_orderkey | 7 AS BIGINT)    AS with_bits,
        |       CAST(xor(l_orderkey, 42) AS BIGINT) AS xored,
        |       CAST(l_orderkey << 2 AS BIGINT)   AS shifted,
        |       CAST(bit_count(l_orderkey) AS INT) AS pop
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      lineitem(s, d).select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_orderkey").bitwiseAND(255).as("low_byte"),
          col("l_orderkey").bitwiseOR(7).as("with_bits"),
          col("l_orderkey").bitwiseXOR(42).as("xored"),
          shiftleft(col("l_orderkey"), 2).as("shifted"),
          bit_count(col("l_orderkey")).as("pop"))
    },

    OpQuery("q_json_extract",
      """SELECT event_id,
        |       json_extract_string(props, '$.k') AS k_str,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      events(s, d).select("event_id", "props")
        .orderBy("event_id")
        .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast("long").as("k_num"))
    },

    // Higher-order array functions over the embedding column. The fold is
    // explicitly double-typed; DuckDB's twin folds the same element order.
    OpQuery("q_array_ops",
      """SELECT vec_id,
        |       CAST(len(embedding) AS INT) AS dim,
        |       CAST(embedding[1] AS DOUBLE) AS first_elem,
        |       ROUND(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) AS vec_sum,
        |       ROUND(list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS vec_max
        |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, d) =>
      embeddings(s, d).select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        element_at(col("embedding"), 1).cast("double").as("first_elem"),
        round(aggregate(transform(col("embedding"), x => x.cast("double")),
          lit(0.0), (acc, x) => acc + x), 4).as("vec_sum"),
        round(array_max(transform(col("embedding"), x => x.cast("double"))), 6).as("vec_max"))
        .orderBy("vec_id")
    },

    OpQuery("q_scalar_regex",
      """SELECT c_custkey,
        |       regexp_extract(c_name, '([0-9]+)', 1) AS digits,
        |       CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS digits_num,
        |       CASE WHEN regexp_matches(c_name, '^Customer#') THEN 1 ELSE 0 END AS well_formed
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d).select("c_custkey", "c_name")
        .orderBy("c_custkey")
        .select(col("c_custkey"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).cast("long").as("digits_num"),
          when(col("c_name").rlike("^Customer#"), 1).otherwise(0).as("well_formed"))
    },

    // Ordered string aggregation (listagg ↔ string_agg).
    OpQuery("q_agg_stringagg",
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, d) =>
      nation(s, d)
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .createOrReplaceTempView("graft_nr_sa")
      s.sql(
        """SELECT r_name,
          |       listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations
          |FROM graft_nr_sa GROUP BY r_name ORDER BY r_name""".stripMargin)
    },

    // arg_max / arg_min (DuckDB) ↔ max_by / min_by (Spark) — "key of
    // the extreme row" without a self-join (round 13). The ordering
    // value is made UNIQUE by compositing the cent-grid price with the
    // orderkey (cents ≤ ~1.05e7 × 1e5 + key < 2^63 — exact BIGINT), so
    // ties can never make the picked key engine-dependent.
    OpQuery("q_agg_argminmax",
      """SELECT l_returnflag,
        |       CAST(arg_max(l_orderkey, CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
        |                                 * 100000 + l_orderkey) AS BIGINT) AS key_of_max,
        |       CAST(arg_min(l_orderkey, CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
        |                                 * 100000 + l_orderkey) AS BIGINT) AS key_of_min,
        |       MAX(l_extendedprice) AS max_price,
        |       MIN(l_extendedprice) AS min_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val vkey = (floor(col("l_extendedprice") * 100 + 0.5).cast("long") * 100000 +
        col("l_orderkey"))
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(max_by(col("l_orderkey"), vkey).cast("long").as("key_of_max"),
          min_by(col("l_orderkey"), vkey).cast("long").as("key_of_min"),
          max(col("l_extendedprice")).as("max_price"),
          min(col("l_extendedprice")).as("min_price"))
        .orderBy("l_returnflag")
    },

    // Correlation / covariance aggregates.
    OpQuery("q_agg_corr",
      """SELECT l_returnflag,
        |       ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
        |       ROUND(covar_samp(l_quantity, l_discount), 6) AS qty_disc_covar
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"),
             round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("qty_disc_covar"))
        .orderBy("l_returnflag")
    },

    // Typed Aggregator (udaf) — geometric mean, oracle twin exp(avg(ln)).
    // The reference lists custom functions only as roadmap; this is the
    // Spark-native UDAF tier (graft.functions.Udfs).
    OpQuery("q_udaf_geomean",
      """SELECT l_returnflag, ROUND(exp(avg(ln(l_quantity))), 6) AS geo_qty
        |FROM lineitem WHERE l_quantity > 0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      lineitem(s, d).filter(col("l_quantity") > 0).createOrReplaceTempView("graft_li_gm")
      s.sql(
        """SELECT l_returnflag, ROUND(geo_mean(l_quantity), 6) AS geo_qty
          |FROM graft_li_gm GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    },

    // Scalar UDF — vowel density, oracle twin via regexp_replace count.
    OpQuery("q_udf_vowel_density",
      """SELECT doc_id,
        |       CAST(length(text) - length(regexp_replace(text, '[aeiouAEIOU]', '', 'g')) AS DOUBLE)
        |         / length(text) AS vd
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      documents(s, d).createOrReplaceTempView("graft_docs_vd")
      s.sql("SELECT doc_id, vowel_density(text) AS vd FROM graft_docs_vd ORDER BY doc_id")
    },

    // UNNEST / explode: token frequency over documents (LATERAL-style
    // table generation + re-aggregation).
    OpQuery("q_explode_tokens",
      """SELECT token, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
        |WHERE token <> ''
        |GROUP BY token ORDER BY n DESC, token LIMIT 25""".stripMargin) { (s, d) =>
      documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(25)
    }
  )
}
