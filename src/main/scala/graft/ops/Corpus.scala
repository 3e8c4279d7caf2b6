package graft.ops

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Tables._

/** Training-corpus preparation operators (north-star scope, SURVEY.md §2
  * "LLM-data-pipeline"): deterministic stratified sampling, PII-style
  * redaction, fixed-width chunking, vocabulary building, and a
  * decimal-exact regression aggregate.
  *
  * Scale design notes:
  *  - The stratified sample is *hash-based* (md5 of the row key), not
  *    rand()-based: the same row is always in or out, the sample is
  *    reproducible across engines/runs/retries (DuckDB computes the
  *    identical predicate → full oracle check), and at 100 TB the filter
  *    is embarrassingly parallel with no RNG-state coordination.
  *  - Chunking and vocabulary are single explode + aggregation shapes —
  *    one shuffle each, map-side combine does the heavy lifting.
  *  - The regression aggregate accumulates its five moments in exact
  *    DECIMAL (order-independent) and applies the closed-form OLS
  *    formulas on the final doubles in a fixed association order, so the
  *    result is bit-identical to the sequential oracle.
  */
object Corpus {

  val queries: Seq[OpQuery] = Seq(

    // Deterministic hash-stratified sampling: per-stratum rates
    // (A: 5 %, N: 10 %, R: 20 %) decided by md5(row key) mod 100.
    OpQuery("q_sample_stratified",
      s"""WITH sampled AS (
         |  SELECT l_returnflag, l_quantity
         |  FROM lineitem
         |  WHERE CAST('0x' || substr(md5(l_orderkey || ':' || l_linenumber), 1, 8) AS BIGINT) % 100
         |        < CASE l_returnflag WHEN 'A' THEN 5 WHEN 'N' THEN 10 ELSE 20 END)
         |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_sampled,
         |       ${oSum("l_quantity")} AS sum_qty
         |FROM sampled GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val h = conv(substring(md5(
        concat_ws(":", col("l_orderkey"), col("l_linenumber"))), 1, 8), 16, 10)
        .cast("long") % 100
      val rate = when(col("l_returnflag") === "A", 5)
        .when(col("l_returnflag") === "N", 10).otherwise(20)
      lineitem(s, d).filter(h < rate)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_sampled"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag")
    },

    // PII-style redaction: mask digit runs in customer names, count the
    // masked characters (the audit column a redaction pipeline keeps).
    OpQuery("q_pii_redact",
      """SELECT c_custkey,
        |       regexp_replace(c_name, '[0-9]+', '<ID>', 'g') AS redacted,
        |       CAST(length(c_name) - length(regexp_replace(c_name, '[0-9]', '', 'g')) AS BIGINT) AS n_masked
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d).select(col("c_custkey"),
          regexp_replace(col("c_name"), "[0-9]+", "<ID>").as("redacted"),
          (length(col("c_name")) -
            length(regexp_replace(col("c_name"), "[0-9]", ""))).cast("long").as("n_masked"))
        .orderBy("c_custkey")
    },

    // Fixed-width chunking with overlap (50-char windows, stride 40) —
    // the document → training-sample splitter. One explode, no shuffle
    // until the output sort.
    OpQuery("q_chunk_split",
      """SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |       substr(text, i*40 + 1, 50) AS chunk
        |FROM documents, UNNEST(range(0, greatest(1, (length(text) - 1) // 40 + 1))) AS u(i)
        |ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      // greatest(0, …) clamps the empty-text case: without it Spark's
      // sequence(0, -1) emits a descending [0, -1] (two bogus chunks)
      // while range(0, 0) emits none — both sides now emit exactly one
      // (empty) chunk for an empty document.
      documents(s, d)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0),
            greatest(lit(0), floor((length(col("text")) - 1) / lit(40))).cast("int"))).as("cid"))
        .select(col("doc_id"), col("cid").cast("long").as("chunk_id"),
          col("text").substr(col("cid") * 40 + 1, lit(50)).as("chunk"))
        .orderBy("doc_id", "chunk_id")
    },

    // Vocabulary builder: corpus-wide token counts, rank, top 100.
    OpQuery("q_vocab_topk",
      """WITH toks AS (
        |  SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents),
        |counts AS (
        |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM toks WHERE tok <> '' GROUP BY tok)
        |SELECT tok, n, CAST(RANK() OVER (ORDER BY n DESC, tok) AS BIGINT) AS r
        |FROM counts ORDER BY r LIMIT 100""".stripMargin) { (s, d) =>
      documents(s, d)
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("n"))
        // top-k FIRST (TakeOrderedAndProject), then rank the 100
        // survivors: the tie-break makes rank ≡ row_number ≡ position
        // in the limited sort, so the global window never sees the full
        // vocabulary (billions of tokens at corpus scale)
        .orderBy(col("n").desc, col("tok")).limit(100)
        .withColumn("r", row_number().over(
          Window.orderBy(col("n").desc, col("tok"))).cast("long"))
        .orderBy("r")
    },

    // Per-group OLS regression (slope/intercept/R²) via the native
    // regr_* aggregates — single-pass, codegen'd double moments on both
    // engines (round 1 built the moments in exact DECIMAL, which is
    // bit-stable but ~25× slower: Spark's wide-decimal sum leaves the
    // long-backed fast path). The engines merge partial moments in
    // different orders, so results agree only to ~1e-12 relative —
    // rounding to 6 dp stabilizes the comparison.
    OpQuery("q_agg_regression",
      """SELECT l_returnflag,
        |       ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
        |       ROUND(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
        |       ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val p = col("l_extendedprice")
      val q = col("l_quantity")
      lineitem(s, d).groupBy("l_returnflag").agg(
          round(regr_slope(p, q), 6).as("slope"),
          round(regr_intercept(p, q), 6).as("intercept"),
          round(regr_r2(p, q), 6).as("r2"))
        .orderBy("l_returnflag")
    },

    // Train/test contamination check: the fraction of each held-out
    // document's distinct word-3-gram shingles that occur anywhere in
    // the training split (doc_id parity stands in for the split). The
    // membership probe is a shuffle join against the DISTINCT train
    // shingle set — no broadcast hint (that set is O(train corpus)),
    // no all-pairs anything; the shape a 100 TB decontamination pass
    // needs. Shares the cached shingle table with the dedup family.
    OpQuery("q_corpus_contamination",
      s"""WITH sh AS (${Dedup.oracleShingles}),
         |tr AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 0),
         |te AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 2 = 1)
         |SELECT doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |       CAST(SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |       ROUND(CAST(SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |             / COUNT(*), 6) AS containment
         |FROM te LEFT JOIN tr ON te.shingle = tr.shingle
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val sh = Dedup.shingleTable(s, d)
      val tr = sh.filter(col("doc_id") % 2 === 0)
        .select("shingle").distinct().withColumn("hit", lit(1))
      sh.filter(col("doc_id") % 2 === 1)
        .join(tr, Seq("shingle"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
        .select(col("doc_id"), col("n_shingles"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_shingles"), 6).as("containment"))
        .orderBy("doc_id")
    },

    // Gopher-style repetition signals: duplicate-word fraction, most-
    // frequent-word fraction, most-frequent-bigram fraction per document
    // — the quality filters a pretraining pipeline applies before
    // training. Per-doc aggregates only (shuffle key = doc_id[, token]);
    // map-side combine carries the load at corpus scale.
    OpQuery("q_text_repetition",
      """WITH uni AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents) t
        |  WHERE tok <> ''),
        |uc AS (SELECT doc_id, tok, COUNT(*) AS c FROM uni GROUP BY doc_id, tok),
        |ua AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
        |              CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |              CAST(MAX(c) AS BIGINT) AS top_c
        |       FROM uc GROUP BY doc_id),
        |bi AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] AS bg
        |       FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t,
        |            UNNEST(range(1, len(ts))) AS u(i)),
        |bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bi GROUP BY doc_id, bg),
        |ba AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
        |              CAST(MAX(c) AS BIGINT) AS top_bi
        |       FROM bc GROUP BY doc_id)
        |SELECT a.doc_id, n_words,
        |       ROUND(CAST(n_words - n_distinct AS DOUBLE) / n_words, 6) AS dup_word_frac,
        |       ROUND(CAST(top_c AS DOUBLE) / n_words, 6) AS top_word_frac,
        |       ROUND(COALESCE(CAST(top_bi AS DOUBLE) / n_bigrams, 0.0), 6) AS top_bigram_frac
        |FROM ua a LEFT JOIN ba b ON a.doc_id = b.doc_id
        |ORDER BY a.doc_id""".stripMargin) { (s, d) =>
      // All three signals are per-document, so the token stream never
      // needs to leave its partition: one typed map counts each doc's
      // token/bigram frequencies in a local hash table. Zero shuffles
      // (the only exchange left is the final ORDER BY of one row per
      // doc) — embarrassingly parallel at any corpus size. Measured at
      // sf0.1 against the relational alternatives: explode → two-level
      // re-aggregate → join 1.23 s, per-doc higher-order-function fold
      // (array_sort + aggregate(), interpreted lambdas) 1.81 s; the
      // typed map is the rare case where imperative per-row logic wins.
      // Only the counting is imperative — the fraction arithmetic and
      // rounding stay in (codegen'd) expressions so numeric semantics
      // are identical to the oracle's.
      import s.implicits._
      documents(s, d).select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          if (text == null) None
          else {
            // limit -1 keeps trailing empty tokens, matching both
            // Spark's split() and DuckDB's string_split()
            val ts = text.split(" ", -1)
            val uni = new java.util.HashMap[String, java.lang.Long]
            var nWords = 0L
            var i = 0
            while (i < ts.length) {
              if (ts(i).nonEmpty) {
                nWords += 1
                uni.merge(ts(i), java.lang.Long.valueOf(1L), (a, b) => a + b)
              }
              i += 1
            }
            if (nWords == 0) None // no unigram rows → no output row
            else {
              var topC = 0L
              val it = uni.values().iterator()
              while (it.hasNext) { val c = it.next(); if (c > topC) topC = c }
              val big = new java.util.HashMap[String, java.lang.Long]
              i = 0
              while (i + 1 < ts.length) {
                big.merge(ts(i) + " " + ts(i + 1), java.lang.Long.valueOf(1L),
                  (a, b) => a + b)
                i += 1
              }
              var topBi = 0L
              val jt = big.values().iterator()
              while (jt.hasNext) { val c = jt.next(); if (c > topBi) topBi = c }
              Some((id, nWords, uni.size.toLong, topC, (ts.length - 1).max(0).toLong, topBi))
            }
          }
        }
        .toDF("doc_id", "n_words", "n_distinct", "top_c", "n_bigrams", "top_bi")
        .select(col("doc_id"), col("n_words"),
          round((col("n_words") - col("n_distinct")).cast("double") / col("n_words"), 6)
            .as("dup_word_frac"),
          round(col("top_c").cast("double") / col("n_words"), 6).as("top_word_frac"),
          round(coalesce(col("top_bi").cast("double") / col("n_bigrams"), lit(0.0)), 6)
            .as("top_bigram_frac"))
        .orderBy("doc_id")
    },

    // Training-mixture weights: per-source sampling shares under
    // square-root (temperature 0.5) size scaling — how a pipeline
    // rebalances domains before sampling. sqrt is IEEE-correctly-rounded
    // in both engines, and the shares' denominator sums DECIMAL-cast
    // weights (order-independent), so the result is bit-stable. The
    // 1-row total rides a broadcast cross join — O(1), always safe.
    OpQuery("q_mixture_weights",
      """WITH s AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |         CAST(sqrt(CAST(SUM(n_chars) AS DOUBLE)) AS DECIMAL(18,6)) AS w
        |  FROM documents GROUP BY source)
        |SELECT source, n_docs, total_chars,
        |       ROUND(CAST(w AS DOUBLE) / CAST((SELECT SUM(w) FROM s) AS DOUBLE), 6) AS mix_weight,
        |       CAST(FLOOR(1000 * CAST(w AS DOUBLE) / CAST((SELECT SUM(w) FROM s) AS DOUBLE)) AS BIGINT) AS docs_per_1000
        |FROM s ORDER BY source""".stripMargin) { (s, d) =>
      val bySrc = documents(s, d).groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .withColumn("w", sqrt(col("total_chars").cast("double")).cast("decimal(18,6)"))
      val total = bySrc.agg(sum(col("w")).as("tw"))
      val share = col("w").cast("double") / col("tw").cast("double")
      bySrc.crossJoin(broadcast(total))
        .select(col("source"), col("n_docs"), col("total_chars"),
          round(share, 6).as("mix_weight"),
          floor(lit(1000) * col("w").cast("double") / col("tw").cast("double"))
            .cast("long").as("docs_per_1000"))
        .orderBy("source")
    },

    // Flagship round-13 composite: the pretraining-corpus build as ONE
    // declarative plan — length gate → corpus-wide segment dedup
    // (8-token first-occurrence; docs keeping < 60% of their segments
    // are dropped as near-duplicates) → per-source md5-ordered cap
    // (K=8) → temperature-0.5 mixture weights over the surviving token
    // mass. Every stage is the already-audited operator shape (segment
    // MIN election, windowed cap, decimal-summed mixture denominator);
    // the point of the composite is that they COMPOSE into one Catalyst
    // plan with no materialization barriers between stages.
    OpQuery("q_pipeline_pretrain",
      """WITH gated AS (
        |  SELECT doc_id, source, text, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents WHERE len(string_split(text, ' ')) BETWEEN 25 AND 80),
        |segs AS (
        |  SELECT doc_id, i AS seg_idx,
        |         array_to_string(list_slice(tk, i*8 + 1, i*8 + 8), ' ') AS seg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM gated) t,
        |       UNNEST(range(0, GREATEST(1, CAST(ceil(len(tk) / 8.0) AS BIGINT)))) AS u(i)),
        |keyed AS (SELECT *, doc_id * 1000000 + seg_idx AS k FROM segs),
        |firsts AS (SELECT seg, MIN(k) AS fk FROM keyed GROUP BY seg),
        |kept AS (
        |  SELECT k.doc_id,
        |         COUNT(*) AS n_segs,
        |         SUM(CASE WHEN k.k = f.fk THEN 1 ELSE 0 END) AS n_kept
        |  FROM keyed k JOIN firsts f ON k.seg = f.seg GROUP BY k.doc_id),
        |dd AS (
        |  SELECT g.doc_id, g.source, g.nt FROM gated g
        |  JOIN kept ON g.doc_id = kept.doc_id
        |  WHERE CAST(kept.n_kept AS DOUBLE) / kept.n_segs >= 0.6),
        |capped AS (
        |  SELECT doc_id, source, nt FROM (
        |    SELECT dd.*, ROW_NUMBER() OVER (PARTITION BY source
        |             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |    FROM dd) WHERE rn <= 8),
        |agg AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(nt) AS BIGINT) AS n_tokens,
        |         CAST(sqrt(CAST(SUM(nt) AS DOUBLE)) AS DECIMAL(18,6)) AS w
        |  FROM capped GROUP BY source)
        |SELECT source, n_docs, n_tokens,
        |       ROUND(CAST(w AS DOUBLE) / CAST((SELECT SUM(w) FROM agg) AS DOUBLE), 6)
        |         AS mix_weight
        |FROM agg ORDER BY source""".stripMargin) { (s, d) =>
      val toks = split(col("text"), " ")
      val gated = documents(s, d)
        .withColumn("nt", size(toks).cast("long"))
        .filter(col("nt").between(25, 80))
        .select("doc_id", "source", "text", "nt")
      val nseg = greatest(lit(1), ceil(size(toks) / lit(8.0))).cast("int")
      val segs = gated
        .select(col("doc_id"), toks.as("tk"),
          explode(sequence(lit(0), nseg - 1)).as("i"))
        .select(col("doc_id"), col("i").cast("long").as("seg_idx"),
          array_join(slice(col("tk"), col("i") * 8 + 1, lit(8)), " ").as("seg"))
      val keyed = segs.withColumn("k", col("doc_id") * lit(1000000L) + col("seg_idx"))
      val firsts = keyed.groupBy("seg").agg(min("k").as("fk"))
      // Round 21: the first-occurrence key already ENCODES the owning
      // doc (k = doc_id·10⁶ + seg_idx), so per-doc kept counts come
      // straight off `firsts` (fk DIV 10⁶) — the former keyed⋈firsts
      // join exchanged EVERY segment row with its 8-token STRING on
      // both sides (SMJ on seg) and re-aggregated all segments by doc;
      // now only the distinct-segment keys shuffle (guide §2.3: shuffle
      // keys, not payloads). n_segs per doc is the same arithmetic that
      // generated the explode (greatest(1, ceil(nt/8))), so the
      // segment rows themselves never shuffle at all. Exactly one row
      // per seg group has k = fk, so COUNT per owning doc ≡ the old
      // SUM(k = fk); a doc whose every segment occurred earlier gets no
      // firsts row → coalesce 0 → dropped by the 0.6 gate like before
      // (oracle-verified at 3 SFs).
      val keptCnt = firsts
        .select(expr("fk DIV 1000000").as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_kept"))
      val dd = gated
        .withColumn("n_segs", greatest(lit(1), ceil(size(toks) / lit(8.0))).cast("long"))
        .join(keptCnt, Seq("doc_id"), "left")
        .filter(coalesce(col("n_kept"), lit(0L)).cast("double") / col("n_segs") >= 0.6)
        .select("doc_id", "source", "nt")
      val capped = dd
        .withColumn("rn", row_number().over(
          Window.partitionBy("source")
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
        .filter(col("rn") <= 8)
      val agg = capped.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
        .withColumn("w", sqrt(col("n_tokens").cast("double")).cast("decimal(18,6)"))
      val total = agg.agg(sum(col("w")).as("tw"))
      agg.crossJoin(broadcast(total))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("w").cast("double") / col("tw").cast("double"), 6).as("mix_weight"))
        .orderBy("source")
    },

    // Unpivot / melt — wide metrics to long (Spark's native unpivot
    // operator; the oracle is the portable UNION ALL formulation).
    // Per-source document cap (the CCNet/C4 "domain cap" pass): keep at
    // most K=5 documents per source, selected deterministically by md5
    // order so the subsample is reproducible across engines, runs and
    // retries. Two-stage shape for 100 TB: a broadcast O(#sources) count
    // table derives a per-source hash-prefix threshold that prunes each
    // source to an expected C·K survivors BEFORE the windowed top-K, so
    // the per-source sort the window performs is O(C·K log C·K) no
    // matter how head-heavy the domain distribution is — the naive
    // window alone would sort the entire dominant domain. C=2 here
    // (prune exercised even at this SF: f = 10/25 = 0.4); a production
    // run uses C≈8, where P(a source with ≥K docs yields <K survivors)
    // is negligible. Semantics are "at most K": if the prefilter leaves
    // fewer, both engines agree on the smaller result.
    OpQuery("q_corpus_source_cap",
      """WITH cnt AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        |surv AS (
        |  SELECT d.doc_id, d.source, md5(CAST(d.doc_id AS VARCHAR)) AS h
        |  FROM documents d JOIN cnt USING (source)
        |  WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |        < CAST(ceil(least(1.0, 2.0 * 5 / cnt.n) * 4294967296.0) AS BIGINT)),
        |ranked AS (
        |  SELECT doc_id, source,
        |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
        |  FROM surv)
        |SELECT source, CAST(rn AS BIGINT) AS rn, doc_id
        |FROM ranked WHERE rn <= 5 ORDER BY source, rn""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      val cnt = docs.groupBy("source").agg(count(lit(1)).as("n"))
      val h = md5(col("doc_id").cast("string"))
      val h32 = conv(substring(h, 1, 8), 16, 10).cast("long")
      val thresh = ceil(least(lit(1.0), lit(2.0) * lit(5) / col("n")) * lit(4294967296.0))
        .cast("long")
      docs.join(broadcast(cnt), Seq("source"))
        .filter(h32 < thresh)
        .select(col("source"), col("doc_id"), h.as("h"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(col("h"), col("doc_id"))).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("source"), col("rn"), col("doc_id"))
        .orderBy("source", "rn")
    },

    // Corpus-wide segment-level exact dedup (the fixed-window
    // granularity of Lee et al. 2022's "remove duplicated spans"):
    // documents are cut into consecutive 8-token segments; a segment
    // that already occurred anywhere earlier in the corpus (first
    // occurrence = smallest (doc_id, seg_idx)) is dropped, and each
    // document is reassembled from its surviving segments. Exactly two
    // shuffles: group-by segment text to elect first occurrences
    // (map-side combine on the MIN; at 100 TB hash the segment for a
    // narrower exchange — same plan shape) and group-by doc_id to
    // reassemble. The per-doc collect_list is bounded by document
    // length, never by corpus size. Invariant (pinned in PropertySpec):
    // Σ n_kept over all docs = the corpus-wide distinct-segment count —
    // every distinct segment survives exactly once. Bound, stated: the
    // first-occurrence key packs (doc_id, seg_idx) as doc_id·10⁶+idx,
    // valid while docs stay under 8M tokens (10⁶ segments) and doc ids
    // under ~9.2e12; a corpus beyond either widens the key to a MIN
    // over a (doc_id, seg_idx) struct — same plan, two-field ordering.
    OpQuery("q_text_segment_dedup",
      """WITH segs AS (
        |  SELECT doc_id, i AS seg_idx,
        |         array_to_string(list_slice(tk, i*8 + 1, i*8 + 8), ' ') AS seg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) t,
        |       UNNEST(range(0, GREATEST(1, CAST(ceil(len(tk) / 8.0) AS BIGINT)))) AS u(i)),
        |keyed AS (SELECT *, doc_id * 1000000 + seg_idx AS k FROM segs),
        |firsts AS (SELECT seg, MIN(k) AS fk FROM keyed GROUP BY seg)
        |SELECT k.doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_segs,
        |       CAST(SUM(CASE WHEN k.k = f.fk THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       COALESCE(string_agg(CASE WHEN k.k = f.fk THEN k.seg END, ' ' ORDER BY k.seg_idx), '')
        |         AS cleaned_text
        |FROM keyed k JOIN firsts f ON k.seg = f.seg
        |GROUP BY k.doc_id ORDER BY k.doc_id""".stripMargin) { (s, d) =>
      val toks = split(col("text"), " ")
      val nseg = greatest(lit(1), ceil(size(toks) / lit(8.0))).cast("int")
      // a null-text document has no segments, so it gets no output row,
      // as in the oracle, whose UNNEST over a NULL token list emits none
      val docs = documents(s, d).filter(col("text").isNotNull)
      val segs = docs
        .select(col("doc_id"), toks.as("tk"),
          explode(sequence(lit(0), nseg - 1)).as("i"))
        .select(col("doc_id"), col("i").cast("long").as("seg_idx"),
          array_join(slice(col("tk"), col("i") * 8 + 1, lit(8)), " ").as("seg"))
      val keyed = segs.withColumn("k", col("doc_id") * lit(1000000L) + col("seg_idx"))
      val firsts = keyed.groupBy("seg").agg(min("k").as("fk"))
      // Round 21: a surviving segment IS its firsts row — fk unpacks to
      // (owner doc = fk DIV 10⁶, seg_idx = fk % 10⁶) — so the document
      // reassembly reads ONLY the distinct segments instead of joining
      // every segment row back to its group's winner (the former
      // keyed⋈firsts SMJ exchanged the full segment stream with its
      // 8-token strings on both sides, then re-aggregated ALL segments
      // by doc; now dup segments never leave the map side of the
      // firsts groupBy — guide §2.3). n_segs is the explode's own
      // arithmetic off documents; docs whose every segment occurred
      // earlier reassemble to '' via the left join, the old
      // collect_list(when(keep, ..))'s null-skip semantics
      // (oracle-verified at 3 SFs, Σ n_kept invariant pin unchanged).
      val perDoc = firsts
        .select(expr("fk DIV 1000000").as("doc_id"),
          expr("fk % 1000000").as("seg_idx"), col("seg"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_kept"),
          array_join(transform(
            array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
            x => x.getField("seg")), " ").as("cleaned_text"))
      docs
        .select(col("doc_id"), nseg.cast("long").as("n_segs"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_segs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
        .orderBy("doc_id")
    },

    // Bloom-screened decontamination — the 100 TB shape of
    // q_corpus_contamination. The held-out (test) shingle set is folded
    // into a k=4 Bloom filter whose size is DERIVED FROM THE DATA
    // (round-15 fix: the old fixed m=65536 saturated once the holdout
    // passed ~10k distinct shingles, driving the false-positive rate
    // toward 1 and pruned_frac to 0 — the screen degenerated into the
    // unscreened join): m = nextPow2(16 × |distinct holdout shingles|),
    // floored at 2^16 and capped at 2^27 bits (round 17 — the 2^26 cap
    // bound at the 256x ladder's 33M-shingle holdout, fp 1.38%; one
    // doubling restores fp <1% for a 16 MiB words array). Round 16 lifted the cap
    // 16× by building the filter DISTRIBUTED: each holdout partition
    // ORs its positions into a local bit array and a treeReduce ORs the
    // arrays (no driver collect of positions, no distinct shuffle), and
    // the probe ships the words as a codegen REFERENCE OBJECT
    // (functions/BitSetExprs) instead of a plan literal — the cap is
    // now only the 16 MiB words array in the stage's task binary, not a
    // driver-literal budget. At 16 bits/element, k=4 gives
    // fpr ≈ (1 − e^(−1/4))^4 ≈ 0.2 % until the cap. The ORACLE derives
    // the SAME m arithmetically (integers ≤ 2^27 and their powers of
    // two are exact in doubles, so LOG2/CEILING/POWER round-trip), so
    // both engines screen identically. Train-side shingles are screened
    // MAP-SIDE by the bit array (pure codegen: word index + mask test,
    // no UDF), and only the
    // bloom-positive survivors reach the membership shuffle join.
    // n_exact is computed over those survivors ONLY — the oracle
    // computes it over ALL train shingles — so the driver's hash
    // compare itself proves the filter admits no false negatives;
    // pruned_frac records the shuffle volume the screen removed (the
    // win that matters when the train side is 100 TB).
    OpQuery("q_corpus_bloom_screen",
      s"""WITH sh AS (${Dedup.oracleShingles}),
         |te AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 1),
         |mv AS (SELECT LEAST(CAST(POWER(2, CEILING(LOG2(GREATEST(
         |         16 * COUNT(*), 65536)))) AS BIGINT), 134217728) AS m FROM te),
         |tepos AS (
         |  SELECT CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) % (SELECT m FROM mv) AS p FROM te
         |  UNION SELECT CAST('0x' || substr(md5(shingle), 9, 8) AS BIGINT) % (SELECT m FROM mv) FROM te
         |  UNION SELECT CAST('0x' || substr(md5(shingle), 17, 8) AS BIGINT) % (SELECT m FROM mv) FROM te
         |  UNION SELECT CAST('0x' || substr(md5(shingle), 25, 8) AS BIGINT) % (SELECT m FROM mv) FROM te),
         |trb AS (
         |  SELECT doc_id, shingle,
         |         (CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) % (SELECT m FROM mv) IN (SELECT p FROM tepos))
         |     AND (CAST('0x' || substr(md5(shingle), 9, 8) AS BIGINT) % (SELECT m FROM mv) IN (SELECT p FROM tepos))
         |     AND (CAST('0x' || substr(md5(shingle), 17, 8) AS BIGINT) % (SELECT m FROM mv) IN (SELECT p FROM tepos))
         |     AND (CAST('0x' || substr(md5(shingle), 25, 8) AS BIGINT) % (SELECT m FROM mv) IN (SELECT p FROM tepos))
         |       AS bpos
         |  FROM sh WHERE doc_id % 2 = 0)
         |SELECT doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |       CAST(SUM(CASE WHEN bpos THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom,
         |       CAST(SUM(CASE WHEN shingle IN (SELECT shingle FROM te) THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_exact,
         |       ROUND(1.0 - CAST(SUM(CASE WHEN bpos THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
         |         AS pruned_frac
         |FROM trb GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val sh = Dedup.shingleTable(s, d)
      // the holdout's distinct set is read three times (count for m,
      // filter build, exact-containment join) — cache it under the
      // same size gate as the shingle stream so the distinct shuffle
      // runs once, not three times (CacheManager dedups by plan, so
      // repeated invocations share one entry; round-15 solo profile)
      val te0 = sh.filter(col("doc_id") % 2 === 1).select("shingle").distinct()
      val te = if (Tables.onDiskBytes(s"$d/documents.parquet") <= Tables.CacheMaxBytes)
        te0.cache() else te0
      // m from the holdout's distinct-shingle count (te is already
      // DISTINCT, so count() == the oracle's COUNT(*) over te). One
      // small-side pass; at real scale substitute approx_count_distinct
      // — the power-of-two rounding absorbs its error band.
      val nHold = te.count()
      val mBits: Long = {
        val t = math.max(16L * nHold, 65536L)
        val p = if ((t & (t - 1)) == 0L) t else java.lang.Long.highestOneBit(t) << 1
        math.min(p, 1L << 27)
      }
      def posEx(c: Column, off: Int) =
        conv(substring(md5(c), off, 8), 16, 10).cast("long") % mBits
      val offs = Seq(1, 9, 17, 25)
      // Build: DISTRIBUTED. Each holdout partition ORs its 4 positions
      // per shingle into a local bit array; a treeReduce ORs the
      // partition arrays (OR is idempotent, so no distinct pass and no
      // position shuffle — the only data movement is one words array
      // per partition). The driver holds just the final array, which
      // the probe references as a codegen object, never a literal.
      val nWords = (mBits / 64).toInt
      val words: Array[Long] =
        if (nHold == 0L) new Array[Long](nWords)
        else te.select(offs.map(o => posEx(col("shingle"), o)): _*)
          .rdd.mapPartitions { it =>
            val w = new Array[Long](nWords)
            it.foreach { r =>
              var i = 0
              while (i < 4) {
                if (!r.isNullAt(i)) {
                  val p = r.getLong(i)
                  w((p >>> 6).toInt) |= 1L << (p & 63L).toInt
                }
                i += 1
              }
            }
            Iterator.single(w)
          }.treeReduce { (a, b) =>
            var i = 0; while (i < a.length) { a(i) |= b(i); i += 1 }; a
          }
      def bitTest(p: Column) = graft.functions.BitSetExprs.bitsetContains(p, words)
      val bpos = offs.map(o => bitTest(posEx(col("shingle"), o))).reduce(_ && _)
      val tr = sh.filter(col("doc_id") % 2 === 0).withColumn("bpos", bpos)
      val perDoc = tr.groupBy("doc_id").agg(
        count(lit(1)).cast("long").as("n_shingles"),
        sum(when(col("bpos"), 1).otherwise(0)).cast("long").as("n_bloom"))
      val exact = tr.filter(col("bpos"))
        .join(te.withColumn("hit", lit(1)), Seq("shingle"), "left")
        .groupBy("doc_id")
        .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_exact"))
      perDoc.join(exact, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"), col("n_bloom"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          round(lit(1.0) - col("n_bloom").cast("double") / col("n_shingles"), 6)
            .as("pruned_frac"))
        .orderBy("doc_id")
    },

    // Corpus snapshot diff — the daily-crawl incremental-update shape:
    // two corpus versions (simulated as overlapping doc_id slices, with
    // v2 "re-crawling" some docs to different text) FULL OUTER joined on
    // the document key, each row classified added / removed / changed /
    // unchanged by md5 comparison. One doc_id-keyed shuffle; the md5s
    // are computed map-side so the join carries 32-byte digests, not
    // document bodies — at 100 TB the diff never moves text.
    OpQuery("q_corpus_diff",
      """WITH v1 AS (
        |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 4 <> 3),
        |v2 AS (
        |  SELECT doc_id,
        |         md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS h
        |  FROM documents WHERE doc_id % 4 <> 0)
        |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |       CASE WHEN v1.doc_id IS NULL THEN 'added'
        |            WHEN v2.doc_id IS NULL THEN 'removed'
        |            WHEN v1.h <> v2.h THEN 'changed'
        |            ELSE 'unchanged' END AS status
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      val v1 = docs.filter(col("doc_id") % 4 =!= 3)
        .select(col("doc_id").as("id1"), md5(col("text")).as("h1"))
      val v2 = docs.filter(col("doc_id") % 4 =!= 0)
        .select(col("doc_id").as("id2"),
          md5(when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))).as("h2"))
      v1.join(v2, col("id1") === col("id2"), "full_outer")
        .select(coalesce(col("id1"), col("id2")).as("doc_id"),
          when(col("id1").isNull, "added")
            .when(col("id2").isNull, "removed")
            .when(col("h1") =!= col("h2"), "changed")
            .otherwise("unchanged").as("status"))
        .orderBy("doc_id")
    },

    // Token-budget quota sampling — the "take ~N tokens per source"
    // subsample (mixture building by token mass, not document count;
    // complements q_corpus_source_cap's count cap). Documents are
    // ordered per source by md5 (reproducible), a running token sum is
    // computed, and a doc is kept while the PRECEDING mass is under the
    // budget — so the budget is always exceeded by at most one document
    // and every source with any documents contributes at least one.
    // Same scale note as the cap: the per-source window sees the whole
    // source; a production pass bounds it with the count-table prefilter
    // when K_eff = budget/avg_tokens is known.
    OpQuery("q_corpus_token_budget",
      """WITH toks AS (
        |  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS h,
        |         len(string_split(text, ' ')) AS nt
        |  FROM documents),
        |runs AS (
        |  SELECT doc_id, source, nt,
        |         CAST(COALESCE(SUM(nt) OVER (PARTITION BY source ORDER BY h, doc_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |              AS BIGINT) AS prior
        |  FROM toks)
        |SELECT source,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(nt) AS BIGINT) AS n_tokens
        |FROM runs WHERE prior < 120
        |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val nt = size(split(col("text"), " "))
      val w = Window.partitionBy("source")
        .orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      documents(s, d)
        .select(col("doc_id"), col("source"),
          md5(col("doc_id").cast("string")).as("h"), nt.as("nt"))
        .withColumn("prior", coalesce(sum(col("nt")).over(w), lit(0)).cast("long"))
        .filter(col("prior") < 120)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).cast("long").as("n_tokens"))
        .orderBy("source")
    },

    // Stratified EXACT train/val/test split (80/10/10 per language):
    // every pipeline's last step before export. Hash-ordered (md5 of the
    // doc key) so the assignment is a pure function of the corpus — no
    // RNG, rerun-stable, and adding a shard re-derives identically.
    // Exact-count boundaries per stratum (floor(n*0.8)/floor(n*0.9)),
    // unlike the probabilistic hash-mod sampler (q_sample_stratified)
    // whose split sizes only converge in expectation. Scale shape: one
    // window per stratum partition (no global sort); the per-stratum
    // count rides the same window spec, so it is ONE shuffle total.
    OpQuery("q_corpus_split",
      """WITH r AS (
        |  SELECT doc_id, lang,
        |         ROW_NUMBER() OVER (PARTITION BY lang
        |             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT doc_id, lang,
        |       CASE WHEN rn <= CAST(FLOOR(n * 8 / 10.0) AS BIGINT) THEN 'train'
        |            WHEN rn <= CAST(FLOOR(n * 9 / 10.0) AS BIGINT) THEN 'val'
        |            ELSE 'test' END AS split
        |FROM r ORDER BY doc_id""".stripMargin) { (s, d) =>
      val byHash = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      val whole = Window.partitionBy("lang")
      documents(s, d)
        .select(col("doc_id"), col("lang"),
          row_number().over(byHash).cast("long").as("rn"),
          count(lit(1)).over(whole).as("n"))
        .select(col("doc_id"), col("lang"),
          when(col("rn") <= floor(col("n") * 8 / 10.0).cast("long"), "train")
            .when(col("rn") <= floor(col("n") * 9 / 10.0).cast("long"), "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    },

    // DSIR-style importance-weighted data selection (Xie et al. 2023,
    // "Data Selection for Language Models via Importance Resampling"):
    // features are hashed unigrams (md5-derived 60-bit hash mod 1024
    // buckets — the same md5 spelling both engines evaluate
    // identically, cf. the MinHash oracle); bag-of-buckets unigram LMs
    // with Laplace smoothing are fit IN-PLAN on the target slice
    // (source = 'src0', the trusted-domain convention shared with
    // q_text_perplexity) and on the raw rest; each document scores
    // log p_target(doc) - log p_raw(doc) = Σ_b c_b·(ln p_t(b) - ln p_r(b)),
    // and the top-50 by weight are selected (the paper resamples with
    // Gumbel noise; the deterministic top-k variant keeps the oracle
    // exact). Scale shape: tokenize + hash map-side; per-(doc, bucket)
    // counts are ONE doc-keyed shuffle; both LM tables are EXACTLY
    // ≤1024 rows by construction (the hash modulus), so their joins are
    // hint-broadcast — bounded by the feature space, not the corpus —
    // and the 1-row token totals ride a broadcast cross join; the
    // final top-50 plans as TakeOrderedAndProject (no global sort).
    // Rounded at 6 dp, the shared libm-ln convention.
    OpQuery("q_corpus_dsir",
      """WITH tk AS (
        |  SELECT doc_id, source,
        |         CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % 1024 AS b
        |  FROM (SELECT doc_id, source, UNNEST(string_split(text, ' ')) AS w
        |        FROM documents) t
        |  WHERE w <> ''),
        |tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM tk
        |        WHERE source = 'src0' GROUP BY 1),
        |rw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM tk
        |       WHERE source <> 'src0' GROUP BY 1),
        |tot AS (SELECT CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ctot,
        |               CAST(SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS rtot
        |        FROM tk),
        |dc AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c FROM tk GROUP BY 1, 2)
        |SELECT dc.doc_id,
        |       ROUND(SUM(dc.c * (LN(CAST(COALESCE(tgt.ct, 0) + 1 AS DOUBLE)
        |                            / CAST(tot.ctot + 1024 AS DOUBLE))
        |                       - LN(CAST(COALESCE(rw.cr, 0) + 1 AS DOUBLE)
        |                            / CAST(tot.rtot + 1024 AS DOUBLE)))), 6) AS lw
        |FROM dc LEFT JOIN tgt ON dc.b = tgt.b
        |        LEFT JOIN rw ON dc.b = rw.b
        |        CROSS JOIN tot
        |GROUP BY dc.doc_id
        |ORDER BY lw DESC, dc.doc_id LIMIT 50""".stripMargin) { (s, d) =>
      val tk = documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .select(col("doc_id"), col("source"),
          (conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long") % 1024).as("b"))
      val tgt = tk.filter(col("source") === "src0")
        .groupBy("b").agg(count(lit(1)).as("ct"))
      val rw = tk.filter(col("source") =!= "src0")
        .groupBy("b").agg(count(lit(1)).as("cr"))
      val tot = tk.agg(
        sum(when(col("source") === "src0", 1).otherwise(0)).cast("long").as("ctot"),
        sum(when(col("source") =!= "src0", 1).otherwise(0)).cast("long").as("rtot"))
      val dc = tk.groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      // mirrors the oracle's association exactly: c · (ln p_t − ln p_r)
      val lnPt = log((coalesce(col("ct"), lit(0L)) + lit(1L)).cast("double") /
        (col("ctot") + lit(1024L)).cast("double"))
      val lnPr = log((coalesce(col("cr"), lit(0L)) + lit(1L)).cast("double") /
        (col("rtot") + lit(1024L)).cast("double"))
      dc.join(broadcast(tgt), Seq("b"), "left")
        .join(broadcast(rw), Seq("b"), "left")
        .crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(round(sum(col("c") * (lnPt - lnPr)), 6).as("lw"))
        .orderBy(col("lw").desc, col("doc_id"))
        .limit(50)
    },

    // Corpus distribution drift: per-language KL divergence between the
    // trusted slice's token distribution (source = 'src0', the same
    // convention as q_text_perplexity/q_corpus_dsir) and the rest of
    // the corpus — the monitoring metric a pretraining pipeline tracks
    // across crawl snapshots (Wenzek et al. 2020 track LM perplexity;
    // KL over hashless unigram histograms is its model-free twin).
    // Laplace-smoothed over the per-language UNION vocabulary:
    // KL(P||Q) = Σ_w p·ln(p/q), p = (c_p+1)/(N_p+V). Scale shape: one
    // map-combinable (lang, token)-keyed shuffle per slice, a same-key
    // histogram join, and O(#langs) total/vocab frames joined WITHOUT
    // broadcast hints (Catalyst may broadcast them when small; under
    // autoBroadcast=-1 they degrade to spillable SMJ — nothing is
    // mandatory). Rounded 6 dp per the libm-ln convention.
    OpQuery("q_corpus_drift",
      """WITH tk AS (
        |  SELECT lang, source, w FROM (
        |    SELECT lang, source, UNNEST(string_split(text, ' ')) AS w
        |    FROM documents) t
        |  WHERE w <> ''),
        |cp AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM tk
        |       WHERE source = 'src0' GROUP BY 1, 2),
        |cq AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM tk
        |       WHERE source <> 'src0' GROUP BY 1, 2),
        |u AS (SELECT lang, w FROM cp UNION SELECT lang, w FROM cq),
        |tot AS (SELECT lang,
        |        CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |        CAST(SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS nq
        |        FROM tk GROUP BY 1),
        |v AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS v FROM u GROUP BY 1)
        |SELECT u.lang,
        |       ROUND(SUM((CAST(COALESCE(cp.c, 0) + 1 AS DOUBLE) / CAST(tot.np + v.v AS DOUBLE))
        |                 * LN((CAST(COALESCE(cp.c, 0) + 1 AS DOUBLE) / CAST(tot.np + v.v AS DOUBLE))
        |                      / (CAST(COALESCE(cq.c, 0) + 1 AS DOUBLE) / CAST(tot.nq + v.v AS DOUBLE)))), 6)
        |         AS kl,
        |       MAX(v.v) AS vocab, MAX(tot.np) AS n_trusted, MAX(tot.nq) AS n_rest
        |FROM u LEFT JOIN cp ON u.lang = cp.lang AND u.w = cp.w
        |       LEFT JOIN cq ON u.lang = cq.lang AND u.w = cq.w
        |       JOIN tot ON u.lang = tot.lang
        |       JOIN v ON u.lang = v.lang
        |GROUP BY u.lang ORDER BY u.lang""".stripMargin) { (s, d) =>
      val tk = documents(s, d)
        .select(col("lang"), col("source"),
          explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      val cp = tk.filter(col("source") === "src0")
        .groupBy("lang", "w").agg(count(lit(1)).as("cp"))
      val cq = tk.filter(col("source") =!= "src0")
        .groupBy("lang", "w").agg(count(lit(1)).as("cq"))
      val u = cp.select("lang", "w").union(cq.select("lang", "w")).distinct()
      val tot = tk.groupBy("lang").agg(
        sum(when(col("source") === "src0", 1).otherwise(0)).cast("long").as("np"),
        sum(when(col("source") =!= "src0", 1).otherwise(0)).cast("long").as("nq"))
      val v = u.groupBy("lang").agg(count(lit(1)).as("v"))
      // mirrors the oracle's association: p · ln(p / q), each
      // probability written as the same CAST/COALESCE tree
      val p = (coalesce(col("cp"), lit(0L)) + lit(1L)).cast("double") /
        (col("np") + col("v")).cast("double")
      val q = (coalesce(col("cq"), lit(0L)) + lit(1L)).cast("double") /
        (col("nq") + col("v")).cast("double")
      u.join(cp, Seq("lang", "w"), "left")
        .join(cq, Seq("lang", "w"), "left")
        .join(tot, Seq("lang"))
        .join(v, Seq("lang"))
        .groupBy("lang")
        .agg(round(sum(p * log(p / q)), 6).as("kl"),
          max(col("v")).as("vocab"),
          max(col("np")).as("n_trusted"), max(col("nq")).as("n_rest"))
        .orderBy("lang")
    },

    OpQuery("q_unpivot",
      """SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
        |ORDER BY p_partkey, metric""".stripMargin) { (s, d) =>
      part(s, d)
        .select(col("p_partkey"), col("p_retailprice"), col("p_size").cast("double").as("p_size"))
        .unpivot(Array(col("p_partkey")),
          Array(col("p_retailprice"), col("p_size")), "metric", "value")
        .orderBy("p_partkey", "metric")
    },

    // Per-source dataset card — the summary table a corpus release
    // ships with: document and token counts, mean document length,
    // exact-duplicate rate, and language-mix entropy per source. Two
    // map-combinable grouped aggregations (per source, per
    // source×lang) plus an O(#sources) join — nothing corpus-sized
    // moves. The -0.0 guard (+0.0 before ROUND) and 6-dp rounding
    // follow the histogramEntropy convention.
    OpQuery("q_corpus_datacard",
      """WITH s AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |         CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_uniq
        |  FROM documents GROUP BY source),
        |l AS (SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY source, lang),
        |e AS (
        |  SELECT l.source,
        |         ROUND((-SUM((CAST(c AS DOUBLE) / t.n) * ln(CAST(c AS DOUBLE) / t.n))) + 0.0, 6) AS lang_entropy
        |  FROM l JOIN (SELECT source, COUNT(*) AS n FROM documents GROUP BY source) t
        |    ON l.source = t.source
        |  GROUP BY l.source)
        |SELECT s.source, n_docs, n_tokens,
        |       ROUND(CAST(n_tokens AS DOUBLE) / n_docs, 6) AS mean_tokens,
        |       ROUND(1.0 - CAST(n_uniq AS DOUBLE) / n_docs, 6) AS dup_rate,
        |       e.lang_entropy
        |FROM s JOIN e ON s.source = e.source ORDER BY s.source""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      val stats = docs.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
        countDistinct(md5(col("text"))).as("n_uniq"))
      val lc = docs.groupBy("source", "lang").agg(count(lit(1)).as("c"))
      val tot = docs.groupBy(col("source").as("t_source"))
        .agg(count(lit(1)).as("n"))
      val p = col("c").cast("double") / col("n")
      val ent = lc.join(tot, col("source") === col("t_source"))
        .groupBy("source")
        .agg(round(-sum(p * log(p)) + lit(0.0), 6).as("lang_entropy"))
      stats.join(ent, "source")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("n_tokens").cast("double") / col("n_docs"), 6).as("mean_tokens"),
          round(lit(1.0) - col("n_uniq").cast("double") / col("n_docs"), 6).as("dup_rate"),
          col("lang_entropy"))
        .orderBy("source")
    },

    // Cross-document duplicated-span detection (the Lee et al. 2022
    // exact-substring signal at 16-token window granularity, stride 1):
    // every sliding 16-token window is hashed map-side (60-bit md5
    // prefix, the MinHash spelling); a window hash seen in ≥2 DISTINCT
    // documents marks all its positions as cross-doc duplicated, and
    // each doc reports its duplicated-window fraction — the
    // "boilerplate/syndicated span" filter signal span-removal
    // pipelines threshold on. Shape at scale (round 19 rewrite): the
    // window hashes are run-length encoded PER DOC inside the scan
    // stage (sort_array + boundary filter — all codegen higher-order
    // functions, zero shuffle), so what leaves the map side is one
    // (doc, hash, multiplicity) row per DISTINCT hash per doc, never
    // the raw position stream. One hash-partitioned window then counts
    // distinct docs per hash AND keeps the per-doc multiplicities in
    // the same exchange — replacing the former three full-position
    // shuffles ((hash,doc) distinct + a sort-merge semi join that
    // re-sorted every position by hash + the per-doc count), the
    // round-18 sf10 solo wall (28.7 s vs DuckDB 9.0). The dup-hash
    // set stays corpus-sized: nothing here broadcasts. Within-doc
    // repetition is deliberately not counted (q_text_repetition
    // covers it).
    OpQuery("q_text_substring_dup",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |w AS (
        |  SELECT doc_id,
        |         CAST('0x' || substr(md5(array_to_string(toks[i+1 : i+16], ' ')), 1, 15) AS BIGINT) AS h
        |  FROM t, UNNEST(range(0, len(toks) - 15)) AS u(i)
        |  WHERE len(toks) >= 16),
        |dup AS (
        |  SELECT h FROM (SELECT h, doc_id FROM w GROUP BY h, doc_id)
        |  GROUP BY h HAVING COUNT(*) >= 2),
        |pd AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
        |  FROM w WHERE h IN (SELECT h FROM dup) GROUP BY doc_id)
        |SELECT t.doc_id,
        |       CAST(greatest(len(toks) - 15, 0) AS BIGINT) AS n_win,
        |       CAST(COALESCE(pd.n_dup, 0) AS BIGINT) AS n_dup,
        |       CASE WHEN len(toks) < 16 THEN 0.0
        |            ELSE ROUND(CAST(COALESCE(pd.n_dup, 0) AS DOUBLE) / (len(toks) - 15), 6)
        |       END AS dup_frac
        |FROM t LEFT JOIN pd USING (doc_id) ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      val W = 16
      val docs0 = documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      // Per-doc run-length encoding of the SORTED window hashes: `bi`
      // holds the 0-based start index of every distinct-value run plus
      // an end sentinel, `pairs` reads (hash, run length) off the
      // boundaries. All higher-order codegen expressions over one row —
      // a doc never leaves its input partition before aggregation.
      val rle = docs0
        .filter(size(col("toks")) >= W)
        // concat_ws over W element_at lookups, not array_join(slice(…)):
        // no per-window array allocation inside the O(n·W) lambda (the
        // q_text_winnow micro-opt, 16s → 3.3s class at sf10)
        .withColumn("hs", sort_array(transform(
          sequence(lit(0), size(col("toks")) - W),
          i => conv(substring(md5(concat_ws(" ",
            (0 until W).map(o => element_at(col("toks"), i + 1 + o)): _*)),
            1, 15), 16, 10).cast("long"))))
        .withColumn("bi", concat(
          filter(sequence(lit(0), size(col("hs")) - 1),
            i => i === 0 || element_at(col("hs"), i + 1) =!= element_at(col("hs"), i)),
          array(size(col("hs")))))
        .select(col("doc_id"), explode(transform(
          sequence(lit(0), size(col("bi")) - 2),
          k => struct(
            element_at(col("hs"), element_at(col("bi"), k + 1) + 1).as("h"),
            (element_at(col("bi"), k + 2) - element_at(col("bi"), k + 1))
              .cast("long").as("c")))).as("p"))
        .select(col("doc_id"), col("p.h").as("h"), col("p.c").as("c"))
      // ONE exchange by hash: the window's partition count is the
      // distinct-doc count per hash (rle has one row per (doc, hash)),
      // and the per-doc duplicated-position total is Σ multiplicity
      // over the surviving rows — no join back to the position stream.
      val perDoc = rle
        .withColumn("nd", count(lit(1)).over(Window.partitionBy("h")))
        .filter(col("nd") >= 2)
        .groupBy("doc_id").agg(sum(col("c")).as("n_dup"))
      docs0.select(col("doc_id"),
          greatest(size(col("toks")) - W + 1, lit(0)).cast("long").as("n_win"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_win"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup"),
          when(col("n_win") === 0, lit(0.0))
            .otherwise(round(coalesce(col("n_dup"), lit(0L)).cast("double")
              / col("n_win"), 6)).as("dup_frac"))
        .orderBy("doc_id")
    }
  )
}
