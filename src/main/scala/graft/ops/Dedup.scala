package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Tables._

/** Deduplication operators for LLM training-data pipelines (north-star
  * scope, SURVEY.md §2): exact, canonicalized, n-gram Jaccard (exact
  * near-dup), MinHash+LSH (approximate near-dup, the 100 TB path), and
  * SimHash.
  *
  * Scale design:
  *  - Exact/canonical dedup = hash aggregate on the normalized key — one
  *    shuffle, the cheapest possible shape.
  *  - Exact Jaccard uses per-shingle posting lists with document-
  *    frequency pruning (stop-shingles appearing in > [[effectiveDfCap]]
  *    docs — 1% of the corpus, floored at DfCap — are dropped, mirrored
  *    in the oracle) — without the cap the pair expansion explodes
  *    quadratically on frequent shingles.
  *  - MinHash replaces the full shingle join with a constant-width
  *    signature (NumPerm hashes) + banded LSH bucketing, then verifies
  *    candidates with exact Jaccard. Bucket join cost scales with
  *    collisions, not documents².
  */
object Dedup {

  val JaccardThreshold = 0.5
  val DfCap = 50       // stop-shingle document-frequency cap (floor)
  val NumPerm = 16     // MinHash permutations
  val Bands = 4        // LSH bands (NumPerm / Bands rows per band)
  /** Embedding width of the corpus contract: [[refineCentroids]] averages
    * exactly these dimensions, and the oracle SQL enumerates the same
    * ones with [[DimRangeSql]]. */
  private val EmbeddingDims = 64
  private val DimRangeSql = s"range(1, ${EmbeddingDims + 1})"

  /** Effective stop-shingle cap: max(DfCap, 1% of the corpus doc count),
    * ceiling division so both engines compute it in exact integer
    * arithmetic. A FIXED cap has two scale defects (round-7 verdict):
    * the stop-set grows ~linearly with the corpus (Zipf: #types above a
    * fixed absolute df is bounded only by occurrences/cap), and recall
    * decays — a true near-dup pair's shared shingles all cross a fixed
    * absolute cap once the corpus is large enough, at which point the
    * pair loses every posting and is undetectable. Scaling the cap with
    * N makes the policy a RELATIVE one ("drop shingles appearing in
    * >1% of documents"): the stop-set size is bounded by
    * occurrences/(N/100) = 100 × avg shingles/doc — a constant — and a
    * pair's shingles survive at any corpus size unless they are
    * genuinely boilerplate. Recall is spec-pinned at two corpus sizes
    * (DedupVectorSpec). The floor keeps small corpora at the round-1
    * behavior (all tested SFs: 50/500/5000 docs → cap 50, so oracle
    * results are unchanged). Cost note: the exact-Jaccard pair expansion
    * is Σ C(df,2) ≤ cap/2 × total occurrences, so a relative cap makes
    * the EXACT operator superlinear on pathological corpora — that
    * operator is the small/medium-corpus tool; MinHash+LSH (whose
    * verify is candidate-restricted, not df-bounded) is the 100 TB
    * path. */
  private[graft] def effectiveDfCap(nDocs: Long): Int =
    math.max(DfCap.toLong, (nDocs + 99) / 100).toInt

  /** SQL twin of [[effectiveDfCap]] as a scalar subquery (the oracle
    * must derive the cap from the same corpus the Spark side counted;
    * `//` is integer division in DuckDB, exact like the Scala side). */
  private val effectiveDfCapSql =
    s"(SELECT GREATEST($DfCap, (COUNT(*) + 99) // 100) FROM documents)"


  /** Whitespace class written out explicitly: Java regex `\s` includes
    * U+000B (vertical tab) while DuckDB's RE2 `\s` does not — with a
    * shorthand class the two engines would canonicalize a document
    * containing U+000B differently and the oracle hash would diverge.
    * Both regex dialects read the explicit class identically. */
  private val WsClassScala = "[ \\t\\n\\r\\f\\x0B]"
  private val WsClassSql = """[ \t\n\r\f\x0B]"""

  /** Canonical text form shared by the whole dedup family (batch,
    * streaming, and specs — ONE definition so the copies can't drift):
    * trim (spaces only, matching SQL trim) → lowercase → collapse
    * whitespace runs. */
  private[graft] def canonText(c: Column): Column =
    regexp_replace(lower(trim(c)), WsClassScala + "+", " ")

  /** SQL twin of [[canonText]] (interpolated into the oracles). */
  private[graft] val canonTextSql =
    s"regexp_replace(lower(trim(text)), '$WsClassSql+', ' ', 'g')"

  /** Sentinel hash for NULL text: md5(NULL) is NULL, and a null hash
    * silently drops the document from null-unsafe joins/groupings — a
    * corrupt record must still receive a dedup decision. */
  val NullTextHash = "null-text"

  /** Canonical content hash (md5 of [[canonText]], null-safe). */
  private[graft] def canonHashCol(c: Column): Column =
    coalesce(md5(canonText(c)), lit(NullTextHash))

  /** SQL twin of [[canonHashCol]] for the DuckDB oracles. */
  private[graft] val canonHashSql =
    s"COALESCE(md5($canonTextSql), 'null-text')"

  /** Word 3-gram shingles, one row per (doc_id, distinct shingle).
    *
    * Construction is slice+zip_with rather than an indexed transform:
    * an `element_at(toks, i)` lambda gets `split()` inlined per *element*
    * after projection collapse (~3 splits per shingle), while the three
    * slices evaluate `split()` a constant number of times per *row*.
    * Per-doc dedup is array_distinct (no shuffle; identical to a global
    * DISTINCT because the key is (doc_id, shingle)).
    *
    * The result is cache()d when `cacheable`: every consumer
    * (df-pruning, both join sides, per-doc counts, MinHash signatures)
    * re-reads the materialized shingles instead of recomputing the
    * explode — the "materialized CTE" a single-node engine gets for
    * free from its CTE execution. One cache entry is shared across the
    * dedup queries (CacheManager dedups by plan).
    *
    * The path-taking overload SIZE-GATES the cache on the source
    * table's on-disk bytes — the same threshold and basis as
    * [[Tables.t]], because the trade inverts with scale in the same
    * way: the raw shingle stream is ~10× its source (3-token strings,
    * one row per distinct shingle), so a bench/probe-scale corpus
    * (≤ MBs–GBs) pins a working set that MEMORY_AND_DISK holds or
    * spills harmlessly, while materializing a 100 TB corpus's stream
    * would write ~10× the corpus to executor disks to save re-running
    * a codegen'd split/explode over a source that is already columnar —
    * at the gate's far side, recompute is strictly the better deal.
    * (Contrast [[jaccardPairs]]'s posting cache, which stays ungated:
    * re-reading a disk-backed cache is always cheaper than re-running
    * the shuffles that built it.) */
  private[graft] def shingleTable(s: SparkSession, d: String): DataFrame =
    shingleTable(documents(s, d),
      cacheable = Tables.onDiskBytes(s"$d/documents.parquet") <= Tables.cacheMaxBytes)

  private[graft] def shingleTable(docs: DataFrame, cacheable: Boolean = true): DataFrame = {
    val toks = split(col("text"), " ")
    val n = size(toks)
    def pair(x: Column, y: Column) = concat(x, lit(" "), y)
    val sh = zip_with(
      zip_with(slice(toks, lit(1), n - 2), slice(toks, lit(2), n - 2), pair),
      slice(toks, lit(3), n - 2), pair)
    val df = docs
      .select(col("doc_id"),
        explode(when(n >= 3, array_distinct(sh)).otherwise(array())).as("shingle"))
    if (cacheable) Caches.cacheOnce(df)
    df
  }

  /** SQL twin of [[shingleTable]] (DuckDB lateral unnest over an index
    * range; range(1, n-1) is end-exclusive = Spark's sequence(1, n-2)).
    * Shared with [[Corpus]]'s contamination check. */
  private[ops] val oracleShingles =
    """SELECT DISTINCT doc_id,
      |       ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      |FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t,
      |     UNNEST(range(1, len(ts) - 1)) AS u(i)""".stripMargin

  /** Exact Jaccard pairs via per-shingle posting lists with df-pruning.
    *
    * Shape (every stage's task memory bounded): (1) a constant-buffer
    * df aggregate finds stop-shingles (df > dfCap); (2) a shuffle_hash
    * anti join prunes them from the stream BEFORE any posting list is
    * collected — under the corpus-scaled cap the stop-type count is
    * structurally constant (≤ 100 × avg shingles/doc), so the per-task
    * hash build is bounded by construction, which is what the round-7
    * broadcast here lacked (its bound needed a fixed-cap Zipf argument
    * that fails as the corpus grows); (3) posting lists are collected
    * from the pruned stream only, so every aggregation buffer is ≤
    * dfCap ids; (4) co-occurring pairs are expanded *map-side* from
    * each sorted posting list (streamed — see the pairs0 comment)
    * instead of a shuffled inverted-index self-join. The final
    * denominator joins are explicit sort-merge joins: both sides are
    * unbounded (`counts` is one row per document — O(corpus); `inter`
    * is O(co-occurring pairs)), so neither a mandatory broadcast nor a
    * static cost-based choice is safe — see the hint-site comment for
    * the 64× probe failure that proved it.
    *
    * When `candidates` is given (MinHash path), the postings are
    * restricted to candidate *documents* before the pair expansion, and
    * the pair stream to candidate pairs. Both candidate frames are
    * O(LSH collisions) — small for typical corpora but O(corpus) on a
    * 30–50% near-dup corpus (routine for crawl data), so neither may be
    * mandatorily broadcast: the restrictions are merge-hinted semi
    * joins, which shuffle-and-spill like every other unbounded join in
    * this engine (each costs one shuffle of a pruned/derived stream —
    * the price of not pinning an O(corpus) frame in every task's
    * memory). Denominators (n_sh) always come from the full pruned
    * corpus. Returns (id_a, id_b, jac). */
  private[graft] def jaccardPairs(sh: DataFrame, dfCap: Int,
      candidates: Option[DataFrame] = None): DataFrame = {
    // Stop-shingle pruning BEFORE any posting list is collected: a
    // stop-shingle's posting is O(corpus), so a collect_list that sees
    // it would materialize an unbounded aggregation buffer just to have
    // the filter discard it (the round-8 interim one-shuffle shape had
    // exactly that cliff; a capped-collect UDAF fixed the bound but
    // cost 3× — ScalaAggregator leaves the codegen'd agg path). The
    // anti join is SHUFFLE_HASH, not broadcast and not merge: under the
    // corpus-SCALED df-cap the stop-type count is structurally bounded
    // by occurrences/cap = 100 × avg shingles/doc — a constant,
    // independent of corpus size — so the per-task hash build is safe
    // by construction (unlike the round-7 broadcast, whose bound needed
    // a fixed-cap Zipf argument that failed at scale), and unlike merge
    // it never sorts the full shingle stream. Count-distinct buffers
    // are constant-size, so the df aggregate itself is bounded too.
    val stop = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("shingle")
    // pruned is deliberately NOT cached: its only consumer is the
    // posting aggregate below, and pinning a second full copy of the
    // shingle stream (beside shingleTable's cache) is what pushed the
    // 64×-under-3-GiB probe over the edge — every other consumer
    // re-derives (shingle, doc_id) rows by exploding the much smaller
    // cached posting lists instead.
    val pruned = sh.join(stop.hint("shuffle_hash"), Seq("shingle"), "left_anti")
    // cache(): the exact-Jaccard and MinHash-verify paths build this
    // exact plan (CacheManager matches by plan) — one materialization
    // of the pruned postings serves both; rows are bounded at dfCap
    // ids each because only post-prune shingles reach the collect.
    // Deliberately NOT size-gated (unlike the raw shingle cache): this
    // frame costs two shuffles (anti join + collect) to rebuild, and a
    // shuffle already writes its full output to disk — so at ANY scale,
    // re-reading the disk-backed cache beats re-running the shuffles
    // that produced it. MEMORY_AND_DISK degrades to disk-resident under
    // memory pressure (the 3 GiB 64× probe exercises exactly that).
    val posting = pruned.groupBy("shingle")
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .transform(Caches.cacheOnce)
    // n_sh counts are over the full pruned corpus (same denominator as
    // the exact path), regardless of candidate restriction — re-derived
    // from the cached postings rather than a second raw-stream pass.
    val counts = posting.select(explode(col("ids")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh")).transform(Caches.cacheOnce)
    val lists = candidates match {
      case Some(p) =>
        val candDocs = p.select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
        posting.select(col("shingle"), explode(col("ids")).as("doc_id"))
          .join(candDocs.hint("merge"), Seq("doc_id"), "left_semi")
          .groupBy("shingle").agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      case None => posting
    }
    // All i<j combinations of the sorted posting list, expanded in TWO
    // chained Generates: posexplode streams one row per (pos, id_a),
    // then a second explode streams that row's tail slice as id_b. The
    // former single-level form (nested transform + flatten) built the
    // whole C(df,2) struct array inside ONE row buffer — bounded at
    // C(50,2) ≈ 1.2k structs under the fixed df-cap, but the
    // corpus-scaled cap admits df up to 1% of docs, and at the 64×
    // probe (cap 3,200) that became a ~5M-struct single-row allocation
    // that OOM'd the 3 GiB memory-pressure run. Chained Generates keep
    // per-row allocation O(df) and stream the quadratic output straight
    // into the partial aggregation; the generated row count (the
    // genuine work) is unchanged.
    val pairs0 = lists
      .select(posexplode(col("ids")), col("ids"))
      .select(col("col").as("id_a"),
        explode(slice(col("ids"), col("pos") + lit(2), size(col("ids")))).as("id_b"))
    val pairs = candidates match {
      case Some(p) => pairs0.join(p.hint("merge"), Seq("id_a", "id_b"), "left_semi")
      case None => pairs0
    }
    val inter = pairs.groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    // Denominator joins are explicitly SORT-MERGE: both sides are
    // unbounded (`inter` is O(co-occurring pairs), `counts` is
    // O(corpus)), so no broadcast is ever safe here — and leaving the
    // choice to static estimates is how the 64× dedup ladder run OOM'd:
    // `inter` sits behind a Generate whose stats don't grow with the
    // pair fan-out, so the planner under-estimated it and broadcast the
    // pair table. AQE would demote that at runtime, but the engine must
    // hold its shape under static planning too. Merge (not
    // shuffle_hash): SMJ spills both sides, whereas a shuffled hash
    // join's per-task build relation is in-memory — hinting it would
    // re-create the same unbounded-memory class one level down.
    inter
      .join(counts.select(col("doc_id").as("id_a"), col("n_sh").as("na"))
        .hint("merge"), Seq("id_a"))
      .join(counts.select(col("doc_id").as("id_b"), col("n_sh").as("nb"))
        .hint("merge"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jac"))
  }

  /** Thresholded Jaccard dup pairs (id_a, id_b, jac), cache()d: built
    * from the identical plan by q_dedup_ngram_jaccard and
    * q_dedup_cluster, so within one session the verify pipeline's
    * non-cached tail (pair expansion → intersection → denominators)
    * runs once and the second consumer reads the materialized frame
    * (CacheManager dedups by plan). The cached frame is output-sized —
    * O(dup pairs above threshold), a tiny fraction of the corpus — and
    * joins the session working set like [[shingleTable]]'s cache (one
    * entry per data directory, released with the session or an explicit
    * clearCache; same policy as `Tables.t`). */
  private[graft] def thresholdedPairs(sh: DataFrame, dfCap: Int): DataFrame = {
    val p = jaccardPairs(sh, dfCap).filter(col("jac") >= JaccardThreshold)
    Caches.cacheOnce(p)
    p
  }

  /** Memoized doc counts per data directory: [[capFor]] is called at
    * every dedup-query construction (including inside Bench timings),
    * and while the count() result is one long, the job behind
    * it is only ~free when the documents table is cache()d — under
    * -Dgraft.no.cache=1 (PlanAudit) or for a table over the cache size
    * gate it is a real (cheap, count-only, count(*)-pushdown) Spark scan
    * per invocation. The key includes an mtime+size signature of the
    * documents parquet, not just the directory path: a rewritten
    * directory (re-registration, regenerated testdata) changes the
    * signature, which both misses the memo AND refreshes Spark's own
    * cached plan over the old file listing before the fresh count — so
    * any rewrite the signature can see (different bytes, or a new
    * mtime tick) recounts the new data. A same-size rewrite inside one
    * mtime tick (ms granularity via java.io.File, coarser on some
    * filesystems) is invisible to the signature; [[clearDocCounts]] is
    * the explicit hook for callers doing that to themselves. */
  private val docCountByDir =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val lastSigByDir =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Content signature of the documents table under `d`: max lastModified
    * and total bytes over the parquet file/directory (one shared walker,
    * [[Tables.mtimeAndBytes]]). */
  private def docSignature(d: String): String = {
    val (mtime, bytes) = Tables.mtimeAndBytes(s"$d/documents.parquet")
    s"$d@$mtime:$bytes"
  }

  /** Drop all memoized doc counts (test hook; also the escape hatch for
    * callers that mutate data in place without touching mtimes). */
  private[graft] def clearDocCounts(): Unit = {
    docCountByDir.clear(); lastSigByDir.clear()
  }

  /** The corpus-size-scaled cap for a data directory. The doc count is a
    * driver-side scalar, computed once per directory content-signature
    * ([[docCountByDir]]) and a metadata/cache scan when the documents
    * table is resident. When the signature CHANGES for a directory this
    * session, Spark's cached relation over the old files is refreshed
    * first — otherwise the CacheManager would satisfy the "fresh" count
    * from the stale InMemoryRelation and the memo would pin the old
    * count under the new key. */
  private[graft] def capFor(s: SparkSession, d: String): Int = {
    val sig = docSignature(d)
    // refresh-then-count happens INSIDE the memo's atomic mapping:
    // ConcurrentHashMap runs one mapping per key and blocks concurrent
    // callers of the same key, so a second thread arriving right after a
    // rewrite can no longer observe the new signature in lastSigByDir
    // (put by the first thread), skip the refresh, and memoize a count
    // read from the still-stale cached relation (ADVICE r11). The
    // refresh on a first-seen-but-previously-different signature is at
    // worst redundant.
    val n = docCountByDir.computeIfAbsent(sig, s2 => {
      if (lastSigByDir.put(d, s2) != null)
        s.catalog.refreshByPath(s"$d/documents.parquet")
      documents(s, d).count()
    })
    // memo hit with a CHANGED signature = content reverted to a
    // previously-seen generation: the memoized count is correct for this
    // content, but Spark's cached relation may still cover the other
    // generation — refresh so subsequent real reads see this one.
    val prev = lastSigByDir.put(d, sig)
    if (prev != null && prev != sig)
      s.catalog.refreshByPath(s"$d/documents.parquet")
    effectiveDfCap(n)
  }

  /** Shared oracle CTE block: shingles → df-pruned postings → per-doc
    * counts → pairwise intersection → Jaccard (`jacp(id_a, id_b, jac)`).
    * Reused by the exact-Jaccard and connected-components oracles. */
  private val jaccardCtes =
    s"""sh AS ($oracleShingles),
       |pruned AS (
       |  SELECT * FROM sh WHERE shingle IN (
       |    SELECT shingle FROM sh GROUP BY shingle
       |    HAVING COUNT(*) <= $effectiveDfCapSql)),
       |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM pruned GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
       |  FROM pruned a JOIN pruned b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |jacp AS (
       |  SELECT id_a, id_b,
       |         CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) AS jac
       |  FROM inter
       |  JOIN cnt ca ON id_a = ca.doc_id
       |  JOIN cnt cb ON id_b = cb.doc_id)""".stripMargin

  /** DuckDB twin of q_dedup_cluster: the Jaccard dup pairs as an edge
    * list, transitive closure via a recursive CTE, cluster id = smallest
    * reachable doc_id (docs with no dup edge form singleton clusters). */
  private val clusterOracle =
    s"""WITH RECURSIVE $jaccardCtes,
       |pairs AS (SELECT id_a, id_b FROM jacp WHERE jac >= $JaccardThreshold),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
       |SELECT d.doc_id,
       |       COALESCE(LEAST(d.doc_id, MIN(r.dst)), d.doc_id) AS cluster_id
       |FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** DuckDB twin of q_dedup_minhash: identical md5-derived permutation
    * hashes ('b:shingle' salted md5, 8-hex-char chunks → 32-bit ints),
    * banded candidate join, exact-Jaccard verify. Spark's conv(hex,16,10)
    * and DuckDB's CAST('0x…' AS BIGINT) parse the same chunk to the same
    * value, so the candidate sets agree exactly. */
  private val minhashOracle: String = {
    val rowsPerBand = NumPerm / Bands
    val hv = (0 until NumPerm).map { j =>
      s"CAST('0x' || substr(md5('${j / 4}:' || shingle), ${(j % 4) * 8 + 1}, 8) AS BIGINT) AS h$j"
    }.mkString(",\n       ")
    val sigs = (0 until NumPerm).map(j => s"MIN(h$j) AS s$j").mkString(", ")
    val bandRows = (0 until Bands).map { b =>
      val ks = (0 until rowsPerBand).map(r => s"s${b * rowsPerBand + r} AS k$r").mkString(", ")
      s"SELECT doc_id, $b AS band, $ks FROM sig"
    }.mkString("\n  UNION ALL ")
    val bandEq = (0 until rowsPerBand).map(r => s"x.k$r = y.k$r").mkString(" AND ")
    s"""WITH sh AS ($oracleShingles),
       |hv AS (SELECT doc_id,
       |       $hv
       |  FROM sh),
       |sig AS (SELECT doc_id, $sigs FROM hv GROUP BY doc_id),
       |bands AS (
       |  $bandRows),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND $bandEq AND x.doc_id < y.doc_id),
       |pruned AS (
       |  SELECT * FROM sh WHERE shingle IN (
       |    SELECT shingle FROM sh GROUP BY shingle
       |    HAVING COUNT(*) <= $effectiveDfCapSql)),
       |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM pruned GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
       |  FROM pruned a JOIN pruned b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  JOIN cand c ON c.id_a = a.doc_id AND c.id_b = b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT id_a, id_b,
       |       CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) AS jac
       |FROM inter
       |JOIN cnt ca ON id_a = ca.doc_id
       |JOIN cnt cb ON id_b = cb.doc_id
       |WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) >= $JaccardThreshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** The 20 wide blocking keys for a 60-bit simhash column: 6 blocks of
    * 10 bits, one 30-bit key per C(6,3) three-block combination, tagged
    * with the combination id in bits 30+ so keys from different combos
    * never collide. Complete for Hamming ≤ 3 by pigeonhole (≤3 flipped
    * bits touch ≤3 blocks, leaving ≥3 intact, and every 3-subset is
    * keyed) — PropertySpec exercises exactly this claim against
    * exhaustively-flipped signature pairs. Shared by q_dedup_simhash
    * and the spec so the property pins the production expressions. */
  private[graft] def simhashBlockKeys(sim: Column): Seq[Column] = {
    val blocks = (0 until 6).map(b =>
      shiftright(sim, b * 10).bitwiseAND(0x3FFL))
    (0 until 6).combinations(3).toSeq.zipWithIndex.map {
      case (combo, id) =>
        blocks(combo(0)) + shiftleft(blocks(combo(1)), 10) +
          shiftleft(blocks(combo(2)), 20) + lit(id.toLong << 30)
    }
  }

  /** DuckDB twin of q_dedup_simhash: same md5-derived 60-bit token
    * hashes, per-bit majority vote, 15-bit chunk blocking, Hamming ≤ 3. */
  private val simhashOracle: String = {
    val bitSums = (0 until 60).map(i => s"SUM((h >> $i) & 1) AS b$i").mkString(",\n         ")
    val sigExpr = (0 until 60)
      .map(i => s"(CASE WHEN 2*b$i > n_tok THEN (CAST(1 AS BIGINT) << $i) ELSE 0 END)")
      .mkString(" +\n         ")
    s"""WITH toks AS (
       |  SELECT DISTINCT doc_id, tok FROM (
       |    SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents) t
       |  WHERE tok <> ''),
       |hv AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM toks),
       |bits AS (SELECT doc_id, COUNT(*) AS n_tok,
       |         $bitSums
       |  FROM hv GROUP BY doc_id),
       |sig AS (SELECT doc_id,
       |         $sigExpr AS simhash
       |  FROM bits),
       |chunks AS (
       |  SELECT doc_id, simhash, c, (simhash >> (15*c)) & 32767 AS ckey
       |  FROM sig, UNNEST(range(0, 4)) AS u(c))
       |SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
       |       CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
       |FROM chunks x JOIN chunks y
       |  ON x.c = y.c AND x.ckey = y.ckey AND x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Connected components over a dup-pair graph; cluster id = smallest
    * doc_id in the component (singletons keep their own id).
    *
    * Spark has no recursive CTE; labels are computed by iterative
    * min-label propagation, O(diameter) rounds (dup clusters are
    * shallow) — the same shape GraphX's connected components uses. The
    * driver loop only *schedules* rounds and checks a convergence bit;
    * all data stays distributed.
    *
    * The loop itself runs on co-partitioned RDDs, not DataFrames — the
    * one place in the repo where the imperative API is the right tool.
    * A DataFrame loop re-enters Catalyst every round (analysis +
    * optimization + codegen over a plan that references the previous
    * round's cache), and with AQE enabled each round ALSO pays per-stage
    * re-planning; measured on the sf0.1 dup graph that overhead was
    * 0.8 s/round with AQE off and 2-12 s/round with AQE on, against
    * ~0.05 s of actual work (BENCH_NOTES round 13 "cluster under AQE").
    * RDD rounds are planned once by the DAG scheduler: `edges` is
    * hash-partitioned ONCE and every round's join/leftOuterJoin reuses
    * that partitioner (zero-shuffle co-partitioned joins), so one round
    * is exactly one reduceByKey shuffle of the (tiny) changed-label
    * stream. The same property holds on a 1000-executor cluster: the
    * partitioner is the cluster-wide hash partitioning, and rounds add
    * no exchange beyond the single min-combine.
    *
    * Σlbl strictly decreases every round until the fixpoint, so an
    * unchanged sum IS convergence — one scan per round instead of a
    * changed-rows join. The sum is exact BigInt (a 100 TB corpus has
    * enough 63-bit doc ids to wrap a Long sum; BigInt closes the
    * wrap-collision hole the DataFrame version tolerated). Loop hygiene
    * for long sessions: each round's RDD is unpersisted once the next is
    * materialized, and lineage is truncated with localCheckpoint every 5
    * rounds (bounds recovery recompute; DAG depth itself is harmless). */
  private[graft] def clusterLabels(docs: DataFrame, dupPairs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    val part = new HashPartitioner(spark.sessionState.conf.numShufflePartitions)
    // Leaving the SQL world happens exactly once, here: the dup-pair
    // frame (already the output of the planned/pushed-down Jaccard
    // pipeline) becomes a symmetric (src, dst) pair RDD partitioned by
    // src. MEMORY_AND_DISK: the edge list is O(dup subgraph) and must
    // survive executor-memory pressure by spilling, not recompute.
    val edges = dupPairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .rdd.flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    // seed: every doc on a dup edge labels itself (reduceByKey into the
    // shared partitioner; mapPartitions preserves it)
    var labels: RDD[(Long, Long)] = edges.reduceByKey(part, (a, _) => a)
      .mapPartitions(_.map { case (k, _) => (k, k) }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    labels.count() // materialize so edge-building cost is not billed to round 0
    def lblSum(l: RDD[(Long, Long)]): BigInt =
      l.aggregate(BigInt(0))((acc, kv) => acc + kv._2, _ + _)
    // one min-label propagation step; both joins are co-partitioned on
    // `part` (no shuffle) — the reduceByKey is the round's one exchange
    def step(l: RDD[(Long, Long)]): RDD[(Long, Long)] = {
      val nbrMin = edges.join(l, part)
        .map { case (_, (dst, lab)) => (dst, lab) }
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      l.leftOuterJoin(nbrMin, part)
        .mapValues { case (lab, m) => math.min(lab, m.getOrElse(lab)) }
    }
    val MaxRounds = 25 // >> diameter of any realistic dup cluster
    var prevSum = lblSum(labels)
    // sum 0 ⇔ no edges (a dup pair always involves two distinct non-
    // negative ids, so a non-empty seed sums > 0) → nothing to propagate
    var converged = prevSum == 0
    var round = 0
    // The most recent localCheckpoint()ed labels RDD stays PINNED
    // (never unpersisted) until a NEWER checkpoint has materialized:
    // localCheckpoint truncates lineage, so its blocks ARE the only
    // recovery source for every later round's persisted-but-
    // unchekpointed RDD — unpersisting it on the next round (as the
    // naive loop did) deletes checkpoint data a block-loss recompute
    // still needs, failing with "checkpoint data not found" instead of
    // recomputing (round-13 advice; the replaced DataFrame-loop version
    // pinned checkpointed frames for exactly this reason).
    var pinnedCkpt: RDD[(Long, Long)] = null
    while (!converged && round < MaxRounds) {
      // TWO propagation steps per materialized job: same shuffle work,
      // half the job round-trips. Convergence still holds: Σlbl strictly
      // decreases while any step changes a label, so an unchanged sum
      // across a double step is a fixpoint.
      val isCkptRound = round % 5 == 4
      val next = step(step(labels)).persist(StorageLevel.MEMORY_AND_DISK)
      if (isCkptRound) next.localCheckpoint()
      val s = lblSum(next) // materializes next (and any checkpoint)
      if (labels ne pinnedCkpt) labels.unpersist(blocking = false)
      if (isCkptRound) {
        if (pinnedCkpt != null) pinnedCkpt.unpersist(blocking = false)
        pinnedCkpt = next
      }
      converged = s == prevSum
      prevSum = s
      labels = next
      round += 1
    }
    if (!converged)
      System.err.println(s"[graft] q_dedup_cluster: label propagation did NOT " +
        s"converge in $MaxRounds double-step rounds (${2 * MaxRounds} steps) — " +
        s"a component with diameter > ${2 * MaxRounds} would be split; " +
        "results may disagree with the transitive-closure oracle")
    edges.unpersist(blocking = false)
    // Back to SQL: the label RDD (O(dup-edge docs)) joins the full doc
    // list as a DataFrame so Catalyst plans the big-side join. The
    // persisted RDD backs the frame until the caller drops it; Spark's
    // ContextCleaner reclaims it — nothing accumulates across calls.
    import spark.implicits._
    val finalLabels = labels.toDF("doc_id", "lbl")
    docs.join(finalLabels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
      .orderBy("doc_id")
  }

  val queries: Seq[OpQuery] = Seq(

    OpQuery("q_dedup_exact",
      """SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin) { (s, d) =>
      documents(s, d)
        .groupBy("text")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    },

    // Canonicalization dedup: lowercase + trim + whitespace collapse.
    OpQuery("q_dedup_canonical",
      s"""SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents
        |GROUP BY $canonTextSql
        |ORDER BY keep_id""".stripMargin) { (s, d) =>
      documents(s, d)
        .groupBy(canonText(col("text")).as("canon"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    },

    // Truncation (prefix) dedup: documents whose full text is a strict
    // prefix of another document's text — the same page scraped with
    // different cutoffs, a crawl-corpus failure mode exact-hash dedup
    // misses (an exact copy also qualifies; the higher doc_id is
    // dropped then). Two scale-sane equi-join branches, no all-pairs:
    //  - candidates ≥ 24 chars self-join on the first-24-char block
    //    key (pairs bounded by dup-cluster width, one shuffle);
    //  - candidates < 24 chars can't share that key with a longer
    //    container, so containers explode their ≤23 short prefixes
    //    (constant ≤23× on one side) and the short doc's full text
    //    equi-joins against them.
    OpQuery("q_dedup_prefix",
      """WITH b AS (
        |  SELECT doc_id, text, substr(text, 1, 24) AS k, length(text) AS len
        |  FROM documents),
        |long_drops AS (
        |  SELECT a.doc_id AS drop_id
        |  FROM b a JOIN b b2
        |    ON a.k = b2.k AND a.doc_id <> b2.doc_id
        |   AND a.len >= 24 AND a.len <= b2.len
        |   AND substr(b2.text, 1, CAST(a.len AS INT)) = a.text
        |   AND (a.len < b2.len OR a.doc_id > b2.doc_id)),
        |short_prefixes AS (
        |  SELECT b2.doc_id AS b_id, b2.len AS b_len,
        |         substr(b2.text, 1, CAST(u.i AS INT)) AS p, u.i AS plen
        |  FROM b b2, UNNEST(range(1, CAST(least(24, b2.len + 1) AS BIGINT))) AS u(i)),
        |short_drops AS (
        |  SELECT a.doc_id AS drop_id
        |  FROM b a JOIN short_prefixes sp
        |    ON a.len < 24 AND a.text = sp.p AND a.doc_id <> sp.b_id
        |   AND (a.len < sp.b_len OR a.doc_id > sp.b_id))
        |SELECT DISTINCT drop_id
        |FROM (SELECT drop_id FROM long_drops
        |      UNION ALL SELECT drop_id FROM short_drops)
        |ORDER BY drop_id""".stripMargin) { (s, d) =>
      val b = documents(s, d).select(
        col("doc_id"), col("text"),
        substring(col("text"), 1, 24).as("k"),
        length(col("text")).as("len"))
      val a = b.select(col("doc_id").as("a_id"), col("text").as("a_text"),
                       col("k"), col("len").as("a_len"))
      val c = b.select(col("doc_id").as("b_id"), col("text").as("b_text"),
                       col("k"), col("len").as("b_len"))
      val longDrops = a.filter(col("a_len") >= 24).join(c, Seq("k"))
        .filter(col("a_id") =!= col("b_id") && col("a_len") <= col("b_len") &&
          expr("substring(b_text, 1, a_len) = a_text") &&
          (col("a_len") < col("b_len") || col("a_id") > col("b_id")))
        .select(col("a_id").as("drop_id"))
      // len >= 1 guard: Spark's sequence(1, 0) is the DESCENDING [1, 0]
      // (step defaults to -1 when start > stop), which would fabricate
      // empty-string prefixes from an empty-text container — the oracle's
      // range(1, 1) is empty, so an unguarded transform would diverge.
      val shortPrefixes = b
        .select(col("doc_id").as("b_id"), col("len").as("b_len"),
          explode(expr(
            """CASE WHEN len >= 1
              |     THEN transform(sequence(1, least(23, len)), i -> substring(text, 1, i))
              |     ELSE array() END""".stripMargin))
            .as("p"))
      val shortDrops = a.filter(col("a_len") < 24)
        .join(shortPrefixes, col("a_text") === col("p"))
        .filter(col("a_id") =!= col("b_id") &&
          (col("a_len") < col("b_len") || col("a_id") > col("b_id")))
        .select(col("a_id").as("drop_id"))
      longDrops.union(shortDrops).distinct().orderBy("drop_id")
    },

    // Exact near-dup detection: word-3-gram Jaccard ≥ 0.5 via
    // inverted-index join + df-pruning (cap mirrored in the oracle).
    OpQuery("q_dedup_ngram_jaccard",
      s"""WITH $jaccardCtes
         |SELECT id_a, id_b, jac FROM jacp
         |WHERE jac >= $JaccardThreshold
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val sh = shingleTable(s, d)
      thresholdedPairs(sh, capFor(s, d)).orderBy("id_a", "id_b")
    },

    // MinHash + banded LSH: approximate near-dup at scale. Permutation
    // hashes are md5-derived (4 salted md5 calls → 4×32-bit chunks each =
    // NumPerm values) so DuckDB computes bit-identical signatures →
    // full oracle check (round 1 used xxhash64, which has no DuckDB twin
    // and forced a weaker rows-only check).
    OpQuery("q_dedup_minhash", minhashOracle) { (s, d) =>
      val sh = shingleTable(s, d)
      // 4 salted md5 per shingle; chunk j/4,j%4 → permutation hash j.
      // Round 21: the digests are read as BYTES by the Md5Chunks kernel
      // — the former conv(substring(md5(...), a, 8), 16, 10) spelling
      // materialized a 32-char hex string per digest and re-parsed four
      // slices of it through conv's string→decimal→long path, all pure
      // overhead on the per-shingle hot loop (bit-identical by
      // construction: hex char i = digest nibble i; PropertySpec-pinned
      // against the composed spelling, oracle twin unchanged).
      val withChunks = sh.select(col("doc_id") +: (0 until NumPerm / 4).map(g =>
        graft.functions.HashFns.md5_chunks(
          concat(lit(s"$g:"), col("shingle"))).as(s"c$g")): _*)
      val sigCols = (0 until NumPerm).map(j =>
        min(element_at(col(s"c${j / 4}"), j % 4 + 1)).as(s"s$j"))
      // one signature row per doc; cached — the banding union re-reads
      // it instead of re-running the 16-hash aggregation
      val sigs = withChunks.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*).cache()
      val rowsPerBand = NumPerm / Bands
      def bandSide(idName: String) = (0 until Bands).map { b =>
        val ks = (0 until rowsPerBand).map(r => col(s"s${b * rowsPerBand + r}").as(s"k$r"))
        sigs.select(col("doc_id").as(idName) +: lit(b).as("band") +: ks: _*)
      }.reduce(_ unionAll _)
      val candidates = bandSide("id_a").join(bandSide("id_b"),
          Seq("band") ++ (0 until rowsPerBand).map(r => s"k$r"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .cache() // reused by the restricted Jaccard verify
      // verify only the candidates with exact Jaccard (restriction is
      // pushed into the pair stream, not applied after it)
      jaccardPairs(sh, capFor(s, d), Some(candidates))
        .filter(col("jac") >= JaccardThreshold)
        .orderBy("id_a", "id_b")
    },

    // SimHash: 60-bit signature from unigram hashes (60 bits = 15 hex
    // chars of md5 → one portable hex→int conversion per token, and the
    // sign bit stays clear in both engines); near-dups = pairs with
    // Hamming distance ≤ 3, blocked on 15-bit chunks (a pair within
    // distance 3 must agree on ≥1 of 4 chunks). md5-derived bits give
    // DuckDB bit-identical signatures → full oracle check.
    OpQuery("q_dedup_simhash", simhashOracle) { (s, d) =>
      val toks = documents(s, d)
        .select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("tok"))
        .filter(col("tok") =!= "")
        // Round 21: Md5Prefix60 kernel — the digest's first 60 bits
        // read as bytes; ≡ conv(substring(md5(tok), 1, 15), 16, 10)
        // without the 32-char hex string materialize + re-parse per
        // token (PropertySpec-pinned; oracle twin unchanged)
        .withColumn("h", graft.functions.HashFns.md5_prefix60(col("tok")))
      // 60 per-bit popcounts packed 4-per-long (16-bit saturating-free
      // slots: per-doc token counts are far below 2^16, so slot sums
      // never carry). 15 narrow aggregates instead of 60 keeps the
      // generated aggregation code JIT-compilable.
      val packedSums = (0 until 15).map { j =>
        sum((0 until 4).map { k =>
          shiftleft(shiftright(col("h"), 4 * j + k).bitwiseAND(1), 16 * k)
        }.reduce(_ + _)).as(s"p$j")
      }
      val nTok = count(lit(1)).as("n_tok")
      // cached: the 4-chunk union and both self-join sides re-read it
      val sig = toks.groupBy("doc_id").agg(packedSums.head, packedSums.tail :+ nTok: _*)
        .select(col("doc_id"),
          (0 until 60).map { i =>
            val (j, k) = (i / 4, i % 4)
            val ones = shiftright(col(s"p$j"), 16 * k).bitwiseAND(0xFFFFL)
            // majority bit: set when ones > n_tok/2 (i.e. 2*ones > n_tok)
            when(ones * 2 > col("n_tok"), lit(1L << i)).otherwise(0L)
          }.reduce(_ + _).as("simhash"))
        .cache()
      // Wide-key blocking (Manku/Jain/Das Sarma, WWW'07 §3): 6 blocks of
      // 10 bits, keyed on every C(6,3)=20 three-block combination
      // (30-bit keys). Complete cover for Hamming ≤ 3 by pigeonhole —
      // ≤3 flipped bits touch ≤3 of the 6 blocks, leaving ≥3 intact,
      // and every 3-subset is a keyed combo — so the OUTPUT is
      // identical to the previous 4×15-bit chunking (the DuckDB oracle
      // keeps its own 4-chunk generator for the same reason). The
      // difference is scale: random-signature collisions per key fall
      // from N²/2¹⁵ to N²/2³⁰ at the cost of a 20N (vs 4N) explode —
      // the 128× ladder measured the 15-bit candidate stream emerging
      // superlinear (~2.1×/doubling, BENCH_NOTES.md), and at a
      // 100 TB-corpus 5M docs the 15-bit scheme generates ~3e9
      // candidate pairs where this one stays O(true near-dups + 20N).
      // Round-21 probe-and-revert (commit c327396 has the numbers): a
      // SIGNATURE-level pairing — distinct signatures
      // through the same 20-key blocking (21M candidates vs 298M at
      // doc level; 376k distinct sigs of 500k docs at sf10), then
      // member expansion joins — produced the identical pair set and
      // ran the pre-sort pipeline at 9.7 s vs 17.8 s… but the query's
      // pinned global ORDER BY then cost MORE than it saved: the range
      // exchange samples its child, and with the expansion JOINS (not
      // the old distinct's exchange) directly under the sort, the
      // boundary pass re-executed them (22.6 s total; a repartition
      // shim to materialize before sampling still 19.2 s — the two
      // output-scale expansion exchanges out-cost the 298M map-side
      // candidate stream they replace, which never shuffles). The
      // 37.6M-row globally-sorted sf10 OUTPUT is ~60% of this query's
      // cost and is the pinned result itself. Kept the doc-level join.
      val chunked = sig.select(col("doc_id"), col("simhash"),
        explode(array(simhashBlockKeys(col("simhash")): _*)).as("bkey"))
      chunked.as("x").join(chunked.as("y"),
          col("x.bkey") === col("y.bkey") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
        // hamming ≤ 3 BEFORE the dedup exchange (round 20): hamming is
        // a function of the pair, so filtering first is row-identical,
        // and it drops every random band-key collision map-side — the
        // distinct then shuffles O(true near-dups × ≤20 copies) instead
        // of the whole candidate stream.
        .filter(col("hamming") <= 3)
        .distinct()
        .orderBy("id_a", "id_b")
    },

    // Near-dup clustering: connected components over the Jaccard dup
    // graph, cluster id = smallest doc_id in the component (the doc a
    // dedup pipeline keeps). See [[clusterLabels]].
    OpQuery("q_dedup_cluster", clusterOracle) { (s, d) =>
      val docs = documents(s, d).select(col("doc_id"))
      val sh = shingleTable(s, d)
      val dupPairs = thresholdedPairs(sh, capFor(s, d)).select("id_a", "id_b")
      clusterLabels(docs, dupPairs)
    },

    // Incremental ingestion dedup: a NEW batch (odd doc_ids) is admitted
    // against an EXISTING corpus (even doc_ids) — drop batch docs whose
    // canonicalized text already exists in the corpus OR duplicates an
    // earlier batch doc. Two hash anti/semi joins on the canonical md5 —
    // the O(batch) + O(corpus) one-shuffle shape a continuously-ingesting
    // 100 TB pipeline runs per increment (no broadcast hints: the corpus
    // hash set is unbounded).
    OpQuery("q_dedup_incremental",
      s"""WITH canon AS (
        |  SELECT doc_id, $canonHashSql AS h
        |  FROM documents),
        |corpus AS (SELECT DISTINCT h FROM canon WHERE doc_id % 2 = 0),
        |batch AS (SELECT doc_id, h FROM canon WHERE doc_id % 2 = 1)
        |SELECT b.doc_id, b.h AS canon_hash,
        |       CASE WHEN c.h IS NOT NULL THEN 'dup_of_corpus'
        |            WHEN b.doc_id <> m.keep THEN 'dup_in_batch'
        |            ELSE 'admit' END AS decision
        |FROM batch b
        |LEFT JOIN corpus c ON b.h = c.h
        |JOIN (SELECT h, MIN(doc_id) AS keep FROM batch GROUP BY h) m ON b.h = m.h
        |ORDER BY b.doc_id""".stripMargin) { (s, d) =>
      val canon = documents(s, d).select(col("doc_id"),
        canonHashCol(col("text")).as("h"))
      val corpus = canon.filter(col("doc_id") % 2 === 0)
        .select(col("h")).distinct().withColumn("in_corpus", lit(1))
      val batch = canon.filter(col("doc_id") % 2 === 1)
      val firstInBatch = batch.groupBy("h").agg(min(col("doc_id")).as("keep"))
      batch
        .join(corpus, Seq("h"), "left")
        .join(firstInBatch, Seq("h"))
        .select(col("doc_id"), col("h").as("canon_hash"),
          when(col("in_corpus").isNotNull, "dup_of_corpus")
            .when(col("doc_id") =!= col("keep"), "dup_in_batch")
            .otherwise("admit").as("decision"))
        .orderBy("doc_id")
    },

    // Embedding near-dup: cosine ≥ 0.3 within label blocks (the testdata
    // embeddings are near-orthogonal, so the threshold is set where
    // candidate pairs exist). Round 18: the pair join is additionally
    // banded on a PER-LABEL corpus-derived sign-prefix bucket so a
    // skewed label block can never go quadratic — b =
    // [[embedBucketBitsFor]](n_label) sign bits of the leading
    // dimensions key each vector into one of 2^b buckets, and pairs are
    // compared only within (label, bucket): within-block pair work is
    // bounded by ~n_label·(cap=256) instead of n_label². b=0 whenever
    // the block fits the cap, so the query is EXACT at every oracle
    // scale (max block 218 at sf0.1) and the derivation is mirrored
    // verbatim in the oracle's CASE ladder (the lshBitsFor pattern,
    // VectorOps.scala:136). Beyond the cap the banding is the standard
    // sign-LSH trade (a qualifying pair split across buckets is
    // dropped; per-bit split probability θ/π) — the r17 sf10 wall was
    // this query at 1417 s under verbatim-replicated labels, exactly
    // the skew this stage bounds.
    OpQuery("q_dedup_embedding",
      s"""WITH e AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |en AS (SELECT vec_id, label, v,
        |              sqrt(list_dot_product(v, v)) AS nv FROM e),
        |lc AS (SELECT label, $EmbedBucketLadderSql AS bb
        |       FROM e GROUP BY label),
        |eb AS (SELECT en.vec_id, en.label, en.v, en.nv,
        |              $EmbedBucketKeySql AS bucket
        |       FROM en JOIN lc ON en.label = lc.label)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       ROUND(list_dot_product(a.v, b.v) / (a.nv * b.nv), 6) AS cos_sim
        |FROM eb a JOIN eb b
        |  ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        |WHERE ROUND(list_dot_product(a.v, b.v) / (a.nv * b.nv), 6) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val en = embeddings(s, d)
        .select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("nv", sqrt(VectorOps.dot(col("v"), col("v"))))
      // one row per label — joined (not broadcast: label cardinality is
      // corpus-dependent) on the same label key the pair join shuffles on
      val lc = en.groupBy("label")
        .agg(embedBucketBitsFor(count(lit(1))).as("bb"))
      val eb = en.join(lc, Seq("label"))
        .withColumn("bucket", embedBucketKey(col("v"), col("bb")))
        .select("label", "bucket", "vec_id", "v", "nv")
      val cos = round(
        VectorOps.dot(col("a.v"), col("b.v")) / (col("a.nv") * col("b.nv")), 6)
      eb.as("a").join(eb.as("b"),
          col("a.label") === col("b.label") &&
            col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"), cos.as("cos_sim"))
        .filter(col("cos_sim") >= 0.3)
        .orderBy("id_a", "id_b")
    },

    // Semantic dedup (SemDeDup-style, Abbas et al. 2023): cluster the
    // embedding space, then near-dup only WITHIN clusters — the cluster
    // bounds the quadratic, the same role label-blocking plays in
    // q_dedup_embedding but LEARNED from the data instead of given.
    // Deterministic mini-Lloyd: K = [[semanticKFor]](n) centroids
    // (corpus-derived, round 18 — 8 at oracle scales) seeded from the
    // K lowest vec_ids, one assign → mean → re-assign refinement, means rounded
    // to 6 dp so both engines derive bit-identical centroids (the
    // rounding is the float-agg convention; every downstream cosine is
    // then a sequential 64-dim dot product, bit-equal across engines).
    // Members with cosine ≥ 0.3 to a lower-id cluster-mate are dropped.
    // Scale shape: assignment is a bounded broadcast (K rows) + map-side
    // max_by agg (no window over N×K); centroid recompute shuffles
    // K×dims cells; the pair join shuffles on cluster id. At 100 TB you
    // scale K with the corpus (cells of ~constant size), which keeps the
    // within-cluster pair space bounded — exactly SemDeDup's argument.
    OpQuery("q_dedup_semantic",
      s"""WITH v0 AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |kv AS ($SemanticKLadderSql),
        |gv AS ($SemanticGLadderSql),
        |vn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM v0),
        |c0 AS (SELECT vec_id AS cid, v AS c FROM v0
        |       WHERE vec_id < (SELECT k FROM kv)),
        |${coarseAssignSql("m1", "vn", "c0")},
        |mv AS (SELECT m1.cid, vn.v FROM m1 JOIN vn ON m1.vec_id = vn.vec_id),
        |cd AS (
        |  SELECT cid, u.i AS i,
        |         ROUND(AVG(list_extract(v, CAST(u.i AS INT))), 6) AS m
        |  FROM mv, UNNEST($DimRangeSql) AS u(i)
        |  GROUP BY cid, u.i),
        |c1 AS (SELECT cid, list(m ORDER BY i) AS c FROM cd GROUP BY cid),
        |${coarseAssignSql("m2", "vn", "c1")},
        |p AS (
        |  SELECT b.vec_id AS drop_id
        |  FROM m2 a JOIN m2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  JOIN vn va ON va.vec_id = a.vec_id
        |  JOIN vn vb ON vb.vec_id = b.vec_id
        |  WHERE ROUND(list_dot_product(va.v, vb.v) / (va.nv * vb.nv), 6) >= 0.3)
        |SELECT DISTINCT drop_id FROM p ORDER BY drop_id""".stripMargin) { (s, d) =>
      // k is corpus-derived (round 18): [[semanticKFor]] on the memoized
      // corpus count, mirrored by the oracle's kv CTE — 8 at the oracle
      // scales (n ≤ 2048, bit-identical to the former pinned k), growing
      // with the corpus so cells hold ~256 members at any scale. The
      // assignment goes through the derived two-level path
      // ([[semanticGFor]]; g=1 ≡ brute at oracle scales) on BOTH
      // engines — brute assignment at corpus-derived k is n²/256.
      val k = semanticKFor(VectorOps.corpusCount(embeddings(s, d)))
      semanticDedup(s, d, k, 0.3, Some(semanticGFor(k)))
    },

    // Incremental SEMANTIC admission — the continuous-ingestion twin of
    // q_dedup_semantic (as q_dedup_incremental is for hash dedup): the
    // corpus (vec_id % 10 <> 7) fits the cells once; each arriving
    // batch (vec_id % 10 = 7) is assigned to its cell and compared only
    // against that cell's corpus members — admit, or dup_of_corpus with
    // the lowest matching corpus id. At 100 TB the corpus-side fit is
    // amortized across batches and the per-batch cost is
    // batch×k assignment dots + per-cell member comparisons.
    OpQuery("q_dedup_semantic_admit",
      s"""WITH v0 AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |kv AS ($SemanticKLadderSql),
        |gv AS ($SemanticGLadderSql),
        |vn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM v0),
        |corpus AS (SELECT * FROM vn WHERE vec_id % 10 <> 7),
        |batch  AS (SELECT * FROM vn WHERE vec_id % 10 = 7),
        |c0 AS (SELECT vec_id AS cid, v AS c FROM (
        |         SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
        |         FROM corpus) sr
        |       WHERE rn <= (SELECT k FROM kv)),
        |${coarseAssignSql("m1", "corpus", "c0")},
        |mv AS (SELECT m1.cid, corpus.v FROM m1 JOIN corpus ON m1.vec_id = corpus.vec_id),
        |cd AS (
        |  SELECT cid, u.i AS i,
        |         ROUND(AVG(list_extract(v, CAST(u.i AS INT))), 6) AS m
        |  FROM mv, UNNEST($DimRangeSql) AS u(i)
        |  GROUP BY cid, u.i),
        |c1 AS (SELECT cid, list(m ORDER BY i) AS c FROM cd GROUP BY cid),
        |${coarseAssignSql("mc", "corpus", "c1")},
        |${coarseAssignSql("mb", "batch", "c1")},
        |dup AS (
        |  SELECT mb.vec_id AS vec_id, MIN(mc.vec_id) AS dup_of
        |  FROM mb JOIN mc ON mb.cid = mc.cid
        |  JOIN vn vb ON vb.vec_id = mb.vec_id
        |  JOIN vn va ON va.vec_id = mc.vec_id
        |  WHERE ROUND(list_dot_product(va.v, vb.v) / (va.nv * vb.nv), 6) >= 0.3
        |  GROUP BY mb.vec_id)
        |SELECT b.vec_id,
        |       CASE WHEN dup.dup_of IS NOT NULL THEN 'dup_of_corpus'
        |            ELSE 'admit' END AS decision,
        |       CAST(dup.dup_of AS BIGINT) AS dup_of
        |FROM batch b LEFT JOIN dup ON b.vec_id = dup.vec_id
        |ORDER BY b.vec_id""".stripMargin) { (s, d) =>
      val vn = normedVectors(s, d)
      val corpus = vn.filter(pmod(col("vec_id"), lit(10)) =!= 7)
      val batch = vn.filter(pmod(col("vec_id"), lit(10)) === 7)
      // k lowest CORPUS ids as seeds, k corpus-derived (round 18; the
      // oracle's ROW_NUMBER ≤ k CTE). orderBy+limit is a distributed
      // top-k (TakeOrdered), k rows total — no global window, and at
      // the oracle scale (k=8) identical to the former `vec_id < 9`
      // (corpus ids 0..8 minus the batch id 7). Assignments route
      // through the derived two-level path like q_dedup_semantic
      // (g=1 ≡ brute at oracle scales, mirrored by the gv CTE).
      val k = semanticKFor(VectorOps.corpusCount(embeddings(s, d)))
      val g = semanticGFor(k)
      def assign(src: DataFrame, cent: DataFrame): DataFrame =
        if (g >= 1 && g < k) assignCoarse(src, cent, g)
        else assignBrute(src, cent)
      val c0 = corpus.orderBy("vec_id").limit(k)
        .select(col("vec_id").as("cid"), col("v").as("c"))
      // Round 20: materialize the k-row refined-centroid table once —
      // FOUR broadcast sites consume it here (super-centroids + grouped
      // centroids, for the corpus AND the batch assignment), each
      // otherwise re-deriving the corpus-assignment chain's tail.
      val c1 = Caches.cached(refineCentroids(assign(corpus, c0)))
      val mc = assign(corpus, c1)
        .select(col("cid"), col("vec_id").as("cvid"), col("v").as("cv"), col("nv").as("cn"))
      val mb = assign(batch, c1)
      val dup = mb.join(mc, Seq("cid"))
        .filter(round(VectorOps.dot(col("v"), col("cv")) / (col("nv") * col("cn")), 6) >= 0.3)
        .groupBy("vec_id").agg(min(col("cvid")).as("dup_of"))
      batch.select("vec_id").join(dup, Seq("vec_id"), "left")
        .select(col("vec_id"),
          when(col("dup_of").isNotNull, "dup_of_corpus").otherwise("admit").as("decision"),
          col("dup_of"))
        .orderBy("vec_id")
    }
  )

  /** Corpus-derived cell count for the NAMED semantic-dedup queries
    * (round 18 — the probe ladder already scaled k; the named queries
    * pinned k=8, the r17 verdict's second `weak` flag): the smallest
    * power of two with n ≤ 256·k, floored at 8 and capped at 4096 —
    * cells hold ~256 members however large the corpus, which keeps the
    * within-cell pair space linear in n (SemDeDup's own scaling
    * argument, Abbas et al. 2023 §3). Mirrored verbatim by
    * [[SemanticKLadderSql]] (the lshBitsFor/pqKFor convention). */
  private[graft] def semanticKFor(n: Long): Int = {
    val cells = math.max(8L, (n + 255L) / 256L)
    val p = java.lang.Long.highestOneBit(cells)
    math.min(4096L, if (p == cells) p else p << 1).toInt
  }

  /** The oracle-side spelling of [[semanticKFor]], as a 1-row CTE body
    * over the embeddings table. */
  private[graft] def SemanticKLadderSql: String =
    "SELECT CASE WHEN COUNT(*) <= 2048 THEN 8 " +
      (4 to 12).map(b => s"WHEN COUNT(*) <= ${256L << b} THEN ${1 << b}").mkString(" ") +
      " ELSE 4096 END AS k FROM embeddings"

  /** Two-level assignment group count for k cells (round 18): 1 — i.e.
    * EXACT, the coarse path degenerates to brute force (spec-pinned) —
    * while k ≤ 64, else 2^⌈b/2⌉ ≈ √k for k = 2^b. Nearest-centroid
    * assignment then costs n·(g + k/g) ≈ 2n√k dot products instead of
    * n·k: with k corpus-derived (k ≈ n/256), brute assignment is
    * n²/256 — quadratic, the r18 sf10 bench measured the named query
    * at 490 s on exactly this — while two-level is n^1.5/16. Mirrored
    * verbatim by [[SemanticGLadderSql]]; both engines run the SAME
    * two-level formulation at every scale, so oracle parity holds by
    * construction (g=1 at all driver-checked scales). */
  private[graft] def semanticGFor(k: Int): Int =
    if (k <= 64) 1
    else 1 << ((31 - Integer.numberOfLeadingZeros(k) + 1) / 2)

  /** The oracle-side spelling of [[semanticGFor]] over the kv CTE. */
  private[graft] def SemanticGLadderSql: String = {
    val cases = Seq(64, 256, 1024)
      .map(th => s"WHEN k <= $th THEN ${semanticGFor(th)}").mkString(" ")
    s"SELECT CASE $cases ELSE ${semanticGFor(4096)} END AS g FROM kv"
  }

  /** The oracle-side spelling of one two-level (coarse/fine) nearest-
    * centroid assignment — the SQL twin of [[assignCoarse]] (and, at
    * g=1, of [[assignBrute]]): super-centroids are the 6-dp rounded
    * per-dimension means of each cid%g centroid group (the shared
    * [[refineCentroids]] convention), stage 1 picks the nearest
    * super-group, stage 2 ranks only that group's centroids. Emits a
    * CTE chain whose FINAL name is `$p` (vec_id → cid); `src` must
    * expose (vec_id, v, nv), `cent` (cid, c); requires the `gv` CTE. */
  private def coarseAssignSql(p: String, src: String, cent: String): String =
    s"""${p}sd AS (
       |  SELECT cid % (SELECT g FROM gv) AS gid, u.i AS i,
       |         ROUND(AVG(list_extract(c, CAST(u.i AS INT))), 6) AS m
       |  FROM $cent, UNNEST($DimRangeSql) AS u(i)
       |  GROUP BY 1, 2),
       |${p}sc AS (SELECT gid, list(m ORDER BY i) AS sc FROM ${p}sd GROUP BY gid),
       |${p}s1a AS (
       |  SELECT $src.vec_id, gid, ROW_NUMBER() OVER (
       |           PARTITION BY $src.vec_id
       |           ORDER BY list_dot_product($src.v, sc)
       |                    / ($src.nv * sqrt(list_dot_product(sc, sc))) DESC,
       |                    gid ASC) AS rn
       |  FROM $src CROSS JOIN ${p}sc),
       |${p}s1 AS (SELECT vec_id, gid FROM ${p}s1a WHERE rn = 1),
       |${p}aa AS (
       |  SELECT s.vec_id, $cent.cid, ROW_NUMBER() OVER (
       |           PARTITION BY s.vec_id
       |           ORDER BY list_dot_product(v0.v, $cent.c)
       |                    / (v0.nv * sqrt(list_dot_product($cent.c, $cent.c))) DESC,
       |                    $cent.cid ASC) AS rn
       |  FROM ${p}s1 s JOIN $src v0 ON s.vec_id = v0.vec_id
       |  JOIN $cent ON $cent.cid % (SELECT g FROM gv) = s.gid),
       |$p AS (SELECT vec_id, cid FROM ${p}aa WHERE rn = 1)""".stripMargin

  /** Corpus-derived per-label bucket width for [[queries q_dedup_embedding]]
    * (round 18): the smallest b with n_label ≤ 256·2^b, clamped to 12 —
    * i.e. 2^b sign-prefix buckets hold ~256 vectors each however deep
    * the label block is. INTEGER thresholds only, mirrored verbatim by
    * [[EmbedBucketLadderSql]] (the lshBitsFor convention — the engines
    * cannot disagree at a power-of-two boundary). */
  private[graft] def embedBucketBitsFor(n: Column): Column =
    (1 to 11).foldLeft(when(n <= 256L, 0)) { (acc, b) =>
      acc.when(n <= (256L << b), b)
    }.otherwise(12)

  /** The oracle-side spelling of [[embedBucketBitsFor]], over a grouped
    * COUNT(*). */
  private[graft] def EmbedBucketLadderSql: String =
    "CASE WHEN COUNT(*) <= 256 THEN 0 " +
      (1 to 11).map(b => s"WHEN COUNT(*) <= ${256L << b} THEN $b").mkString(" ") +
      " ELSE 12 END"

  /** Sign-prefix bucket key: bit i set iff dimension i+1 of the (double)
    * vector is > 0 and i < bb. Raw float signs are carried bit-exactly
    * through the DOUBLE cast on both engines, so the keys agree. */
  private[graft] def embedBucketKey(v: Column, bb: Column): Column =
    (0 until 12).map(i =>
      when(lit(i) < bb && element_at(v, i + 1) > lit(0d), lit(1 << i))
        .otherwise(lit(0))).reduce(_ + _)

  /** [[embedBucketKey]] as oracle SQL over `en.v` / `lc.bb`. */
  private[graft] def EmbedBucketKeySql: String =
    (0 until 12).map(i =>
      s"(CASE WHEN $i < lc.bb AND list_extract(en.v, ${i + 1}) > 0 " +
        s"THEN ${1 << i} ELSE 0 END)").mkString(" + ")

  /** Embeddings as (vec_id, v: array<double>, nv: norm). */
  private def normedVectors(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nv", sqrt(VectorOps.dot(col("v"), col("v"))))

  /** The k-row centroid table rolled into ONE row holding an
    * array<struct<gid,id,nc,c>> — the broadcast literal the
    * [[graft.functions.NearestCid]] kernel scans per input row. */
  private def centTable(cent: DataFrame, gid: Column, id: Column): DataFrame =
    cent.agg(collect_list(struct(
      gid.cast("long").as("gid"), id.cast("long").as("id"),
      sqrt(VectorOps.dot(col("c"), col("c"))).as("nc"),
      col("c"))).as("cents"))

  /** Nearest centroid by cosine, ties to the lowest cid. Round 21:
    * the crossJoin-explode + max_by(cid, struct(cos, -cid)) groupBy
    * became the map-only [[graft.functions.NearestCid]] kernel over a
    * one-row broadcast of the centroid table — the N×k exploded rows
    * and the N-row exchange (which carried the VECTORS as max_by's
    * first() payload) are gone; an assignment is now a projection
    * (guide §2: the best shuffle is no shuffle). Argmax arithmetic and
    * tie-breaking are bit-identical to the composed form (spec-pinned):
    * dimension-order double dot, SQLOrderingUtil double compare — the
    * comparator struct ordering applies inside max_by — ties to the
    * smaller cid like the struct's -cid key; argmax over a total order
    * is also invariant to collect_list's element order. */
  private def assignBrute(vn: DataFrame, cent: DataFrame): DataFrame =
    vn.crossJoin(broadcast(centTable(cent, lit(0L), col("cid"))))
      .select(col("vec_id"),
        graft.functions.VectorExprs.nearest_cid(
          col("v"), col("nv"), lit(-1L), col("cents")).as("cid"),
        col("v"), col("nv"))

  /** Two-level: centroids grouped by cid % g; super-centroid = rounded
    * per-dimension mean of its group's centroids (deterministic — the
    * same 6-dp convention as the Lloyd means). Stage 1 picks the
    * nearest super-centroid (N×g dots, g-row broadcast); stage 2
    * compares only that group's centroids (N×(k/g) dots, k-row
    * broadcast joined on the chosen gid). */
  private def assignCoarse(vn: DataFrame, cent: DataFrame, g: Int): DataFrame = {
    val grouped = cent.withColumn("gid", pmod(col("cid"), lit(g)))
    // super-centroids ARE refineCentroids applied to the grouped
    // centroids (one shared 6-dp deterministic-mean implementation — a
    // convention drift here would break the spec-pinned g=1 ≡ brute)
    val supers = refineCentroids(
        grouped.select(col("gid").as("cid"), col("c").as("v")))
    // Round 21: both stages are NearestCid kernel projections (see
    // assignBrute) — stage 1 picks the super-group over the g-row
    // table, stage 2 ranks only the rows of the k-row table whose gid
    // field matches (the kernel's gid≥0 filter replaces the former
    // broadcast hash join on gid). Zero exchanges where the composed
    // form paid two N-row groupBy shuffles carrying the vectors.
    val stage1 = vn
      .crossJoin(broadcast(centTable(supers, lit(0L), col("cid"))))
      .select(col("vec_id"),
        graft.functions.VectorExprs.nearest_cid(
          col("v"), col("nv"), lit(-1L), col("cents")).as("gid"),
        col("v"), col("nv"))
    stage1
      .crossJoin(broadcast(centTable(grouped, col("gid"), col("cid"))))
      .select(col("vec_id"),
        graft.functions.VectorExprs.nearest_cid(
          col("v"), col("nv"), col("gid"), col("cents")).as("cid"),
        col("v"), col("nv"))
  }

  /** One Lloyd refinement: per-(cell, dimension) mean of the members,
    * rounded to 6 dp (engine-identical), reassembled into arrays.
    * Round 21: one codegen'd groupBy(cid) with 64 avg columns — the
    * former posexplode → groupBy(cid, p) → collect_list/array_sort
    * chain materialized 64× the member rows through a Generate and
    * paid TWO exchanges per refinement site (and each semantic query
    * has 3-5 sites: c1 over the corpus + the super-centroid tables of
    * every two-level assign). The [[EmbeddingDims]] element_at columns
    * read exactly the dims the oracle's [[DimRangeSql]] CTE emits;
    * per-dim avg-of-double semantics (partial per partition, merged)
    * and the 6-dp round are unchanged. */
  private def refineCentroids(members: DataFrame): DataFrame =
    members.groupBy("cid")
      .agg(array((1 to EmbeddingDims).map(i =>
        round(avg(element_at(col("v"), i)), 6)): _*).as("c"))

  /** SemDeDup-style semantic dedup, parameterized: `k` cluster seeds
    * (the lowest `k` vec_ids), cosine threshold `tau`. The number of
    * cells is the operator's scale knob — hold cluster SIZE roughly
    * constant by growing `k` with the corpus. Assignment cost is the
    * IVF trade: brute force is N×k dot products; `coarseGroups = Some(g)`
    * switches to a two-level coarse/fine assignment (nearest of g
    * super-centroids, then nearest centroid within that group only) —
    * N×(g + k/g) dots, minimized at g≈√k. The two-level path is an
    * APPROXIMATION of exact nearest-centroid (a vector near a group
    * boundary can land in the neighboring cell), which is fine for a
    * dedup blocker; the degenerate g=1 configuration is exactly brute
    * force (spec-pinned). q_dedup_semantic is the tau=0.3 instance with
    * k derived from the corpus ([[semanticKFor]]) through the derived
    * two-level path ([[semanticGFor]]); the `new` family of
    * [[graft.tools.Ladder]] ladders it. */
  private[graft] def semanticDedup(s: SparkSession, d: String, k: Int,
      tau: Double, coarseGroups: Option[Int] = None): DataFrame = {
    val vn = normedVectors(s, d)
    val c0 = vn.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("v").as("c"))
    def assign(cent: DataFrame) = coarseGroups match {
      // g=1 degenerates to brute force THROUGH the coarse path (one
      // super-group → stage 2 compares every centroid) — kept routable
      // so the equivalence is spec-checkable, not just by-construction.
      case Some(g) if g >= 1 && g < k => assignCoarse(vn, cent, g)
      case _                          => assignBrute(vn, cent)
    }
    val m1 = assign(c0)
    // Round 20 probe: Caches.cached(c1) here measured WORSE at sf10
    // (11.9 → 14.2 s same-box A/B while the control got faster) — with
    // only two c1 consumer sites, AQE's runtime stage reuse already
    // dedups the chain, and the cache materialization serializes the
    // critical path. Round 21 RE-probe after the NearestCid rewrite
    // (the kernel made assignment map-only, so c1's chain now hangs
    // under every centroid-table broadcast): cached measured BETTER at
    // both scales — sf0.1 med 2.16 → 1.94 s, sf10 med 7.73 → 6.34 s
    // interleaved, jobs 52 → 33 (ProbeJobs) — so the k-row (≤4096)
    // table is now materialized here like in q_dedup_semantic_admit.
    val c1 = Caches.cached(refineCentroids(m1))
    val m2 = assign(c1)
    val a = m2.select(col("cid"), col("vec_id").as("ida"), col("v").as("va"), col("nv").as("na"))
    val b = m2.select(col("cid"), col("vec_id").as("idb"), col("v").as("vb"), col("nv").as("nb"))
    a.join(b, Seq("cid"))
      .filter(col("ida") < col("idb") &&
        round(VectorOps.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6) >= tau)
      .select(col("idb").as("drop_id")).distinct()
      .orderBy("drop_id")
  }
}
