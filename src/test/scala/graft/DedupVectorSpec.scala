package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops._

/** Semantics of the hash-based (no-oracle) near-dup and ANN operators,
  * validated against their exact counterparts. */
class DedupVectorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def q(name: String) = SparkEntry.queries(name)(spark, TestSpark.Sf)

  test("clusterLabels: a corpus with no dup pairs yields singletons (no NPE)") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L).toDF("doc_id")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val got = Dedup.clusterLabels(docs, noPairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got == Seq(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("clusterLabels: chain components collapse to the smallest id") {
    import spark.implicits._
    val docs = (1L to 7L).toDF("doc_id")
    // chain 2-3-4-5 plus pair 6-7; 1 is a singleton
    val pairs = Seq((2L, 3L), (3L, 4L), (4L, 5L), (6L, 7L)).toDF("id_a", "id_b")
    val got = Dedup.clusterLabels(docs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 2L, 5L -> 2L,
      6L -> 6L, 7L -> 6L))
  }

  test("minhash near-dups are a subset of exact jaccard pairs (verified candidates)") {
    val exact = q("q_dedup_ngram_jaccard")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = q("q_dedup_minhash")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.subsetOf(exact), s"minhash produced non-near-dup pairs: ${mh -- exact}")
    // LSH with 4 bands × 4 rows at J≥0.5 should catch most true pairs
    if (exact.nonEmpty) {
      val recall = mh.intersect(exact).size.toDouble / exact.size
      assert(recall >= 0.5, s"minhash recall $recall too low (${mh.size}/${exact.size})")
    }
  }

  test("scaled df-cap preserves near-dup recall as the corpus grows (2-scale check)") {
    import spark.implicits._
    // policy pin: 1% of the corpus, floored at DfCap, exact integer math
    assert(Dedup.effectiveDfCap(500) == 50)
    assert(Dedup.effectiveDfCap(5001) == 51)
    assert(Dedup.effectiveDfCap(6000) == 60)
    assert(Dedup.effectiveDfCap(1000000) == 10000)
    // A 9-token boilerplate phrase opens two planted near-dups (Jaccard
    // 7/9 — every shared shingle lies inside the phrase) and nBoiler
    // unrelated docs, so the phrase shingles' df = nBoiler + 2.
    val phrase = (1 to 9).map(i => s"p$i").mkString(" ")
    def corpus(nBoiler: Int, nFiller: Int) = {
      val planted = Seq((0L, s"$phrase alpha"), (1L, s"$phrase beta"))
      val boiler = (0 until nBoiler).map(i =>
        (2L + i, s"$phrase " + (1 to 11).map(j => s"b${i}t$j").mkString(" ")))
      val filler = (0 until nFiller).map(i =>
        (1000L + i, (1 to 4).map(j => s"f${i}t$j").mkString(" ")))
      (planted ++ boiler ++ filler).toDF("doc_id", "text")
    }
    def plantedDetected(docs: org.apache.spark.sql.DataFrame, cap: Int): Boolean =
      Dedup.jaccardPairs(Dedup.shingleTable(docs), cap)
        .filter(col("jac") >= Dedup.JaccardThreshold)
        .collect().exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L)
    // small corpus (300 docs): phrase df 42 sits under the 50 floor
    val small = corpus(40, 258)
    assert(plantedDetected(small, Dedup.effectiveDfCap(small.count())))
    // 20× corpus (6000 docs): phrase df 55 CROSSES a fixed cap of 50 —
    // the pair would lose every shared posting and become undetectable —
    // but stays under the scaled cap max(50, 6000/100) = 60
    val big = corpus(53, 5945)
    assert(plantedDetected(big, Dedup.effectiveDfCap(big.count())))
    // counterfactual: the pre-round-8 fixed policy does lose it
    assert(!plantedDetected(big, Dedup.DfCap))
  }

  test("shingle cache is size-gated on the source table's bytes") {
    import spark.implicits._
    // flag wiring: an ungated build registers no cache entry, a gated
    // build does (distinct corpora so CacheManager can't alias the plans)
    // Spark 4's CacheManager API takes the classic Dataset subtype
    def inCache(df: org.apache.spark.sql.DataFrame): Boolean =
      spark.sharedState.cacheManager.lookupCachedData(
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined
    val unDocs = Seq((900L, "u1 u2 u3 u4")).toDF("doc_id", "text")
    val un = Dedup.shingleTable(unDocs, cacheable = false)
    assert(!inCache(un))
    val gatedDocs = Seq((901L, "g1 g2 g3 g4")).toDF("doc_id", "text")
    val gated = Dedup.shingleTable(gatedDocs)
    try assert(inCache(gated))
    finally gated.unpersist()
    // path overload: the gate reads -Dgraft.cache.max.bytes (same knob
    // as Tables.t); a 1-byte ceiling must disengage the cache for a
    // real on-disk corpus, the default (4 GiB) must engage it. Earlier
    // tests in this shared session register the sf-dir shingle cache —
    // drop that entry first so the isEmpty assertion sees this test's
    // behavior, not theirs (build-then-unpersist nets to removal).
    Dedup.shingleTable(spark, TestSpark.Sf).unpersist()
    val prev = sys.props.get("graft.cache.max.bytes")
    try {
      sys.props("graft.cache.max.bytes") = "1"
      val big = Dedup.shingleTable(spark, TestSpark.Sf)
      assert(!inCache(big),
        "source over the gate must not pin the shingle stream")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.cache.max.bytes") = v
        case None => sys.props.remove("graft.cache.max.bytes")
      }
    }
    val onGate = Dedup.shingleTable(spark, TestSpark.Sf)
    try assert(inCache(onGate))
    finally onGate.unpersist()
  }

  test("simhash near-dup pairs have symmetric small hamming distance") {
    val rows = q("q_dedup_simhash").collect()
    assert(rows.forall(_.getAs[Number](2).longValue <= 3))
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (a, b) => a < b })
    assert(pairs.distinct.length == pairs.length)
  }

  test("LSH ANN cosines agree with brute force for shared candidates") {
    val brute = q("q_sim_cosine_topk").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ann = q("q_sim_ann_lsh").collect().map(r => r.getLong(0) -> r.getDouble(1))
    ann.foreach { case (id, cos) =>
      brute.get(id).foreach(b => assert(math.abs(b - cos) < 1e-9))
    }
  }

  test("brute-force top-k is ordered and within [-1, 1]") {
    val sims = q("q_sim_cosine_topk").collect().map(_.getDouble(1))
    assert(sims.length == 10)
    assert(sims.sameElements(sims.sorted.reverse))
    assert(sims.forall(s => s >= -1.0 && s <= 1.0))
  }

  test("IVF ANN: scores agree with brute force; recall is nontrivial") {
    val brute = q("q_sim_cosine_topk").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf = q("q_sim_ivf").collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(ivf.nonEmpty)
    ivf.foreach { case (id, cos) =>
      brute.get(id).foreach(b => assert(math.abs(b - cos) < 1e-9,
        s"IVF score for $id diverges: $cos vs $b"))
    }
    val recall = ivf.count { case (id, _) => brute.contains(id) }.toDouble / brute.size
    assert(recall >= 0.2, s"IVF recall@10 = $recall (4/16 cells probed)")
  }

  test("KMeans IVF probe (learned quantizer): scores agree; recall nontrivial") {
    val brute = q("q_sim_cosine_topk").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val e = ops.Tables.embeddings(spark, TestSpark.Sf)
      .select(col("vec_id"), col("embedding").as("v"))
    val ivf = ops.VectorOps.ivfProbe(e, nList = 16, nProbe = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(ivf.nonEmpty)
    ivf.foreach { case (id, cos) =>
      brute.get(id).foreach(b => assert(math.abs(b - cos) < 1e-9,
        s"KMeans IVF score for $id diverges: $cos vs $b"))
    }
    val recall = ivf.count { case (id, _) => brute.contains(id) }.toDouble / brute.size
    assert(recall >= 0.2, s"KMeans IVF recall@10 = $recall (4/16 cells probed)")
  }

  test("PQ ADC: rerank scores are exact; shortlist recall beats chance") {
    val brute = q("q_sim_cosine_topk").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pq = q("q_sim_pq").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(pq.size == 10)
    // approx distances are micro-exact non-negative L2 sums
    pq.foreach { case (id, ad, _) => assert(ad >= 0.0, s"negative ADC dist for $id") }
    // the re-rank is EXACT cosine: any id shared with brute force must
    // carry the identical score
    pq.foreach { case (id, _, cos) =>
      brute.get(id).foreach(b => assert(math.abs(b - cos) < 1e-9,
        s"PQ rerank score for $id diverges: $cos vs $b"))
    }
    // a random 50-of-500 shortlist would retain 10% of the true top-10
    // in expectation; the ADC shortlist must do strictly better (the
    // pipeline is deterministic — measured 0.2 on this corpus)
    val recall = pq.count { case (id, _, _) => brute.contains(id) }.toDouble / brute.size
    assert(recall >= 0.2, s"PQ recall@10 = $recall (50-vector ADC shortlist)")
  }

  test("learned-codebook PQ (pqProbe): scores exact; recall at least the sampled codebook's") {
    val brute = q("q_sim_cosine_topk").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val e = ops.Tables.embeddings(spark, TestSpark.Sf)
    val pq = ops.VectorOps.pqProbe(e)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(pq.size == 10)
    pq.foreach { case (id, cos) =>
      brute.get(id).foreach(b => assert(math.abs(b - cos) < 1e-9,
        s"pqProbe rerank score for $id diverges: $cos vs $b"))
    }
    val recall = pq.count { case (id, _) => brute.contains(id) }.toDouble / brute.size
    assert(recall >= 0.2, s"pqProbe recall@10 = $recall (Lloyd codebooks, 50-shortlist)")
  }

  test("salted join is row-identical to the plain equi-join") {
    val li = ops.Tables.lineitem(spark, TestSpark.Sf).select("l_orderkey", "l_quantity", "l_linenumber")
    val o = ops.Tables.orders(spark, TestSpark.Sf).select("o_orderkey", "o_orderstatus")
    val plain = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .collect().map(_.toString).sorted.toSeq
    val salted = ops.Skew.saltedJoin(li, o, "l_orderkey", "o_orderkey", "l_linenumber", 8)
      .select(li.columns.map(col) ++ o.columns.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
    assert(salted == plain)
  }

  test("exact dedup keeps one representative per distinct text") {
    val docs = ops.Tables.documents(spark, TestSpark.Sf)
    val distinctTexts = docs.select("text").distinct().count()
    assert(q("q_dedup_exact").count() == distinctTexts)
  }

  test("incremental dedup: every batch doc decided; admits are canonically unique") {
    val rows = q("q_dedup_incremental").collect()
    val docs = ops.Tables.documents(spark, TestSpark.Sf)
    val nBatch = docs.filter(col("doc_id") % 2 === 1).count()
    assert(rows.length == nBatch) // one decision per batch doc
    val admits = rows.filter(_.getString(2) == "admit")
    // admitted hashes are unique within the batch AND absent from corpus
    val admitHashes = admits.map(_.getString(1))
    assert(admitHashes.distinct.length == admitHashes.length)
    val corpusHashes = docs.filter(col("doc_id") % 2 === 0)
      .select(ops.Dedup.canonHashCol(col("text")))
      .collect().map(_.getString(0)).toSet
    assert(admitHashes.forall(h => !corpusHashes.contains(h)))
    assert(rows.map(_.getString(2)).toSet.subsetOf(
      Set("admit", "dup_of_corpus", "dup_in_batch")))
  }

  test("embed-bucket ladder boundaries and semanticKFor (round 18)") {
    // integer power-of-two boundaries, exactly the thresholds the oracle
    // CASE ladders are generated from (a drift is structurally
    // impossible — both sides stringify 256L << b — but the CLAMPS and
    // floor/ceil conventions are worth pinning)
    def bitsOf(n: Long): Int =
      spark.range(1).select(Dedup.embedBucketBitsFor(lit(n))).head().getInt(0)
    assert(bitsOf(1) == 0 && bitsOf(256) == 0)
    assert(bitsOf(257) == 1 && bitsOf(512) == 1)
    assert(bitsOf(513) == 2 && bitsOf(1024) == 2)
    assert(bitsOf(256L << 11) == 11 && bitsOf((256L << 11) + 1) == 12)
    assert(bitsOf(Long.MaxValue / 4) == 12) // clamp
    assert(Dedup.semanticKFor(1) == 8 && Dedup.semanticKFor(2048) == 8)
    assert(Dedup.semanticKFor(2049) == 16 && Dedup.semanticKFor(4096) == 16)
    assert(Dedup.semanticKFor(4097) == 32)
    assert(Dedup.semanticKFor(256L * 4096) == 4096)
    assert(Dedup.semanticKFor(Long.MaxValue / 4) == 4096) // cap
  }

  test("q_dedup_embedding banding: b>0 path equals the banded reference (round 18)") {
    // the sf0.01/sf0.1 oracle pairs only ever exercise b=0 (every label
    // block fits the 256 cap); this spec forces ONE 600-vector label
    // (b=2, 4 sign-prefix buckets) and checks the banded semantics
    // end-to-end: all same-bucket qualifying pairs reported, qualifying
    // pairs split across buckets dropped (the documented sign-LSH trade)
    val dim = 64
    val rnd = new scala.util.Random(42)
    def vec(): Array[Float] =
      Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)
    val base = Array.tabulate(600)(_ => vec())
    // vec 101 := near-dup of 100 (same sign prefix -> same bucket)
    base(101) = base(100).map(x => x + 0.001f)
    // vec 201 := near-dup of 200 with dim0 sign flipped while |dim0| is
    // tiny -> cosine ~1 but a DIFFERENT bucket (bit 0)
    base(200)(0) = 0.01f
    base(201) = base(200).clone(); base(201)(0) = -0.01f
    val dir = java.nio.file.Files.createTempDirectory("graft_band").toString
    val rows = base.zipWithIndex.map { case (v, i) =>
      (i.toLong, v.toSeq, 1)
    }.toSeq
    spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("q_dedup_embedding")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // driver-side banded reference: b=2 for n=600, bucket = leading-2
    // sign bits, brute force within buckets
    def bucket(v: Array[Float]): Int =
      (if (v(0) > 0f) 1 else 0) | (if (v(1) > 0f) 2 else 0)
    def cos6(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val d = ad.zip(bd).map { case (x, y) => x * y }.sum
      val c = d / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
      BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = (for {
      i <- base.indices; j <- (i + 1) until base.length
      if bucket(base(i)) == bucket(base(j)) && cos6(base(i), base(j)) >= 0.3
    } yield (i.toLong, j.toLong)).toSet
    assert(got == expected)
    assert(got.contains((100L, 101L))) // same-bucket near-dup found
    assert(cos6(base(200), base(201)) >= 0.3 && !got.contains((200L, 201L))) // cross-bucket dropped
  }

  test("embedding quantization: codes in [0,255], error under one bucket width") {
    val rows = q("q_embed_quantize").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(2) >= 0L && r.getLong(2) <= 255L))
    // per-dimension scale = (mx-mn)/255; floor quantization error < scale
    // (err is an unrounded double, so only fp-noise tolerance is needed)
    val e = ops.Tables.embeddings(spark, TestSpark.Sf)
    val scales = e.select(org.apache.spark.sql.functions.posexplode(col("embedding")))
      .groupBy("pos")
      .agg(((org.apache.spark.sql.functions.max(col("col").cast("double")) -
        org.apache.spark.sql.functions.min(col("col").cast("double"))) / 255.0).as("scale"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(rows.forall(r => r.getDouble(3) <= scales(r.getInt(1)) + 1e-12))
  }
}
