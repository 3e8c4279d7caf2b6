package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** How a replicated table's replica r > 0 differs from its base rows.
  * Every policy shifts the table's ids, so replica id ranges are
  * disjoint; the payload policies also edit content so replicas are not
  * exact copies (verbatim copies would make every row a K-way exact
  * duplicate — a different, quadratic workload a real larger corpus
  * would not have). */
sealed trait Policy

object Policy {
  /** Each key column in one of `domains` shifts by r × that domain's
    * offset ([[Replicas.Domains]]); every other column is verbatim.
    * Joins on a shifted domain resolve within one replica, so per-key
    * group sizes stay constant while rows grow K×. */
  final case class Keys(domains: String*) extends Policy

  /** Documents: `doc_id` shifts, and every token past the first
    * `shared` fraction (of the text split on single spaces) gains the
    * suffix `~r`. */
  final case class Docs(shared: Double) extends Policy

  /** Replicas share no token: dup pairs, contamination hits, prefix
    * blocks and vocabularies stay within one replica, so per-replica dup
    * structure is preserved and true work grows linearly in K. */
  val Disjoint: Policy = Docs(0.0)

  /** The first ceil(60%) of each document's tokens stay verbatim, so the
    * K replicas of a document share ~60% of their shingles: cross-replica
    * Jaccard ≈ 0.6/1.4 ≈ 0.43, under the 0.5 threshold, so reported dup
    * pairs stay per-replica while everything upstream of the threshold
    * (shared-shingle posting lists, pair expansion, LSH candidates)
    * grows ~K² — the dup-heavy corpus of a real training crawl. */
  val DupHeavy: Policy = Docs(0.6)

  /** Embeddings: `vec_id` shifts and every component gets a
    * deterministic ±0.005 jitter (xxhash64 of the shifted vec_id, dim
    * and replica; reruns are bit-identical). Replicas are not exact copies
    * (which would make every cosine a tie) but the geometry is intact. */
  case object Jitter extends Policy

  /** Embeddings: `vec_id` shifts and replica r's vectors rotate by
    * (7r mod 64) dims. Rotations of near-orthogonal random vectors stay
    * near-orthogonal across replicas, so clusters do not collapse onto
    * duplicated seed centroids. */
  case object Rotate extends Policy

  /** Embeddings with verbatim vectors: `vec_id` and `label` shift, so a
    * bigger corpus has more label blocks of the base's size (duplicate
    * vectors only create score ties). */
  val Labeled: Policy = Keys("vec_id", "label")
}

object Replicas {
  /** Key domains: the columns that join one another, and so share one
    * offset — max over every column of the domain, plus 1 (max+1, not a
    * row count, keeps replica ranges disjoint for sparse ids). */
  val Domains: Map[String, Seq[(String, String)]] = Map(
    "custkey" -> Seq("customer" -> "c_custkey", "orders" -> "o_custkey", "events" -> "user_id"),
    "orderkey" -> Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey"),
    "partkey" -> Seq("part" -> "p_partkey", "lineitem" -> "l_partkey"),
    "suppkey" -> Seq("supplier" -> "s_suppkey", "lineitem" -> "l_suppkey"),
    "event_id" -> Seq("events" -> "event_id"),
    "doc_id" -> Seq("documents" -> "doc_id"),
    "vec_id" -> Seq("embeddings" -> "vec_id"),
    "label" -> Seq("embeddings" -> "label"))
}

/** The replicas of the tables under `sfDir`. Each base table is read
  * once and each domain offset computed once. */
final class Replicas(spark: SparkSession, sfDir: String) {
  private val bases = mutable.Map.empty[String, DataFrame]
  private val offsets = mutable.Map.empty[String, Long]

  /** The base rows of table `t`; events through `Tables.events`, so both
    * ts parquet generations read as µs timestamps. */
  def base(t: String): DataFrame = bases.getOrElseUpdate(t,
    if (t == "events") graft.ops.Tables.events(spark, sfDir)
    else spark.read.parquet(s"$sfDir/$t.parquet"))

  /** The offset of one key domain, over the domain's tables present. */
  def offset(domain: String): Long = offsets.getOrElseUpdate(domain,
    Replicas.Domains(domain)
      .filter { case (t, _) => new java.io.File(s"$sfDir/$t.parquet").exists() }
      .map { case (t, c) => base(t).agg(max(col(c)).cast("long")).head().getLong(0) }
      .max + 1)

  /** Replica `r` of table `t` under policy `p`; replica 0 is the base
    * rows. */
  def replica(t: String, p: Policy)(r: Int): DataFrame = {
    val b = base(t)
    def shift(df: DataFrame, c: String, domain: String): DataFrame =
      df.withColumn(c, (col(c) + lit(r * offset(domain))).cast(b.schema(c).dataType))
    if (r == 0) b
    else p match {
      case Policy.Keys(domains @ _*) =>
        domains.foldLeft(b) { (df, d) =>
          Replicas.Domains(d).collect { case (`t`, c) => c }.foldLeft(df)(shift(_, _, d))
        }
      case Policy.Docs(shared) =>
        val toks = split(col("text"), " ")
        val keep = ceil(size(toks) * lit(shared)).cast("int")
        shift(b.withColumn("text", concat_ws(" ", transform(toks, (tok, i) =>
          when(i < keep, tok).otherwise(concat(tok, lit(s"~$r")))))), "doc_id", "doc_id")
      case Policy.Jitter =>
        shift(b, "vec_id", "vec_id").withColumn("embedding", transform(col("embedding"), (x, i) =>
          (x.cast("double") +
            (pmod(xxhash64(col("vec_id"), i, lit(r)), lit(1000)).cast("double")
              / lit(100000.0) - lit(0.005))).cast("float")))
      case Policy.Rotate =>
        val s = (r * 7) % 64
        shift(b.withColumn("embedding",
          if (s == 0) col("embedding")
          else concat(slice(col("embedding"), s + 1, 64 - s), slice(col("embedding"), 1, s))),
          "vec_id", "vec_id")
    }
  }

  /** Writes K replicas of each `replicated` table, and each `copied`
    * table once, verbatim, as parquet under `dir`. */
  def write(replicated: Seq[(String, Policy)], copied: Seq[String], k: Int,
      dir: String): Unit = {
    replicated.foreach { case (t, p) =>
      (0 until k).map(replica(t, p)).reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      System.err.println(s"[replicas] $t x$k -> $dir")
    }
    copied.foreach(t => base(t).write.mode("overwrite").parquet(s"$dir/$t.parquet"))
  }
}
