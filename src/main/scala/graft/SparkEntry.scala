package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The operator inventory (SURVEY.md §2) is organized into modules, each
  * contributing named queries with DuckDB-oracle SQL twins:
  *  - [[Relational]]   scan/filter/project, aggregation, sort/top-k,
  *                     set ops, subqueries/CTE
  *  - [[Joins]]        inner/left/semi/anti/cross/theta/range/multiway/
  *                     derived/as-of
  *  - [[Windows]]      ranking, lag/lead, frames, ntile, top-N per group
  *  - [[Scalars]]      date/string/math/cast/JSON/array/explode functions
  *  - [[Dedup]]        exact, canonical, n-gram Jaccard, MinHash LSH,
  *                     SimHash, embedding near-dup
  *  - [[TextOps]]      token stats, quality score, lang-ID, fingerprints
  *  - [[VectorOps]]    cosine top-k, LSH ANN, centroid similarity
  *  - [[EventWindows]] tumbling/sliding/session windows, time dedup
  *  - [[Multimodal]]   binary payload + metadata plumbing (stubbed decode)
  *  - [[Stats]]        distribution-shape aggregates: entropy, mode,
  *                     histogram, skewness/kurtosis
  */
object SparkEntry {

  val all: Seq[OpQuery] =
    Relational.queries ++ Joins.queries ++ Windows.queries ++ Scalars.queries ++
      Dedup.queries ++ TextOps.queries ++ VectorOps.queries ++
      EventWindows.queries ++ Multimodal.queries ++ Analytics.queries ++
      Corpus.queries ++ Stats.queries ++ TpchShapes.queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q5 shape: star joins + broadcast dims + grouped revenue. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_multiway")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  /** The queries named in `only`, or all of them when it is None. A
    * misspelled name fails loudly: an empty selection would let Verify's
    * oracle check pass vacuously and Bench time nothing. */
  def select(only: Option[Set[String]]): Map[String, (SparkSession, String) => DataFrame] = {
    only.foreach { names =>
      val unknown = names -- queries.keySet
      require(unknown.isEmpty,
        s"unknown query name(s) in filter: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    queries.filter { case (name, _) => only.forall(_.contains(name)) }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (HLL/GK sketches, KMeans IVF, stubbed media decode) → rows-only
    * check; MinHash/SimHash/LSH are SQL-expressible via md5-derived
    * hashes and fully oracle-checked. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
