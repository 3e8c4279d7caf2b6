package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registration + persistence (SURVEY.md §2 Tier A8).
  *
  * The reference registers every uploaded file as the fixed table
  * `data_table` inside a per-file DuckDB database `data_{stem}.duckdb`
  * (/root/reference/doc.py:112–119). Spark-native analog:
  *  - session visibility = `createOrReplaceTempView("data_table")`,
  *  - durability          = parquet directory `data_{stem}.parquet`
  *    (columnar like the .duckdb file, but splittable/distributed).
  */
object Catalog {
  val TableName = "data_table"

  def register(df: DataFrame, name: String = TableName): Unit =
    df.createOrReplaceTempView(name)

  /** Table names for files `fileNames`, in order: the reference's fixed
    * name for a single file; for several, each file's sanitized stem,
    * `data_table_k` for file k when the stem is unusable, and `_2`, `_3`,
    * … on a repeated name. */
  def displayNames(fileNames: Seq[String]): Seq[String] =
    if (fileNames.size == 1) Seq(TableName)
    else {
      val used = scala.collection.mutable.Set.empty[String]
      fileNames.zipWithIndex.map { case (f, i) =>
        val stem = f.replaceAll("\\.[^.]*$", "")
          .replaceAll("[^A-Za-z0-9_]", "_").replaceAll("^([0-9])", "t$1")
        val base = if (stem.isEmpty || stem.forall(_ == '_'))
          s"data_table_${i + 1}" else stem
        var name = base; var k = 1
        while (!used.add(name)) { k += 1; name = s"${base}_$k" }
        name
      }
    }

  /** Persist next to the source file, like doc.py:113–114's db_path. */
  def persistPath(sourcePath: String): String = {
    val p = java.nio.file.Paths.get(sourcePath)
    val stem = Option(p.getFileName).map(_.toString.replaceAll("\\.[^.]*$", "")).getOrElse("data")
    val dir = Option(p.getParent).map(_.toString).getOrElse(".")
    s"$dir/data_$stem.parquet"
  }

  def persist(df: DataFrame, sourcePath: String): String = {
    val path = persistPath(sourcePath)
    df.write.mode("overwrite").parquet(path)
    path
  }

  def loadPersisted(spark: SparkSession, sourcePath: String): DataFrame =
    spark.read.parquet(persistPath(sourcePath))

  /** Hive-style partitioned persistence: one directory per value of the
    * partition column, so filters on it prune whole directories at scan
    * time (PartitionFilters in the plan) — the layout that turns a
    * 100 TB scan into a per-partition read. */
  def partitionedPersist(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** Bucketed + sorted persistence: tables bucketed on their join key
    * with the same bucket count join WITHOUT a shuffle (no Exchange in
    * the plan) — the co-located-join layout a 100 TB fact/fact join
    * needs. Catalog-table form because bucketing metadata lives in the
    * table catalog, not the parquet files. */
  def bucketedPersist(df: DataFrame, table: String, bucketCol: String,
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Register-time bucketing opt-in (the user-facing path to the
    * co-located-join layout; VERDICT r19 #1b). The reference's register
    * step (doc.py:117–119) materializes the uploaded table into a
    * per-file database; this is the same step with a layout choice:
    * persist `df` as a bucketed+sorted catalog table named `name`, so
    * every later gateway SQL over `name` reads the bucketed layout and
    * equi-joins between tables co-bucketed on the same key plan with NO
    * exchange (BucketingSpec pins the plan; BucketBench measures the
    * fact/fact shapes at −18…−40% at sf≈1). The trade is one up-front
    * shuffle+write at register time — the pay-once-join-many layout a
    * real deployment opts into for fact tables joined by key repeatedly;
    * plain temp-view registration stays the default.
    *
    * Any same-name temp view is dropped first (temp views shadow
    * catalog tables in resolution, so a stale view would silently hide
    * the bucketed table), and a leftover warehouse directory from a
    * previous JVM's table is cleared (the metastore is per-session but
    * the warehouse dir persists, so saveAsTable would otherwise throw
    * LOCATION_ALREADY_EXISTS on the second process to register the
    * same name).
    */
  def registerBucketed(spark: SparkSession, df: DataFrame, name: String,
      bucketCol: String, buckets: Int): Unit = {
    spark.catalog.dropTempView(name)
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val loc = new java.io.File(s"spark-warehouse/$name")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(loc)
    }
    bucketedPersist(df, name, bucketCol, buckets)
  }

  /** Ingest + profile (analyze_file analog, doc.py:86–131): the
    * frame and the profile used for NL→SQL grounding. Nothing is
    * registered: on the web tier's shared session a fixed-name view is
    * cross-request mutable state, so each ask registers its own. */
  def analyzeFile(spark: SparkSession, path: String): (DataFrame, DataInfo) = {
    val df = Ingest.load(spark, path)
    (df, Profile(df))
  }
}
