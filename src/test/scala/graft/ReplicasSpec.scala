package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.{Ladder, MakeSf1, Policy, Replicas}

/** The replicas behind MakeSf1 and every scaling ladder family, over
  * sf0.001 at K=2. */
class ReplicasSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val replicas = new Replicas(spark, TestSpark.Sf)
  private val K = 2

  /** Each writer's replicated tables, by writer name. */
  private val writers: Seq[(String, Seq[(String, Policy)])] =
    ("MakeSf1" -> MakeSf1.Replicated) +: Ladder.Families.toSeq.map { case (n, f) => n -> f.replicated }

  /** K replicas of `t`, each row tagged with its replica number `__r`. */
  private def tagged(t: String, p: Policy): DataFrame =
    (0 until K).map(r => replicas.replica(t, p)(r).withColumn("__r", lit(r))).reduce(_ unionAll _)

  test("replica 0 is the base table, and every replica keeps its column types") {
    writers.flatMap(_._2).distinct.foreach { case (t, p) =>
      val b = replicas.base(t)
      val r0 = replicas.replica(t, p)(0)
      assert(r0.exceptAll(b).isEmpty && b.exceptAll(r0).isEmpty, s"$t under $p")
      val types = (df: DataFrame) => df.schema.map(f => f.name -> f.dataType)
      assert(types(replicas.replica(t, p)(1)) == types(b), s"$t under $p")
    }
  }

  test("every key domain is disjoint across MakeSf1's replicas") {
    val policy = MakeSf1.Replicated.toMap
    Replicas.Domains.foreach { case (d, cols) =>
      val values = cols.map { case (t, c) => tagged(t, policy(t)).select(col(c).as("v"), col("__r")) }
        .reduce(_ unionAll _)
      assert(values.select("__r").distinct().count() == K, d)
      val shared = values.groupBy("v").agg(countDistinct("__r").as("n")).filter(col("n") > 1)
      assert(shared.isEmpty, s"domain $d: values in more than one replica")
    }
  }

  test("joins on a shared domain match only rows of the same replica") {
    val joins = Seq(("events", "user_id", "orders", "o_custkey"),
      ("lineitem", "l_orderkey", "orders", "o_orderkey"))
    val checked = for {
      (writer, tables) <- writers
      policy = tables.toMap
      (lt, lc, rt, rc) <- joins if policy.contains(lt) && policy.contains(rt)
    } yield {
      val l = tagged(lt, policy(lt)).select(col(lc).as("k"), col("__r").as("rl"))
      val r = tagged(rt, policy(rt)).select(col(rc).as("k"), col("__r").as("rr"))
      val pairs = l.join(r, "k").groupBy("rl", "rr").count().collect()
        .map(row => (row.getInt(0), row.getInt(1)) -> row.getLong(2)).toMap
      val within = (0 until K).map(i => pairs.getOrElse((i, i), 0L))
      assert(pairs.keySet.forall { case (a, b) => a == b },
        s"$writer: $lt.$lc ⋈ $rt.$rc pairs across replicas: $pairs")
      assert(within.head > 0 && within.distinct.size == 1,
        s"$writer: $lt.$lc ⋈ $rt.$rc pairs per replica: $within")
      writer
    }
    assert(checked.toSet == Set("MakeSf1", "events", "rel"), checked)
  }
}
