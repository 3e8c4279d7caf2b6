package graft.tools

import graft.tools.Policy._

/** Dev tool: a larger dataset from a smaller one — K replicas of every
  * table (sf0.1 × 10 ≈ sf1, × 100 ≈ sf10), so the full bench suite can
  * be recorded at scale with the same semantics per key. Every key
  * domain shifts per replica, so every join (the as-of join's
  * events.user_id ⋈ orders.o_custkey included) resolves within one
  * replica and per-key group sizes stay constant; nation and region are
  * verbatim (TPC-H dimensions do not scale); documents are disjoint
  * replicas, as genuinely distinct documents would be; embeddings keep
  * their vectors and shift their labels, so label blocks keep their size.
  *
  * Usage: runMain graft.tools.MakeSf1 <sfDir> <outDir> [K=10]
  */
object MakeSf1 {
  val Replicated: Seq[(String, Policy)] = Seq(
    "customer" -> Keys("custkey"), "supplier" -> Keys("suppkey"), "part" -> Keys("partkey"),
    "orders" -> Keys("orderkey", "custkey"),
    "lineitem" -> Keys("orderkey", "partkey", "suppkey"),
    "events" -> Keys("event_id", "custkey"), "documents" -> Disjoint, "embeddings" -> Labeled)
  val Copied: Seq[String] = Seq("nation", "region")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: MakeSf1 <sfDir> <outDir> [K=10]")
    val k = args.lift(2).fold(10)(_.toInt)
    val spark = Ladder.session()
    new Replicas(spark, args(0)).write(Replicated, Copied, k, args(1))
    spark.stop()
  }
}
