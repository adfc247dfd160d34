package graft

import graft.operators.GraphSelection
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The k-core size gate (q395): the broadcast-semi form (survivor list
  * under the threshold — exchange-free rounds) and the shuffle-semi
  * form (general graph, survivor list too big to broadcast) must reach
  * the SAME fixpoint bit-for-bit — peeling's fixpoint is unique
  * regardless of order or physical plan, and the gate must never be
  * able to change an answer, only a cost. A since-deleted 10x scale
  * probe repeated this equality on the 6M-row co-purchase graph
  * (2026-08). */
class GraphPathSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private def copurchaseEdges() = {
    val li = Tables.t(spark, sfDir, "lineitem")
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk"))
    val pairs = li.as("a").join(li.as("b"),
        $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
      .groupBy($"a.pk".as("pa"), $"b.pk".as("pb"))
      .agg(countDistinct($"a.ok").as("sup"))
      .filter($"sup" >= 2)
      .select($"pa", $"pb")
    pairs.unionByName(pairs.select($"pb".as("pa"), $"pa".as("pb")))
      .repartition($"pa")
      .localCheckpoint(true)
  }

  test("k-core broadcast and shuffle peel forms agree bit-exactly " +
    "(threshold 0 forces every round onto the shuffle form)") {
    val edges = copurchaseEdges()
    val viaBroadcast = GraphSelection.kcoreStats(edges, Seq(2, 3, 4))
    val viaShuffle = GraphSelection.kcoreStats(edges, Seq(2, 3, 4),
      broadcastThreshold = 0L)
    assert(viaBroadcast === viaShuffle,
      "the size gate changed the k-core answer — it may only change cost")
    // and the broadcast path is the one the oracle-checked q395 uses:
    // non-degenerate on the fixture (some core survives at k=2)
    assert(viaBroadcast.head._2 > 0, "k=2 core empty on the fixture")
  }
}
