package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Similarity.bitextMine]]: mutuality, margin, cross-corpus id
  * semantics, and the pluggable candidate generator. */
class BitextSpec extends SparkSpec {
  import spark.implicits._

  // two tiny corpora with one planted perfect pair (a1<->b1), one
  // near pair (a2<->b2), and a hub-ish distractor b3 close to both
  private val a = Seq(
    (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Seq(0.0f, 0.0f, 0.7f, 0.7f))).toDF("id", "v")
  private val b = Seq(
    (11L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    (12L, Seq(0.1f, 0.99f, 0.0f, 0.0f)),
    (13L, Seq(0.5f, 0.5f, 0.5f, 0.5f))).toDF("id", "v")

  test("mutual top-1 pairs with margin above the floor are mined") {
    val got = Similarity.bitextMine(a, b, "v", "id", marginFloor = 1.0)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    // the perfect pair must be found with cos 1.0
    assert(got.exists(p => p._1 == 1L && p._2 == 11L && p._3 == 1.0))
    // every mined pair is mutual top-1 by construction: margins >= floor
    assert(got.forall(_._4 >= 1.0))
  }

  test("non-mutual pairs are excluded") {
    // c: both queries point at the same corpus row -> only one can be
    // mutual; the other yields no pair
    val q = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.95f, 0.3f)))
      .toDF("id", "v")
    val c = Seq((9L, Seq(1.0f, 0.05f)), (8L, Seq(0.0f, 1.0f)))
      .toDF("id", "v")
    val got = Similarity.bitextMine(q, c, "v", "id", marginFloor = 0.0)
      .as[(Long, Long, Double, Double)].collect()
    // 9 is top-1 for both 1 and 2, but 9's own top-1 is only one of
    // them -> at most one mined pair involves 9
    assert(got.count(_._2 == 9L) <= 1)
  }

  test("cross-corpus pairs with EQUAL ids are kept (independent id " +
    "spaces; regression for the self-join guard)") {
    val l = Seq((7L, Seq(1.0f, 0.0f))).toDF("id", "v")
    val r = Seq((7L, Seq(1.0f, 0.0f))).toDF("id", "v")
    val got = Similarity.bitextMine(l, r, "v", "id", marginFloor = 0.0)
      .as[(Long, Long, Double, Double)].collect()
    assert(got.toSeq == Seq((7L, 7L, 1.0, 1.0)))
  }

  test("bitextMineLsh agrees with the exact spelling on separable data") {
    // orthogonal-ish clusters bucket apart; the LSH path must find the
    // same planted perfect pair without ever scoring A x B
    val exact = Similarity.bitextMine(a, b, "v", "id", marginFloor = 1.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val mined = Similarity.bitextMineLsh(a, b, "v", "id",
      marginFloor = 1.0, planes = 4)
    val plan = mined.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    val lsh = mined.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.contains((1L, 11L)))
    assert(lsh.subsetOf(exact) || exact.subsetOf(lsh) ||
      (lsh intersect exact).nonEmpty)
  }
}
