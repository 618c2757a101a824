package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** Randomized + adversarial-shape validation of the shared large-star/
  * small-star connectedComponents helper (TextOps.scala) against an
  * in-memory union-find reference. The helper backs doc_cc_clusters,
  * doc_dedup_decision, geo_hotspot_clusters and geo_contour_rings. It
  * replaced hash-min + pointer-jumping, and these shapes (long
  * shuffled-id cycles especially) are the ones that broke that algorithm.
  */
class CcSpec extends SparkSpecBase {

  private def unionFind(n: Seq[Long], es: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(n.map(x => x -> x): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    es.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical label = min member id of the component
    val byRoot = n.groupBy(find)
    byRoot.flatMap { case (_, members) =>
      val m = members.min; members.map(_ -> m)
    }
  }

  private def ccSpark(nodes: Seq[Long], es: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val nDf = nodes.toDF("node")
    val eDf = es.toDF("src", "dst")
      .union(es.map(_.swap).toDF("src", "dst"))
    TextOps.connectedComponents(nDf, eDf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def check(nodes: Seq[Long], es: Seq[(Long, Long)], tag: String): Unit =
    assert(ccSpark(nodes, es) == unionFind(nodes, es), s"mismatch on $tag")

  test("ring with shuffled non-monotone ids (the shape that broke hash-min)") {
    val rng = new scala.util.Random(7)
    val ids = rng.shuffle((0L until 200L).toVector)
    val es = ids.indices.map(i => (ids(i), ids((i + 1) % ids.length)))
    check(ids, es, "shuffled ring")
  }

  test("long path, descending ids") {
    val ids = (0L until 150L).reverse.toVector
    val es = ids.init.zip(ids.tail)
    check(ids, es, "descending path")
  }

  test("star, self-loops, isolated nodes, duplicate edges") {
    val nodes = (0L until 40L)
    val es = (1L until 20L).map(i => (0L, i)) ++ // star on 0..19
      Seq((25L, 25L), (30L, 31L), (30L, 31L), (31L, 30L)) // self-loop + dups
    check(nodes, es, "star+loops") // 32..39 isolated singletons
  }

  test("random sparse graphs match union-find (seeded sweep)") {
    val rng = new scala.util.Random(42)
    (1 to 6).foreach { k =>
      val n = 20 + rng.nextInt(40)
      val nodes = rng.shuffle((0L until 1000L).toVector).take(n)
      val m = rng.nextInt(n * 2)
      val es = Seq.fill(m)((nodes(rng.nextInt(n)), nodes(rng.nextInt(n))))
      check(nodes, es, s"random#$k n=$n m=$m")
    }
  }

  test("two dense components never merge") {
    val a = (0L until 30L); val b = (100L until 130L)
    val rng = new scala.util.Random(3)
    val esA = Seq.fill(80)((a(rng.nextInt(30)), a(rng.nextInt(30))))
    val esB = Seq.fill(80)((b(rng.nextInt(30)), b(rng.nextInt(30))))
    val got = ccSpark(a ++ b, esA ++ esB)
    assert(got.filter(_._1 < 100L).values.toSet == Set(0L)
      || got.filter(_._1 < 100L).values.forall(_ < 100L))
    assert(got.filter(_._1 >= 100L).values.forall(_ >= 100L))
    check(a ++ b, esA ++ esB, "two components")
  }
}
