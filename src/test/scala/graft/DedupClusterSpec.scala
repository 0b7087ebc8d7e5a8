package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

class DedupClusterSpec extends SparkSpec {

  /** Reference union-find over collected pairs. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("connectedComponents matches a union-find reference") {
    import spark.implicits._
    val inputs = Seq(
      Seq(
        (1L, 2L), (2L, 3L),          // component {1,2,3}
        (10L, 11L),                  // component {10,11}
        (20L, 21L), (21L, 22L), (22L, 20L), // cycle {20,21,22}
        (30L, 31L), (32L, 33L), (31L, 32L)), // chain {30..33}
      // a path 1–2–…–40: node 40 is 39 hops from its label
      (1L to 39L).map(i => (i, i + 1)))
    inputs.foreach { pairs =>
      val got = graph.Graph.connectedComponents(pairs.toDF("id_a", "id_b"))._1.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == unionFind(pairs))
    }
  }

  test("q45 clusters cover the candidate-pair vertex set exactly once") {
    val pairs = Dedup.q42.fn(spark, sfDir).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Dedup.q45.fn(spark, sfDir).collect()
    val nVertices = pairs.flatMap(p => Seq(p._1, p._2)).distinct.length
    assert(clusters.map(_.getAs[Long]("n_members")).sum == nVertices)
    // every keep_id is the minimum of its own cluster label
    clusters.foreach { r =>
      assert(r.getAs[Long]("keep_id") == r.getAs[Long]("cluster_id"))
    }
    // cross-check cluster count against union-find
    val want = unionFind(pairs.toSeq).values.toSet.size
    assert(clusters.length == want)
  }
}
