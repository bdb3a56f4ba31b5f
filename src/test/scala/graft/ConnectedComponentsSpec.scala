package graft

import scala.util.Random

import graft.operators.ConnectedComponents

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)],
      nodes: Option[Seq[Long]] = None): Map[Long, Long] = {
    val e = edges.toDF("src", "dst")
    val n = nodes.map(_.toDF("id"))
    ConnectedComponents.components(e, "src", "dst", n)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Reference union-find, the textbook sequential answer. */
  private def unionFind(edges: Seq[(Long, Long)],
      nodes: Seq[Long]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.foreach(n => find(n))
    edges.foreach { case (a, b) => union(a, b) }
    // min-label normalization: root chosen by union order is already
    // the min because union always parents the larger root
    nodes.map(n => n -> find(n)).toMap
  }

  test("two planted components plus isolated node") {
    val got = cc(Seq((1L, 2L), (2L, 3L), (10L, 11L)),
      nodes = Some(Seq(1L, 2L, 3L, 10L, 11L, 99L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("long path chain collapses to one component (log-round regime)") {
    // a 200-node path is the worst case for naive propagation
    // (diameter 200); large-star/small-star must still converge well
    // inside the round cap
    val edges = (0L until 199L).map(i => (i, i + 1))
    val got = cc(edges)
    assert(got.size == 200 && got.values.forall(_ == 0L))
  }

  test("matches union-find on random graphs") {
    val rnd = new Random(42)
    for (_ <- 1 to 3) {
      val n = 80
      val nodes = (0L until n.toLong).toSeq
      val edges = Seq.fill(60)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      assert(cc(edges, Some(nodes)) == unionFind(edges, nodes))
    }
  }

  test("edge direction, duplicates and self-loops are irrelevant") {
    val got = cc(Seq((5L, 3L), (3L, 5L), (5L, 3L), (7L, 7L)),
      nodes = Some(Seq(3L, 5L, 7L)))
    assert(got == Map(3L -> 3L, 5L -> 3L, 7L -> 7L))
  }

  test("empty edge set yields singletons") {
    val got = cc(Seq.empty, nodes = Some(Seq(1L, 2L)))
    assert(got == Map(1L -> 1L, 2L -> 2L))
  }
}
