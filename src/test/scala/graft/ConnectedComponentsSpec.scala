package graft

import graft.ops.ConnectedComponents

/** Component labeling must produce the true transitive closure — chains,
  * cycles, self-loops, multiple components — labeled by each component's
  * minimum vertex id, and must throw rather than return a partial closure.
  */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def components(edges: Seq[(Long, Long)],
      maxIter: Int = 20): Map[Long, Long] =
    ConnectedComponents.labelMinProp(edges.toDF("src", "dst"), maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Driver-side union-find: every vertex of `edges` → its component's
    * minimum vertex id.
    */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(v: Long): Long = {
      val p = parent.getOrElseUpdate(v, v)
      if (p == v) v else { val r = find(p); parent(v) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      // the smaller root wins, so every root is its component's minimum
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  test("chains merge transitively across bands") {
    // 1-2, 2-3 chain plus separate 10-11: two components
    val got = components(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("long path converges (diameter > a few rounds)") {
    val path = (1L to 15L).sliding(2).map(s => (s(0), s(1))).toSeq
    val got = components(path)
    assert(got.values.toSet == Set(1L) && got.size == 15)
  }

  test("edge direction and duplicates don't matter") {
    val got = components(Seq((5L, 2L), (2L, 5L), (2L, 9L), (9L, 2L), (5L, 2L)))
    assert(got == Map(2L -> 2L, 5L -> 2L, 9L -> 2L))
  }

  test("min-prop equals a driver-side union-find on seeded random graphs " +
    "with self-loops and cycles") {
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // 60 vertices, 80 random edges: several components, cycles, chains,
      // and self-loops (a vertex whose only edge is a self-loop is its own
      // component)
      val edges = Seq.fill(80)(
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)) ++
        Seq((100L, 100L), (7L, 7L), (7L, 8L), (8L, 7L))
      assert(components(edges, maxIter = 60) == unionFind(edges),
        s"seed $seed")
    }
  }

  test("min-prop throws instead of returning a partial closure") {
    val path = (1L to 30L).sliding(2).map(s => (s(0), s(1))).toSeq
    intercept[IllegalStateException] {
      components(path, maxIter = 5)
    }
  }

  test("min-prop returns an already-converged graph at maxIter = 1") {
    // self-loops only, or no edges at all: round 1 changes no label, so
    // a single round must detect the fixpoint rather than throw
    assert(components(Seq((1L, 1L), (2L, 2L)), maxIter = 1) ==
      Map(1L -> 1L, 2L -> 2L))
    assert(components(Seq.empty, maxIter = 1).isEmpty)
  }
}
