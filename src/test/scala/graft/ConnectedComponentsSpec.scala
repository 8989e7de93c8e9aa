package graft

import graft.ops.ConnectedComponents

/** Component labeling must produce the true transitive closure — chains,
  * stars, multiple components — and the default (star contraction) must
  * converge in O(log n) rounds on the adversarial long-path graph that
  * makes min-label propagation take O(n).
  */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.label(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def componentsMinProp(edges: Seq[(Long, Long)],
      maxIter: Int = 20): Map[Long, Long] =
    ConnectedComponents.labelMinProp(edges.toDF("src", "dst"), maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

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

  test("adversarial path graph: star contraction is O(log n) rounds") {
    // A 256-vertex path has diameter 255: min-label needs ~255 rounds.
    // Alternating large/small-star must close it in O(log^2 n) worst case
    // (~log n observed); the bound below is generous vs log2(256)=8 but
    // two orders of magnitude under the O(n) failure mode it guards.
    val n = 256L
    // worst shape for min-label: ids ordered along the path
    val path = (1L to n).sliding(2).map(s => (s(0), s(1))).toSeq
    val (labels, rounds) =
      ConnectedComponents.labelStar(path.toDF("src", "dst"), maxIter = 64)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n && got.values.toSet == Set(1L))
    assert(rounds <= 20, s"expected O(log n) rounds, took $rounds")
  }

  test("star and min-prop agree on a mixed random graph") {
    val rnd = new scala.util.Random(42)
    // 60 vertices, 80 random edges: multiple components, cycles, chains
    val edges = Seq.fill(80)(
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    assert(components(edges) == componentsMinProp(edges))
  }

  test("min-prop throws instead of returning a partial closure") {
    val path = (1L to 30L).sliding(2).map(s => (s(0), s(1))).toSeq
    intercept[IllegalStateException] {
      componentsMinProp(path, maxIter = 5)
    }
  }

  test("min-prop returns an already-converged graph at maxIter = 1") {
    // self-loops only, or no edges at all: round 1 changes no label, so
    // a single round must detect the fixpoint rather than throw
    assert(componentsMinProp(Seq((1L, 1L), (2L, 2L)), maxIter = 1) ==
      Map(1L -> 1L, 2L -> 2L))
    assert(componentsMinProp(Seq.empty, maxIter = 1).isEmpty)
  }

  test("star contraction throws instead of extracting from a non-star set") {
    // diameter-255 path cannot star-ify in 2 rounds; silent extraction
    // would emit conflicting labels per vertex (under-merge)
    val path = (1L to 256L).sliding(2).map(s => (s(0), s(1))).toSeq
    intercept[IllegalStateException] {
      ConnectedComponents.labelStar(path.toDF("src", "dst"), maxIter = 2)
    }
  }
}
