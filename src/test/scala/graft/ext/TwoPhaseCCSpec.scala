package graft.ext

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

class TwoPhaseCCSpec extends SparkSpec {
  import spark.implicits._

  private def forAll[T](g: Gen[T], n: Int = 5)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      body(g.apply(Gen.Parameters.default, Seed(977L + i)).get)
    }

  /** Union-find ground truth with min-id roots. */
  private def truth(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(v => v -> find(v)).toMap
  }

  test("two-phase and hash-min CC both equal union-find on random graphs") {
    val edgeGen = Gen.listOfN(30,
      Gen.zip(Gen.choose(1L, 15L), Gen.choose(1L, 15L)))
    forAll(edgeGen) { raw =>
      val edges = raw.filter(p => p._1 != p._2)
      if (edges.nonEmpty) {
        val df = edges.toDF("a", "b")
        val expect = truth(edges)
        val twoPhase = ConnectedComponents.runTwoPhase(df, "a", "b")
          .as[(Long, Long)].collect().toMap
        val hashMin = ConnectedComponents.run(df, "a", "b", maxIter = 30)
          .as[(Long, Long)].collect().toMap
        assert(twoPhase == expect, s"two-phase wrong for $edges")
        assert(hashMin == expect, s"hash-min wrong for $edges")
      }
    }
  }

  test("path graph (hash-min's worst case) collapses to one component") {
    val path = (1L to 30L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("a", "b")
    val comp = ConnectedComponents.runTwoPhase(path, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(comp.size == 30)
    assert(comp.values.toSet == Set(1L))
  }

  test("auto dispatcher: star graph stays on hash-min, long chain falls over to two-phase") {
    // shallow dedup-shaped graph: hash-min converges within the probe
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (10L, 11L)).toDF("a", "b")
    val (sStrat, sComp) = ConnectedComponents.autoWithStrategy(
      star, "a", "b", hashMinRounds = 5, twoPhaseEdges = 50000000L)
    assert(sStrat == "hash-min")
    assert(sComp.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))

    // 64-vertex chain: min label travels one hop per hash-min round, so
    // 3 rounds provably cannot converge → dispatcher must pick two-phase
    val chainEdges = (1L to 64L).sliding(2).map(s => (s.head, s.last)).toSeq
    val chain = chainEdges.toDF("a", "b")
    val (cStrat, cComp) = ConnectedComponents.autoWithStrategy(
      chain, "a", "b", hashMinRounds = 3, twoPhaseEdges = 50000000L)
    assert(cStrat == "two-phase")
    assert(cComp.as[(Long, Long)].collect().toMap == truth(chainEdges))

    // tiny edge threshold forces the direct two-phase route (the
    // billion-edge path) without running hash-min at all
    val (tStrat, tComp) = ConnectedComponents.autoWithStrategy(
      star, "a", "b", hashMinRounds = 5, twoPhaseEdges = 2L)
    assert(tStrat == "two-phase")
    assert(tComp.as[(Long, Long)].collect().toMap ==
      sComp.as[(Long, Long)].collect().toMap)
  }

  test("auto counts the edges once: no Spark job beyond hash-min's own") {
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (10L, 11L)).toDF("a", "b")
    var labels: org.apache.spark.sql.DataFrame = null
    val autoJobs = jobsStartedBy {
      labels = ConnectedComponents.auto(star, "a", "b")
    }
    // run = edge checkpoint + one edge count + hash-min, and the star
    // converges well inside both round caps, so auto's dispatch count
    // must also size hash-min's width (a second count is two jobs here:
    // an AQE map stage plus its result)
    assert(autoJobs == jobsStartedBy(ConnectedComponents.run(star, "a", "b")))
    assert(autoJobs == 14)
    assert(labels.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }
}
