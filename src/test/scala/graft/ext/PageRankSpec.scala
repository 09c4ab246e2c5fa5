package graft.ext

import graft.SparkSpec

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private val S = PageRank.Scale

  private def run(edges: Seq[(Long, Long)], iters: Int) =
    PageRank.run(edges.toDF("src", "dst"), "src", "dst", iters)
      .as[(Long, Long)].collect().toMap

  test("hand-checked two-node cycle reaches the uniform fixed point") {
    // a↔b: each node's contribution is its full rank; by symmetry every
    // round gives base + 85% of S/2 (mirroring the integer ops exactly)
    val expected = (S / 100L) * 15L / 2L + 85L * (S / 2L) / 100L
    val out = run(Seq(1L -> 2L, 2L -> 1L), 3)
    assert(out == Map(1L -> expected, 2L -> expected))
  }

  test("mass is conserved up to truncation leak; deterministic under repartition") {
    val edges = for { a <- 1L to 40L; b <- Seq((a % 40) + 1, (a * 7 % 40) + 1) }
      yield a -> b
    val out = run(edges, 5)
    val total = out.values.sum
    assert(total <= S && total >= (S * 999L) / 1000L, s"mass $total")
    val df = edges.toDF("src", "dst").repartition(13)
    val out2 = PageRank.run(df, "src", "dst", 5).as[(Long, Long)].collect().toMap
    assert(out == out2)
  }

  test("dangling nodes absorb but never emit; authority flows to sinks") {
    // 1→2, 3→2: node 2 is dangling. Its rank grows; 1 and 3 fall to base.
    val out = run(Seq(1L -> 2L, 3L -> 2L), 2)
    val n = 3L
    val base = (S / 100L) * 15L / n
    assert(out(1L) == base && out(3L) == base)
    assert(out(2L) > out(1L))
    // round 2: node 2 receives 85% of two base-rank contributions
    assert(out(2L) == base + 85L * (base + base) / 100L)
  }

  test("parallel edges weight contributions by multiplicity") {
    // 1→2 twice, 1→3 once: outdeg(1)=3, node 2 gets 2 shares, node 3 one
    // (plus back-edges so nothing dangles)
    val out = run(Seq(1L -> 2L, 1L -> 2L, 1L -> 3L, 2L -> 1L, 3L -> 1L), 1)
    val r0 = S / 3L
    val n = 3L
    val base = (S / 100L) * 15L / n
    assert(out(2L) == base + 85L * (2L * (r0 / 3L)) / 100L)
    assert(out(3L) == base + 85L * (r0 / 3L) / 100L)
  }

  test("zero iterations returns the uniform prior") {
    val out = run(Seq(1L -> 2L, 2L -> 3L, 3L -> 1L), 0)
    assert(out.values.toSet == Set(S / 3L))
  }

  test("lineage cuts never change a bit: the two-node cycle over seven rounds") {
    // every round of a↔b gives base + 85% of S/2, so any round count
    // lands on the same hand-checked value; Rounds.fixed cuts every
    // round's lineage, so seven rounds read across six cuts
    val expected = (S / 100L) * 15L / 2L + 85L * (S / 2L) / 100L
    val out = run(Seq(1L -> 2L, 2L -> 1L), 7)
    assert(out == Map(1L -> expected, 2L -> expected))
  }

  test("run equals personalized with every node a seed, under any partitioning") {
    val fixtures: Seq[(Seq[(Long, Long)], Int)] = Seq(
      (Seq(1L -> 2L, 2L -> 1L), 3),
      (Seq(1L -> 2L, 3L -> 2L), 2),
      (Seq(1L -> 2L, 1L -> 2L, 1L -> 3L, 2L -> 1L, 3L -> 1L), 1),
      (Seq(1L -> 2L, 2L -> 3L, 3L -> 1L), 0),
      (for { a <- 1L to 40L; b <- Seq((a % 40) + 1, (a * 7 % 40) + 1) }
        yield a -> b, 5))
    for ((edges, iters) <- fixtures) {
      val every = edges.flatMap { case (a, b) => Seq(a, b) }.distinct.toDF("node")
      for (df <- Seq(edges.toDF("src", "dst"), edges.toDF("src", "dst").repartition(13))) {
        val plain = PageRank.run(df, "src", "dst", iters)
          .as[(Long, Long)].collect().toMap
        val seeded = PageRank.personalized(df, "src", "dst", every, iters)
          .as[(Long, Long)].collect().toMap
        assert(plain == seeded, s"iters=$iters edges=$edges")
      }
    }
  }

  test("personalized: teleport lands only on seeds; trust decays with distance") {
    // chain 1→2→3→4 plus an unreachable island 8→9; seed = {1}
    val df = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 8L -> 9L).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val out = PageRank.personalized(df, "src", "dst", seeds, iters = 3)
      .as[(Long, Long)].collect().toMap
    // island nodes never receive seed mass
    assert(out(8L) === 0L && out(9L) === 0L)
    // seed keeps only the base term (nothing links to it)
    assert(out(1L) === (S / 100L) * 15L)
    // the initial unit pulse decays by exactly 0.85 per hop: after 3
    // rounds it sits on node 4, while 2 and 3 carry the damped echo of
    // the seed's base term (hand-replay of the integer recurrence)
    val base = (S / 100L) * 15L
    assert(out(4L) === 85L * (85L * (85L * S / 100L) / 100L) / 100L)
    assert(out(2L) === 85L * base / 100L)
    assert(out(3L) === 85L * (85L * base / 100L) / 100L)
    // bit-determinism under repartition
    val out2 = PageRank.personalized(df.repartition(7), "src", "dst",
      seeds, iters = 3).as[(Long, Long)].collect().toMap
    assert(out === out2)
  }

  test("personalized: seeds outside the graph are ignored; empty intersection rejected") {
    val df = Seq(1L -> 2L).toDF("src", "dst")
    val out = PageRank.personalized(df, "src", "dst",
      Seq(1L, 99L).toDF("node"), iters = 1)
      .as[(Long, Long)].collect().toMap
    // |S ∩ nodes| = 1, so the seed's base uses nSeeds = 1
    assert(out(1L) === (S / 100L) * 15L)
    intercept[IllegalArgumentException] {
      PageRank.personalized(df, "src", "dst", Seq(99L).toDF("node"), 1)
    }
  }
}
