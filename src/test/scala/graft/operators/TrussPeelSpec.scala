package graft.operators

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** Properties for the shared iterative graph loops
  * ([[Graphs.trussPeelStats]] with its fixpoint early-exit, and
  * [[Graphs.components]] under both stopping rules): each is pinned
  * against a naive driver-side recomputation on random graphs, so the
  * delta/early-exit/fallback paths can never drift from the definition.
  */
class TrussPeelSpec extends SparkSpec {
  import spark.implicits._

  /** Naive reference: per round, re-enumerate alive triangles from the
    * CURRENT surviving edge set and recount support — no delta
    * subtraction, no early exit. Returns (round, n_edges, n_tri_alive)
    * with round 0 = the input census, exactly the operator's contract.
    */
  private def naivePeel(edges0: Set[(Long, Long)], rounds: Int,
      k: Int): Seq[(Long, Long, Long)] = {
    def tris(e: Set[(Long, Long)]): Set[(Long, Long, Long)] =
      for {
        (a, b) <- e
        (c, d) <- e if c == a && d > b
        if e.contains((b, d))
      } yield (a, b, d)
    var e = edges0
    val out = Seq.newBuilder[(Long, Long, Long)]
    out += ((0L, e.size.toLong, tris(e).size.toLong))
    for (r <- 1 to rounds) {
      val alive = tris(e)
      val sup = alive.toSeq
        .flatMap { case (a, b, c) => Seq((a, b), (a, c), (b, c)) }
        .groupBy(identity).view.mapValues(_.size).toMap
      e = e.filter(sup.getOrElse(_, 0) >= k - 2)
      out += ((r.toLong, e.size.toLong, alive.size.toLong))
    }
    out.result()
  }

  private val genEdges: Gen[Set[(Long, Long)]] = for {
    n <- Gen.choose(6, 14)
    density <- Gen.choose(2, 5)
    picks <- Gen.listOfN(n * density,
      Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
  } yield picks.collect { case (a, b) if a != b =>
    (math.min(a, b), math.max(a, b)) }.toSet

  test("trussPeelStats == naive full recount on random graphs (ScalaCheck)") {
    val prop = Prop.forAllNoShrink(genEdges, Gen.oneOf(3, 4)) { (edges, k) =>
      val pairs = edges.toSeq.toDF("a", "b")
      val got = Graphs.trussPeelStats(
        Graphs.triangleTriples(pairs), pairs, rounds = 3, k = k,
        broadcastCap = 1000000L)
      val want = naivePeel(edges, rounds = 3, k = k)
      Prop(got == want) :| s"k=$k got=$got want=$want edges=$edges"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("peel fixpoint early-exit: a stable graph repeats its census rows") {
    // two disjoint K4s: every edge sits in 2 triangles, nothing ever
    // peels at k=4 — rounds 2 and 3 must replicate round 1 exactly
    // (the early-exit path), matching the naive recount
    def k4(off: Long) = for {
      a <- 0L to 3L; b <- (a + 1) to 3L
    } yield (a + off, b + off)
    val edges = (k4(0) ++ k4(10)).toSet
    val pairs = edges.toSeq.toDF("a", "b")
    val got = Graphs.trussPeelStats(Graphs.triangleTriples(pairs), pairs,
      rounds = 3, k = 4, broadcastCap = 1000000L)
    assert(got == naivePeel(edges, 3, 4))
    assert(got == Seq((0L, 12L, 8L), (1L, 12L, 8L), (2L, 12L, 8L), (3L, 12L, 8L)))
  }

  test("peel fallback path (broadcastCap = 0): shuffled subtraction + full recount") {
    // cap 0 forces every round down the non-broadcast branch, where the
    // next round recounts support in full instead of subtracting the
    // incremental delta — the cluster-scale guard must stay equivalent
    val prop = Prop.forAllNoShrink(genEdges, Gen.oneOf(3, 4)) { (edges, k) =>
      val pairs = edges.toSeq.toDF("a", "b")
      val got = Graphs.trussPeelStats(
        Graphs.triangleTriples(pairs), pairs, rounds = 3, k = k,
        broadcastCap = 0L)
      val want = naivePeel(edges, rounds = 3, k = k)
      Prop(got == want) :| s"k=$k got=$got want=$want edges=$edges"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  /** A `len`-node path from `from`: longer than the propagation cap at
    * len = 40, so a fixpoint run must finish by star contraction. */
  private def path(from: Long, len: Int): Set[(Long, Long)] =
    (0 until len - 1).map(i => (from + i, from + i + 1)).toSet

  /** Driver-side union-find: every node to its component minimum. */
  private def unionFind(edges: Set[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).map(n => n -> find(n)).toMap
  }

  /** Driver-side synchronous min-label rounds: lbl'(u) = min over
    * N(u) ∪ {u}, `rounds` times. */
  private def minLabels(edges: Set[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    (1 to rounds).foldLeft(adj.keys.map(n => n -> n).toMap) { (lbl, _) =>
      lbl.map { case (n, l) => n -> (l +: adj(n).map(lbl)).min }
    }
  }

  test("components: fixpoint and fixed rounds vs union-find (ScalaCheck)") {
    def mismatch(edges: Set[(Long, Long)]): Option[String] = {
      val df = edges.toSeq.toDF("a_id", "b_id")
      val fix = Graphs.components(df).as[(Long, Long)].collect().toMap
      val four = Graphs.components(df, 4).as[(Long, Long)].collect().toMap
      val (wantFix, wantFour) = (unionFind(edges), minLabels(edges, 4))
      if (fix == wantFix && four == wantFour) None
      else Some(s"fixpoint got=$fix want=$wantFix; " +
        s"4 rounds got=$four want=$wantFour")
    }
    // half the random graphs carry a disjoint 40-node path
    val graphs = for {
      e <- genEdges.suchThat(_.nonEmpty)
      len <- Gen.oneOf(0, 40)
    } yield e ++ path(100L, len)
    val prop = Prop.forAllNoShrink(graphs) { edges =>
      val m = mismatch(edges)
      Prop(m.isEmpty) :| m.getOrElse("")
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
    // and the path alone, whatever the generator drew
    val alone = mismatch(path(0L, 40))
    assert(alone.isEmpty, alone.getOrElse(""))
  }
}
