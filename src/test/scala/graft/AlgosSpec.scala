package graft

import org.apache.spark.sql.functions._
import graft.graph._
import graft.algos._

/** Analytic micro-graph fixtures (FIXTURES.md §3). */
object Fixtures {
  val path5: Seq[(Long, Long)] = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
  val cycle6: Seq[(Long, Long)] = (0 until 6).map(i => (i.toLong, ((i + 1) % 6).toLong))
  val star8: Seq[(Long, Long)] = (1 to 8).map(i => (0L, i.toLong))
  // K3 on {0,1,2} ∪ path 10-11-12
  val twoComp: Seq[(Long, Long)] =
    Seq((0L, 1L), (1L, 2L), (0L, 2L), (10L, 11L), (11L, 12L))
  val k4: Seq[(Long, Long)] =
    Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
  val dangling3: Seq[(Long, Long)] = Seq((0L, 1L)) // plus isolated 2 via vertex table
  val selfloop: Seq[(Long, Long)] = Seq((0L, 0L), (0L, 1L))
}

class PageRankSpec extends SparkTestBase {

  private def runPr(es: Seq[(Long, Long)], iters: Int): Map[Long, Double] = {
    val adj = Adjacency.build(edgesDF(es), parts)
    val r = PageRank.run(adj, maxIters = iters)
    val out = r.state.select("vid", "rank").collect()
      .map(row => row.getLong(0) -> row.getDouble(1)).toMap
    adj.unpersist()
    out
  }

  private def assertClose(got: Map[Long, Double], want: Map[Long, Double], tol: Double = 1e-6): Unit = {
    assert(got.keySet == want.keySet)
    got.foreach { case (v, x) =>
      assert(math.abs(x - want(v)) <= tol, s"vid=$v got=$x want=${want(v)}")
    }
  }

  test("cycle6: unnormalized PR fixpoint is rank=1 everywhere") {
    val got = runPr(Fixtures.cycle6, 0)
    got.values.foreach(r => assert(math.abs(r - 1.0) < 1e-4))
  }

  test("star hub→leaves matches reference formula (20 iters)") {
    assertClose(runPr(Fixtures.star8, 20), ReferenceOracle.pagerank(Fixtures.star8, 20))
  }

  test("dangling sink leaks rank (reference pr.h:31-33 semantics)") {
    val got = runPr(Fixtures.dangling3, 20)
    val want = ReferenceOracle.pagerank(Fixtures.dangling3, 20)
    assertClose(got, want)
    // sink 1 keeps receiving 0.15 + 0.85·(rank0/1); vertex 0 bottoms at alpha
    assert(math.abs(got(0L) - 0.15) < 1e-9)
  }

  test("self-loop kept (reference pr loads self_loops=true)") {
    assertClose(runPr(Fixtures.selfloop, 20), ReferenceOracle.pagerank(Fixtures.selfloop, 20))
  }

  test("random skewed graph matches oracle allclose 1e-6 at 20 iters") {
    val es = randomEdges(200, 1200, seed = 7)
    assertClose(runPr(es, 20), ReferenceOracle.pagerank(es, 20))
  }

  test("convergence mode (maxIters=0) reaches tol fixpoint") {
    val es = randomEdges(100, 500, seed = 11)
    val got = runPr(es, 0)
    val want = ReferenceOracle.pagerank(es, 0)
    assertClose(got, want, tol = 1e-4) // both stop at |Δ|≤1e-5; same loop
  }

  test("shuffle gather path (no broadcast) matches oracle") {
    val es = randomEdges(150, 900, seed = 17)
    val adj = Adjacency.build(edgesDF(es), parts)
    val degrees = Degree.outFromAdjacency(adj)
    val r = Engine.run(adj, new PageRankProgram(degrees, 0.15, 1e-5),
      RunConfig(maxIters = 15))
    val got = r.state.select("vid", "rank").collect()
      .map(row => row.getLong(0) -> row.getDouble(1)).toMap
    adj.unpersist()
    assertClose(got, ReferenceOracle.pagerank(es, 15))
  }

  test("salting (tiny chunk) does not change results") {
    val es = randomEdges(60, 600, seed = 13)
    val adj = Adjacency.build(edgesDF(es), parts, chunk = 4)
    // hub rows must actually be split
    val maxNbrs = adj.out.select(max(size(col("nbrs")))).head.getInt(0)
    assert(maxNbrs <= 6 * 4, s"salt chunks unexpectedly large: $maxNbrs")
    val r = PageRank.run(adj, maxIters = 10)
    val got = r.state.select("vid", "rank").collect()
      .map(row => row.getLong(0) -> row.getDouble(1)).toMap
    adj.unpersist()
    assertClose(got, ReferenceOracle.pagerank(es, 10))
  }
}

class ComponentsSpec extends SparkTestBase {

  private def runCc(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val r = ConnectedComponents.run(edgesDF(es), parts)
    r.state.select("vid", "label").collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
  }

  test("twoComp: labels are min vid per component, exact") {
    val got = runCc(Fixtures.twoComp)
    assert(got == ReferenceOracle.components(Fixtures.twoComp))
    assert(got(2L) == 0L && got(12L) == 10L)
  }

  test("path5 single component") {
    assert(runCc(Fixtures.path5).values.toSet == Set(0L))
  }

  test("random graph matches union-find exactly") {
    val es = randomEdges(300, 500, seed = 23)
    assert(runCc(es) == ReferenceOracle.components(es))
  }
}

class TraversalSpec extends SparkTestBase {

  test("bfs path5: hops = distance, parent = predecessor") {
    val r = Traversal.bfs(edgesDF(Fixtures.path5), root = 0L, parts)
    val got = r.state.select("vid", "parent", "hops").collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(got == ReferenceOracle.bfs(Fixtures.path5, 0L))
  }

  test("bfs random graph matches oracle (hops and min-vid parent)") {
    val es = randomEdges(150, 400, seed = 31)
    val r = Traversal.bfs(edgesDF(es), root = es.head._1, parts)
    val got = r.state.collect().flatMap { x =>
      if (x.isNullAt(2)) None
      else Some(x.getLong(0) -> (x.getLong(1), x.getLong(2)))
    }.toMap
    assert(got == ReferenceOracle.bfs(es, es.head._1))
  }

  test("sssp weighted matches dijkstra") {
    val es = Seq(
      (0L, 1L, 7.0), (0L, 2L, 9.0), (0L, 5L, 14.0), (1L, 2L, 10.0),
      (1L, 3L, 15.0), (2L, 3L, 11.0), (2L, 5L, 2.0), (3L, 4L, 6.0),
      (4L, 5L, 9.0), (5L, 4L, 1.0))
    val r = Traversal.sssp(wEdgesDF(es), root = 0L, parts)
    val got = r.state.collect().flatMap { x =>
      if (x.isNullAt(1)) None else Some(x.getLong(0) -> x.getDouble(1))
    }.toMap
    assert(got == ReferenceOracle.sssp(es, 0L))
  }

  test("sssp unweighted = hop counts (w defaults to 1)") {
    val es = Fixtures.path5
    val r = Traversal.sssp(edgesDF(es), root = 0L, parts)
    val got = r.state.collect().flatMap { x =>
      if (x.isNullAt(1)) None else Some(x.getLong(0) -> x.getDouble(1))
    }.toMap
    assert(got == Map(0L -> 0.0, 1L -> 1.0, 2L -> 2.0, 3L -> 3.0, 4L -> 4.0))
  }
}

class TriangleSpec extends SparkTestBase {

  test("k4 has 4 triangles") {
    assert(TriangleCount.count(edgesDF(Fixtures.k4), parts) == 4L)
  }

  test("twoComp has exactly the K3 triangle") {
    assert(TriangleCount.count(edgesDF(Fixtures.twoComp), parts) == 1L)
  }

  test("cycle6 and path5 have none") {
    assert(TriangleCount.count(edgesDF(Fixtures.cycle6), parts) == 0L)
    assert(TriangleCount.count(edgesDF(Fixtures.path5), parts) == 0L)
  }

  test("random graph matches brute-force oracle; orientation-invariant") {
    val es = randomEdges(80, 600, seed = 41)
    assert(TriangleCount.count(edgesDF(es), parts) == ReferenceOracle.triangles(es))
  }
}

class LabelPropagationSpec extends SparkTestBase {

  test("k4 converges to a single (min) label deterministically") {
    val r = LabelPropagation.run(edgesDF(Fixtures.k4), parts, maxIters = 10)
    assert(r.state.select("label").distinct().count() == 1L)
  }

  test("two runs produce identical labels (deterministic tie-break)") {
    val es = randomEdges(100, 400, seed = 47)
    val a = LabelPropagation.run(edgesDF(es), parts, maxIters = 5)
      .state.select("vid", "label").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = LabelPropagation.run(edgesDF(es), parts, maxIters = 5)
      .state.select("vid", "label").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("disconnected components never share labels") {
    val r = LabelPropagation.run(edgesDF(Fixtures.twoComp), parts, maxIters = 10)
    val byComp = r.state.collect().map(x => (x.getLong(0), x.getLong(1)))
      .groupBy { case (vid, _) => vid >= 10L }
    val low = byComp(false).map(_._2).toSet
    val high = byComp(true).map(_._2).toSet
    assert(low.intersect(high).isEmpty)
  }

  test("engine loop tuning never leaks into the caller's session (cloned-session AQE)") {
    // The superstep loop disables AQE + sort-merge preference — on a
    // CLONED session. A concurrent analytical query on the caller's
    // session must keep AQE; assert the caller conf is intact WHILE the
    // loop is live (program.apply runs on the driver mid-loop).
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    var checkedMidLoop = false
    val und = GraphShaping.shape(edgesDF(Fixtures.k4),
      EdgeShaping(selfLoops = false, directed = false, parallelEdges = false))
    val adj = Adjacency.build(und, parts)
    val inner = new MinLabelProgram("cc")
    val probe = new VertexProgram {
      val name = "cc-aqe-probe"
      val stationary = false
      def init(v: org.apache.spark.sql.DataFrame) = inner.init(v)
      def message(s: org.apache.spark.sql.DataFrame) = inner.message(s)
      def edgeCombine(m: org.apache.spark.sql.Column, w: org.apache.spark.sql.Column) =
        inner.edgeCombine(m, w)
      def aggregate(v: org.apache.spark.sql.Column) = inner.aggregate(v)
      def apply(joined: org.apache.spark.sql.DataFrame, iter: Int) = {
        assert(TestSpark.spark.conf.get("spark.sql.adaptive.enabled") == "true",
          "engine loop leaked AQE=false into the caller session")
        checkedMidLoop = true
        inner.apply(joined, iter)
      }
    }
    val r = Engine.run(adj, probe, RunConfig(maxIters = 0))
    assert(checkedMidLoop && r.iterations >= 1)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    // and the returned state is bound back to the caller's session
    assert(r.state.sparkSession eq spark)
    adj.unpersist()
  }

  test("long runs keep a bounded block-manager footprint (checkpoint eviction)") {
    // Each superstep localCheckpoints new state; the previous
    // iteration's blocks must be dropped (Engine.unpersistCheckpointed)
    // or a 100-iteration run accrues 100 V-sized block sets.
    val before = spark.sparkContext.getPersistentRDDs.size
    val es = randomEdges(80, 300, seed = 53)
    val r = LabelPropagation.run(edgesDF(es), parts, maxIters = 25)
    r.state.count()
    val after = spark.sparkContext.getPersistentRDDs.size
    // allowed residue: final state + adjacency out/vertices caches (+1 slack)
    assert(after - before <= 4,
      s"block sets grew $before -> $after over ${r.iterations} supersteps")
  }
}
