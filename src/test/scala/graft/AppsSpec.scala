package graft

import java.nio.file.Files
import org.apache.spark.sql.functions.lit
import graft.ingest.Rmat
import graft.sources.EdgeListSource
import graft.tools.Apps

/** The CLI drop-in (graft.tools.Apps) must run every reference app
  * name over both file formats and produce the reference-greppable
  * summary fields (Iterations / Value checksum / Reachable vertices —
  * vertex_program.hpp:1944-1958). */
class AppsSpec extends SparkTestBase {

  private val sampleBin = "/root/reference/data/rmat10_1024.bin"

  /** A scale-9 RMAT graph (512 vertex ids, 4,096 records, parallel
    * edges and self-loops kept) written in the reference's binary
    * format: the sample-binary cases below run on it wherever the
    * reference's own sample file is absent. */
  private lazy val rmatBin: (String, Seq[(Long, Long)]) = {
    val f = Files.createTempFile("graft-apps-rmat", ".bin").toString
    EdgeListSource.writeBinary(
      Rmat.edges(spark, scale = 9, edgeFactor = 8, seed = 5).withColumn("w", lit(1.0)), f)
    val es = EdgeListSource.readBinary(spark, f).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    (f, es)
  }

  private def prDegTc(bin: String, numEdges: Long, triangles: Long): Unit = {
    val pr = Apps.run(spark, "pr", bin, iters = 5, root = 0, parts, weighted = false)
    assert(pr.iterations == 5 && pr.checksum > 0 && pr.top.size == 5)
    val deg = Apps.run(spark, "deg", bin, iters = 0, root = 0, parts, weighted = false)
    assert(deg.checksum == numEdges.toDouble) // Σ out-degree = E
    val tc = Apps.run(spark, "tc", bin, iters = 0, root = 0, parts, weighted = false)
    assert(tc.checksum == triangles.toDouble)
  }

  test("pr/deg/tc over the reference sample binary") {
    assume(Files.exists(java.nio.file.Paths.get(sampleBin)))
    // 78452: the shipped sample graph's count (deterministic file)
    prDegTc(sampleBin, numEdges = 16384, triangles = 78452)
  }

  test("pr/deg/tc over a generated RMAT binary") {
    val (bin, es) = rmatBin
    assert(es.size == 4096)
    prDegTc(bin, numEdges = es.size, triangles = ReferenceOracle.triangles(es))
  }

  test("bfs/cc/sssp over a text edge list with comments") {
    val dir = Files.createTempDirectory("graft-apps").toString
    Files.writeString(java.nio.file.Paths.get(dir, "g.txt"),
      """# path graph 0-1-2-3 plus isolated pair 8-9
        |0 1
        |1 2 2
        |2 3
        |8 9
        |""".stripMargin)
    val bfs = Apps.run(spark, "bfs", s"$dir/g.txt", iters = 0, root = 0, parts, weighted = false)
    assert(bfs.reachable.contains(4L) && bfs.checksum == 0 + 1 + 2 + 3)
    val cc = Apps.run(spark, "cc", s"$dir/g.txt", iters = 0, root = 0, parts, weighted = false)
    assert(cc.reachable.contains(6L)) // 6 vertices labeled
    assert(cc.checksum == 0 * 4 + 8 * 2) // min-label: {0,1,2,3}->0, {8,9}->8
    val sp = Apps.run(spark, "sssp", s"$dir/g.txt", iters = 0, root = 0, parts, weighted = false)
    // directed distances from 0: 0, 1, 3 (w=2 hop), 4
    assert(sp.reachable.contains(4L) && sp.checksum == 0 + 1 + 3 + 4)
  }

  private def kernelParity(bin: String, numEdges: Long): Unit = {
    // same assertions as the engine-path tests above — the kernel path
    // must be a checksum-for-checksum drop-in (VertexProgram contract
    // on compiled tiles, graph/SpmvKernel)
    val pr = Apps.run(spark, "pr", bin, iters = 5, root = 0, parts,
      weighted = false, kernel = true)
    val prEngine = Apps.run(spark, "pr", bin, iters = 5, root = 0, parts,
      weighted = false)
    assert(pr.iterations == 5 && math.abs(pr.checksum - prEngine.checksum) <= 1e-9)
    // same top-5 vertices; values agree to 1e-9 (the two paths sum
    // contributions in different orders, so last-ulp drift is expected)
    assert(pr.top.map(_._1) == prEngine.top.map(_._1))
    pr.top.zip(prEngine.top).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) <= 1e-9)
    }
    val deg = Apps.run(spark, "deg", bin, iters = 0, root = 0, parts,
      weighted = false, kernel = true)
    assert(deg.checksum == numEdges.toDouble) // Σ out-degree = E, same as the engine row

    // cache=<dir>: a second run of the same app loads the tile cache
    // instead of recompiling and must be checksum-identical; a second
    // APP on the same cache root must not collide (per-variant subdirs)
    val kc = Files.createTempDirectory("graft-apps-kcache").toString
    val prC1 = Apps.run(spark, "pr", bin, iters = 5, root = 0, parts,
      weighted = false, kernel = true, cache = Some(kc))
    val prC2 = Apps.run(spark, "pr", bin, iters = 5, root = 0, parts,
      weighted = false, kernel = true, cache = Some(kc))
    assert(prC1.checksum == prC2.checksum && prC1.checksum == pr.checksum)
    val ccC = Apps.run(spark, "cc", bin, iters = 0, root = 0, parts,
      weighted = false, kernel = true, cache = Some(kc))
    val ccPlain = Apps.run(spark, "cc", bin, iters = 0, root = 0, parts,
      weighted = false, kernel = true)
    assert(ccC.checksum == ccPlain.checksum && ccC.reachable == ccPlain.reachable)

    val dir = Files.createTempDirectory("graft-apps-kernel").toString
    Files.writeString(java.nio.file.Paths.get(dir, "g.txt"),
      """0 1
        |1 2 2
        |2 3
        |8 9
        |""".stripMargin)
    val bfs = Apps.run(spark, "bfs", s"$dir/g.txt", iters = 0, root = 0, parts,
      weighted = false, kernel = true)
    assert(bfs.reachable.contains(4L) && bfs.checksum == 0 + 1 + 2 + 3)
    val cc = Apps.run(spark, "cc", s"$dir/g.txt", iters = 0, root = 0, parts,
      weighted = false, kernel = true)
    assert(cc.reachable.contains(6L) && cc.checksum == 0 * 4 + 8 * 2)
    val sp = Apps.run(spark, "sssp", s"$dir/g.txt", iters = 0, root = 0, parts,
      weighted = false, kernel = true)
    assert(sp.reachable.contains(4L) && sp.checksum == 0 + 1 + 3 + 4)

    // lpa: the undirected path 0-1-2-3 plus pair 8-9; both paths must
    // agree checksum-for-checksum and in distinct-label count
    val lpaK = Apps.run(spark, "lpa", s"$dir/g.txt", iters = 5, root = 0, parts,
      weighted = false, kernel = true)
    val lpaE = Apps.run(spark, "lpa", s"$dir/g.txt", iters = 5, root = 0, parts,
      weighted = false)
    assert(lpaK.checksum == lpaE.checksum && lpaK.reachable == lpaE.reachable
      && lpaK.iterations == lpaE.iterations)
  }

  test("kernel=true routes every app through the compiled path with unchanged checksums") {
    assume(Files.exists(java.nio.file.Paths.get(sampleBin)))
    kernelParity(sampleBin, numEdges = 16384)
  }

  test("kernel=true parity with the engine over a generated RMAT binary") {
    val (bin, es) = rmatBin
    kernelParity(bin, numEdges = es.size)
  }
}
