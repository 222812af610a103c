package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.graph._
import graft.algos._
import graft.ckpt.CheckpointManager

class CheckpointSpec extends SparkTestBase {

  private def ranks(r: RunResult): Map[Long, Double] =
    r.state.select("vid", "rank").collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap

  /** Spark jobs started from Checkpoint.scala while `body` runs. A
    * sentinel job in its own group ends the count: the listener bus
    * delivers in order, so once the sentinel's start is seen every
    * earlier job's start has been counted. */
  private def checkpointJobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val sentinel = "checkpoint-spec-sentinel"
    val n = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == sentinel))
          drained.countDown()
        else if (e.stageInfos.exists(_.name.contains("Checkpoint.scala")))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(sentinel, "listener drain", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      n.get
    } finally sc.removeSparkListener(listener)
  }

  private def snapshotDirs(dir: String): Seq[String] = {
    val listing = Files.list(Paths.get(dir))
    try listing.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("iter=")).toSeq.sorted
    finally listing.close()
  }

  /** (relative path, size, mtime) of every file under `p`. */
  private def fileStamps(p: Path): Set[(String, Long, Long)] = {
    val walk = Files.walk(p)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => (p.relativize(f).toString, Files.size(f),
        Files.getLastModifiedTime(f).toMillis)).toSet
    finally walk.close()
  }

  test("a snapshot whose iteration ends the run is written exactly once") {
    // kernel LPA, every = 3, last superstep on the cadence: one write
    // job at 3 and one at 6 — no end-of-run rewrite of iter=00006. On
    // a 40-vertex path the labels are still moving at superstep 6.
    val es = (0L until 39L).map(i => (i, i + 1))
    val lpaDir = Files.createTempDirectory("graft-ckpt-once-lpa").toString
    val lpaMgr = new CheckpointManager(lpaDir, every = 3)
    var lpaIters = -1
    val lpaJobs = checkpointJobs {
      lpaIters = LabelPropagation.runKernel(edgesDF(es), parts, maxIters = 6,
        ckpt = Some(lpaMgr)).iterations
    }
    assert(lpaIters == 6)
    assert(snapshotDirs(lpaDir) == Seq("iter=00003", "iter=00006"))
    assert(lpaJobs == 2, s"expected one write job per snapshot, saw $lpaJobs jobs")

    // engine PageRank, maxIters = 4, every = 2
    val adj = Adjacency.build(edgesDF(randomEdges(50, 200, seed = 53)), parts)
    val prDir = Files.createTempDirectory("graft-ckpt-once-pr").toString
    val prMgr = new CheckpointManager(prDir, every = 2)
    val prJobs = checkpointJobs(PageRank.run(adj, maxIters = 4, ckpt = Some(prMgr)))
    adj.unpersist()
    assert(snapshotDirs(prDir) == Seq("iter=00002", "iter=00004"))
    assert(prJobs == 2, s"expected one write job per snapshot, saw $prJobs jobs")
  }

  test("latestIter skips uncommitted snapshots; a torn snapshot fails the resume by name") {
    val es = randomEdges(50, 200, seed = 59)
    val adj = Adjacency.build(edgesDF(es), parts)
    val dir = Files.createTempDirectory("graft-ckpt-torn").toString
    val mgr = new CheckpointManager(dir, every = 1)
    PageRank.run(adj, maxIters = 2, ckpt = Some(mgr))
    assert(mgr.latestIter().contains(2))
    val two = Paths.get(dir, "iter=00002")
    val manifest = Files.readString(two.resolve("manifest.json"))

    // a save that died after writing state/, and one that died before
    // its temporary manifest was moved into place
    def copyTree(from: Path, to: Path): Unit = {
      Files.createDirectories(to.getParent)
      val walk = Files.walk(from)
      try walk.iterator().asScala.foreach(f =>
        Files.copy(f, to.resolve(from.relativize(f).toString)))
      finally walk.close()
    }
    copyTree(two.resolve("state"), Paths.get(dir, "iter=00003", "state"))
    Files.createDirectories(Paths.get(dir, "iter=00004"))
    Files.writeString(Paths.get(dir, "iter=00004", "manifest.json.tmp"), manifest)
    assert(mgr.latestIter().contains(2))

    // a manifest whose row count disagrees with the files it points to
    val rows = """"rows":(\d+),"partitions"""".r
    val n = rows.findFirstMatchIn(manifest).get.group(1).toLong
    Files.writeString(two.resolve("manifest.json"),
      rows.replaceFirstIn(manifest, s""""rows":${n + 1},"partitions""""))
    val e = intercept[IllegalArgumentException] {
      PageRank.run(adj, maxIters = 4, ckpt = Some(mgr))
    }
    assert(e.getMessage.contains(two.toString), s"snapshot not named: ${e.getMessage}")
    adj.unpersist()
  }

  test("resume from mid-run checkpoint reproduces the uninterrupted run") {
    val es = randomEdges(120, 700, seed = 51)
    val adj = Adjacency.build(edgesDF(es), parts)

    // uninterrupted: 14 supersteps
    val straight = ranks(PageRank.run(adj, maxIters = 14))

    // interrupted: run 7, then a NEW engine run resumes from the
    // snapshot and finishes the remaining budget
    val dir = Files.createTempDirectory("graft-ckpt").toString
    val mgr = new CheckpointManager(dir, every = 7)
    PageRank.run(adj, maxIters = 7, ckpt = Some(mgr))
    val resumed = ranks(PageRank.run(adj, maxIters = 14, ckpt = Some(mgr)))

    assert(straight.keySet == resumed.keySet)
    straight.foreach { case (v, x) =>
      assert(math.abs(x - resumed(v)) <= 1e-9, s"vid=$v straight=$x resumed=${resumed(v)}")
    }
    adj.unpersist()
  }

  test("manifest carries iteration, per-partition lineage and metrics") {
    val es = randomEdges(50, 200, seed = 53)
    val adj = Adjacency.build(edgesDF(es), parts)
    val dir = Files.createTempDirectory("graft-ckpt2").toString
    val mgr = new CheckpointManager(dir, every = 2)
    PageRank.run(adj, maxIters = 4, ckpt = Some(mgr))
    assert(mgr.latestIter().contains(4))
    val manifest = Files.readString(
      java.nio.file.Paths.get(dir, "iter=00004", "manifest.json"))
    assert(manifest.contains("\"iteration\":4"))
    assert(manifest.contains("\"partitions\":[{"))
    assert(manifest.contains("\"metrics\":[{"))
    assert(manifest.contains("\"snapshotId\""))
    // intermediate snapshot exists too
    assert(Files.exists(java.nio.file.Paths.get(dir, "iter=00002", "manifest.json")))
    adj.unpersist()
  }

  test("LPA resumes from a mid-run snapshot with identical final labels") {
    val es = randomEdges(120, 500, seed = 61)
    val straight = LabelPropagation.run(edgesDF(es), parts, maxIters = 6)
      .state.select("vid", "label").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet

    // "killed" after 3 supersteps (snapshot every 3), then a fresh run
    // resumes at iter=3 and finishes the same 6-superstep budget
    val dir = Files.createTempDirectory("graft-ckpt-lpa").toString
    val mgr = new CheckpointManager(dir, every = 3)
    LabelPropagation.run(edgesDF(es), parts, maxIters = 3, ckpt = Some(mgr))
    assert(mgr.latestIter().contains(3))
    val resumed = LabelPropagation.run(edgesDF(es), parts, maxIters = 6, ckpt = Some(mgr))
      .state.select("vid", "label").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(resumed == straight, "LPA resume diverged from the uninterrupted run")
  }

  test("SpmvKernel resumes from a snapshot bit-identically to the straight run") {
    val es = randomEdges(150, 900, seed = 63)
    val g = SpmvKernel.compile(edgesDF(es), parts)
    def ranksOf(r: SpmvKernel.KernelResult): Map[Long, Double] =
      r.state.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap

    val straight = ranksOf(g.pagerank(maxIters = 12))

    val dir = Files.createTempDirectory("graft-ckpt-kernel").toString
    val mgr = new CheckpointManager(dir, every = 6)
    g.pagerank(maxIters = 6, ckpt = Some(mgr))
    assert(mgr.latestIter().contains(6))
    val resumed = ranksOf(g.pagerank(maxIters = 12, ckpt = Some(mgr)))
    g.unpersist()
    // deterministic tiles + sorted fold order → resume must be EXACT
    assert(resumed == straight, "kernel resume diverged from the uninterrupted run")
  }

  test("kernel resume from a kill at a NON-multiple of `every` replays the window deterministically") {
    val es = randomEdges(150, 900, seed = 67)
    val g = SpmvKernel.compile(edgesDF(es), parts)
    def ranksOf(r: SpmvKernel.KernelResult): Map[Long, Double] =
      r.state.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap

    val straight = ranksOf(g.pagerank(maxIters = 10))

    // run 7 supersteps with every=5: snapshots land at 5 and (final) 7.
    // Simulate a kill BEFORE the final save by deleting iter=00007 —
    // the latest complete snapshot is then 5, mid-window — and resume:
    // the loop must replay 6..10 and land bit-identically.
    val dir = Files.createTempDirectory("graft-ckpt-cadence").toString
    val mgr = new CheckpointManager(dir, every = 5)
    g.pagerank(maxIters = 7, ckpt = Some(mgr))
    assert(mgr.latestIter().contains(7))
    def deleteRec(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p)) Files.list(p).forEach(deleteRec(_))
      Files.delete(p)
    }
    deleteRec(java.nio.file.Paths.get(dir, "iter=00007"))
    assert(mgr.latestIter().contains(5))
    val resumed = ranksOf(g.pagerank(maxIters = 10, ckpt = Some(mgr)))
    g.unpersist()
    assert(resumed == straight, "mid-window resume diverged from the uninterrupted run")
  }

  test("kernel frontier resume: CC restores the changed bitset from the snapshot") {
    val es = randomEdges(250, 700, seed = 71)
    val und = GraphShaping.shape(edgesDF(es),
      EdgeShaping(directed = false, parallelEdges = false)).select("src", "dst")
    val g = SpmvKernel.compile(und, parts)
    def labelsOf(r: SpmvKernel.KernelResult): Set[(Long, Long)] =
      r.state.select("vid", "label").collect()
        .map(x => (x.getLong(0), x.getDouble(1).toLong)).toSet

    val straight = labelsOf(g.run(new CcKernelProgram, maxIters = 0))

    // "kill" after 2 supersteps (mid-propagation: the frontier is
    // partial, so a resume that lost the changed bits would either
    // stop early or over-message), then resume to the fixpoint
    val dir = Files.createTempDirectory("graft-ckpt-cc-kernel").toString
    val mgr = new CheckpointManager(dir, every = 2)
    g.run(new CcKernelProgram, maxIters = 2, ckpt = Some(mgr))
    assert(mgr.latestIter().contains(2))
    val resumed = labelsOf(g.run(new CcKernelProgram, maxIters = 0, ckpt = Some(mgr)))
    g.unpersist()
    assert(resumed == straight, "frontier resume diverged from the uninterrupted run")
  }

  test("kernel LPA resumes from a mid-run snapshot with identical final labels") {
    val es = randomEdges(150, 600, seed = 73)
    def labelsOf(r: RunResult): Set[(Long, Long)] =
      r.state.select("vid", "label").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet

    val straight = labelsOf(LabelPropagation.runKernel(edgesDF(es), parts, maxIters = 6))

    // "killed" after 3 supersteps, then a fresh compile+run resumes at
    // iter=3 (the non-scalar label state rides the same stateFromDF
    // re-slot path) and finishes the same 6-superstep budget
    val dir = Files.createTempDirectory("graft-ckpt-lpa-kernel").toString
    val mgr = new CheckpointManager(dir, every = 3)
    LabelPropagation.runKernel(edgesDF(es), parts, maxIters = 3, ckpt = Some(mgr))
    assert(mgr.latestIter().contains(3))
    val resumed = labelsOf(LabelPropagation.runKernel(edgesDF(es), parts, maxIters = 6, ckpt = Some(mgr)))
    assert(resumed == straight, "kernel LPA resume diverged from the uninterrupted run")
  }

  test("resuming a kernel run from a DIFFERENT graph's snapshot fails fast, not hangs") {
    val gA = SpmvKernel.compile(edgesDF(Seq((0L, 1L), (1L, 2L), (2L, 0L))), parts)
    val gB = SpmvKernel.compile(edgesDF(Seq((1000L, 1001L), (1001L, 1000L))), parts)
    val dir = Files.createTempDirectory("graft-ckpt-mismatch").toString
    val mgr = new CheckpointManager(dir, every = 1)
    gB.pagerank(maxIters = 2, ckpt = Some(mgr))
    val e = intercept[Exception] {
      gA.pagerank(maxIters = 4, ckpt = Some(mgr))
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("not present in the compiled graph")),
      s"expected the bounded-probe diagnostic, got: ${messages(e).mkString(" | ")}")
    gA.unpersist(); gB.unpersist()
  }

  test("resuming a kernel run from a DIFFERENT ALGORITHM's snapshot fails fast") {
    val es = randomEdges(60, 200, seed = 79)
    val dir = Files.createTempDirectory("graft-ckpt-algo").toString
    val mgr = new CheckpointManager(dir, every = 1)
    // engine LPA writes long-typed labels under algo "lpa"; a kernel
    // LPA resume (algo "lpa-kernel") from it would reinterpret the
    // columns — it must be rejected at load, not silently mis-read
    LabelPropagation.run(edgesDF(es), parts, maxIters = 2, ckpt = Some(mgr))
    val e = intercept[IllegalArgumentException] {
      LabelPropagation.runKernel(edgesDF(es), parts, maxIters = 4, ckpt = Some(mgr))
    }
    assert(e.getMessage.contains("written by algorithm 'lpa'"),
      s"expected the algo-mismatch diagnostic, got: ${e.getMessage}")
  }

  test("exact-state algorithms resume bit-identically (CC)") {
    val es = randomEdges(200, 400, seed = 57)
    val straight = ConnectedComponents.run(edgesDF(es), parts)
      .state.select("vid", "label").collect().map(x => (x.getLong(0), x.getLong(1))).toSet

    val dir = Files.createTempDirectory("graft-ckpt3").toString
    val mgr = new CheckpointManager(dir, every = 1)
    // first run to fixpoint with snapshots, then "resume" — must be a no-op
    val und = GraphShaping.shape(edgesDF(es), EdgeShaping(directed = false, parallelEdges = false))
    val adj = Adjacency.build(und, parts)
    Engine.run(adj, new MinLabelProgram("cc"), RunConfig(maxIters = 0, ckpt = Some(mgr)))
    val latest = Paths.get(dir, f"iter=${mgr.latestIter().get}%05d")
    val before = fileStamps(latest)
    val resumed = Engine.run(adj, new MinLabelProgram("cc"), RunConfig(maxIters = 0, ckpt = Some(mgr)))
      .state.select("vid", "label").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(resumed == straight)
    // the no-op resume leaves the snapshot it resumed from untouched
    assert(fileStamps(latest) == before)
    adj.unpersist()
  }
}
