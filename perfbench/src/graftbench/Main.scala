package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.ckpt.CheckpointManager
import graft.graph.{CcKernelProgram, CompiledGraphCache, EdgeShaping, Engine, GraphShaping, SpmvKernel}
import graft.ingest.{EdgeExtraction, RepoCorpus}

/** JVM side of the benchmark: one process runs one workload and writes
  * one JSON record (metric values plus the outputs `run.py` checks).
  *
  * Every layer is timed from outside the library: the benchmark wraps
  * its calls into public functions in spans, and a SparkListener of its
  * own turns the jobs those calls launch into child spans. Library code
  * is not changed or configured for measurement.
  *
  * Workloads (closed loop: one client, one job at a time):
  *  - `prepare`  generate the seeded repo-link table, park it, warm the
  *               undirected tile cache `labels` loads
  *  - `pagerank` compile on an emptied cache, then kernel PageRank to
  *               |Δrank| ≤ 1e-6, repeated
  *  - `pr1`      one core: load the P=4 tiles, 10 fixed supersteps
  *  - `labels`   cache load, then CC to fixpoint and LPA with snapshots
  *  - `sweep`    the SparkEntry queries: a first pass, then timed passes
  */
object Main {
  /** Kernel tile count. Fixed, so the one-core child loads the same
    * tiles the four-core run compiled. */
  val Parts = 4
  /** Supersteps of the fixed-budget runs (`pr1`, LPA) and the LPA
    * snapshot cadence. */
  val FixedIters = 10
  val CkptEvery = 3

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }

  def parse(a: Array[String]): Args =
    Args(a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val args = parse(argv)
    val workload = args("workload")
    if (workload == "train") return train(args)
    val b = new Bench(args)
    try workload match {
      case "prepare" => b.prepare()
      case "pagerank" => b.pagerank()
      case "pr1" => b.pr1()
      case "labels" => b.labels()
      case "sweep" => b.sweep()
      case w => sys.error(s"unknown workload $w")
    } finally b.finish()
  }

  /** The build's training run for the class-data-sharing archive: a
    * tiny version of every workload in one JVM, so the classes they
    * load are in the archive the measured JVMs map. */
  def train(args: Args): Unit = {
    val t = args("tmp")
    val data = s"$t/data"
    def run(w: String, extra: (String, String)*)(body: Bench => Unit): Unit = {
      val b = new Bench(Args(Map("workload" -> w, "seed" -> "1", "seconds" -> "0",
        "trace" -> "0", "cores" -> args("cores"), "setup-reps" -> "2", "solve-reps" -> "1", "tmp" -> s"$t/tmp",
        "out" -> s"$t/$w.json", "spans" -> s"$t/$w.spans.jsonl",
        "ckpt" -> s"$t/ckpt", "data" -> data) ++ extra))
      try body(b) finally b.finish()
    }
    run("prepare", "repos" -> "500", "cache" -> s"$data/und-tiles")(_.prepare())
    run("pagerank", "cache" -> s"$t/tiles")(_.pagerank())
    run("labels", "cache" -> s"$data/und-tiles")(_.labels())
    args.m.get("sf").foreach { sf =>
      run("sweep", "data" -> sf, "results" -> s"$t/results", "queries" -> args("queries"),
        "solve-reps" -> "0")(_.sweep())
    }
  }
}

final class Bench(args: Main.Args) {
  import Main._

  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val workload = args("workload")
  private val traced = args("trace") == "1"
  private val seconds = args.int("seconds")
  private val setupReps = args.int("setup-reps")
  private val solveReps = args.int("solve-reps")
  private val cores = args.int("cores")
  private val tracer = new Tracer(s"$workload-${args("seed")}-${jvmStartMs}")
  private val listener = new JobListener
  private val values = LinkedHashMap.empty[String, Any]
  private val checks = ArrayBuffer.empty[Map[String, Any]]
  private val extra = LinkedHashMap.empty[String, Any]

  // ---- session ----------------------------------------------------------

  private val kernelConf = Seq(
    // the kernel paths' local-mode settings (tools.ScalingProbe)
    "spark.sql.adaptive.enabled" -> "true",
    "spark.shuffle.compress" -> "false",
    "spark.shuffle.spill.compress" -> "false",
    "spark.sql.inMemoryColumnarStorage.compressed" -> "false",
    "spark.sql.inMemoryColumnarStorage.batchSize" -> "65536",
    "spark.sql.codegen.aggregate.map.vectorized.enable" -> "true",
    "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer",
    "spark.shuffle.sort.bypassMergeThreshold" -> "1")
  private val sweepConf = Seq(
    // the query sweep's session (graft.Bench)
    "spark.sql.adaptive.enabled" -> "true",
    "spark.shuffle.compress" -> "false",
    "spark.shuffle.spill.compress" -> "false",
    "spark.sql.inMemoryColumnarStorage.compressed" -> "false",
    "spark.sql.inMemoryColumnarStorage.batchSize" -> "65536",
    "spark.sql.codegen.aggregate.map.vectorized.enable" -> "true")

  private var session: SparkSession = null

  /** The session, started on first use. */
  def spark: SparkSession = {
    if (session == null) session = newSession()
    session
  }

  private def newSession(): SparkSession = {
    val conf = if (workload == "sweep") sweepConf else kernelConf
    val s = conf.foldLeft(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", args("tmp"))
      .config("spark.sql.warehouse.dir", s"${args("tmp")}/warehouse")) {
      case (bld, (k, v)) => bld.config(k, v)
    }.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** JVM start to a usable session, once per JVM: a per-layer number,
    * kept out of setup_s, which is a median over repeated set-ups. */
  private def startSession(): Unit = {
    spark
    val now = System.currentTimeMillis()
    if (traced) tracer.add(-1, "spark.session", jvmStartMs, now)
    values("spark.session_s") = (now - jvmStartMs) / 1000.0
  }

  // ---- tracing helpers ---------------------------------------------------

  /** Runs `body` traced (listener attached, spans recorded) or not. */
  private def withTrace[T](on: Boolean)(body: => T): T = {
    tracer.on = on
    if (on) spark.sparkContext.addSparkListener(listener)
    val t0 = System.currentTimeMillis()
    try body
    finally if (on) {
      org.apache.spark.graftbench.BusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      attachJobs()
    } else if (traced) {
      // the untraced repetitions of a traced run still show in the trace
      tracer.add(-1, "bench.untraced", t0, System.currentTimeMillis())
    }
  }

  private val attached = scala.collection.mutable.Set.empty[Int]

  /** Turn the jobs seen since the last call into spans: each job
    * becomes a child of the innermost benchmark span that was open when
    * it started, superstep jobs get gather/apply stage children. */
  private def attachJobs(): Unit = {
    val fresh = listener.jobs.values.filterNot(j => attached(j.id)).toSeq.sortBy(_.id)
    val own = tracer.spans.toSeq
    fresh.foreach { j =>
      attached += j.id
      val holder = own.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .sortBy(s => (s.ms, -s.id)).headOption
      val parentName = holder.map(_.name).getOrElse("")
      val name =
        if (j.superstep) (if (j.kernel) "kernel.superstep" else "engine.superstep")
        else if (j.site.contains("CompiledGraphCache"))
          (if (j.site.startsWith("fold")) "graph.cache_save" else "graph.cache_load")
        else if (j.site.contains("Checkpoint.scala")) "ckpt.write"
        else if (j.kernel && parentName == "graph.setup") "graph.compile"
        else if (j.kernel) "kernel.job"
        else "spark.job"
      val js = tracer.add(holder.map(_.id).getOrElse(-1), name, j.startMs, j.endMs)
      if (j.superstep) listener.stagesOf(j).foreach { st =>
        tracer.add(js.id, if (st.id == j.resultStage) s"${name}.apply" else s"${name}.gather",
          st.submitMs, st.doneMs)
      }
    }
  }

  // ---- files --------------------------------------------------------------

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.delete)
      finally s.close()
    }

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def medianOf(xs: Seq[Double]) = Stats.median(xs)

  /** Keep repeating `rep` until `seconds` have passed and at least `min`
    * repetitions ran. */
  private def loop(min: Int)(rep: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < seconds) { rep(i); i += 1 }
  }

  private def edgesPath = s"${args("data")}/edges.parquet"

  private def readEdges(): DataFrame =
    withTrace(traced)(tracer.span("ingest.read")(spark.read.parquet(edgesPath)))

  private def undirected(edges: DataFrame): DataFrame =
    GraphShaping.shape(edges,
      EdgeShaping(selfLoops = false, directed = false, parallelEdges = false))
      .select("src", "dst")

  // ---- workloads --------------------------------------------------------------

  def prepare(): Unit = {
    startSession()
    val repos = args("repos").toLong
    val tmp = Paths.get(s"$edgesPath.tmp")
    deleteTree(tmp)
    val (_, genS) = timed {
      val corpus = RepoCorpus.generate(spark,
        RepoCorpus.Config(nRepos = repos, filesPerRepo = 4, seed = args("seed").toLong))
      EdgeExtraction.ingest(corpus)._1.select("src", "dst", "w")
        .write.parquet(tmp.toString)
    }
    Files.move(tmp, Paths.get(edgesPath))
    val cache = Paths.get(args("cache"))
    deleteTree(cache)
    CompiledGraphCache.compileOrLoad(undirected(spark.read.parquet(edgesPath)), Parts,
      cache.toString, variant = "und")
    extra("ingest.gen_s") = genS
  }

  /** The kernel superstep layer of the traced calls named `span`. */
  private def kernelLayer(key: String, span: String,
                          walls: Seq[Seq[Long]]): Unit = {
    val calls = tracer.spans.filter(_.name == span).sortBy(_.startMs)
    val steps = ArrayBuffer.empty[(Double, Double, Double, Double, Double)]
    var gc = 0L; var spill = 0L; var shuffle = 0L; var nSteps = 0
    calls.zip(walls).foreach { case (call, iterWalls) =>
      val jobs = listener.jobsIn(call.startMs, call.endMs).filter(j => j.superstep && j.kernel)
      jobs.zip(iterWalls).foreach { case (j, wall) =>
        val st = listener.stagesOf(j)
        val apply = st.filter(_.id == j.resultStage)
        val gather = st.filterNot(_.id == j.resultStage)
        val g = gather.map(_.ms).sum.toDouble
        val a = apply.map(_.ms).sum.toDouble
        steps += ((wall.toDouble, g, a, math.max(0.0, wall - g - a), st.map(_.cpuMs).sum))
        gc += st.map(_.gcMs).sum; spill += st.map(_.spillB).sum
        shuffle += st.map(_.shuffleWriteB).sum; nSteps += 1
      }
    }
    val n = math.max(1, calls.size)
    values ++= Seq(
      s"kernel.$key.superstep_ms.p50" -> Stats.quantile(steps.map(_._1).toSeq, 0.5),
      s"kernel.$key.superstep_ms.p90" -> Stats.quantile(steps.map(_._1).toSeq, 0.9),
      s"kernel.$key.gather_ms" -> medianOf(steps.map(_._2).toSeq),
      s"kernel.$key.apply_ms" -> medianOf(steps.map(_._3).toSeq),
      s"kernel.$key.barrier_ms.p50" -> medianOf(steps.map(_._4).toSeq),
      s"kernel.$key.cpu_ms" -> medianOf(steps.map(_._5).toSeq),
      s"kernel.$key.gc_ms" -> gc.toDouble / n,
      s"kernel.$key.spill_mb" -> spill / 1e6 / n,
      s"kernel.$key.shuffle_mb_per_step" -> (if (nSteps == 0) 0.0 else shuffle / 1e6 / nSteps))
  }

  /** Exchange volume bound of the compiled graph, in MB per superstep. */
  private def exchangeBound(key: String, g: SpmvKernel.CompiledGraph): Unit = {
    val doubles = tracer.span("graph.exchange_bound")(g.exchangeDoubles)
    values(s"kernel.$key.exchange_bound_mb") = doubles * 8 / 1e6
    checks += Map("op" -> s"exchange_bound.$key", "exchange_doubles" -> doubles,
      "edges" -> g.numEdges, "vertices" -> g.numVertices, "parts" -> g.parts)
  }

  /** Setup repetitions: `body` builds the graph; all but the last graph
    * are released. Returns the last graph and the median seconds. */
  private def setup(body: => SpmvKernel.CompiledGraph): (SpmvKernel.CompiledGraph, Double) = {
    var g: SpmvKernel.CompiledGraph = null
    val times = (1 to setupReps).map { _ =>
      if (g != null) g.unpersist()
      val (ng, s) = timed(tracer.span("graph.setup")(body))
      g = ng
      s
    }
    extra("setup_reps_s") = times
    (g, medianOf(times))
  }

  def pagerank(): Unit = {
    startSession()
    val edges = readEdges()
    val cache = Paths.get(args("cache"))
    val (g, setupS) = withTrace(traced) {
      setup {
        deleteTree(cache)
        CompiledGraphCache.compileOrLoad(edges, Parts, cache.toString)
      }
    }
    values("setup_s") = setupS
    retainedHeap()
    val solves = ArrayBuffer.empty[(Double, Boolean)]
    val walls = ArrayBuffer.empty[Seq[Long]]
    val stepMs = ArrayBuffer.empty[Double]
    loop(min = solveReps) { i =>
      val on = tracedRep(i)
      val (_, s) = timed(withTrace(on) {
        val r = tracer.span("kernel.pr")(g.pagerank(maxIters = 0, tol = 1e-6))
        val top = tracer.span("bench.check") {
          r.state.orderBy(desc("rank"), asc("vid")).limit(5).collect().map(_.getLong(0)).toSeq
        }
        Engine.release(r.state)
        checks += Map("op" -> s"pagerank#$i", "iters" -> r.iterations,
          "checksum" -> r.checksum, "top5" -> top)
        if (on) walls += r.metrics.map(_.wallMs)
        stepMs ++= r.metrics.map(_.wallMs.toDouble)
        if (i == 0) values("graph.first_superstep_ms") = r.metrics.head.wallMs.toDouble
        values("pr_iters") = r.iterations
      })
      solves += ((s, on))
    }
    recordSolves(solves.toSeq)
    retainedHeap()
    val stepMid = Stats.midMean(stepMs.toSeq)
    values("kernel.pr.superstep_midmean_ms") = stepMid
    values("superstep_edges_per_s") = g.numEdges / (stepMid / 1000.0)
    if (traced) withTrace(on = true) {
      kernelLayer("pr", "kernel.pr", walls.toSeq)
      exchangeBound("pr", g)
      layerCounts()
    }
  }

  /** Whether solve repetition `i` of a traced run is traced: the first,
    * then the warm ones in the order untraced, traced, traced, untraced,
    * repeated. A steady warm-up trend then cancels out of the ratio of
    * the traced and untraced medians, the tracing overhead. */
  private def tracedRep(i: Int): Boolean =
    traced && (i == 0 || (i - 1) % 4 == 1 || (i - 1) % 4 == 2)

  /** The repetitions that give solve_s: the last three. The JIT keeps
    * speeding the loop up for several repetitions, and a run makes a
    * fixed number of them (`--solve-reps`) within `--seconds`, so fixed
    * positions compare like with like from run to run. */
  private def measured[T](warm: Seq[T]): Seq[T] = warm.takeRight(3)

  /** first_pass_s is the first solve, solve_s the median of the measured
    * repetitions. In a traced run only the untraced ones give solve_s. */
  private def recordSolves(solves: Seq[(Double, Boolean)]): Unit = {
    values("first_pass_s") = solves.head._1
    val warm = solves.tail
    val plain = warm.filterNot(_._2).map(_._1)
    values("solve_s") = medianOf(measured(plain))
    val tr = warm.filter(_._2).map(_._1)
    if (traced && tr.nonEmpty && plain.nonEmpty)
      values("trace.overhead_frac") = medianOf(tr) / medianOf(plain) - 1.0
    extra("solve_reps_s") = solves.map(_._1)
  }

  /** Compile/cache-layer counts from the traced setup spans. */
  private def layerCounts(): Unit = {
    val setups = tracer.spans.filter(_.name == "graph.setup")
    def under(name: String) = setups.flatMap(tracer.children).filter(_.name == name).toSeq
    def perSetup(xs: Seq[Span]) = xs.map(_.ms).sum / 1000.0 / math.max(1, setups.size)
    val compileJobs = setups.flatMap(s => listener.jobsIn(s.startMs, s.endMs))
      .filter(j => !j.site.contains("CompiledGraphCache"))
    val save = under("graph.cache_save")
    val load = under("graph.cache_load")
    val setupS = setups.map(_.ms).sum / 1000.0 / math.max(1, setups.size)
    val compileS = if (compileJobs.isEmpty) 0.0 else setupS - perSetup(save) - perSetup(load)
    values ++= Seq(
      "graph.compile_s" -> compileS,
      "graph.compile.jobs" -> compileJobs.size.toDouble / math.max(1, setups.size),
      "graph.compile.shuffle_mb" ->
        compileJobs.flatMap(listener.stagesOf).map(_.shuffleWriteB).sum / 1e6 / math.max(1, setups.size),
      "graph.compile.spill_mb" ->
        compileJobs.flatMap(listener.stagesOf).map(_.spillB).sum / 1e6 / math.max(1, setups.size),
      "graph.cache_save_s" -> perSetup(save),
      "graph.cache_load_s" -> perSetup(load))
  }

  def pr1(): Unit = {
    startSession()
    val edges = readEdges()
    val fp = CompiledGraphCache.fingerprint(edges, Parts)
    val (loaded, loadS) = timed(withTrace(traced)(tracer.span("graph.setup") {
      CompiledGraphCache.load(spark, args("cache"), fp)
    }))
    val g = loaded.getOrElse(sys.error(s"no tile cache for this table at ${args("cache")}"))
    values("setup_s") = loadS
    val (r, s) = timed(withTrace(traced)(tracer.span("kernel.pr")(g.pagerank(maxIters = FixedIters))))
    checks += Map("op" -> "pagerank_1core", "iters" -> r.iterations, "checksum" -> r.checksum)
    values("kernel.pr1.superstep_ms.p50") = medianOf(r.metrics.map(_.wallMs.toDouble))
    values("kernel.pr1.superstep_midmean_ms") = Stats.midMean(r.metrics.map(_.wallMs.toDouble))
    values("solve_s") = s
  }

  /** Distinct labels of a result, counted on the driver: one scan, no
    * shuffle, so the check adds little to solve_s. */
  private def distinctLabels(state: DataFrame): Long =
    state.select("label").collect().map(_.get(0)).distinct.length.toLong

  def labels(): Unit = {
    startSession()
    val edges = readEdges()
    val und = undirected(edges)
    val cache = Paths.get(args("cache"))
    val manifest = cache.resolve("_manifest.json")
    def stamp = if (Files.exists(manifest)) Files.getLastModifiedTime(manifest).toMillis else -1L
    val before = stamp
    val (g, setupS) = withTrace(traced) {
      setup(CompiledGraphCache.compileOrLoad(und, Parts, cache.toString, variant = "und"))
    }
    val hit = before >= 0 && stamp == before
    values("setup_s") = setupS
    values("graph.cache_hit") = if (hit) 1 else 0
    retainedHeap()
    checks += Map("op" -> "cache_hit", "hit" -> hit)
    val ckptDir = Paths.get(args("ckpt"))
    val solves = ArrayBuffer.empty[(Double, Boolean)]
    val parts = ArrayBuffer.empty[(Double, Double, Boolean)]
    val ccWalls = ArrayBuffer.empty[Seq[Long]]; val lpaWalls = ArrayBuffer.empty[Seq[Long]]
    val stepMs = ArrayBuffer.empty[Double]
    loop(min = solveReps) { i =>
      val on = tracedRep(i)
      val (_, s) = timed(withTrace(on) {
        val (_, cs) = timed {
          val r = tracer.span("kernel.cc")(g.run(new CcKernelProgram, maxIters = 0))
          val comps = tracer.span("bench.check")(distinctLabels(r.state))
          Engine.release(r.state)
          checks += Map("op" -> s"cc#$i", "iters" -> r.iterations,
            "checksum" -> r.checksum, "components" -> comps)
          if (on) ccWalls += r.metrics.map(_.wallMs)
          stepMs ++= r.metrics.map(_.wallMs.toDouble)
          if (i == 0) values("graph.first_superstep_ms") = r.metrics.head.wallMs.toDouble
          values("kernel.cc.active_vertices") = r.metrics.map(_.activeVertices).sum
        }
        val (_, ls) = timed {
          deleteTree(ckptDir)
          val ck = new CheckpointManager(ckptDir.toString, CkptEvery)
          val r = tracer.span("kernel.lpa")(g.lpa(FixedIters, ckpt = Some(ck)))
          val nLabels = tracer.span("bench.check")(distinctLabels(r.state))
          Engine.release(r.state)
          val snaps = Files.list(ckptDir).iterator().asScala
            .count(p => Files.exists(p.resolve("manifest.json")))
          checks += Map("op" -> s"lpa#$i", "iters" -> r.iterations,
            "checksum" -> r.checksum, "labels" -> nLabels, "snapshots" -> snaps,
            "latest" -> ck.latestIter().getOrElse(-1))
          if (on) lpaWalls += r.metrics.map(_.wallMs)
          stepMs ++= r.metrics.map(_.wallMs.toDouble)
          values("kernel.lpa.active_vertices") = r.metrics.map(_.activeVertices).sum
          values("ckpt.snapshots") = snaps
          values("ckpt.mb") = treeBytes(ckptDir) / 1e6
        }
        parts += ((cs, ls, on))
      })
      solves += ((s, on))
    }
    recordSolves(solves.toSeq)
    retainedHeap()
    val kept = measured(parts.toSeq.tail.filterNot(_._3))
    values("cc_s") = medianOf(kept.map(_._1))
    values("lpa_s") = medianOf(kept.map(_._2))
    values("superstep_edges_per_s") = g.numEdges / (Stats.midMean(stepMs.toSeq) / 1000.0)
    if (traced) withTrace(on = true) {
      kernelLayer("cc", "kernel.cc", ccWalls.toSeq)
      kernelLayer("lpa", "kernel.lpa", lpaWalls.toSeq)
      val lpaCalls = tracer.spans.filter(_.name == "kernel.lpa")
      values("ckpt.write_ms") = lpaCalls.flatMap(tracer.children)
        .filter(_.name == "ckpt.write").map(_.ms).sum.toDouble / math.max(1, lpaCalls.size)
      exchangeBound("cc", g)
      values("kernel.lpa.exchange_bound_mb") = values("kernel.cc.exchange_bound_mb")
      layerCounts()
    }
  }

  /** Rows of a result in a canonical order, doubles to 10 significant
    * digits, so two passes can be compared as multisets. */
  private def canonical(rows: Array[Row]): Seq[String] = {
    def cell(v: Any): String = v match {
      case null => "null"
      case d: Double => f"$d%.10g"
      case f: Float => f"${f.toDouble}%.7g"
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case a: Array[Byte] => a.mkString("b[", ",", "]")
      case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
      case o => o.toString
    }
    rows.map(r => r.toSeq.map(cell).mkString("|")).toSeq.sorted
  }

  def sweep(): Unit = {
    startSession()
    // set-up on sweep is session start: the warm JVM restarts the session
    // `setupReps` times and setup_s is the median
    tracer.on = traced
    val restarts = (1 to setupReps).map { _ =>
      spark.stop()
      session = null
      timed(tracer.span("spark.session")(spark))._2
    }
    tracer.on = false
    extra("setup_reps_s") = restarts
    values("setup_s") = medianOf(restarts)
    val dir = args("data")
    val names = args("queries").split(",").toSeq
    val first = LinkedHashMap.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
    val (_, firstS) = timed(withTrace(traced) {
      names.foreach { q => tracer.span(s"sweep.first.$q") {
        try {
          val df = SparkEntry.queries(q)(spark, dir)
          first(q) = (df.collect(), df.schema)
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[graftbench] $q failed: ${e.getMessage}")
            checks += Map("op" -> s"sweep.$q", "pass" -> 1, "error" -> e.toString)
        }
      }}
    })
    values("first_pass_s") = firstS
    retainedHeap()
    // results of the first pass, for the DuckDB oracle compare
    val out = Paths.get(args("results"))
    deleteTree(out)
    withTrace(traced)(first.foreach { case (q, (rows, schema)) => tracer.span("bench.results") {
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.parquet(out.resolve(q).toString)
      checks += Map("op" -> s"sweep.$q", "pass" -> 1, "result" -> out.resolve(q).toString)
    }})
    Files.writeString(out.resolve("oracle_sql.json"), Json(SparkEntry.oracleSql))
    val reference = first.map { case (q, (rows, _)) => q -> canonical(rows) }
    val passes = ArrayBuffer.empty[(Double, Boolean)]
    val perQuery = LinkedHashMap.empty[String, ArrayBuffer[Double]]
    // traced runs alternate untraced and traced passes, untraced first,
    // so the traced passes sit between untraced ones of the same warmth
    loop(min = if (traced) math.max(3, solveReps) else solveReps) { i =>
      val on = traced && i % 2 == 1
      val (_, s) = timed(withTrace(on) {
        names.foreach { q =>
          val (res, qs) = timed(tracer.span(s"sweep.$q") {
            try Right(SparkEntry.queries(q)(spark, dir).collect())
            catch { case scala.util.control.NonFatal(e) => Left(e.toString) }
          })
          perQuery.getOrElseUpdate(q, ArrayBuffer.empty) += qs
          checks += (res match {
            case Right(rows) => Map("op" -> s"sweep.$q", "pass" -> (i + 2),
              "same_as_first" -> reference.get(q).contains(canonical(rows)))
            case Left(err) => Map("op" -> s"sweep.$q", "pass" -> (i + 2), "error" -> err)
          })
        }
      })
      passes += ((s, on))
    }
    retainedHeap()
    val plain = passes.filterNot(_._2).map(_._1)
    values("solve_s") = medianOf(if (plain.nonEmpty) plain.toSeq else passes.map(_._1).toSeq)
    extra("solve_reps_s") = passes.map(_._1)
    if (traced) {
      val tr = passes.filter(_._2).map(_._1)
      if (tr.nonEmpty && plain.nonEmpty)
        values("trace.overhead_frac") = medianOf(tr.toSeq) / medianOf(plain.toSeq) - 1.0
      perQuery.foreach { case (q, xs) => values(s"sweep.${q}_s") = medianOf(xs.toSeq) }
      val qSpans = tracer.spans.filter(_.name.startsWith("sweep.q_"))
      val jobs = qSpans.flatMap(s => listener.jobsIn(s.startMs, s.endMs)).distinct
      val stages = jobs.flatMap(listener.stagesOf)
      val nPasses = math.max(1, passes.count(_._2))
      values ++= Seq(
        "sweep.jobs" -> jobs.size.toDouble / nPasses,
        "sweep.stages" -> stages.size.toDouble / nPasses,
        "sweep.tasks" -> stages.map(_.tasks).sum.toDouble / nPasses,
        "sweep.shuffle_mb" -> stages.map(_.shuffleWriteB).sum / 1e6 / nPasses)
      val eng = jobs.filter(j => j.superstep && !j.kernel)
      // one engine superstep = the jobs of one graft-superstep group
      // run back to back inside one query
      val steps = qSpans.flatMap { s =>
        val js = listener.jobsIn(s.startMs, s.endMs).filter(j => j.superstep && !j.kernel)
        js.foldLeft(List.empty[List[JobRec]]) {
          case (cur :: done, j) if cur.head.group == j.group => (j :: cur) :: done
          case (acc, j) => List(j) :: acc
        }
      }
      val stepWalls = steps.map(js => (js.map(_.endMs).max - js.map(_.startMs).min).toDouble)
      val barriers = steps.map { js =>
        val wall = js.map(_.endMs).max - js.map(_.startMs).min
        math.max(0L, wall - js.flatMap(listener.stagesOf).map(_.ms).sum).toDouble
      }
      values ++= Seq(
        "engine.supersteps" -> steps.size.toDouble / nPasses,
        "engine.superstep_ms.p50" -> medianOf(stepWalls.toSeq),
        "engine.barrier_ms.p50" -> medianOf(barriers.toSeq),
        "engine.jobs" -> eng.size.toDouble / nPasses)
    }
  }

  // ---- output -----------------------------------------------------------

  private var retainedBytes = 0L
  private val retainedReads = ArrayBuffer.empty[Double]

  /** Heap still in use after a full collection: what the run holds at a
    * phase boundary (cached tiles, results), free of the collector's
    * timing, which makes the resident set differ run to run. */
  private def retainedHeap(): Unit = if (!traced) {
    // the first collection queues Spark's weak references (shuffles,
    // broadcasts, cached plans) for its cleaner thread; the second frees
    // what the cleaner let go
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    retainedReads += used / 1e6
    retainedBytes = math.max(retainedBytes, used)
  }

  private def peakRssMb: Double = {
    val hwm = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    hwm / 1024.0
  }

  def finish(): Unit = {
    val endMs = System.currentTimeMillis()
    values("peak_rss_mb") = peakRssMb
    values("retained_heap_mb") = retainedBytes / 1e6
    extra("retained_reads_mb") = retainedReads
    if (traced) {
      val root = tracer.add(-1, "run", jvmStartMs, endMs)
      // top-level spans become children of the whole-run span
      val top = tracer.spans.filter(s => s.parent == -1 && s.id != root.id).toSeq
      tracer.spans.mapInPlace(s => if (top.contains(s)) s.copy(parent = root.id) else s)
      tracer.writeJsonLines(Paths.get(args("spans")))
      val byName = tracer.spans.groupBy(_.name).map { case (n, ss) =>
        n -> ss.map(tracer.selfMs).sum }
      extra("self_ms") = scala.collection.immutable.TreeMap(byName.toSeq: _*)
      extra("wall_ms") = root.ms
      // the traced wall: the run less its untraced repetitions, which are
      // the overhead comparison. Time in no layer span (root self time and
      // the benchmark's own bench.* spans) is unattributed.
      val level1 = tracer.children(root)
      val tracedWall = root.ms - level1.filter(_.name == "bench.untraced").map(_.ms).sum
      val layers = level1.filterNot(_.name.startsWith("bench.")).map(_.ms).sum
      extra("traced_wall_ms") = tracedWall
      values("trace.unattributed_frac") =
        (tracedWall - layers).toDouble / math.max(1L, tracedWall)
    }
    val rec = Json.obj("workload" -> workload, "seed" -> args("seed"), "cores" -> cores,
      "traced" -> traced, "values" -> values, "checks" -> checks, "extra" -> extra)
    Files.write(Paths.get(args("out")), rec.getBytes("UTF-8"))
    spark.stop()
  }
}
