package graft.graph

import org.apache.spark.{HashPartitioner, Partitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer
import graft.ckpt.IterMetrics

/** Tile-compiled kernel fast path for the superstep loop — the "drive
  * the loop below Catalyst" half of the engine, generalized to the
  * full [[KernelProgram]] (5-virtuals) contract with BOTH execution
  * modes of the reference's app family:
  *
  *  - STATIONARY SpMV (PR, Degree): every source row of every tile
  *    contributes every superstep (reference csc_spmv.hpp;
  *    vp:688-861);
  *  - NONSTATIONARY SpMSpV (CC, BFS, SSSP): only rows whose vertex
  *    changed last superstep contribute — the frontier rides a
  *    per-partition BITSET over state slots (the reference's activity
  *    bits XI/XV, vp:711-784; single-node tcsc_spmspv2.hpp:81-531),
  *    and each tile ships its accumulator SPARSE ([idx…][val…]) when
  *    that is smaller than the dense double array;
  *  - plus [[CompiledGraph.lpa]]: frequency LPA's mode combiner is a
  *    multiset, not a scalar monoid, so it runs as its own stage pair
  *    over the same tiles (label-count triple exchange) — the whole
  *    reference app family runs compiled.
  *
  * The DataFrame Engine (graph/Engine.scala) re-analyzes, re-plans and
  * re-launches a Catalyst job every superstep; the plan is IDENTICAL
  * every iteration (PLAN.md), so at small per-superstep runtimes the
  * fixed driver barrier (~0.3-0.5 s of planning + task launch at
  * local[32]) dominates, and inside the stages the generic hash
  * aggregate pays a DRAM-random probe per edge. This kernel is the
  * reference's answer re-expressed on Spark RDDs: GraphTap compiles
  * the matrix ONCE into per-tile compressed columns
  * (src/ds/compressed_column.hpp:63-1120, 2D tiling at
  * src/mat/matrix.hpp:271-368) and its superstep loop re-plans nothing
  * (src/vp/vertex_program.hpp:408-441). Here:
  *
  *  - `compile` partitions edges by hash(src) into P partitions, and
  *    inside each partition p builds one CSR TILE per destination
  *    partition q: source rows as state-slot indices, destinations as
  *    TILE-LOCAL dense indices (0..nDsts-1), weights optional. All
  *    indices int, all static, built once, cached.
  *  - each superstep is ONE two-stage RDD job:
  *      stage 1 (scatter_gather+combine, vp:688-861): per tile, a
  *        tight primitive-array loop over the (active) source rows
  *        accumulates program.edgeCombine values into a DENSE per-tile
  *        accumulator — or, below 1/4 frontier-edge density, assembles
  *        the contributions sparsely without touching an nDsts-sized
  *        array at all. The tile result ships as a PACKED byte array;
  *        the shuffle carries ONLY doubles (+ ints when sparse) — the
  *        dst ids were exchanged once at compile time, the analog of
  *        the reference's static communicator layout.
  *      stage 2 (combine-final + apply, vp:1058-1113, 1641-1802): the
  *        exchange is a `repartitionAndSortWithinPartitions` keyed by
  *        (q, p), so partition q STREAMS its incoming tiles in sorted
  *        source-partition order — deterministic float sums with a
  *        real spill path (the shuffle reader's ExternalSorter),
  *        instead of buffering every tile on-heap — folds them into
  *        its V/P-sized y vector, and runs program.apply in place.
  *    No Catalyst, no per-iteration planning; driver overhead per
  *    superstep is one job submission (~10 ms class).
  *  - the per-superstep changed/frontier count is returned THROUGH the
  *    job (`sc.runJob` reading each partition's counter from the
  *    materialized state) — exactly-once under task retry, matching
  *    the Engine's `observe()` exactness, where the previous
  *    accumulator could over-count a retried stage.
  *
  * Scale shape at 100 TB: the per-superstep exchange is bounded by
  * Σ_pq |distinct dsts of tile (p,q)| doubles ≤ min(E, P·V) — the same
  * V-bounded exchange as the DataFrame path, but packed, and on a
  * shrinking frontier it degrades further to O(frontier-edges);
  * per-tile accumulators are V/P-sized (or frontier-sized), so
  * executor memory per task stays flat as P grows with the cluster.
  * Known trade-off vs the salted DataFrame path: edges partition by
  * hash(src), so a pathological hub vertex concentrates its out-edges
  * in one partition (the DataFrame engine salts those rows; the
  * reference's 2D grid has the matching limitation per rank row).
  * `edgeImbalance` reports the realized skew; the DataFrame engine
  * remains the general path (arbitrary Column-expression programs).
  */
object SpmvKernel {

  /** Minimal open-addressing Long→Int map (linear probing, splitmix
    * finalizer) for the compile phase: a binarySearch per edge was the
    * compile bottleneck (460M edges × ~20 probes); this is O(1) with
    * two primitive arrays and no boxing. Build-time only. */
  private final class LongIntMap(expected: Int) {
    private val cap = Integer.highestOneBit(math.max(16, expected * 2) * 2 - 1)
    private val mask = cap - 1
    private val keys = new Array[Long](cap)
    private val vals = new Array[Int](cap)
    private val used = new Array[Boolean](cap)
    private def idx(k: Long): Int = {
      var h = k * -7046029254386353131L
      h ^= h >>> 32
      (h & mask).toInt
    }
    def put(k: Long, v: Int): Unit = {
      var i = idx(k)
      while (used(i) && keys(i) != k) i = (i + 1) & mask
      keys(i) = k; vals(i) = v; used(i) = true
    }
    /** Probing stops at the first never-used slot (no deletes exist),
      * so an absent key FAILS FAST instead of spinning — reachable
      * from user input via checkpoint resume (stateFromDF): a snapshot
      * from a different graph carries vids this compile never slotted. */
    def get(k: Long): Int = {
      var i = idx(k)
      while (used(i)) {
        if (keys(i) == k) return vals(i)
        i = (i + 1) & mask
      }
      throw new IllegalArgumentException(
        s"vid $k is not present in the compiled graph " +
          "(resuming from a checkpoint of a different edge table?)")
    }
    /** Non-throwing probe for the salted compile path, where a tile
      * source may legitimately be absent (a mirror). */
    def getOrElse(k: Long, dflt: Int): Int = {
      var i = idx(k)
      while (used(i)) {
        if (keys(i) == k) return vals(i)
        i = (i + 1) & mask
      }
      dflt
    }
  }

  /** splitmix64 finalizer — the deterministic spread for salted-hub
    * chunk routing (public-domain constant, same family as LongIntMap's
    * probe hash). */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Identity partitioner for pre-bucketed (Int-keyed) tile traffic. */
  private final class IdPartitioner(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
    override def equals(o: Any): Boolean = o match {
      case p: IdPartitioner => p.numPartitions == numPartitions
      case _ => false
    }
    override def hashCode: Int = numPartitions
  }

  /** Routes ((q, p), bytes) tile messages to partition q; the p half
    * of the key drives the reduce-side sort that makes the fold order
    * deterministic. */
  private final class TileKeyPartitioner(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[(Int, Int)]._1
    override def equals(o: Any): Boolean = o match {
      case p: TileKeyPartitioner => p.numPartitions == numPartitions
      case _ => false
    }
    override def hashCode: Int = numPartitions
  }

  /** One packed edge chunk of the compile exchange: parallel primitive
    * arrays instead of per-edge (Long,(Long,Double)) tuples — the
    * serializer sees ~P² array records rather than E boxed tuples
    * (same packing idea as the superstep accumulator exchange), which
    * is equally fast under the SQL session's default JavaSerializer
    * (the per-query compiles) and under the probes' Kryo. */
  private[graph] final case class EdgeChunk(
      srcs: Array[Long], dsts: Array[Long], ws: Array[Double]) // ws null → unweighted

  /** Open-addressing Long→Long counter with growth — compile-phase
    * degree/distinct bookkeeping (boxed HashMap was measured as the
    * dominant constant in the old per-edge tuple shuffles). */
  private final class LongCounter(initialCap: Int) {
    private var cap = Integer.highestOneBit(math.max(16, initialCap) * 2 - 1)
    private var mask = cap - 1
    private var keys = new Array[Long](cap)
    private var vals = new Array[Long](cap)
    private var used = new Array[Boolean](cap)
    private var n = 0
    private def idx(k: Long): Int = {
      var h = k * -7046029254386353131L
      h ^= h >>> 32
      (h & mask).toInt
    }
    private def insertRaw(k: Long, v: Long): Unit = {
      var i = idx(k)
      while (used(i) && keys(i) != k) i = (i + 1) & mask
      if (!used(i)) { used(i) = true; keys(i) = k; n += 1 }
      vals(i) += v
    }
    private def grow(): Unit = {
      val ok = keys; val ov = vals; val ou = used
      cap <<= 1; mask = cap - 1
      keys = new Array[Long](cap); vals = new Array[Long](cap)
      used = new Array[Boolean](cap); n = 0
      var i = 0
      while (i < ok.length) { if (ou(i)) insertRaw(ok(i), ov(i)); i += 1 }
    }
    def add(k: Long, d: Long): Unit = {
      if ((n + 1) * 3 >= cap * 2) grow()
      insertRaw(k, d)
    }
    def foreachEntry(f: (Long, Long) => Unit): Unit = {
      var i = 0
      while (i < cap) { if (used(i)) f(keys(i), vals(i)); i += 1 }
    }
    def entriesAbove(floor: Long): List[(Long, Long)] = {
      var out = List.empty[(Long, Long)]
      foreachEntry((k, v) => if (v > floor) out = (k, v) :: out)
      out
    }
  }

  /** One compiled CSR tile (p, q): edges of source-partition p whose
    * destinations hash to partition q. `srcSlots` indexes the owning
    * partition's state arrays; `dstLocal` indexes the tile's (sorted,
    * deterministic) distinct-destination list, whose slots on q are
    * precomputed in KernelPartition.inSlots. */
  private[graph] final case class Tile(
      srcSlots: Array[Int],
      offsets: Array[Int],
      dstLocal: Array[Int],
      weights: Array[Double], // null → all 1.0
      nDsts: Int) {
    def nEdges: Int = dstLocal.length
  }

  /** Partition p's compiled state: owned (sorted) vertex ids = state
    * slots, per-slot out-degree and 1/outdeg, the P outgoing tiles,
    * and — after the one-time compile-phase exchange — for every
    * source partition the mapping from its tile-local destination
    * index to a slot here.
    *
    * Salted-hub support (reference Matrix::balance's skew problem,
    * matrix.hpp:562-687, answered the way Adjacency.scala:89-105 salts
    * the DataFrame CSR): a source whose out-degree exceeds the compile
    * chunk has its edge rows SPLIT across partitions, so tiles here may
    * reference MIRROR sources this partition does not own. Mirrors get
    * slots [nOwned, nOwned+nMirror) in the combined index space the
    * tiles' srcSlots use; their per-superstep values arrive via the
    * hub-state broadcast (harvested from the owners by the same job
    * that reads the convergence count). `invDeg` is already combined
    * (owned ++ mirror); state/export arrays stay owned-sized. */
  private[graph] final case class KernelPartition(
      vids: Array[Long],
      deg: Array[Long],
      invDeg: Array[Double],          // length nOwned + nMirror
      mirrorVids: Array[Long],        // sorted; empty on an unsalted compile
      ownedHubSlots: Array[Int],      // owned slots mirrored elsewhere
      tiles: Array[Tile],
      inSlots: Array[Array[Int]]) // by source partition; null when no tile

  /** One partition's per-superstep state: `width` doubles per slot
    * (row-major), the active/changed BITSET (the frontier for
    * nonstationary programs — reference activity bits XI/XV,
    * vp:711-784), and the partition's changed count, read back
    * driver-side through `sc.runJob` for an exactly-once convergence
    * count. `counts` is the LPA mode's persistent per-(slot, label)
    * multiset (null for every other program, and null on the state a
    * FULL LPA superstep consumes — fresh init or checkpoint resume). */
  private[graph] final case class PartState(
      values: Array[Double],
      active: Array[Long],
      changed: Long,
      counts: SlotMultiset = null)

  private def bitGet(bits: Array[Long], i: Int): Boolean =
    (bits(i >>> 6) & (1L << (i & 63))) != 0

  /** Combined (owned ++ mirror) views of a partition's superstep
    * inputs for the stage-1 tile loop. Identity (no copies) when the
    * partition has no mirrors; otherwise the mirror tail is filled
    * from the hub broadcast. O(V/P) per partition per superstep —
    * the same order as the value scan stage 1 does anyway. Static so
    * the task closure never captures the CompiledGraph. */
  private def combinedInputs(kp: KernelPartition, ps: PartState, width: Int,
                             hub: scala.collection.Map[Long, (Array[Double], Boolean)])
      : (Array[Double], Array[Long], Array[Long]) = {
    val nMir = kp.mirrorVids.length
    if (nMir == 0) (ps.values, ps.active, kp.vids)
    else {
      val nOwned = kp.vids.length
      val cv = java.util.Arrays.copyOf(ps.values, (nOwned + nMir) * width)
      val ca = java.util.Arrays.copyOf(ps.active, (nOwned + nMir + 63) >>> 6)
      val cvids = java.util.Arrays.copyOf(kp.vids, nOwned + nMir)
      var m = 0
      while (m < nMir) {
        val v = kp.mirrorVids(m)
        val (vals, act) = hub(v)
        System.arraycopy(vals, 0, cv, (nOwned + m) * width, width)
        if (act) {
          val s = nOwned + m
          ca(s >>> 6) |= 1L << (s & 63)
        }
        cvids(nOwned + m) = v
        m += 1
      }
      (cv, ca, cvids)
    }
  }

  final case class KernelResult(state: DataFrame, iterations: Int,
                                metrics: Seq[IterMetrics], checksum: Double)

  // pack formats for the per-tile accumulator exchange
  private final val FmtDense = 0
  private final val FmtSparse = 1
  // LPA label-count triples (dstLocal, label, count) — the mode
  // combiner's partial aggregate, which is a multiset not a scalar
  private final val FmtLabels = 2

  /** Per-row edge-combine into a dense accumulator — the specialized
    * inner loops (one per combiner × edge-op × weightedness) the
    * reference gets from template instantiation. One call per source
    * ROW; the loops themselves are monomorphic primitive code. */
  private def accumRow(acc: Array[Double], dstLocal: Array[Int],
                       w: Array[Double], from: Int, until: Int,
                       msg: Double, sum: Boolean, eop: Int): Unit = {
    var e = from
    if (sum) {
      if (eop == 2) { // AddW
        if (w == null) while (e < until) { acc(dstLocal(e)) += msg + 1.0; e += 1 }
        else while (e < until) { acc(dstLocal(e)) += msg + w(e); e += 1 }
      } else if (eop == 1 && w != null) { // MulW weighted
        while (e < until) { acc(dstLocal(e)) += msg * w(e); e += 1 }
      } else { // MsgOnly, or MulW with w ≡ 1
        while (e < until) { acc(dstLocal(e)) += msg; e += 1 }
      }
    } else { // min
      if (eop == 2) {
        if (w == null) while (e < until) {
          val d = dstLocal(e); val v = msg + 1.0
          if (v < acc(d)) acc(d) = v
          e += 1
        }
        else while (e < until) {
          val d = dstLocal(e); val v = msg + w(e)
          if (v < acc(d)) acc(d) = v
          e += 1
        }
      } else if (eop == 1 && w != null) {
        while (e < until) {
          val d = dstLocal(e); val v = msg * w(e)
          if (v < acc(d)) acc(d) = v
          e += 1
        }
      } else {
        while (e < until) {
          val d = dstLocal(e)
          if (msg < acc(d)) acc(d) = msg
          e += 1
        }
      }
    }
  }

  /** Compiled graph handle: `run` any [[KernelProgram]] (or the
    * `pagerank` convenience) any number of times; call `unpersist()`
    * when done with the graph. Construct via [[SpmvKernel.compile]] or
    * [[CompiledGraphCache.compileOrLoad]]. */
  final class CompiledGraph private[graph] (
      private[graph] val kernel: RDD[KernelPartition],
      val spark: SparkSession,
      val parts: Int,
      val numVertices: Long,
      val numEdges: Long,
      val weighted: Boolean,
      /** total mirror slots across partitions — 0 on an unsalted
        * compile, where every hub-salting code path short-circuits */
      val mirrorCount: Long = 0L) {

    private val sc = spark.sparkContext
    private val tilePart = new TileKeyPartitioner(parts)
    private def hasMirrors: Boolean = mirrorCount > 0

    /** Per-superstep hub-state snapshot for mirror slots: vid →
      * (state values, active bit). Bounded by the number of salted
      * hubs (≤ 4·parts in auto mode) — a few KB of driver traffic
      * riding the job that already returns the convergence count. */
    private type HubStates = scala.collection.Map[Long, (Array[Double], Boolean)]

    /** Materialize a state RDD and return (Σ changed, hub snapshot).
      * The count rides the successful task attempts (exactly-once
      * under retry, same contract as before); the hub snapshot is
      * harvested in the same job when the compile salted any hubs,
      * and is null otherwise — the unsalted path is byte-identical
      * to the pre-salting loop. */
    private def countAndHarvest(state: RDD[PartState], width: Int): (Long, HubStates) =
      if (!hasMirrors)
        (sc.runJob(state, (it: Iterator[PartState]) => it.next().changed).sum, null)
      else {
        val res = kernel.zipPartitions(state, preservesPartitioning = false) { (kIt, sIt) =>
          val kp = kIt.next(); val ps = sIt.next()
          val hubs = new Array[(Long, (Array[Double], Boolean))](kp.ownedHubSlots.length)
          var i = 0
          while (i < hubs.length) {
            val s = kp.ownedHubSlots(i)
            hubs(i) = (kp.vids(s),
              (java.util.Arrays.copyOfRange(ps.values, s * width, s * width + width),
                bitGet(ps.active, s)))
            i += 1
          }
          Iterator.single((ps.changed, hubs))
        }.collect()
        (res.iterator.map(_._1).sum, res.iterator.flatMap(_._2).toMap)
      }


    /** Exact per-superstep DENSE exchange volume in DOUBLES: Σ over
      * tiles of |distinct destinations| — the stationary upper bound
      * (a sparse frontier ships less). Bounded by min(E, P·V); grows
      * with P toward E as per-tile destination dedup thins out (the
      * all-to-all volume physics a cluster pays in network). */
    def exchangeDoubles: Long = kernel
      .map(kp => kp.tiles.map(t => if (t == null) 0L else t.nDsts.toLong).sum)
      .fold(0L)(_ + _)

    /** max/mean−1 over per-partition edge counts — the kernel's
      * realized skew (reference Matrix::balance, matrix.hpp:562-687).
      * hash(src) partitioning concentrates a hub's out-edges; audit it. */
    def edgeImbalance: Double = {
      val counts = kernel.map(kp => kp.tiles.map(t => if (t == null) 0L else t.nEdges.toLong).sum)
        .collect()
      val mean = counts.sum.toDouble / counts.length
      if (mean == 0) 0.0 else counts.max / mean - 1.0
    }

    /** Out-degree per vertex straight off the compiled matrix — no
      * superstep, no shuffle: every partition owns its source rows
      * (the reference reuses its compiled matrix for the degree phase
      * the same way, pr.cpp:40-49). Vertices with no out-edges are
      * absent, matching algos.Degree.out. */
    def outDegrees: DataFrame = {
      val sp = spark
      import sp.implicits._
      kernel.mapPartitions { kIt =>
        val kp = kIt.next()
        Iterator.range(0, kp.vids.length)
          .filter(i => kp.deg(i) > 0)
          .map(i => (kp.vids(i), kp.deg(i)))
      }.toDF("vid", "degree")
    }

    /** In-degree via ONE kernel superstep (messenger ≡ 1, sum — the
      * reference Deg_Program, deg.h:32-52) — the degree mode of the
      * compiled path. Matches algos.Degree.in. */
    def inDegrees: DataFrame = {
      import org.apache.spark.sql.functions._
      val r = run(new DegreeKernelProgram, maxIters = 1)
      r.state.filter(col("degree") > 0)
        .select(col("vid"), col("degree").cast("long").as("degree"))
    }

    /** Re-assert the 2^53 exact-id window over the compiled vids (they
      * are sorted per partition, so first/last suffice) — the resume
      * path's twin of the per-vertex init() check, which never runs on
      * a checkpoint resume. One tiny job over the cached tiles. */
    private def requireExactVids(program: String): Unit =
      kernel.map(kp =>
        if (kp.vids.isEmpty) null
        else (kp.vids(0), kp.vids(kp.vids.length - 1)))
        .collect().filter(_ != null).foreach { case (lo, hi) =>
          KernelProgram.checkExactVid(lo, program)
          KernelProgram.checkExactVid(hi, program)
        }

    /** Re-slot a saved state frame into the kernel's partition layout —
      * the resume half of the checkpoint contract. Nulls become NaN;
      * a missing `changed` column means all-active (only legacy
      * pagerank snapshots, a stationary program, lack it). Takes the
      * raw state shape (width, column names) so non-scalar programs
      * (the LPA mode) share the same resume path. */
    private def stateFromDF(width: Int, stateCols: Seq[String], df: DataFrame): RDD[PartState] = {
      val hp = new HashPartitioner(parts)
      // explicit casts: the manifest algo check rejects cross-ALGORITHM
      // resumes, but a same-algo snapshot written with different column
      // types (e.g. a long-typed label) must still read as the doubles
      // the kernel stores — ir.getDouble on a LONG column would
      // otherwise reinterpret raw bits
      val cols = "CAST(vid AS BIGINT) AS vid" +:
        stateCols.map(c => s"CAST($c AS DOUBLE) AS $c")
      val hasChanged = df.columns.contains("changed")
      val sel = if (hasChanged) cols :+ "CAST(changed AS BOOLEAN) AS changed" else cols
      val keyed = df.selectExpr(sel: _*).queryExecution.toRdd
        .map { ir =>
          val vs = new Array[Double](width)
          var c = 0
          while (c < width) {
            vs(c) = if (ir.isNullAt(1 + c)) Double.NaN else ir.getDouble(1 + c)
            c += 1
          }
          val act = !hasChanged || ir.getBoolean(1 + width)
          (ir.getLong(0), (vs, act))
        }
        .partitionBy(hp)
      kernel.zipPartitions(keyed, preservesPartitioning = false) { (kIt, rIt) =>
        val kp = kIt.next()
        val n = kp.vids.length
        val slot = new LongIntMap(n)
        var i = 0
        while (i < n) { slot.put(kp.vids(i), i); i += 1 }
        val values = new Array[Double](n * width)
        val bits = new Array[Long]((n + 63) >>> 6)
        var changed = 0L
        rIt.foreach { case (v, (vs, act)) =>
          val s = slot.get(v)
          System.arraycopy(vs, 0, values, s * width, width)
          if (act) { bits(s >>> 6) |= 1L << (s & 63); changed += 1 }
        }
        Iterator.single(PartState(values, bits, changed))
      }
    }

    /** Export a state RDD as (vid, columns…, changed) with NaN → null.
      * Exports the first `stateCols.length` of each slot's `width`
      * doubles — the LPA mode stores a prev-label scratch column it
      * never exposes (stateCols.length == width everywhere else). */
    private def stateDF(width: Int, stateCols: Seq[String], state: RDD[PartState]): DataFrame = {
      val take = stateCols.length
      val schema = StructType(
        StructField("vid", LongType, nullable = false) +:
          stateCols.map(c => StructField(c, DoubleType, nullable = true)) :+
          StructField("changed", BooleanType, nullable = false))
      val rows = kernel.zipPartitions(state, preservesPartitioning = false) { (kIt, sIt) =>
        val kp = kIt.next(); val ps = sIt.next()
        Iterator.range(0, kp.vids.length).map { i =>
          val cells = new Array[Any](take + 2)
          cells(0) = kp.vids(i)
          var c = 0
          while (c < take) {
            val v = ps.values(i * width + c)
            cells(1 + c) = if (v.isNaN) null else java.lang.Double.valueOf(v)
            c += 1
          }
          cells(take + 1) = bitGet(ps.active, i)
          Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(cells))
        }
      }
      spark.createDataFrame(rows, schema)
    }

    /** Reference-exact PageRank (src/apps/pr.h) on the kernel — see
      * [[PrKernelProgram]] for the math. Kept as the named entry point
      * (Bench/Apps/specs); delegates to the generalized loop. */
    def pagerank(maxIters: Int, alpha: Double = 0.15, tol: Double = 1e-5,
                 lineageTruncateEvery: Int = 20,
                 ckpt: Option[graft.ckpt.CheckpointManager] = None): KernelResult =
      run(new PrKernelProgram(alpha, tol), maxIters, lineageTruncateEvery, ckpt)

    /** The generalized superstep loop. `maxIters > 0` = fixed budget
      * (the per-vertex convergence check is disabled for stationary
      * programs, vp:412-413; an empty frontier still ends a
      * nonstationary run — further supersteps are provably no-ops);
      * 0 = run until no vertex changed. `ckpt` gives the fast path the
      * same durable resume contract as the Engine loop. */
    def run(program: KernelProgram, maxIters: Int,
            lineageTruncateEvery: Int = 20,
            ckpt: Option[graft.ckpt.CheckpointManager] = None): KernelResult = {
      val P = parts
      val width = program.width
      val sum = program.combineOp eq KernelProgram.Sum
      val identity = program.combineOp.identity
      val eop = program.edgeOp match {
        case KernelProgram.MsgOnly => 0
        case KernelProgram.MulW => 1
        case KernelProgram.AddW => 2
      }
      val stationary = program.stationary
      val metrics = ArrayBuffer.empty[IterMetrics]

      val snaps = graft.ckpt.CheckpointManager.open(ckpt, spark, s"${program.name}-kernel")
      if (snaps.resumed.isDefined && program.requiresExactVids) requireExactVids(program.name)
      var state: RDD[PartState] = snaps.resumed
        .map { case (_, df) => stateFromDF(width, program.columns, df) }
        .getOrElse(kernel.map { kp =>
          val n = kp.vids.length
          val values = new Array[Double](n * width)
          val bits = new Array[Long]((n + 63) >>> 6)
          var changed = 0L
          var i = 0
          while (i < n) {
            if (program.init(kp.vids(i), values, i * width)) {
              bits(i >>> 6) |= 1L << (i & 63); changed += 1
            }
            i += 1
          }
          PartState(values, bits, changed)
        })
        .persist(StorageLevel.MEMORY_AND_DISK)
      // materialize + read the initial frontier in one exactly-once job
      // (plus the hub snapshot for mirror slots on a salted compile)
      val init0 = countAndHarvest(state, width)
      var active = init0._1
      var hubBc: org.apache.spark.broadcast.Broadcast[
        scala.collection.Map[Long, (Array[Double], Boolean)]] =
        if (init0._2 != null) sc.broadcast(init0._2) else null
      var prev: RDD[PartState] = null
      var iter = snaps.resumed.map(_._1).getOrElse(0)

      def keepGoing: Boolean =
        if (numVertices == 0) false
        else if (maxIters > 0) iter < maxIters && (stationary || active > 0)
        else active > 0

      while (keepGoing) {
        val t0 = System.nanoTime()
        val frontier = if (stationary) numVertices else active
        // GRAFT_KERNEL_PROFILE=1 → split pure tile-compute ns from the
        // framework residue (iterator/serialization/shuffle); profiling
        // only — retry-inflation is acceptable here, unlike the
        // convergence count below, which rides the job result.
        val profAcc =
          if (sys.env.contains("GRAFT_KERNEL_PROFILE"))
            Some(sc.longAccumulator(s"graft_spmv_compute_ns_$iter"))
          else None

        // ---- stage 1: per-tile gather — dense accumulate or sparse
        // assemble, then pack. Packed byte arrays take the serializer's
        // bulk path (a block copy), where a boxed record pays
        // elementwise object-stream writes — measured 10-20× the
        // kernel's actual compute time at local[32].
        val hubBcLocal = hubBc
        val msgs: RDD[((Int, Int), Array[Byte])] =
          kernel.zipPartitions(state, preservesPartitioning = false) { (kIt, sIt) =>
            val kp = kIt.next(); val ps = sIt.next()
            val p = TaskContext.getPartitionId()
            val (values, act, vids) = combinedInputs(kp, ps, width,
              if (hubBcLocal == null) null else hubBcLocal.value)
            val invDeg = kp.invDeg
            Iterator.range(0, P).flatMap { q =>
              val t = kp.tiles(q)
              if (t == null) Iterator.empty
              else {
                val c0 = if (profAcc.isDefined) System.nanoTime() else 0L
                val srcSlots = t.srcSlots; val offsets = t.offsets
                val dstLocal = t.dstLocal; val w = t.weights
                val out: Array[Byte] =
                  if (stationary) {
                    // dense loop over every source row (SpMV)
                    val acc = new Array[Double](t.nDsts)
                    if (!sum) java.util.Arrays.fill(acc, identity)
                    var i = 0
                    while (i < srcSlots.length) {
                      val slot = srcSlots(i)
                      val msg = program.message(vids(slot), values, slot * width, invDeg(slot))
                      accumRow(acc, dstLocal, w, offsets(i), offsets(i + 1), msg, sum, eop)
                      i += 1
                    }
                    packDense(acc)
                  } else {
                    // frontier pass: find the tile's active rows first
                    // (a bit-test scan of srcSlots — ~1 ns/row; rows
                    // with no active source skip ALL per-edge work)
                    val rowsB = new scala.collection.mutable.ArrayBuilder.ofInt
                    var aEdges = 0L
                    var i = 0
                    while (i < srcSlots.length) {
                      if (bitGet(act, srcSlots(i))) {
                        rowsB += i; aEdges += offsets(i + 1) - offsets(i)
                      }
                      i += 1
                    }
                    val rows = rowsB.result()
                    if (rows.isEmpty) null
                    else if (aEdges >= t.nDsts.toLong / 4) {
                      // dense-enough frontier: same dense accumulate,
                      // then pack sparse iff that ships fewer bytes
                      val acc = new Array[Double](t.nDsts)
                      if (!sum) java.util.Arrays.fill(acc, identity)
                      var r = 0
                      while (r < rows.length) {
                        val i2 = rows(r); val slot = srcSlots(i2)
                        val msg = program.message(vids(slot), values, slot * width, invDeg(slot))
                        accumRow(acc, dstLocal, w, offsets(i2), offsets(i2 + 1), msg, sum, eop)
                        r += 1
                      }
                      packBest(acc, identity)
                    } else {
                      // true SpMSpV: assemble (dst, value) pairs from
                      // the frontier edges only — no nDsts-sized
                      // touch at all (tcsc_spmspv2.hpp's sparse y)
                      packSparseAssembled(rows, srcSlots, offsets, dstLocal, w,
                        vids, values, invDeg, width, aEdges.toInt, sum, eop, program)
                    }
                  }
                profAcc.foreach(_.add(System.nanoTime() - c0))
                if (out == null) Iterator.empty else Iterator.single(((q, p), out))
              }
            }
          }

        // ---- exchange + stage 2: the (q, p) key routes by q and sorts
        // by p on the reduce side (spill-capable), so the fold below
        // streams tiles in deterministic source-partition order with
        // O(tile) — not O(V) — transient memory.
        val shuffled = msgs.repartitionAndSortWithinPartitions(tilePart)
        val newState = shuffled.zipPartitions(kernel, state,
          preservesPartitioning = false) { (mIt, kIt, sIt) =>
          val kp = kIt.next(); val old = sIt.next()
          val n = kp.vids.length
          val y = new Array[Double](n)
          if (!sum) java.util.Arrays.fill(y, identity)
          var scratchD = new Array[Double](0)
          var scratchI = new Array[Int](0)
          mIt.foreach { case ((_, p), bytes) =>
            val slots = kp.inSlots(p)
            val bb = java.nio.ByteBuffer.wrap(bytes)
            val fmt = bb.getInt(0); val cnt = bb.getInt(4)
            bb.position(8)
            if (fmt == FmtDense) {
              if (scratchD.length < cnt) scratchD = new Array[Double](cnt)
              bb.asDoubleBuffer().get(scratchD, 0, cnt) // one bulk copy back out
              var t = 0
              if (sum) while (t < cnt) { y(slots(t)) += scratchD(t); t += 1 }
              else while (t < cnt) {
                val s = slots(t); val v = scratchD(t)
                if (v < y(s)) y(s) = v
                t += 1
              }
            } else {
              if (scratchI.length < cnt) scratchI = new Array[Int](cnt)
              if (scratchD.length < cnt) scratchD = new Array[Double](cnt)
              bb.asIntBuffer().get(scratchI, 0, cnt)
              bb.position(8 + 4 * cnt)
              bb.asDoubleBuffer().get(scratchD, 0, cnt)
              var t = 0
              if (sum) while (t < cnt) { y(slots(scratchI(t))) += scratchD(t); t += 1 }
              else while (t < cnt) {
                val s = slots(scratchI(t)); val v = scratchD(t)
                if (v < y(s)) y(s) = v
                t += 1
              }
            }
          }
          // apply over EVERY slot (y = identity where silent), exactly
          // like the Engine's left-outer apply join
          val nv = old.values.clone()
          val bits = new Array[Long]((n + 63) >>> 6)
          var changed = 0L
          var i = 0
          while (i < n) {
            if (program.apply(nv, i * width, y(i), iter)) {
              bits(i >>> 6) |= 1L << (i & 63); changed += 1
            }
            i += 1
          }
          Iterator.single(PartState(nv, bits, changed))
        }.persist(StorageLevel.MEMORY_AND_DISK)

        // RDD lineage (unlike the Engine's per-superstep eager
        // localCheckpoint) grows one zip+shuffle layer per iteration —
        // truncate periodically so task closures stay O(1)
        if (lineageTruncateEvery > 0 && (iter + 1) % lineageTruncateEvery == 0)
          newState.localCheckpoint()
        // the ONE action per superstep: materializes newState AND
        // returns each partition's changed count from the successful
        // task attempt — exactly-once under retries (a recomputed
        // partition returns its own deterministic count; nothing
        // accumulates across attempts).
        sc.setJobGroup(s"graft-superstep-$iter", s"${program.name} superstep $iter",
          interruptOnCancel = false)
        val (nActive, hubNew) =
          try countAndHarvest(newState, width)
          finally sc.clearJobGroup() // ckpt/export jobs are NOT the superstep
        profAcc.foreach(a => System.err.println(
          s"[kernel-profile] iter=$iter computeMs=${a.value / 1000000}"))
        active = nActive
        if (hubNew != null) {
          // the old snapshot served this superstep's stage 1, which the
          // job above has fully materialized — safe to release now
          val old = hubBc
          hubBc = sc.broadcast(hubNew)
          if (old != null) old.unpersist(false)
        }
        if (prev != null) prev.unpersist(false)
        prev = state
        state = newState
        iter += 1
        metrics += IterMetrics(iter, active, (System.nanoTime() - t0) / 1000000, frontier)
        snaps.afterSuperstep(iter, stateDF(width, program.columns, state), metrics.toSeq)
      }
      snaps.atEnd(iter, stateDF(width, program.columns, state), metrics.toSeq)

      // deterministic checksum: per-partition sums folded in partition
      // order (first state column, NaN skipped)
      val partSums = sc.runJob(state, (it: Iterator[PartState]) => {
        val ps = it.next()
        var s = 0.0
        var i = 0
        while (i * width < ps.values.length) {
          val v = ps.values(i * width)
          if (!v.isNaN) s += v
          i += 1
        }
        s
      })
      val checksum = partSums.foldLeft(0.0)(_ + _)
      // SELF-CONTAINED result: materialize the export as an eager
      // localCheckpoint, then drop the loop's internal state blocks —
      // the returned frame never depends on kernel/state lineage, so
      // the caller may unpersist() the CompiledGraph in any order.
      // Release the result itself with Engine.release(result.state).
      val df = stateDF(width, program.columns, state).localCheckpoint(true)
      state.unpersist(false)
      if (prev != null) prev.unpersist(false)
      if (hubBc != null) hubBc.unpersist(false)
      KernelResult(df, iter, metrics.toSeq, checksum)
    }

    /** Frequency-based label propagation on the compiled tiles — the
      * north_rule's fourth algorithm on the kernel fast path. LPA's
      * mode combiner is a MULTISET aggregate, not a scalar, so it does
      * not fit the KernelProgram Sum/Min contract; it gets its own
      * stage pair over the same tiles:
      *
      *  - the FIRST superstep (fresh init or checkpoint resume)
      *    pre-aggregates each tile into (dstLocal, label, count)
      *    triples — the analog of Catalyst's map-side partial count —
      *    and stage 2 builds a PERSISTENT per-(slot, label) count
      *    table ([[LabelTable]]) while arg-maxing every vertex;
      *  - every LATER superstep is INCREMENTAL: only sources whose
      *    label changed last superstep ship (+newLabel, −prevLabel)
      *    deltas over their out-edges, the table absorbs them, and
      *    only touched destinations re-arg-max — O(changed-edge) work
      *    and exchange instead of O(E), shrinking with the frontier
      *    exactly like the scalar SpMSpV mode. The table always
      *    equals the full recount (every −1 removes a contribution a
      *    prior +1 added), and an untouched destination's mode cannot
      *    have moved, so labels AND iteration counts are identical to
      *    the full pass (KernelSpec asserts both vs the engine).
      *
      * The arg-max uses the SAME deterministic tie-break as
      * algos.LabelPropagation (max count, then min label); counts are
      * integers and label ids exact below 2^53 (checked at init), so
      * the result is bit-reproducible regardless of tile arrival
      * order. Semantics match the Catalyst loop exactly: the mode
      * must see ALL in-neighbor labels (which is why the COUNTS are
      * maintained rather than any message skipped), a vertex with no
      * in-messages keeps its label, and the loop stops when no label
      * changed or at `maxIters`. Compile the UNDIRECTED deduped
      * shape first (GraphShaping — algos.LabelPropagation.run's
      * shaping), or use LabelPropagation.runKernel which does both. */
    def lpa(maxIters: Int, lineageTruncateEvery: Int = 20,
            ckpt: Option[graft.ckpt.CheckpointManager] = None): KernelResult = {
      val P = parts
      val cols = Seq("label")
      // Internal state is TWO doubles per slot: [label, prevLabel].
      // prevLabel (NaN = none) is what the incremental delta pass must
      // remove from the destination counts when a source changed; it is
      // never exported (stateDF takes cols.length = 1 leading columns).
      val width = 2
      val metrics = ArrayBuffer.empty[IterMetrics]
      val snaps = graft.ckpt.CheckpointManager.open(ckpt, spark, "lpa-kernel")
      if (snaps.resumed.isDefined) requireExactVids("lpa")
      var state: RDD[PartState] = snaps.resumed
        .map { case (_, df) =>
          // snapshots carry (vid, label, changed) only; widen to
          // [label, NaN] — the full-mode superstep below rebuilds the
          // destination counts, so prev is not needed across a resume
          stateFromDF(1, cols, df).map { ps =>
            val n = ps.values.length
            val wide = new Array[Double](n * 2)
            var i = 0
            while (i < n) {
              wide(i * 2) = ps.values(i)
              wide(i * 2 + 1) = Double.NaN
              i += 1
            }
            PartState(wide, ps.active, ps.changed)
          }
        }
        .getOrElse(kernel.map { kp =>
          val n = kp.vids.length
          val values = new Array[Double](n * 2)
          val bits = new Array[Long]((n + 63) >>> 6)
          var i = 0
          while (i < n) {
            KernelProgram.checkExactVid(kp.vids(i), "lpa")
            values(i * 2) = kp.vids(i).toDouble
            values(i * 2 + 1) = Double.NaN
            bits(i >>> 6) |= 1L << (i & 63)
            i += 1
          }
          PartState(values, bits, n.toLong)
        })
        .persist(StorageLevel.MEMORY_AND_DISK)
      val init0 = countAndHarvest(state, width)
      var active = init0._1
      var hubBc: org.apache.spark.broadcast.Broadcast[
        scala.collection.Map[Long, (Array[Double], Boolean)]] =
        if (init0._2 != null) sc.broadcast(init0._2) else null
      var prev: RDD[PartState] = null
      var iter = snaps.resumed.map(_._1).getOrElse(0)
      // A superstep runs FULL (every source ships its tile's complete
      // label counts; the destination side rebuilds the persistent
      // LabelTable from scratch and arg-maxes every fed vertex —
      // identical work to the pre-incremental loop) or INCREMENTAL
      // (only sources that changed last superstep ship (dst, newLabel,
      // +1) / (dst, prevLabel, −1) deltas, the table absorbs them, and
      // only touched destinations re-arg-max — O(changed-edge) work).
      // Labels and iteration counts are provably identical either way:
      // the table always equals the full per-(dst,label) recount, and
      // an untouched destination's mode cannot have moved. Mode choice
      // per superstep: incremental needs a table from the previous
      // superstep (so never right after init/resume) and ships TWO
      // contributions per changed-source edge where full ships one per
      // edge — cheaper only once under half the vertices still change,
      // hence the active·2 ≤ V gate (GRAFT_LPA_FULL or the
      // graft.lpa.incremental=false session conf force full-only —
      // the A/B lever the BENCH numbers and the parity spec use).
      val incrEnabled = !sys.env.contains("GRAFT_LPA_FULL") &&
        spark.conf.get("graft.lpa.incremental", "true") != "false"
      var haveCounts = false

      while (active > 0 && iter < maxIters) {
        val t0 = System.nanoTime()
        val hubBcLocal = hubBc
        val incremental = haveCounts && incrEnabled && active * 2 <= numVertices
        val msgs: RDD[((Int, Int), Array[Byte])] =
          kernel.zipPartitions(state, preservesPartitioning = false) { (kIt, sIt) =>
            val kp = kIt.next(); val ps = sIt.next()
            val p = TaskContext.getPartitionId()
            val (values, act, _) = combinedInputs(kp, ps, 2,
              if (hubBcLocal == null) null else hubBcLocal.value)
            Iterator.range(0, P).flatMap { q =>
              val t = kp.tiles(q)
              if (t == null) Iterator.empty
              else {
                val out =
                  if (incremental) packLabelDeltas(t, values, act)
                  else packLabelCounts(t, values)
                if (out == null) Iterator.empty else Iterator.single(((q, p), out))
              }
            }
          }
        val shuffled = msgs.repartitionAndSortWithinPartitions(tilePart)
        val newState = shuffled.zipPartitions(kernel, state,
          preservesPartitioning = false) { (mIt, kIt, sIt) =>
          val kp = kIt.next(); val old = sIt.next()
          val n = kp.vids.length
          // Copy-on-write at SLOT granularity: a retried/recomputed
          // task must see the OLD counts untouched (same contract as
          // the values clone). The incremental pass clones only the
          // per-slot POINTER arrays (O(V/P)) and rebuilds the inner
          // arrays of touched slots (O(changed)) — never an
          // O(table-size) pool copy, which would put a term
          // proportional to E back into every small-frontier superstep.
          // buffer this partition's packs (already byte arrays; the
          // absorb holds them all transitively anyway) so the pooled
          // table can be pre-sized to the exact incoming triple count
          val packs = mIt.toArray
          var totalNe = 0L
          var pi = 0
          while (pi < packs.length) {
            totalNe += java.nio.ByteBuffer.wrap(packs(pi)._2).getInt(4)
            pi += 1
          }
          val expected = math.min(totalNe, Int.MaxValue.toLong).toInt
          val full = if (incremental) null else new LabelTable(n, expected)
          val snap = if (incremental) old.counts.toSlotCounts else null
          // incremental deltas land in their own small pooled table
          // first, then merge per touched slot
          val into = if (incremental) new LabelTable(n, expected) else full
          val nv = old.values.clone()
          val bits = new Array[Long]((n + 63) >>> 6)
          var changed = 0L
          // absorb every incoming tile's (slot, label, ±count) triples;
          // the touched list drives the incremental merge+arg-max pass
          val touched = new scala.collection.mutable.ArrayBuilder.ofInt
          val seen = if (incremental) new Array[Boolean](n) else null
          packs.foreach { case ((_, p), bytes) =>
            val slots = kp.inSlots(p)
            val bb = java.nio.ByteBuffer.wrap(bytes)
            val ne = bb.getInt(4)
            bb.position(8)
            val ib = bb.asIntBuffer()
            bb.position(8 + 4 * ne)
            val db = bb.asDoubleBuffer()
            bb.position(8 + 12 * ne)
            val cb = bb.asIntBuffer()
            var t = 0
            while (t < ne) {
              val slot = slots(ib.get(t))
              into.add(slot, java.lang.Double.doubleToRawLongBits(db.get(t)), cb.get(t))
              if (seen != null && !seen(slot)) { seen(slot) = true; touched += slot }
              t += 1
            }
          }
          // arg-max with the deterministic tie-break (max count, min
          // label): full mode visits every slot with in-messages, the
          // incremental mode only slots whose counts moved — an
          // untouched slot's mode is unchanged by construction. Slots
          // with no triples keep their label, exactly like the
          // Engine's left-outer apply.
          val mult: SlotMultiset = if (incremental) snap else full
          def applySlot(slot: Int): Unit = {
            val bestBits = mult.argmax(slot)
            if (bestBits != Long.MinValue) {
              val best = java.lang.Double.longBitsToDouble(bestBits)
              if (best != nv(slot * 2)) {
                nv(slot * 2 + 1) = nv(slot * 2)
                nv(slot * 2) = best
                bits(slot >>> 6) |= 1L << (slot & 63)
                changed += 1
              }
            }
          }
          if (incremental) {
            val ts = touched.result()
            val counter = new LabelCounter
            var j = 0
            while (j < ts.length) {
              snap.mergeSlot(ts(j), into, counter)
              applySlot(ts(j))
              j += 1
            }
          } else {
            var slot = 0
            while (slot < n) {
              if (full.nonEmptyAt(slot)) applySlot(slot)
              slot += 1
            }
          }
          Iterator.single(PartState(nv, bits, changed, mult))
        }.persist(StorageLevel.MEMORY_AND_DISK)

        if (lineageTruncateEvery > 0 && (iter + 1) % lineageTruncateEvery == 0)
          newState.localCheckpoint()
        sc.setJobGroup(s"graft-superstep-$iter", s"lpa superstep $iter",
          interruptOnCancel = false)
        val (nActive, hubNew) =
          try countAndHarvest(newState, width)
          finally sc.clearJobGroup()
        active = nActive
        haveCounts = true
        if (hubNew != null) {
          val old = hubBc
          hubBc = sc.broadcast(hubNew)
          if (old != null) old.unpersist(false)
        }
        if (prev != null) prev.unpersist(false)
        prev = state
        state = newState
        iter += 1
        metrics += IterMetrics(iter, active, (System.nanoTime() - t0) / 1000000, numVertices)
        snaps.afterSuperstep(iter, stateDF(width, cols, state), metrics.toSeq)
      }
      snaps.atEnd(iter, stateDF(width, cols, state), metrics.toSeq)

      val partSums = sc.runJob(state, (it: Iterator[PartState]) => {
        val ps = it.next()
        var s = 0.0
        var i = 0
        while (i * width < ps.values.length) {
          val v = ps.values(i * width)
          if (!v.isNaN) s += v
          i += 1
        }
        s
      })
      val checksum = partSums.foldLeft(0.0)(_ + _)
      val df = stateDF(width, cols, state).localCheckpoint(true)
      state.unpersist(false)
      if (prev != null) prev.unpersist(false)
      if (hubBc != null) hubBc.unpersist(false)
      KernelResult(df, iter, metrics.toSeq, checksum)
    }

    def unpersist(): Unit = kernel.unpersist(false)
  }

  private def packDense(acc: Array[Double]): Array[Byte] = {
    val bytes = new Array[Byte](8 + acc.length * 8)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.putInt(0, FmtDense); bb.putInt(4, acc.length)
    bb.position(8)
    bb.asDoubleBuffer().put(acc) // ONE bulk copy
    bytes
  }

  /** Dense accumulator → whichever pack ships fewer bytes (sparse
    * entry = 12 bytes vs dense slot = 8). `identity` marks absent. */
  private def packBest(acc: Array[Double], identity: Double): Array[Byte] = {
    var nnz = 0
    var i = 0
    while (i < acc.length) { if (acc(i) != identity) nnz += 1; i += 1 }
    if (12L * nnz >= 8L * acc.length) packDense(acc)
    else {
      val bytes = new Array[Byte](8 + 12 * nnz)
      val bb = java.nio.ByteBuffer.wrap(bytes)
      bb.putInt(0, FmtSparse); bb.putInt(4, nnz)
      val ib = { bb.position(8); bb.asIntBuffer() }
      val db = { bb.position(8 + 4 * nnz); bb.asDoubleBuffer() }
      i = 0
      while (i < acc.length) {
        if (acc(i) != identity) { ib.put(i); db.put(acc(i)) }
        i += 1
      }
      bytes
    }
  }

  /** True SpMSpV tile pass: assemble (dstLocal, value) contributions
    * from the frontier rows only, sort by (dst, edge-order) via one
    * packed-long primitive sort (deterministic sum fold order), merge
    * runs with the combiner, and pack sparse. Never touches an
    * nDsts-sized array. */
  private def packSparseAssembled(rows: Array[Int], srcSlots: Array[Int],
                                  offsets: Array[Int], dstLocal: Array[Int],
                                  w: Array[Double], vids: Array[Long],
                                  values: Array[Double], invDeg: Array[Double],
                                  width: Int, aEdges: Int, sum: Boolean, eop: Int,
                                  program: KernelProgram): Array[Byte] = {
    val order = new Array[Long](aEdges) // (dstLocal << 32) | contribution index
    val vals = new Array[Double](aEdges)
    var k = 0
    var r = 0
    while (r < rows.length) {
      val i = rows(r); val slot = srcSlots(i)
      val msg = program.message(vids(slot), values, slot * width, invDeg(slot))
      var e = offsets(i); val end = offsets(i + 1)
      while (e < end) {
        val v = eop match {
          case 0 => msg
          case 1 => if (w == null) msg else msg * w(e)
          case 2 => if (w == null) msg + 1.0 else msg + w(e)
        }
        order(k) = (dstLocal(e).toLong << 32) | k
        vals(k) = v
        k += 1
        e += 1
      }
      r += 1
    }
    java.util.Arrays.sort(order)
    // merge-combine runs of equal dst (ascending contribution order
    // within a dst → deterministic sums)
    val outI = new Array[Int](aEdges)
    val outV = new Array[Double](aEdges)
    var nnz = 0
    var t = 0
    while (t < aEdges) {
      val d = (order(t) >>> 32).toInt
      var v = vals(order(t).toInt)
      t += 1
      while (t < aEdges && (order(t) >>> 32).toInt == d) {
        val v2 = vals(order(t).toInt)
        if (sum) v += v2 else if (v2 < v) v = v2
        t += 1
      }
      outI(nnz) = d; outV(nnz) = v; nnz += 1
    }
    val bytes = new Array[Byte](8 + 12 * nnz)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.putInt(0, FmtSparse); bb.putInt(4, nnz)
    bb.position(8)
    bb.asIntBuffer().put(outI, 0, nnz)
    bb.position(8 + 4 * nnz)
    bb.asDoubleBuffer().put(outV, 0, nnz)
    bytes
  }

  /** Stage-1 LPA tile pass: count labels per destination — sort the
    * tile's (dstLocal, edge) pairs (one primitive long sort, same
    * trick as packSparseAssembled), then per-destination sort the
    * label values and run-length encode. Output: (dstLocal:int,
    * label:double, count:int) triples packed as FmtLabels — the
    * tile-level partial count (Catalyst's map-side combine analog)
    * that the exchange ships. */
  private def packLabelCounts(t: Tile, values: Array[Double]): Array[Byte] = {
    val srcSlots = t.srcSlots; val offsets = t.offsets; val dstLocal = t.dstLocal
    val n = t.nEdges
    val order = new Array[Long](n)
    val labs = new Array[Double](n)
    var k = 0
    var i = 0
    while (i < srcSlots.length) {
      val lab = values(srcSlots(i) * 2) // [label, prev] stride
      var e = offsets(i); val end = offsets(i + 1)
      while (e < end) {
        order(k) = (dstLocal(e).toLong << 32) | k
        labs(k) = lab
        k += 1; e += 1
      }
      i += 1
    }
    java.util.Arrays.sort(order)
    val outD = new scala.collection.mutable.ArrayBuilder.ofInt
    val outL = new scala.collection.mutable.ArrayBuilder.ofDouble
    val outC = new scala.collection.mutable.ArrayBuilder.ofInt
    val scratch = new Array[Double](n)
    var nnz = 0
    var t2 = 0
    while (t2 < n) {
      val d = (order(t2) >>> 32).toInt
      var len = 0
      while (t2 < n && (order(t2) >>> 32).toInt == d) {
        scratch(len) = labs(order(t2).toInt)
        len += 1; t2 += 1
      }
      java.util.Arrays.sort(scratch, 0, len)
      var j = 0
      while (j < len) {
        val lab = scratch(j)
        var c = 1
        j += 1
        while (j < len && scratch(j) == lab) { c += 1; j += 1 }
        outD += d; outL += lab; outC += c; nnz += 1
      }
    }
    packTriples(outD.result(), outL.result(), outC.result(), nnz)
  }

  /** Stage-1 INCREMENTAL LPA tile pass: ship per-(dst, label) count
    * DELTAS from the sources that changed last superstep — +1 for the
    * new label and −1 for the previous one per frontier edge, folded
    * per destination (a ± pair that cancels ships nothing). The
    * destination's persistent LabelTable absorbs the triples, keeping
    * it equal to the full recount at O(changed-edge) cost — the
    * SpMSpV frontier idea applied to the multiset combiner. Returns
    * null when the tile has no active rows or every delta cancels. */
  private def packLabelDeltas(t: Tile, values: Array[Double],
                              act: Array[Long]): Array[Byte] = {
    val srcSlots = t.srcSlots; val offsets = t.offsets; val dstLocal = t.dstLocal
    val rowsB = new scala.collection.mutable.ArrayBuilder.ofInt
    var aEdges = 0
    var i = 0
    while (i < srcSlots.length) {
      if (bitGet(act, srcSlots(i))) {
        rowsB += i; aEdges += offsets(i + 1) - offsets(i)
      }
      i += 1
    }
    val rows = rowsB.result()
    if (rows.isEmpty) return null
    // up to two contributions per frontier edge: (+new, −prev)
    val order = new Array[Long](2 * aEdges)
    val labs = new Array[Long](2 * aEdges)
    val sign = new Array[Int](2 * aEdges)
    var k = 0
    var r = 0
    while (r < rows.length) {
      val i2 = rows(r); val slot = srcSlots(i2)
      val cur = java.lang.Double.doubleToRawLongBits(values(slot * 2))
      val prevD = values(slot * 2 + 1)
      val hasPrev = !prevD.isNaN
      val prevBits =
        if (hasPrev) java.lang.Double.doubleToRawLongBits(prevD) else 0L
      var e = offsets(i2); val end = offsets(i2 + 1)
      while (e < end) {
        val key = dstLocal(e).toLong << 32
        order(k) = key | k; labs(k) = cur; sign(k) = 1; k += 1
        if (hasPrev) { order(k) = key | k; labs(k) = prevBits; sign(k) = -1; k += 1 }
        e += 1
      }
      r += 1
    }
    java.util.Arrays.sort(order, 0, k)
    // fold ± per (dst, label); emit the nonzero net deltas
    val outD = new scala.collection.mutable.ArrayBuilder.ofInt
    val outL = new scala.collection.mutable.ArrayBuilder.ofDouble
    val outC = new scala.collection.mutable.ArrayBuilder.ofInt
    val counter = new LabelCounter
    var nnz = 0
    var t2 = 0
    while (t2 < k) {
      val d = (order(t2) >>> 32).toInt
      counter.reset()
      while (t2 < k && (order(t2) >>> 32).toInt == d) {
        val j = order(t2).toInt
        counter.add(java.lang.Double.longBitsToDouble(labs(j)), sign(j))
        t2 += 1
      }
      var j = 0
      while (j < counter.entries) {
        val c = counter.countAt(j)
        if (c != 0L) {
          outD += d
          outL += java.lang.Double.longBitsToDouble(counter.keyBitsAt(j))
          outC += c.toInt
          nnz += 1
        }
        j += 1
      }
    }
    if (nnz == 0) null
    else packTriples(outD.result(), outL.result(), outC.result(), nnz)
  }

  /** (dstLocal, label, count) triples → one FmtLabels byte pack. */
  private def packTriples(dd: Array[Int], ll: Array[Double], cc: Array[Int],
                          nnz: Int): Array[Byte] = {
    val bytes = new Array[Byte](8 + 16 * nnz)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.putInt(0, FmtLabels); bb.putInt(4, nnz)
    bb.position(8)
    bb.asIntBuffer().put(dd, 0, nnz)
    bb.position(8 + 4 * nnz)
    bb.asDoubleBuffer().put(ll, 0, nnz)
    bb.position(8 + 12 * nnz)
    bb.asIntBuffer().put(cc, 0, nnz)
    bytes
  }

  /** Reusable open-addressing label→count map for the LPA mode's
    * final combine. Labels are keyed by raw double bits — LPA labels
    * are non-negative vertex ids, whose IEEE bit pattern is
    * order-isomorphic to the value, so the bit-level `<` in argmax IS
    * the label `<`. reset() is O(1) via an epoch stamp; argmax ties
    * break toward the SMALLEST label — identical to
    * algos.LabelPropagation's max(struct(cnt, -label)). */
  private[graph] final class LabelCounter {
    private var cap = 256
    private var mask = cap - 1
    private var keys = new Array[Long](cap)
    private var cnts = new Array[Long](cap)
    private var stamp = new Array[Int](cap)
    private var usedIdx = new Array[Int](cap)
    private var epoch = 0
    private var size = 0
    def reset(): Unit = { epoch += 1; size = 0 }
    private def idx(k: Long): Int = {
      var h = k * -7046029254386353131L
      h ^= h >>> 32
      (h & mask).toInt
    }
    private def put(k: Long, c: Long): Unit = {
      var i = idx(k)
      while (stamp(i) == epoch && keys(i) != k) i = (i + 1) & mask
      if (stamp(i) != epoch) {
        keys(i) = k; cnts(i) = 0L; stamp(i) = epoch
        usedIdx(size) = i; size += 1
      }
      cnts(i) += c
    }
    private def grow(): Unit = {
      val ok = keys; val oc = cnts; val ou = usedIdx; val oldSize = size
      cap <<= 1; mask = cap - 1
      keys = new Array[Long](cap); cnts = new Array[Long](cap)
      stamp = new Array[Int](cap); usedIdx = new Array[Int](cap)
      size = 0
      var j = 0
      while (j < oldSize) {
        val i = ou(j)
        put(ok(i), oc(i))
        j += 1
      }
    }
    def add(label: Double, count: Int): Unit =
      addBits(java.lang.Double.doubleToRawLongBits(label), count.toLong)
    def addBits(labelBits: Long, count: Long): Unit = {
      if (size * 3 >= cap * 2) grow()
      put(labelBits, count)
    }
    /** Scans only this epoch's entries (the used list), not the table. */
    def argmax(): Double = {
      var bestCnt = -1L
      var bestKey = 0L
      var j = 0
      while (j < size) {
        val i = usedIdx(j)
        val c = cnts(i); val k = keys(i)
        if (c > bestCnt || (c == bestCnt && k < bestKey)) { bestCnt = c; bestKey = k }
        j += 1
      }
      java.lang.Double.longBitsToDouble(bestKey)
    }
    /** Entry enumeration (insertion order — deterministic given a
      * deterministic add order) for the delta fold, which must emit
      * the nonzero nets rather than a single argmax. */
    def entries: Int = size
    def keyBitsAt(j: Int): Long = keys(usedIdx(j))
    def countAt(j: Int): Long = cnts(usedIdx(j))
  }

  /** A destination partition's per-(state-slot, label) count multiset —
    * what the LPA superstep arg-maxes over. Two renditions: the pooled
    * [[LabelTable]] a FULL superstep builds from the complete recount,
    * and the per-slot persistent [[SlotCounts]] the incremental
    * supersteps evolve by structural sharing. */
  private[graph] sealed trait SlotMultiset extends Serializable {
    /** Arg-max over the slot's live labels — max count, ties toward the
      * smallest label (nonnegative-double raw bits: bit `<` IS label
      * `<`). Long.MinValue when the slot has no live entry. */
    def argmax(slot: Int): Long
    /** Per-slot copy-on-write view for the NEXT superstep: shares every
      * slot's count array; the caller replaces touched slots' arrays
      * wholesale (mergeSlot), so the receiver stays untouched — the
      * retry/recompute contract a persisted PartState requires. */
    def toSlotCounts: SlotCounts
  }

  private[graph] object SlotCounts {
    /** Shared "override to no live labels" marker — distinguishes a
      * slot whose counts all cancelled (scan nothing) from a slot with
      * no override (scan the base slice). */
    private val DeadLabs = new Array[Long](0)
    private val DeadCnts = new Array[Int](0)
  }

  /** The incremental supersteps' persistent per-slot count store: a
    * FLAT CSR base (offsets + parallel labelBits/count arrays — three
    * big allocations at conversion time, no per-slot object storm)
    * plus a per-slot OVERRIDE layer for slots whose counts have moved
    * since the base was built. Copy-on-write clones only the two
    * override pointer arrays (O(slots)); mergeSlot writes a fresh
    * small override for each touched slot (O(changed)) and never
    * mutates base or shared overrides — the retry/recompute contract
    * a persisted PartState requires. Live counts are strictly
    * positive. */
  private[graph] final class SlotCounts(
      private val offsets: Array[Int],
      private val baseLabs: Array[Long],
      private val baseCnts: Array[Int],
      private val ovLabs: Array[Array[Long]],
      private val ovCnts: Array[Array[Int]]) extends SlotMultiset {

    private[graph] def this(offsets: Array[Int], baseLabs: Array[Long],
                            baseCnts: Array[Int]) =
      this(offsets, baseLabs, baseCnts,
        new Array[Array[Long]](offsets.length - 1),
        new Array[Array[Int]](offsets.length - 1))

    def argmax(slot: Int): Long = {
      val ov = ovLabs(slot)
      var bestCnt = 0
      var bestKey = Long.MinValue
      if (ov != null) {
        val cs = ovCnts(slot)
        var i = 0
        while (i < ov.length) {
          val c = cs(i)
          if (c > bestCnt || (c == bestCnt && c > 0 && ov(i) < bestKey)) {
            bestCnt = c; bestKey = ov(i)
          }
          i += 1
        }
      } else {
        var i = offsets(slot)
        val end = offsets(slot + 1)
        while (i < end) {
          val c = baseCnts(i)
          if (c > bestCnt || (c == bestCnt && c > 0 && baseLabs(i) < bestKey)) {
            bestCnt = c; bestKey = baseLabs(i)
          }
          i += 1
        }
      }
      bestKey
    }

    def toSlotCounts: SlotCounts =
      new SlotCounts(offsets, baseLabs, baseCnts, ovLabs.clone(), ovCnts.clone())

    /** Replace `slot`'s override with (current ⊎ deltas-from-`delta`),
      * dropping labels whose counts net to zero. Only ever called on a
      * freshly cloned override layer (toSlotCounts), so the receiver
      * this was cloned from stays untouched. `counter` is the caller's
      * reusable scratch (epoch-reset, O(slot's labels)). */
    def mergeSlot(slot: Int, delta: LabelTable, counter: LabelCounter): Unit = {
      counter.reset()
      val ov = ovLabs(slot)
      if (ov != null) {
        val cs = ovCnts(slot)
        var i = 0
        while (i < ov.length) { counter.addBits(ov(i), cs(i)); i += 1 }
      } else {
        var i = offsets(slot)
        val end = offsets(slot + 1)
        while (i < end) { counter.addBits(baseLabs(i), baseCnts(i)); i += 1 }
      }
      delta.forSlot(slot)(counter.addBits)
      var live = 0
      var j = 0
      while (j < counter.entries) {
        if (counter.countAt(j) != 0L) live += 1
        j += 1
      }
      if (live == 0) { ovLabs(slot) = SlotCounts.DeadLabs; ovCnts(slot) = SlotCounts.DeadCnts }
      else {
        val nl = new Array[Long](live)
        val nc = new Array[Int](live)
        var k = 0
        j = 0
        while (j < counter.entries) {
          val c = counter.countAt(j)
          if (c != 0L) { nl(k) = counter.keyBitsAt(j); nc(k) = c.toInt; k += 1 }
          j += 1
        }
        ovLabs(slot) = nl; ovCnts(slot) = nc
      }
    }
  }

  /** The LPA mode's PERSISTENT per-(state-slot, label) count multiset —
    * the destination-side aggregation state the incremental superstep
    * maintains across iterations so it only has to absorb deltas from
    * changed sources instead of recounting every in-edge (the frontier
    * idea applied to the multiset combiner; the reference has no
    * analog — its min-label LPA rides the scalar frontier kernel).
    *
    * Layout: an append-only entry pool (slot, labelBits, count) with a
    * per-slot chain for O(slot's labels) arg-max, plus an open-
    * addressing index keyed (slot, labelBits). Counts are exact ints
    * (≥ 0 by the induction: every −1 removes a contribution a prior +1
    * added). A full superstep rebuilds it from scratch; the first
    * INCREMENTAL superstep after it converts to [[SlotCounts]] once
    * (toSlotCounts, O(live entries)) and per-slot sharing takes over.
    * Bounded by Σ distinct (dst, label) pairs alive ≤ the partition's
    * in-edge count — the same order as the compiled tiles themselves. */
  private[graph] final class LabelTable private (
      private var slotArr: Array[Int],
      private var labArr: Array[Long],
      private var cntArr: Array[Int],
      private var nextArr: Array[Int],
      private var headArr: Array[Int],
      private var idxTable: Array[Int],
      private var size: Int) extends SlotMultiset {

    def this(nSlots: Int) = this(new Array[Int](16), new Array[Long](16),
      new Array[Int](16), new Array[Int](16),
      { val h = new Array[Int](math.max(1, nSlots)); java.util.Arrays.fill(h, -1); h },
      new Array[Int](64), 0)

    /** Pre-sized for a known upper bound on entries (the incoming
      * triple count): skips the pool-doubling copies and index
      * rehashes a from-16 growth path would churn through — less
      * transient garbage in the table-heaviest (early, full-recount)
      * supersteps. */
    def this(nSlots: Int, expectedEntries: Int) = this(
      { var c = 16; while (c < expectedEntries && c < (1 << 30)) c <<= 1
        new Array[Int](c) },
      { var c = 16; while (c < expectedEntries && c < (1 << 30)) c <<= 1
        new Array[Long](c) },
      { var c = 16; while (c < expectedEntries && c < (1 << 30)) c <<= 1
        new Array[Int](c) },
      { var c = 16; while (c < expectedEntries && c < (1 << 30)) c <<= 1
        new Array[Int](c) },
      { val h = new Array[Int](math.max(1, nSlots)); java.util.Arrays.fill(h, -1); h },
      { var c = 64; while (c.toLong * 2 < expectedEntries.toLong * 3 && c < (1 << 30)) c <<= 1
        new Array[Int](c) }, 0)

    def nonEmptyAt(slot: Int): Boolean = headArr(slot) >= 0

    private def hashOf(slot: Int, lab: Long): Int = {
      var h = (lab ^ (slot.toLong * 0x9E3779B97F4A7C15L)) * -7046029254386353131L
      h ^= h >>> 32
      h.toInt
    }

    /** Unconditional `<< 1` past 2^30 would overflow to a negative
      * array size deep inside a superstep; fail with the actual limit
      * instead (per-partition live (dst,label) cardinality > ~10^9
      * means the partition count is wrong for the data). */
    private def grownCap(cur: Int, what: String): Int = {
      if (cur >= (1 << 30))
        throw new IllegalStateException(
          s"LabelTable $what exceeds 2^30 entries in one partition — " +
            "raise the partition count so per-partition label cardinality fits")
      cur << 1
    }

    private def growPool(): Unit = {
      val cap = grownCap(slotArr.length, "entry pool")
      slotArr = java.util.Arrays.copyOf(slotArr, cap)
      labArr = java.util.Arrays.copyOf(labArr, cap)
      cntArr = java.util.Arrays.copyOf(cntArr, cap)
      nextArr = java.util.Arrays.copyOf(nextArr, cap)
    }

    private def rehash(): Unit = {
      val cap = grownCap(idxTable.length, "hash index")
      val mask = cap - 1
      val nt = new Array[Int](cap)
      var e = 0
      while (e < size) {
        var i = hashOf(slotArr(e), labArr(e)) & mask
        while (nt(i) != 0) i = (i + 1) & mask
        nt(i) = e + 1
        e += 1
      }
      idxTable = nt
    }

    private def findOrInsert(slot: Int, lab: Long): Int = {
      val mask = idxTable.length - 1
      var i = hashOf(slot, lab) & mask
      var e = idxTable(i)
      while (e != 0) {
        val p = e - 1
        if (slotArr(p) == slot && labArr(p) == lab) return p
        i = (i + 1) & mask
        e = idxTable(i)
      }
      if (size == slotArr.length) growPool()
      slotArr(size) = slot; labArr(size) = lab; cntArr(size) = 0
      nextArr(size) = headArr(slot); headArr(slot) = size
      idxTable(i) = size + 1
      size += 1
      if (size * 3 >= idxTable.length * 2) rehash()
      size - 1
    }

    def add(slot: Int, lab: Long, d: Int): Unit = {
      if (d == 0) return
      val e = findOrInsert(slot, lab)
      cntArr(e) += d
    }

    /** Visit the slot's live (labelBits, count ≠ 0) entries. */
    def forSlot(slot: Int)(f: (Long, Long) => Unit): Unit = {
      var e = headArr(slot)
      while (e >= 0) {
        if (cntArr(e) != 0) f(labArr(e), cntArr(e).toLong)
        e = nextArr(e)
      }
    }

    /** Arg-max over the slot's live labels — max count, ties toward
      * the smallest label (nonnegative doubles: the raw-bits `<` IS
      * the label `<`, same trick as LabelCounter). Long.MinValue when
      * the slot has no live entry (then the caller keeps its label —
      * only reachable when every count net-cancelled to zero, which
      * for a constant per-dst total means the slot was never fed). */
    def argmax(slot: Int): Long = {
      var bestCnt = 0
      var bestKey = Long.MinValue
      var e = headArr(slot)
      while (e >= 0) {
        val c = cntArr(e)
        if (c > bestCnt || (c == bestCnt && c > 0 && labArr(e) < bestKey)) {
          bestCnt = c; bestKey = labArr(e)
        }
        e = nextArr(e)
      }
      bestKey
    }

    /** One-time conversion to the flat-CSR persistent layout — runs on
      * the first incremental superstep after a full recount, then
      * SlotCounts' override sharing takes over. Three big allocations
      * (offsets + two flat arrays), no per-slot objects. Dead (count 0)
      * entries are dropped; per-slot order follows the chain (argmax
      * is order-independent, and counts are never serialized to a
      * checkpoint, so the order is free). */
    def toSlotCounts: SlotCounts = {
      val nSlots = headArr.length
      val offsets = new Array[Int](nSlots + 1)
      var live = 0
      var e = 0
      while (e < size) { if (cntArr(e) != 0) { offsets(slotArr(e) + 1) += 1; live += 1 }; e = e + 1 }
      var slot = 0
      while (slot < nSlots) { offsets(slot + 1) += offsets(slot); slot += 1 }
      val labs = new Array[Long](live)
      val cnts = new Array[Int](live)
      // fill via a moving cursor per slot (re-walk the pool; entries of
      // one slot land contiguously in chain order)
      val cursor = java.util.Arrays.copyOf(offsets, nSlots)
      e = 0
      while (e < size) {
        if (cntArr(e) != 0) {
          val s = slotArr(e)
          val k = cursor(s)
          labs(k) = labArr(e); cnts(k) = cntArr(e)
          cursor(s) = k + 1
        }
        e += 1
      }
      new SlotCounts(offsets, labs, cnts)
    }
  }

  /** Compile an edge table (src, dst[, w]) into the tiled kernel form.
    * Three one-time shuffles: edges→hash(src), vertex-universe dedup,
    * and the tile-destination-list exchange that precomputes every
    * (p,q) slot mapping (+ one more, hub-edge re-routing, ONLY when a
    * hub breaches the salting chunk). Deterministic: tile edges sorted
    * (src, dst), tile destination lists sorted, so recompiles are
    * bit-identical.
    *
    * `hubChunk` caps how many of one source's edges may concentrate in
    * a single partition before the source row is SALTED — split across
    * partitions in chunks keyed by hash(dst), the same rationale as
    * the DataFrame engine's salted CSR (Adjacency.scala:89-105):
    * message duplication is correct for gather, and stage 2 already
    * merges by destination. 0 (the default) = auto:
    * max(65536, E/(4·parts)) — only a vertex owning more than a
    * quarter-partition of edges triggers, so ordinary graphs compile
    * byte-identically to the unsalted layout. Receiving partitions get
    * MIRROR source slots whose state is refreshed each superstep from
    * a hub broadcast harvested by the convergence-count job (O(#hubs)
    * ≤ 4·parts values — driver traffic in the kilobytes). */
  def compile(edges: DataFrame, parts: Int, hubChunk: Long = 0L): CompiledGraph = {
    val spark = edges.sparkSession
    val weighted = edges.columns.contains("w")
    val hp = new HashPartitioner(parts)
    val idPart = new IdPartitioner(parts)
    val P = parts
    val wtd = weighted

    // InternalRow scan (no per-row Row allocation) bucketed map-side
    // into PACKED per-target EdgeChunks: the old per-edge boxed-tuple
    // partitionBy was the compile's dominant cost (profiled 2.4 s of a
    // 7.2 s compile at 28.8M edges/32c under Kryo, worse under the SQL
    // session's JavaSerializer); the chunk exchange moves the same
    // bytes as ~P² primitive-array records.
    val scan =
      (if (weighted)
        edges.selectExpr("CAST(src AS LONG)", "CAST(dst AS LONG)",
          "CAST(COALESCE(w, 1.0) AS DOUBLE)")
      else
        edges.selectExpr("CAST(src AS LONG)", "CAST(dst AS LONG)"))
        .queryExecution.toRdd
    val eParts: RDD[(Int, EdgeChunk)] = scan.mapPartitions { it =>
      val bS = Array.fill(P)(new scala.collection.mutable.ArrayBuilder.ofLong)
      val bD = Array.fill(P)(new scala.collection.mutable.ArrayBuilder.ofLong)
      val bW = if (wtd) Array.fill(P)(new scala.collection.mutable.ArrayBuilder.ofDouble) else null
      it.foreach { ir =>
        val s = ir.getLong(0)
        val q = hp.getPartition(s)
        bS(q) += s; bD(q) += ir.getLong(1)
        if (bW != null) bW(q) += ir.getDouble(2)
      }
      Iterator.range(0, P).flatMap { q =>
        val ss = bS(q).result()
        bS(q) = null
        if (ss.isEmpty) Iterator.empty
        else {
          val dd = bD(q).result(); bD(q) = null
          val ww = if (bW != null) { val w = bW(q).result(); bW(q) = null; w } else null
          Iterator.single((q, EdgeChunk(ss, dd, ww)))
        }
      }
    }.partitionBy(idPart).persist(StorageLevel.MEMORY_AND_DISK)

    // hub detection + total edge count in ONE pass (which also
    // materializes the chunk cache). Per-source counts are exact
    // per-partition out-degrees here because un-salted routing is
    // hash(src) — every source's edges sit wholly in one partition.
    // The old separate degree reduceByKey + vertex reduceByKey tuple
    // shuffles (profiled 0.6 s + 4.4 s at 28.8M/32c) are gone: degrees
    // are recomputed partition-locally in compilePartition, and the
    // vertex universe rides a packed distinct-vid chunk exchange below.
    val floor = if (hubChunk > 0) hubChunk else 65536L
    val (totalE, hubCands) = eParts.mapPartitions { it =>
      var n = 0L
      val cnt = new LongCounter(1 << 12)
      it.foreach { case (_, c) =>
        var i = 0
        n += c.srcs.length
        while (i < c.srcs.length) { cnt.add(c.srcs(i), 1L); i += 1 }
      }
      Iterator.single((n, cnt.entriesAbove(floor)))
    }.fold((0L, List.empty[(Long, Long)])) {
      case ((n1, l1), (n2, l2)) => (n1 + n2, l1 ::: l2)
    }
    val chunk =
      if (hubChunk > 0) hubChunk
      else math.max(65536L, totalE / (4L * parts))
    val hubMap: Map[Long, Long] = hubCands.filter(_._2 > chunk).toMap

    // distinct-vid chunks to each vid's owner partition (replaces the
    // verts reduceByKey): per partition one dedup set over its chunk
    // cache, then one packed array per owner
    val vChunks: RDD[(Int, Array[Long])] = eParts.mapPartitions { it =>
      val set = new LongCounter(1 << 12)
      it.foreach { case (_, c) =>
        var i = 0
        while (i < c.srcs.length) { set.add(c.srcs(i), 1L); set.add(c.dsts(i), 1L); i += 1 }
      }
      val bufs = Array.fill(P)(new scala.collection.mutable.ArrayBuilder.ofLong)
      set.foreachEntry((v, _) => bufs(hp.getPartition(v)) += v)
      Iterator.range(0, P).flatMap { q =>
        val a = bufs(q).result()
        if (a.isEmpty) Iterator.empty else Iterator.single((q, a))
      }
    }.partitionBy(idPart)

    // hub edges re-route to a salted partition: chunk k = hash(dst) %
    // nChunks, target = hash(src, k) — deterministic, so recompiles
    // stay bit-identical. Non-hub graphs skip the extra shuffle.
    val eTiles: RDD[(Int, EdgeChunk)] =
      if (hubMap.isEmpty) eParts
      else {
        val hm = hubMap // bounded: ≤ E/chunk entries (≤ 4·parts in auto)
        val ck = chunk
        eParts.mapPartitions { it =>
          val bS = Array.fill(P)(new scala.collection.mutable.ArrayBuilder.ofLong)
          val bD = Array.fill(P)(new scala.collection.mutable.ArrayBuilder.ofLong)
          val bW = if (wtd) Array.fill(P)(new scala.collection.mutable.ArrayBuilder.ofDouble) else null
          it.foreach { case (_, c) =>
            var i = 0
            while (i < c.srcs.length) {
              val s = c.srcs(i); val d = c.dsts(i)
              val target = hm.get(s) match {
                case Some(dg) =>
                  val nc = math.min((dg + ck - 1) / ck, P.toLong).toInt
                  val k = ((mix(d) >>> 33) % nc).toInt
                  ((mix(s + 31L * (k + 1)) >>> 33) % P).toInt
                case None => hp.getPartition(s)
              }
              bS(target) += s; bD(target) += d
              if (bW != null) bW(target) += c.ws(i)
              i += 1
            }
          }
          Iterator.range(0, P).flatMap { q =>
            val ss = bS(q).result()
            bS(q) = null
            if (ss.isEmpty) Iterator.empty
            else {
              val dd = bD(q).result(); bD(q) = null
              val ww = if (bW != null) { val w = bW(q).result(); bW(q) = null; w } else null
              Iterator.single((q, EdgeChunk(ss, dd, ww)))
            }
          }
        }.partitionBy(idPart)
      }

    // No materializing count() here: the nV/nE fold job below computes
    // `compiled` in its meta shuffle-map stage, which caches these
    // partitions as a side effect — one job fewer per compile.
    val compiled: RDD[(KernelPartition, Array[Array[Long]])] =
      vChunks.zipPartitions(eTiles, preservesPartitioning = true) { (vIt, eIt) =>
        Iterator.single(compilePartition(parts, hp, hubMap, vIt, eIt, weighted))
      }.persist(StorageLevel.MEMORY_AND_DISK)

    // one-time exchange of each tile's (sorted) destination-id list to
    // its owner partition → per-(p,q) slot mappings
    val meta: RDD[(Int, (Int, Array[Long]))] = compiled
      .mapPartitionsWithIndex { (p, it) =>
        val (_, dstVids) = it.next()
        Iterator.range(0, parts).flatMap(q =>
          if (dstVids(q) == null) Iterator.empty
          else Iterator.single((q, (p, dstVids(q)))))
      }.partitionBy(idPart)

    val kernel: RDD[KernelPartition] = compiled.zipPartitions(meta,
      preservesPartitioning = false) { (cIt, mIt) =>
      val (kp, _) = cIt.next()
      val vidSlot = new LongIntMap(kp.vids.length)
      var vi = 0
      while (vi < kp.vids.length) { vidSlot.put(kp.vids(vi), vi); vi += 1 }
      val inSlots = new Array[Array[Int]](parts)
      mIt.foreach { case (_, (p, dstVids)) =>
        val arr = new Array[Int](dstVids.length)
        var i = 0
        while (i < dstVids.length) {
          arr(i) = vidSlot.get(dstVids(i))
          i += 1
        }
        inSlots(p) = arr
      }
      Iterator.single(kp.copy(inSlots = inSlots))
    }.persist(StorageLevel.MEMORY_AND_DISK)

    val (nV, nE, nMir) = kernel
      .map(kp => (kp.vids.length.toLong,
        kp.tiles.map(t => if (t == null) 0L else t.nEdges.toLong).sum,
        kp.mirrorVids.length.toLong))
      .fold((0L, 0L, 0L)) { case ((v1, e1, m1), (v2, e2, m2)) =>
        (v1 + v2, e1 + e2, m1 + m2) }
    eParts.unpersist(false) // kernel + compiled are materialized now
    compiled.unpersist(false)
    new CompiledGraph(kernel, spark, parts, nV, nE, weighted, nMir)
  }

  private def compilePartition(
      P: Int, hp: HashPartitioner, hubMap: Map[Long, Long],
      vIt: Iterator[(Int, Array[Long])], eIt: Iterator[(Int, EdgeChunk)],
      weighted: Boolean): (KernelPartition, Array[Array[Long]]) = {
    // owned vid universe: merge the per-sender distinct-vid chunks,
    // sort, dedup in place
    val vb = new scala.collection.mutable.ArrayBuilder.ofLong
    vIt.foreach { case (_, a) => vb ++= a }
    val vids = {
      val raw = vb.result()
      java.util.Arrays.sort(raw)
      var u = -1; var i = 0
      while (i < raw.length) {
        if (u < 0 || raw(i) != raw(u)) { u += 1; raw(u) = raw(i) }
        i += 1
      }
      java.util.Arrays.copyOf(raw, u + 1)
    }
    val nOwned = vids.length
    val vidSlot = new LongIntMap(nOwned)
    var vi = 0
    while (vi < nOwned) { vidSlot.put(vids(vi), vi); vi += 1 }
    val deg = new Array[Long](nOwned)

    // bucket edges by destination partition, counting owned out-degrees
    // as they stream by (un-salted sources are wholly local, so the
    // local count IS the out-degree; salted hubs are overridden from
    // hubMap below) and collecting the sources a salted compile routed
    // here that this partition does NOT own
    val bufS = Array.fill(P)(new scala.collection.mutable.ArrayBuilder.ofLong)
    val bufD = Array.fill(P)(new scala.collection.mutable.ArrayBuilder.ofLong)
    val bufW = if (weighted) Array.fill(P)(new scala.collection.mutable.ArrayBuilder.ofDouble) else null
    val mirrorB = new scala.collection.mutable.ArrayBuilder.ofLong
    eIt.foreach { case (_, c) =>
      var i = 0
      while (i < c.srcs.length) {
        val s = c.srcs(i); val d = c.dsts(i)
        val q = hp.getPartition(d)
        bufS(q) += s; bufD(q) += d
        if (bufW != null) bufW(q) += c.ws(i)
        val sl = vidSlot.getOrElse(s, -1)
        if (sl < 0) mirrorB += s else deg(sl) += 1
        i += 1
      }
    }
    // owned salted hubs: the local count misses the chunks routed to
    // other partitions — the hub map carries the full out-degree
    hubMap.foreach { case (h, dg) =>
      val sl = vidSlot.getOrElse(h, -1)
      if (sl >= 0) deg(sl) = dg
    }
    // sorted, deduped mirror list → deterministic mirror slot order
    val mirrorVids = {
      val raw = mirrorB.result()
      java.util.Arrays.sort(raw)
      var u = -1; var i = 0
      while (i < raw.length) {
        if (u < 0 || raw(i) != raw(u)) { u += 1; raw(u) = raw(i) }
        i += 1
      }
      java.util.Arrays.copyOf(raw, u + 1)
    }
    val mirrorSlot = new LongIntMap(math.max(1, mirrorVids.length))
    var mi = 0
    while (mi < mirrorVids.length) { mirrorSlot.put(mirrorVids(mi), mi); mi += 1 }
    def slotOf(s: Long): Int = {
      val o = vidSlot.getOrElse(s, -1)
      if (o >= 0) o else nOwned + mirrorSlot.get(s)
    }

    // combined invDeg: owned (from the local counts / hub override
    // above) ++ mirror (from the hub map — a mirror is by construction
    // a hub, whose full out-degree the map carries)
    val invDeg = new Array[Double](nOwned + mirrorVids.length)
    var di0 = 0
    while (di0 < nOwned) {
      if (deg(di0) > 0) invDeg(di0) = 1.0 / deg(di0)
      di0 += 1
    }
    mi = 0
    while (mi < mirrorVids.length) {
      invDeg(nOwned + mi) = 1.0 / hubMap(mirrorVids(mi))
      mi += 1
    }
    // owned vids that are salted hubs (mirrored in other partitions):
    // their state is harvested for the hub broadcast every superstep
    val ownedHubSlots = hubMap.keysIterator
      .map(h => vidSlot.getOrElse(h, -1)).filter(_ >= 0).toArray
    java.util.Arrays.sort(ownedHubSlots)

    val tiles = new Array[Tile](P)
    val dstVids = new Array[Array[Long]](P)
    var q = 0
    while (q < P) {
      val ss = bufS(q).result(); val dd = bufD(q).result()
      val ww = if (bufW != null) bufW(q).result() else null
      // release each tile's builders as soon as they are drained —
      // result() copies, so holding the builder doubles the tile's
      // bytes; across all P builders that peak OOM'd an 8-partition
      // compile of the 460M-edge table (each partition stages E/8
      // edges through these buffers)
      bufS(q) = null; bufD(q) = null
      if (bufW != null) bufW(q) = null
      if (ss.nonEmpty) {
        val n = ss.length
        // deterministic tile layout: edges in ascending SOURCE-SLOT
        // order (slot fits an Int, so (slot<<32 | idx) sorts as one
        // primitive long — no boxed comparator). Per-destination sums
        // are then added in ascending-source order every compile; dst
        // order within a source row is irrelevant to the sums. Mirror
        // slots sort after owned slots — also deterministic.
        val order = new Array[Long](n)
        var oi = 0
        while (oi < n) { order(oi) = (slotOf(ss(oi)).toLong << 32) | oi; oi += 1 }
        java.util.Arrays.sort(order)
        // sorted distinct destination list → tile-local ids
        val distinct = dd.clone()
        java.util.Arrays.sort(distinct)
        var u = 0; var i = 1
        while (i < distinct.length) {
          if (distinct(i) != distinct(u)) { u += 1; distinct(u) = distinct(i) }
          i += 1
        }
        val tileDsts = java.util.Arrays.copyOf(distinct, u + 1)
        val dstIdx = new LongIntMap(tileDsts.length)
        var di = 0
        while (di < tileDsts.length) { dstIdx.put(tileDsts(di), di); di += 1 }

        val srcSlotsB = new scala.collection.mutable.ArrayBuilder.ofInt
        val offsetsB = new scala.collection.mutable.ArrayBuilder.ofInt
        val dstLocal = new Array[Int](n)
        val wOut = if (ww != null) new Array[Double](n) else null
        var lastSlot = -1
        var k = 0
        while (k < n) {
          val slot = (order(k) >>> 32).toInt
          val e = order(k).toInt
          if (slot != lastSlot) {
            srcSlotsB += slot
            offsetsB += k
            lastSlot = slot
          }
          dstLocal(k) = dstIdx.get(dd(e))
          if (wOut != null) wOut(k) = ww(e)
          k += 1
        }
        offsetsB += n
        tiles(q) = Tile(srcSlotsB.result(), offsetsB.result(), dstLocal, wOut, tileDsts.length)
        dstVids(q) = tileDsts
      }
      q += 1
    }
    (KernelPartition(vids, deg, invDeg, mirrorVids, ownedHubSlots, tiles,
      inSlots = null), dstVids)
  }
}
