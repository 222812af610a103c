package graft.ckpt

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.ParquetFooters

/** One superstep's worth of run telemetry (north_rule: checkpoints
  * carry per-partition lineage + metrics). */
final case class IterMetrics(
    iter: Int,
    activeVertices: Long,
    wallMs: Long,
    gatherRows: Long)

/** Parquet-backed checkpoint store with a JSON manifest per snapshot —
  * the sandbox stand-in for an Iceberg-cataloged checkpoint table
  * (SURVEY.md §7: no Iceberg runtime jar ships with the image; the
  * directory layout `<root>/iter=NNNNN/{state/, manifest.json}` maps
  * 1:1 onto an Iceberg snapshot + metadata file, so swapping in
  * `iceberg-spark-runtime` later changes only this class).
  *
  * The manifest records: algorithm, iteration, snapshot id, row count,
  * per-file row counts of `state/` (lineage: one file per writing
  * partition), and the full iteration-metrics history — enough for
  * exact resume (north_rule) and for a post-hoc skew audit (the
  * reference's `Matrix::balance` report, src/mat/matrix.hpp:562-687,
  * reborn as data).
  *
  * A save is ONE Spark job, the parquet write: the per-file counts come
  * from the footers of the files just written, read on the driver. The
  * commit is crash-safe: the iteration's old manifest is deleted before
  * `state/` is touched and the new one is written to a temporary file
  * and moved into place atomically, so a crash mid-save leaves a
  * directory [[latestIter]] does not count, never a manifest paired
  * with half-written state. [[load]] re-checks the manifest's row count
  * against the footers before it trusts a snapshot.
  *
  * Superstep loops do not call [[save]] directly: they open a
  * [[RunSnapshots]] policy, which owns the save cadence and the
  * end-of-run snapshot.
  */
final class CheckpointManager(root: String, val every: Int) extends Serializable {

  private def iterDir(iter: Int): Path = Paths.get(root, f"iter=$iter%05d")

  def shouldCheckpoint(iter: Int): Boolean = every > 0 && iter > 0 && iter % every == 0

  def save(algo: String, iter: Int, state: DataFrame, metrics: Seq[IterMetrics]): Unit = {
    val dir = iterDir(iter)
    val manifestFile = dir.resolve("manifest.json")
    // uncommit before touching state/: until the move below, this
    // iteration is not a complete snapshot
    Files.deleteIfExists(manifestFile)
    val stateDir = dir.resolve("state")
    state.write.mode("overwrite").parquet(stateDir.toString)

    val perFile = footerCounts(state.sparkSession, stateDir)
    val rows = perFile.map(_._2).sum
    val snapshotId = java.util.UUID.nameUUIDFromBytes(
      s"$algo/$iter/$rows".getBytes("UTF-8")).toString
    val metricsJson = metrics.map(m =>
      s"""{"iter":${m.iter},"active":${m.activeVertices},"wallMs":${m.wallMs},"gatherRows":${m.gatherRows}}"""
    ).mkString("[", ",", "]")
    val partsJson = perFile.map { case (f, c) => s"""{"file":"$f","rows":$c}""" }
      .mkString("[", ",", "]")
    val manifest =
      s"""{"algo":"${algo}","iteration":$iter,"snapshotId":"$snapshotId",
         |"rows":$rows,"partitions":$partsJson,"metrics":$metricsJson}""".stripMargin

    val tmp = dir.resolve("manifest.json.tmp")
    val ch = FileChannel.open(tmp, StandardOpenOption.CREATE,
      StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
    try {
      ch.write(ByteBuffer.wrap(manifest.getBytes(StandardCharsets.UTF_8)))
      ch.force(true)
    } finally ch.close()
    Files.move(tmp, manifestFile, StandardCopyOption.ATOMIC_MOVE)
  }

  /** (file name, footer row count) of each data file under `stateDir`,
    * by name — the files `spark.read.parquet` reads (it skips names
    * starting with `_` or `.`: `_SUCCESS`, checksum files). */
  private def footerCounts(spark: SparkSession, stateDir: Path): Seq[(String, Long)] = {
    if (!Files.isDirectory(stateDir)) return Seq.empty
    val conf = spark.sparkContext.hadoopConfiguration
    val listing = Files.list(stateDir)
    try listing.iterator().asScala
      .map(_.getFileName.toString)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
      .toSeq.sorted
      .map(n => n -> ParquetFooters.rowCount(
        new org.apache.hadoop.fs.Path(stateDir.resolve(n).toUri), conf))
    finally listing.close()
  }

  private def manifest(iter: Int): Option[JsonNode] = {
    val m = iterDir(iter).resolve("manifest.json")
    if (!Files.exists(m)) None else Some(new ObjectMapper().readTree(Files.readString(m)))
  }

  /** Algorithm name recorded in the snapshot's manifest. */
  def manifestAlgo(iter: Int): Option[String] = manifest(iter).map(_.get("algo").asText)

  /** Latest complete snapshot (has a manifest), if any. */
  def latestIter(): Option[Int] = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) return None
    val listing = Files.list(r)
    try listing.iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("iter=") &&
        Files.exists(p.resolve("manifest.json")))
      .map(p => p.getFileName.toString.stripPrefix("iter=").toInt)
      .toSeq.sorted.lastOption
    finally listing.close()
  }

  /** Load a complete snapshot. Fails fast when the footer row counts of
    * `state/` disagree with the manifest — files lost or rewritten
    * after the commit — instead of resuming from them. */
  def load(spark: SparkSession, iter: Int): DataFrame = {
    val dir = iterDir(iter)
    val want = manifest(iter).map(_.get("rows").asLong).getOrElse(
      throw new IllegalArgumentException(s"checkpoint $dir has no manifest.json (incomplete snapshot)"))
    val stateDir = dir.resolve("state")
    val have = footerCounts(spark, stateDir).map(_._2).sum
    if (have != want) throw new IllegalArgumentException(
      s"checkpoint $dir is torn: its manifest records $want rows, state/ holds $have")
    spark.read.parquet(stateDir.toString)
  }

  /** Load with a fail-fast algorithm check: resuming algorithm X from
    * a snapshot written by algorithm Y would reinterpret state columns
    * (e.g. an engine LPA's LONG label read as the kernel's DOUBLE) —
    * the same wrong-input class as resuming from a different graph,
    * which the kernel's slot lookup already rejects. The row-count
    * check of the 2-argument `load` follows. */
  def load(spark: SparkSession, iter: Int, expectAlgo: String): DataFrame = {
    manifestAlgo(iter).filter(_ != expectAlgo).foreach(a =>
      throw new IllegalArgumentException(
        s"checkpoint at $root iter=$iter was written by algorithm '$a', " +
          s"cannot resume '$expectAlgo' from it"))
    load(spark, iter)
  }
}

object CheckpointManager {
  /** Open one run's snapshot policy: resume from the store's latest
    * complete snapshot, if any. With no store the run resumes from
    * nothing and never saves. */
  def open(store: Option[CheckpointManager], spark: SparkSession, algo: String): RunSnapshots =
    new RunSnapshots(store, algo,
      store.flatMap(c => c.latestIter().map(i => (i, c.load(spark, i, algo)))))
}

/** The snapshot policy of one superstep run, shared by every loop
  * (Engine, the engine LPA, the kernel's `run` and `lpa`): save every
  * `every` supersteps, and save the final state at the end of the run
  * unless that exact iteration's snapshot is already on disk — written
  * at the cadence by this run, or the snapshot this run resumed from
  * and ran no superstep past. The state is passed by name, so a
  * skipped save never builds it. */
final class RunSnapshots private[ckpt] (store: Option[CheckpointManager], algo: String,
                                        val resumed: Option[(Int, DataFrame)]) {
  private var onDisk: Option[Int] = resumed.map(_._1)

  def afterSuperstep(iter: Int, state: => DataFrame, metrics: Seq[IterMetrics]): Unit =
    store.filter(_.shouldCheckpoint(iter)).foreach(write(_, iter, state, metrics))

  def atEnd(iter: Int, state: => DataFrame, metrics: Seq[IterMetrics]): Unit =
    if (!onDisk.contains(iter)) store.foreach(write(_, iter, state, metrics))

  private def write(c: CheckpointManager, iter: Int, state: DataFrame,
                    metrics: Seq[IterMetrics]): Unit = {
    c.save(algo, iter, state, metrics)
    onDisk = Some(iter)
  }
}
