package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.sources.{LakeTable, VersionedLakeTable}

/** A closed-loop workload: one client runs `round()` again and again, each
  * operation starting when the previous one has finished. Everything it
  * writes goes under the directory each `setup` is given.
  */
abstract class Workload(val spark: SparkSession, val tracer: Tracer, val seed: Long) {

  /** Generate the inputs from the seed and load the initial state, under
    * `repDir`. Set-up runs several times; the last one is used.
    */
  def setup(repDir: String): Unit

  /** One pass over the workload's fixed sequence of operations. */
  def round(): Unit

  /** Checks and figures taken after the timed phase. */
  def finish(): Unit = ()

  /** Directory whose lake tables count toward `space_amp`. */
  def lakeRoot: String

  /** Per-layer figures the workload computes itself, by metric name. */
  val layerFigures = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  /** Figures the detail line reports beside the metrics: AUC, recalls,
    * table sizes.
    */
  val figures = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]

  protected def fail(msg: String): Unit = {
    failed += 1
    if (failures.length < 20) failures += msg
  }

  /** Count one output check. */
  protected def check(ok: Boolean, msg: => String): Unit = {
    attempted += 1
    if (!ok) fail(msg)
  }

  /** Run one timed operation, then `verify` its result outside the timed
    * region. A throwing operation or a failed verification counts as one
    * failed operation.
    */
  protected def run[T](kind: String, name: String)(body: => T)(verify: T => Option[String]): Option[T] = {
    attempted += 1
    val r = try Some(tracer.op(kind, name)(body)) catch {
      case NonFatal(e) => fail(s"$name threw ${e.toString.take(300)}"); None
    }
    r.foreach { v =>
      val bad = try verify(v) catch { case NonFatal(e) => Some(s"check threw $e") }
      bad.foreach(m => fail(s"$name: $m"))
    }
    r
  }

  protected def expect(ok: Boolean, msg: => String): Option[String] =
    if (ok) None else Some(msg)

  protected def call[T](layer: String, name: String)(body: => T): T =
    tracer.call(layer, name)(body)
}

object Workload {
  def apply(name: String, spark: SparkSession, tracer: Tracer, seed: Long): Workload =
    name match {
      case "ehr_pipeline" => new EhrPipeline(spark, tracer, seed)
      case "lake_mixed" => new LakeMixed(spark, tracer, seed)
      case "corpus_search" => new CorpusSearch(spark, tracer, seed)
      case other => throw new IllegalArgumentException(
        s"unknown workload $other (ehr_pipeline, lake_mixed, corpus_search)")
    }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(bytesUnder).sum).getOrElse(0L)
    else f.length()

  /** Lake tables under `root`: directories holding a commit log. */
  def lakeTables(root: File): Seq[File] =
    if (!root.isDirectory) Seq.empty
    else if (new File(root, LakeTable.LogDirName).isDirectory) Seq(root)
    else root.listFiles.toSeq.sortBy(_.getName).flatMap(lakeTables)

  /** Bytes on disk under `root` (data, logs, stats, change feeds) over the
    * bytes of each table's live snapshot written once, compactly.
    */
  def spaceAmp(spark: SparkSession, root: String, scratch: String): Double = {
    val onDisk = bytesUnder(new File(root))
    val compact = lakeTables(new File(root)).zipWithIndex.map { case (t, i) =>
      val df =
        if (VersionedLakeTable.isVersioned(spark, t.getPath)) VersionedLakeTable(spark, t.getPath).read
        else LakeTable(spark, t.getPath).read
      val out = s"$scratch/compact-$i"
      df.coalesce(1).write.mode("overwrite").parquet(out)
      val b = bytesUnder(new File(out))
      deleteTree(new File(out))
      b
    }.sum
    onDisk.toDouble / compact
  }

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
}
