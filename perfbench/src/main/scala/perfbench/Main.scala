package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** Benchmark entry point: one workload, one seed, one JVM, one client.
  *
  * {{{
  * perfbench.Main --workload lake_mixed --seed 7 --seconds 20 --trace 0 --work-dir DIR
  * }}}
  *
  * Prints a detail line (every figure, sample counts, failures) and then,
  * as the last line, the result: end-to-end metrics when `--trace 0`,
  * per-layer metrics when `--trace 1`.
  */
object Main {

  /** Set-up repetitions; `setup_s` is their median. */
  val SetupReps = 3

  /** Driver heap in use after a forced full collection; the least of a
    * few tries, so a collection that ran while background threads held
    * short-lived garbage does not count.
    */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }.min
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new File(opts("work-dir")).getAbsoluteFile
    work.mkdirs()

    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = GraftSession.tune(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop").getPath))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    try {
      val tracer = new Tracer(spark, traced)
      val wl = Workload(workload, spark, tracer, seed)

      val setupTimes = (1 to SetupReps).map { rep =>
        val repDir = new File(work, s"data/setup-$rep").getPath
        val s0 = System.nanoTime()
        wl.setup(repDir)
        (System.nanoTime() - s0) / 1e9
      }
      tracer.startRecording()
      val roundTimes = ArrayBuffer.empty[Double]
      val phase0 = System.nanoTime()
      while (tracer.opSeconds < seconds) {
        val before = tracer.opSeconds
        wl.round()
        roundTimes += tracer.opSeconds - before
      }
      val phaseS = (System.nanoTime() - phase0) / 1e9
      tracer.stopRecording()
      wl.finish()

      val spaceAmp = Workload.spaceAmp(spark, wl.lakeRoot, new File(work, "compact").getPath)
      val heapMb = retainedHeapMb()

      val ops = tracer.ops.toSeq
      def lat(kind: String, q: Double): Double = {
        val xs = ops.filter(_.kind == kind).map(_.seconds)
        require(xs.nonEmpty, s"no $kind operations were timed")
        Stats.quantile(xs, q)
      }
      val endToEnd = Seq(
        "setup_s" -> (Stats.median(setupTimes), "s"),
        "ops_per_s" -> (ops.length / tracer.opSeconds, "1/s"),
        "read_p50_s" -> (lat("read", 0.5), "s"),
        "write_p50_s" -> (lat("write", 0.5), "s"),
        "space_amp" -> (spaceAmp, "ratio"),
        "heap_retained_mb" -> (heapMb, "MB"))

      val layers = if (traced) Layers.metrics(tracer, wl, roundTimes.length, phaseS) else Seq.empty
      if (traced) {
        val pw = new PrintWriter(new File(work, "trace.jsonl"))
        try tracer.jsonLines.foreach(l => pw.println(l)) finally pw.close()
      }

      val failedRatio = wl.failed.toDouble / math.max(wl.attempted, 1L)
      val detail = Seq(
        "workload" -> workload, "seed" -> seed, "traced" -> traced, "cores" -> cores,
        "session_s" -> sessionS, "setup_reps_s" -> setupTimes,
        "timed_phase_s" -> phaseS, "rounds" -> roundTimes.toSeq,
        "samples" -> Map(
          "read" -> ops.count(_.kind == "read"), "write" -> ops.count(_.kind == "write")),
        // a run has fewer than 20 reads or writes, so no percentile above
        // the median has ten samples beyond it; the p90 is shown, not gated
        "read_p90_s" -> lat("read", 0.9), "write_p90_s" -> lat("write", 0.9),
        "ops_failed_ratio" -> failedRatio,
        "figures" -> wl.figures.toMap,
        "op_median_s" -> ops.groupBy(_.name).map { case (n, xs) => n -> Stats.median(xs.map(_.seconds)) },
        "self_s" -> (if (traced) tracer.selfSeconds else Map.empty[String, Double]),
        "failures" -> wl.failures.toSeq)
      println("detail " + Json.obj(detail))
      val metrics = (if (traced) layers else endToEnd).map { case (k, (v, unit)) =>
        k -> Map("value" -> v, "unit" -> unit)
      }
      println(Json.obj(Seq(
        "correct" -> (wl.failed == 0), "attempted" -> wl.attempted, "failed" -> wl.failed,
        "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
    } finally {
      spark.stop()
    }
  }
}
