package perfbench

/** Per-layer metrics of a traced run, derived from its spans. Every
  * workload reports every metric; a layer the workload never calls
  * reports 0.
  */
object Layers {

  private val MB = 1048576.0

  def metrics(t: Tracer, wl: Workload, rounds: Int, phaseS: Double): Seq[(String, (Double, String))] = {
    val opSpans = t.opSpans
    val calls = t.spans.filter(s => s != null && s.parent >= 0).toSeq
    val nOps = math.max(opSpans.length, 1)
    val perRound = 1.0 / math.max(rounds, 1)

    def named(name: String) = calls.filter(_.name == name)
    def medianS(name: String) = Stats.medianOr0(named(name).map(_.seconds))
    def layerSum(layer: String)(f: Span => Double) =
      calls.filter(_.layer == layer).map(f).sum
    def meanOf(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    // operations whose calls reach one of `layers`
    def opsReaching(kind: String, layers: Set[String]) = {
      val hit = calls.filter(c => layers(c.layer)).map(_.parent).toSet
      opSpans.filter(o => o.kind == kind && hit(o.id))
    }
    val lakeLayers = Set("sources", "plans")
    val opSelf = opSpans.map(_.seconds).sum -
      calls.filter(c => opSpans.exists(_.id == c.parent)).map(_.seconds).sum

    def s(name: String) = s"${name}_s" -> (medianS(name), "s")
    Seq(
      "ingest.etl_s" -> (medianS("ingest.etl"), "s"),
      "ingest.jobs" -> (meanOf(named("ingest.etl").map(_.counts.jobs.toDouble)), "count"),
      "ingest.written_mb" -> (meanOf(named("ingest.etl").map(_.counts.outputBytes / MB)), "MB"),
      "analytics.dashboard_s" -> (layerSum("analytics")(_.seconds) * perRound, "s"),
      "analytics.jobs" -> (layerSum("analytics")(_.counts.jobs.toDouble) * perRound, "count"),
      "features.featurize_s" -> (layerSum("features")(_.seconds) * perRound, "s"),
      "features.jobs" -> (layerSum("features")(_.counts.jobs.toDouble) * perRound, "count"),
      "ml.train_s" -> (medianS("ml.train"), "s"),
      "ml.eval_s" -> (medianS("ml.eval"), "s"),
      "ml.jobs" -> (layerSum("ml")(_.counts.jobs.toDouble) * perRound, "count"),
      "ml.score_s" -> (medianS("ml.score"), "s"),
      "ml.best_auc" -> (wl.figures.getOrElse("best_auc", 0.0), "ratio"),
      s("sources.append"),
      s("sources.update"), s("sources.delete"), s("sources.merge"),
      s("sources.cdc_apply"), s("sources.mv_refresh"), s("sources.optimize"),
      s("sources.scan"), s("sources.read_where"), s("sources.time_travel"),
      s("sources.history"), s("sources.changes"),
      s("plans.sql_dml"), s("plans.sql_select"),
      "sources.jobs_per_commit" ->
        (meanOf(opsReaching("write", lakeLayers).map(_.counts.jobs.toDouble)), "count"),
      "sources.jobs_per_read" ->
        (meanOf(opsReaching("read", lakeLayers).map(_.counts.jobs.toDouble)), "count"),
      "sources.read_input_ratio" -> (wl.layerFigures.getOrElse("read_input_ratio", 0.0), "ratio"),
      "sources.write_amp" -> (wl.layerFigures.getOrElse("write_amp", 0.0), "ratio"),
      "sources.live_files" -> (wl.layerFigures.getOrElse("live_files", 0.0), "count"),
      "sources.log_records" -> (wl.layerFigures.getOrElse("log_records", 0.0), "count"),
      "core.plan_ms_per_op" -> (opSpans.map(_.counts.planNanos).sum / 1e6 / nOps, "ms"),
      s("text.minhash"), s("text.ngram_jaccard"), s("text.semantic_dedup"),
      s("text.bm25_build"), s("text.ivf_build"),
      "text.candidate_pairs" -> (wl.layerFigures.getOrElse("candidate_pairs", 0.0), "count"),
      "text.pair_precision" -> (wl.layerFigures.getOrElse("pair_precision", 0.0), "ratio"),
      s("text.bm25_serve"), s("text.ivf_serve"), s("text.hybrid"),
      "text.jobs_per_query" ->
        (meanOf(opsReaching("read", Set("text")).map(_.counts.jobs.toDouble)), "count"),
      "text.ivf_rows_read_per_query" ->
        (meanOf(named("text.ivf_serve").map(_.counts.inputRecords.toDouble)), "count"),
      "text.ann_recall_at_10" -> (wl.figures.getOrElse("ann_recall_at_10", 0.0), "ratio"),
      "text.dedup_recall" -> (wl.figures.getOrElse("dedup_recall", 0.0), "ratio"),
      "spark.tasks" -> (opSpans.map(_.counts.tasks).sum.toDouble / nOps, "count"),
      "spark.shuffle_mb" -> (opSpans.map(_.counts.shuffleBytes).sum / MB / nOps, "MB"),
      "spark.spill_mb" -> (opSpans.map(_.counts.spillBytes).sum / MB / nOps, "MB"),
      "trace.ops_per_s" -> (opSpans.length / math.max(t.opSeconds, 1e-9), "1/s"),
      "trace.op_self_share" -> (opSelf / math.max(t.opSeconds, 1e-9), "ratio"),
      "trace.untraced_s" -> (phaseS - t.opSeconds, "s"))
  }
}
