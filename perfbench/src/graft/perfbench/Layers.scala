package graft.perfbench

import scala.collection.mutable

/** The per-layer metrics of a traced run and the trace artifact. */
object Layers {

  private def s(names: String*) = names.map(_ -> "s")
  private def c(names: String*) = names.map(_ -> "count")

  /** Every per-layer metric, in output order, with its unit. Layers are
    * the repository's modules: sources, operators, sinks, streaming,
    * plus the Spark engine underneath (spark.*), the benchmark's own
    * glue (bench) and the trace bookkeeping (trace.*).
    */
  val PerLayer: Seq[(String, String)] =
    s("sources.pdf_extract_s") ++ c("sources.pdf_pages", "sources.pdf_grid_rows",
      "sources.pdf_errors") ++ s("sources.pdf_meta_s") ++
    Seq("sources.meta_useful_ratio" -> "ratio", "sources.fetch_calls" -> "count",
      "sources.fetch_bytes" -> "B") ++
    s("sources.warc_scan_s") ++ c("sources.warc_records") ++
    s("operators.cdc_s") ++ Seq("operators.cdc_proceed_ratio" -> "ratio") ++
    s("operators.nca_clean_s") ++
    c("operators.nca_rows_in", "operators.records_out", "operators.allocations_out") ++
    s("operators.url_filter_s", "operators.gates_s", "operators.exact_dedup_s",
      "operators.minhash_pairs_s") ++ Seq("operators.lsh_precision" -> "ratio") ++
    s("operators.components_s", "operators.para_dedup_s", "operators.decontam_s",
      "operators.pack_s") ++
    c("operators.ingested", "operators.quarantined_blobs", "operators.kept_url",
      "operators.kept_language", "operators.kept_gopher", "operators.kept_repetition",
      "operators.kept_quality", "operators.after_exact_dedup", "operators.after_near_dedup",
      "operators.after_para_dedup", "operators.after_decontamination", "operators.packs",
      "operators.packed_tokens") ++
    s("operators.ivfpq_build_s", "operators.ivfpq_search_s", "operators.rerank_s") ++
    c("operators.adc_rows_per_query") ++
    s("sinks.append_s", "sinks.upsert_s", "sinks.delete_cascade_s") ++
    c("sinks.buckets_rewritten", "sinks.files_written") ++ Seq("sinks.bytes_written" -> "B") ++
    c("sinks.table_files") ++ Seq("sinks.table_bytes" -> "B") ++
    s("streaming.scrape_s", "streaming.orchestrate_s", "streaming.work_s",
      "streaming.publish_s") ++ c("streaming.microbatches", "streaming.quarantined") ++
    Seq("streaming.checkpoint_bytes" -> "B") ++
    c("spark.jobs", "spark.tasks") ++ s("spark.executor_run_s", "spark.executor_cpu_s",
      "spark.gc_s") ++ Seq("spark.shuffle_write_bytes" -> "B", "spark.spill_bytes" -> "B",
      "spark.checkpoint_bytes" -> "B") ++
    s("layer.bench_self_s", "layer.sources_self_s", "layer.operators_self_s",
      "layer.sinks_self_s", "layer.streaming_self_s") ++
    s("trace.op_wall_s", "trace.untraced_op_s", "trace.overhead_s", "trace.self_sum_s")

  /** Clock slack allowed between the layer self times and the iteration
    * wall time (seconds per iteration).
    */
  val SelfSumSlackS = 1e-3

  /** The attribution of one traced workload.
    *
    * Each traced op is a root span `iteration` (layer bench) around
    * exactly the calls an untraced op times, and those calls are its
    * children. Where a seam is timed inside such a call (the PDF
    * extractor, the fetch transport), the union of the seam's intervals
    * becomes a `sources` child of the call. A layer's self time per
    * iteration is the span self time of these trees
    * (Spans.layerSelfTimes): the root's own time is the benchmark's glue
    * between calls, and what a monolithic call does without a seam (its
    * sinks, its queues, its own operators) stays in the call's layer.
    * Spans outside the iterations (the stage-by-stage replays) give the
    * per-stage timings and are not part of the sum.
    *
    * The iteration wall time is a separate clock reading outside the
    * root span. The check: the self times add up to the untraced op
    * time within the tracing overhead (traced minus untraced wall time).
    */
  def artifact(ctx: Ctx, spans: Seq[Span], seams: Seq[(Long, Long)],
               sparkBySpan: Map[Int, Array[Long]], untracedOpS: Seq[Double],
               tracedIterS: Seq[Double]): (Map[String, Double], Map[String, Any]) = {
    val roots = spans.filter(s => s.parent < 0 && s.name == "iteration")
    val n = math.max(roots.length, 1).toDouble
    // the iterations' trees: a parent's id is below its children's
    val inTree = mutable.Set(roots.map(_.id): _*)
    spans.sortBy(_.id).foreach(s => if (inTree(s.parent)) inTree += s.id)
    val tree = spans.filter(s => inTree(s.id))
    val parents = tree.map(_.parent).toSet
    val calls = tree.filter(s => s.parent >= 0 && !parents(s.id))
    val seamSpans = Spans.seamChildren(calls, seams, "sources", "seam",
      spans.map(_.id).maxOption.getOrElse(0) + 1)
    val attributed = tree ++ seamSpans
    val byLayer = Spans.layerSelfTimes(attributed)
    val self = Tracer.Layers.map(l => l -> byLayer.getOrElse(l, 0L) / 1e9 / n).toMap
    val selfSum = self.values.sum
    val opWall = tracedIterS.sum / math.max(tracedIterS.length, 1)
    val untraced = untracedOpS.sum / math.max(untracedOpS.length, 1)
    val overhead = opWall - untraced
    val within = math.abs(selfSum - untraced) <= math.abs(overhead) + SelfSumSlackS
    ctx.check(roots.nonEmpty && roots.length == tracedIterS.length,
      s"trace: ${roots.length} iteration spans for ${tracedIterS.length} timed iterations")
    ctx.check(within, f"trace: layer self times sum to $selfSum%.4fs, untraced op " +
      f"$untraced%.4fs, tracing overhead $overhead%.4fs")
    val counters = ctx.tracer.spark.get
    def sparkOf(ss: Seq[Span]): Array[Long] = {
      val tot = new Array[Long](counters.names.length)
      ss.foreach(s => sparkBySpan.get(s.id).foreach(a => a.indices.foreach(i => tot(i) += a(i))))
      tot
    }
    val sparkMetrics = counters.reported(sparkOf(tree)).map { case (k, v) => s"spark.$k" -> v / n }
    val metrics = Map(
      "trace.op_wall_s" -> opWall,
      "trace.untraced_op_s" -> untraced,
      "trace.overhead_s" -> overhead,
      "trace.self_sum_s" -> selfSum) ++
      self.map { case (l, v) => s"layer.${l}_self_s" -> v } ++ sparkMetrics
    val all = spans ++ seamSpans
    val selfTimes = Spans.selfTimes(all)
    val t0 = all.map(_.start).minOption.getOrElse(0L)
    val art = mutable.LinkedHashMap[String, Any](
      "iterations" -> roots.length,
      "untraced_op_s" -> untracedOpS,
      "traced_iteration_s" -> tracedIterS,
      "op_wall_s_per_iteration" -> opWall,
      "self_time_by_layer_s" -> self,
      "self_time_sum_s" -> selfSum,
      "tracing_overhead_s" -> overhead,
      "self_sum_within_overhead" -> within,
      "seam_time_in_calls_s" -> seamSpans.map(_.duration).sum / 1e9 / n,
      "replay_self_time_by_layer_s" -> Spans.layerSelfTimes(spans.filterNot(s => inTree(s.id)))
        .map { case (l, v) => l -> v / 1e9 / n },
      "spark_by_layer" -> attributed.groupBy(_.layer).map { case (l, ss) =>
        l -> counters.reported(sparkOf(ss)).toMap },
      "spark_unattributed" -> sparkBySpan.get(-1).map(a => counters.reported(a).toMap),
      "spans" -> all.map { sp =>
        mutable.LinkedHashMap[String, Any]("id" -> sp.id, "parent" -> sp.parent,
          "layer" -> sp.layer, "name" -> sp.name, "start_s" -> (sp.start - t0) / 1e9,
          "duration_s" -> sp.duration / 1e9, "self_s" -> selfTimes(sp.id) / 1e9,
          "in_iteration" -> (inTree(sp.id) || sp.name == "seam"),
          "spark" -> sparkBySpan.get(sp.id).map(a => counters.reported(a).toMap))
      })
    (metrics, art.toMap)
  }
}
