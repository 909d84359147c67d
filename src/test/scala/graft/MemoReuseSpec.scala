package graft

/** Storage audit of the memoizing query families: once a family's memos
  * are warm, running its queries again in the same session must leave no
  * new checkpoint blocks behind. A long-lived session runs the same
  * operators over and over (every refresh cycle, every curation pass),
  * so a memo that is rebuilt instead of reused, or per-query transient
  * state that stays referenced, grows the block manager on every run.
  * Memos themselves are released when the session ends (MemoEviction).
  */
class MemoReuseSpec extends SparkSpecBase {

  /** One or more representative queries per memoizing family. */
  private val families = Seq(
    "dedup"             -> Seq("x03_dedup_minhash_lsh"),
    "Contamination"     -> Seq("x33_decontamination"),
    "SketchQueries"     -> Seq("x88_cms_point_estimates"),
    // char merges; byte vocab + curve memo
    "BpeQueries"        -> Seq("x54m_bpe_learn", "x127_bpe_vocab_curve"),
    // shared index + corpusWithDups; incremental state; curve memo
    "Pq"                -> Seq("x80_ann_pq_topk", "x96_pq_code_append",
                               "x121_pq_mks_curve"),
    // shared index; curve memo
    "IvfPq"             -> Seq("x82_ann_ivfpq_topk",
                               "x129_rerank_shortlist_curve"),
    "Opq"               -> Seq("x94_ann_opq_topk"),
    "Pca"               -> Seq("x99_pca_project"),
    "UnigramLm"         -> Seq("x101_unigram_vocab"),
    "RetrievalQueries"  -> Seq("x105_mmr_rerank"),
    "QualityClassifier" -> Seq("x118_quality_lr_weights"),
    // build + corpus memos; serving index + search; curve; append;
    // filtered search
    "KnnGraph"          -> Seq("x120_knn_graph", "x122_knn_graph_search",
                               "x124_knn_beam_curve", "x125_knn_graph_append",
                               "x128_knn_search_filtered"),
    "DomainMixture"     -> Seq("x126_doremi_mix_weights"),
    // media memos; IVF memos; shared IVF index; cluster split memo
    "ExtensionQueries"  -> Seq("x83_multimodal_pixel_stats",
                               "x98_ann_ivf_kpp_topk", "x16_ann_ivf_topk",
                               "x110n_cluster_group_split")
  )

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs in its OWN frame, popped before the poll below: a dead
    * Dataset reference left in the caller's JIT registers or stack slots
    * would keep the result's plan chain (and its checkpoint RDDs)
    * strongly reachable for as long as the caller polls.
    */
  @noinline
  private def runAll(names: Seq[String]): Unit =
    names.foreach(name => SparkEntry.queries(name)(spark, sfDir).count())

  test("every family representative is a declared query") {
    val missing = families.flatMap(_._2).filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"stale representatives: $missing")
  }

  families.foreach { case (family, names) =>
    test(s"a repeated $family run adds no checkpoint blocks") {
      runAll(names) // warm the family's memos
      val warm = persistedIds
      runAll(names)
      // A result checkpoint handed to the caller is reclaimed by
      // ContextCleaner once unreachable and a GC runs (10-40 s for
      // component labels, measured); a block a memo still references
      // never drains. The loop exits as soon as the set is empty.
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var grown = persistedIds -- warm
      while (grown.nonEmpty && System.nanoTime() < deadline) {
        System.gc()
        Thread.sleep(200)
        grown = persistedIds -- warm
      }
      val residue = grown.flatMap(spark.sparkContext.getPersistentRDDs.get)
        // RDD.toString carries the creation site, naming the leaker
        .map(rdd => s"$rdd (${rdd.getStorageLevel})")
      assert(residue.isEmpty,
        s"$family left blocks behind on a repeated run:\n${residue.mkString("\n")}")
    }
  }
}
