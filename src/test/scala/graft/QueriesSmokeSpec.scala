package graft

/** Every declared query must run at sf0.001 and produce a schema with
  * stable column names (the driver hashes columns sorted by name — a
  * rename silently breaks the oracle compare). Value-level equivalence
  * is the driver's DuckDB gate (replicated in tools/check_oracle.py).
  */
class QueriesSmokeSpec extends SparkSpecBase {

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries impl: $missing")
  }

  /** Recall/precision gates are anti-joins against provably-contained
    * relations: their PASS condition is zero rows.
    */
  private val emptyByDesign = Set(
    "x03r_dedup_minhash_recall",
    "x04r_dedup_simhash_recall",
    "x07p_ann_lsh_precision",
    "x12g_multimodal_meta_gate",
    "x83eg_pixel_embed_gate",
    "x16p_ann_ivf_precision",
    "x31g_quantize_gate",
    "x17g_approx_distinct_gate",
    "x18g_approx_median_gate",
    "x26g_heavy_hitters_recall",
    "x38g_decontam_bloom_gate",
    "x54g_bpe_gate",
    "x56p_ann_ivf_refined_precision",
    "x56g_ivf_refine_gate",
    "x70p_ivf_append_precision",
    "x70g_ivf_append_coverage",
    "x81g_bpe_encode_gate",
    "x80g_pq_train_gate",
    "x80r_pq_dup_recall",
    "x80r2_pq_near_dup_recall",
    "x82g_ivfpq_train_gate",
    "x82r_ivfpq_dup_recall",
    "x82r2_ivfpq_near_dup_recall",
    "x87g_image_dhash_recall",
    "x94g_opq_train_gate",
    "x94r_opq_dup_recall",
    "x94a_opq_vs_pq_gate",
    "x95g_ivfpq_rerank_gate",
    "x96g_pq_append_coverage",
    "x96d_pq_code_drift_gate",
    "x96r_pq_append_recall",
    "x96o_opq_append_identity",
    "x98p_ann_ivf_kpp_precision",
    "x98g_kpp_invariants_gate",
    "x98a_kpp_advantage_gate",
    "x99g_pca_gate",
    "x99a_pca_advantage_gate",
    "x99r_pca_recall",
    "x101g_unigram_gate",
    "x102g_kcenter_gate",
    "x105g_mmr_gate",
    "x107g_mojibake_gate",
    "x110g_group_leakage_gate",
    "x110ng_cluster_leakage_gate",
    "x114p_ann_filtered_precision",
    "x114r_ann_filtered_recall",
    "x115g_ivf_curve_gate",
    "x118g_lr_train_gate",
    "x118a_lr_advantage_gate",
    "x119g_byte_bpe_roundtrip_gate",
    "x120g_knn_graph_gate",
    "x121g_pq_mks_gate",
    "x122g_knn_search_gate",
    "x123g_bpe_pack_gate",
    "x124g_knn_beam_gate",
    "x125g_knn_append_gate",
    "x126a_mix_advantage_gate",
    "x126g_mix_gate",
    "x127g_bpe_curve_gate",
    "x126sg_mix_sample_gate",
    "x128g_knn_filtered_gate",
    "x129g_shortlist_curve_gate")

  test("every declared query emits SCALAR columns only (driver pandas-sort compat)") {
    // the driver's correctness harness canonicalizes with a pandas
    // sort_values, which dies on array/struct/map cells ('unhashable
    // type: numpy.ndarray' — the x31 round-7 crash class). Declared
    // outputs must stringify complex values (array_join etc.); the
    // raw-typed APIs stay available to engine callers.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        fn(spark, sfDir).schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] => s"$name.${f.name}: ${f.dataType.simpleString}"
        }
    }
    assert(offenders.isEmpty,
      s"non-scalar declared columns crash the driver harness:\n${offenders.mkString("\n")}")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and yields rows") {
      val df = fn(spark, sfDir)
      assert(df.columns.nonEmpty)
      val n = df.count()
      if (emptyByDesign(name)) assert(n == 0, s"gate $name violated: $n rows")
      // q27_anti legitimately returns 0 rows at some sf; all others > 0
      else if (name != "q27_anti") assert(n > 0, s"$name returned no rows")
    }
  }
}
