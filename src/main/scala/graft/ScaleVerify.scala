package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.{Containment, PrefixJoin}

/** 10×-scale CORRECTNESS evidence (round-8 verdict item 5: ScaleBench
  * measures wall only — prove the scale-seam paths stay hash-green, not
  * just fast).
  *
  * Builds the disjoint-vocab 10× documents replica (same construction
  * as ScaleBench, full schema) under `<outDir>/tables/`, dumps the
  * scale-seam queries over it in Verify's format, and writes the same
  * `oracle_sql.json` the driver gate consumes — so the standard
  *   CHECK_ORACLE_JSON=CORRECTNESS_scale.json \
  *   python3 tools/check_oracle.py <outDir>/tables <outDir>
  * run produces the CORRECTNESS_scale artifact.
  *
  * x62/x63 run in their CAPPED form (maxCandDf = 1000 — the ≥10×
  * registered mode). On this replica the natural shingle df ceiling is
  * 25 and block-local (disjoint vocabulary), so the cap filter is IN
  * the plan while provably dropping nothing — the brute-force oracles
  * stay exact at 10×. (What the cap drops when df exceeds it is pinned
  * set-exactly in CapRecallSpec; recall under hot boilerplate is
  * measured by ScaleBench.)
  *
  * Usage: `sbt "runMain graft.ScaleVerify [baseSfDir] [outDir] [blocks]"`.
  */
object ScaleVerify {

  val Cap = 1000L

  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("target/scale_verify")
    val blocks = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession()
    import spark.implicits._

    // dev-only toggles for incremental re-runs: skip the replica build
    // when the tables already exist, and dump a name subset (the full
    // driver-style run leaves both unset)
    val skipBuild = sys.env.get("SPARK_GRAFT_SCALE_SKIP_BUILD").contains("1")
    val only = sys.env.get("SPARK_GRAFT_SCALE_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)

    // full-schema replica (ScaleBench.replicate carries only the join
    // columns; registered queries may read lang/n_chars too)
    val tables = s"$outDir/tables"
    if (!skipBuild) {
    Tables.documents(spark, baseDir)
      .crossJoin(spark.range(blocks).toDF("block"))
      .select(
        ($"doc_id" + $"block" * 10000000L).as("doc_id"),
        array_join(transform(split(trim(lower($"text")), "\\s+"),
          w => concat(w, lit("_"), $"block")), " ").as("text"),
        $"lang", $"source")
      .withColumn("n_chars", length($"text"))
      .repartition(8 * blocks)
      .write.mode("overwrite").parquet(s"$tables/documents.parquet")

    // round-10 additions (verdict item 3: the relational/window/event
    // heavyweights had 10× wall numbers but no 10× hash rows). Same
    // replica constructions as ScaleBench's sections, full schema:
    //  - orders/lineitem: disjoint customer populations per block with
    //    the original order/lineitem structure (b37's version windows
    //    get 10× more customers at unchanged depth; b54's PIT lookup
    //    grows on both sides);
    //  - events: disjoint user populations per block with the original
    //    per-user timelines (b43's sliding windows and b48's session
    //    windows scale across users, the production dimension).
    Tables.orders(spark, baseDir)
      .crossJoin(spark.range(blocks).toDF("block"))
      .select(
        ($"o_orderkey" + $"block" * 100000000L).as("o_orderkey"),
        ($"o_custkey" + $"block" * 10000000L).as("o_custkey"),
        $"o_orderstatus", $"o_totalprice", $"o_orderdate",
        $"o_orderpriority")
      .repartition(8 * blocks)
      .write.mode("overwrite").parquet(s"$tables/orders.parquet")
    Tables.lineitem(spark, baseDir)
      .crossJoin(spark.range(blocks).toDF("block"))
      .select(
        (col("l_orderkey") + $"block" * 100000000L).as("l_orderkey") +:
          Tables.lineitem(spark, baseDir).columns.filter(_ != "l_orderkey")
            .map(col).toSeq: _*)
      .repartition(8 * blocks)
      .write.mode("overwrite").parquet(s"$tables/lineitem.parquet")
    Tables.events(spark, baseDir)
      .crossJoin(spark.range(blocks).toDF("block"))
      .select(
        ($"event_id" + $"block" * 100000000L).as("event_id"),
        $"ts",
        ($"user_id" + $"block" * 10000000L).as("user_id"),
        $"event_type", $"value", $"props")
      .repartition(8 * blocks)
      .write.mode("overwrite").parquet(s"$tables/events.parquet")
    // embeddings: disjoint vec_id populations per block, each block's
    // vectors deterministically sign-perturbed (every 5th dim flipped,
    // phase = block) so replicas are NOT byte-duplicates — x92's query
    // set stays the fixed block-0 `vec_id < NQueries` band while the
    // corpus it ranks grows 10× (the honest ANN scale shape)
    Tables.embeddings(spark, baseDir)
      .crossJoin(spark.range(blocks).toDF("block"))
      .select(
        ($"vec_id" + $"block" * 10000000L).as("vec_id"),
        transform($"embedding",
          (x, i) => when((i + $"block") % 5 === 0, -x).otherwise(x))
          .as("embedding"),
        $"label")
      .repartition(8 * blocks)
      .write.mode("overwrite").parquet(s"$tables/embeddings.parquet")
    // round-17 (verdict item 2): the dimension tables, so the whole
    // relational core can join the gate. customer grows WITH orders
    // (disjoint per-block populations — c_custkey matches the replica
    // orders' offset o_custkey, and c_name is block-suffixed so
    // name-derived columns stay distinct); region/nation/supplier/part
    // stay 1× — the production 100 TB shape: facts grow, dims don't
    // (the replica lineitem keeps l_partkey/l_suppkey unchanged, so
    // per-dim fact fan-in grows 10×, which is exactly the skew a
    // broadcast-dim plan must absorb).
    Tables.customer(spark, baseDir)
      .crossJoin(spark.range(blocks).toDF("block"))
      .select(
        ($"c_custkey" + $"block" * 10000000L).as("c_custkey"),
        concat($"c_name", lit("_"), $"block").as("c_name"),
        $"c_nationkey", $"c_acctbal", $"c_mktsegment")
      .repartition(4 * blocks)
      .write.mode("overwrite").parquet(s"$tables/customer.parquet")
    Seq("region", "nation", "supplier", "part").foreach { t =>
      Tables.load(spark, baseDir, t)
        .write.mode("overwrite").parquet(s"$tables/$t.parquet")
    }
    }

    val queries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      Seq(
        "x02_minhash_lsh" -> SparkEntry.queries("x02_minhash_lsh"),
        "x17_ngram_jaccard" -> SparkEntry.queries("x17_ngram_jaccard"),
        "x42_epoch_shuffle" -> SparkEntry.queries("x42_epoch_shuffle"),
        "x56_incremental_dedup" -> SparkEntry.queries("x56_incremental_dedup"),
        "x62_setsim_prefix_join" ->
          ((s, d) => PrefixJoin.prefixSimJoinOf(Tables.documents(s, d), Cap)),
        "x63_containment_join" ->
          ((s, d) => Containment.containmentJoinOf(Tables.documents(s, d), Cap)),
        // round-9 documents-shaped additions: the graph family (x84
        // iterates on a vocab that grew 10× WITH the corpus here — the
        // honest worst case), the novelty df accounting, the threshold
        // curve, and the hierarchical source ranks — each against its
        // full DuckDB oracle at 10×
        "x82_shingle_novelty" -> SparkEntry.queries("x82_shingle_novelty"),
        "x84_pagerank" -> SparkEntry.queries("x84_pagerank"),
        "x85_threshold_sweep" -> SparkEntry.queries("x85_threshold_sweep"),
        "x89_source_quantile_norm" ->
          SparkEntry.queries("x89_source_quantile_norm"),
        // round-10: relational/window/event heavyweights at 10×, each
        // against its full DuckDB oracle over the same replica tables
        "b37_scd2_history" -> SparkEntry.queries("b37_scd2_history"),
        "b54_scd2_pit_join" -> SparkEntry.queries("b54_scd2_pit_join"),
        "b43_rolling_distinct" -> SparkEntry.queries("b43_rolling_distinct"),
        "b48_last_touch_attribution" ->
          SparkEntry.queries("b48_last_touch_attribution"),
        "x26_sequence_packing" -> SparkEntry.queries("x26_sequence_packing"),
        // round-10: the composed X91 build manifest at 10× — the whole
        // curation→split→leak-repair→packing composition against its
        // single independent DuckDB recomputation over the replica
        "x91_pipeline_manifest" -> SparkEntry.queries("x91_pipeline_manifest"),
        // round-10 second half: the new-operator families at 10× — the
        // bounded grouped-top-k aggregate (orders), the packed-Hamming
        // ANN anchor (fixed query band vs 10× corpus), the event-family
        // session/chart/trend ops, the graph-family peel + propagation
        // (vocab grows 10× WITH the corpus), and the sampling/LM doc ops
        "b56_grouped_topk" -> SparkEntry.queries("b56_grouped_topk"),
        "x92_hamming_topk" -> SparkEntry.queries("x92_hamming_topk"),
        "x93_session_sequences" -> SparkEntry.queries("x93_session_sequences"),
        "x94_cusum_drift" -> SparkEntry.queries("x94_cusum_drift"),
        "x95_kcore" -> SparkEntry.queries("x95_kcore"),
        "x96_label_prop" -> SparkEntry.queries("x96_label_prop"),
        "x97_pps_sample" -> SparkEntry.queries("x97_pps_sample"),
        "x98_bigram_surprisal" -> SparkEntry.queries("x98_bigram_surprisal"),
        "x99_activity_trend" -> SparkEntry.queries("x99_activity_trend"),
        // the incremental-SCD2 contract at 10× (delta + touched-customer
        // work vs a 10× history) and the recall audit with its fixed
        // query band against the 10× perturbed-replica corpus
        "b58_incremental_scd2" -> SparkEntry.queries("b58_incremental_scd2"),
        "x100_ann_recall" -> SparkEntry.queries("x100_ann_recall"),
        // round-10 second-wave operators at 10×: keyword extraction and
        // richness over the 10×-grown per-block vocabulary, the
        // sorted-neighborhood rank line at 10× corpus, the AUC label
        // join over the 10× pair stream, and the layout/profile ops.
        // x103 is EXCLUDED deliberately: the sf0.1 collocation graph is
        // dense enough that no non-adjacent pair clears the evidence
        // floor (0 rows, oracle agrees) — a trivially-green row is not
        // scale evidence.
        "x104_top_keywords" -> SparkEntry.queries("x104_top_keywords"),
        "x105_sorted_neighborhood" ->
          SparkEntry.queries("x105_sorted_neighborhood"),
        "x106_grouped_auc" -> SparkEntry.queries("x106_grouped_auc"),
        "x107_vocab_richness" -> SparkEntry.queries("x107_vocab_richness"),
        "x108_reshard_audit" -> SparkEntry.queries("x108_reshard_audit"),
        "x109_source_gini" -> SparkEntry.queries("x109_source_gini"),
        // BPE training at 10×: the corpus pass grows 10×, the per-round
        // state with the (suffixed, hence 10×) vocabulary — worst case
        "x110_bpe_merges" -> SparkEntry.queries("x110_bpe_merges"),
        // per-user concentration census over the 10× user population
        "x112_type_concentration" ->
          SparkEntry.queries("x112_type_concentration"),
        // the fixed D² covariance over a 10× (sign-perturbed) vector
        // population, and the row-local vectorizer over the 10× corpus
        "x113_dim_covariance" -> SparkEntry.queries("x113_dim_covariance"),
        "x114_feature_hash" -> SparkEntry.queries("x114_feature_hash"),
        // round-10 third wave. x118 is deliberately absent: the replica
        // suffixes every token with `_block`, which its ASCII vocabulary
        // screen rejects — the query is scale-invariant by design (capped
        // top-V vocabulary) and its evidence rows live at sf0.01/sf0.1.
        // x119 is streaming/spec-only (StreamTopKSpec).
        "x115_lang_source_contingency" ->
          SparkEntry.queries("x115_lang_source_contingency"),
        "x116_length_breadth_spearman" ->
          SparkEntry.queries("x116_length_breadth_spearman"),
        "x117_source_length_ks" ->
          SparkEntry.queries("x117_source_length_ks"),
        // three exact rounds over the 10× vector population's covariance
        "x120_cov_power_iteration" ->
          SparkEntry.queries("x120_cov_power_iteration"),
        // pair-count agreement at N = 20k (T ≈ 2·10⁸ — the i64 bounds
        // documented in RandIndex hold with two decades to spare)
        "x121_cluster_label_agreement" ->
          SparkEntry.queries("x121_cluster_label_agreement"),
        // candidate cut over the 10× corpus; greedy rounds corpus-free
        "x122_mmr_rerank" -> SparkEntry.queries("x122_mmr_rerank"),
        // 10 disjoint-vocab copies of the collocation graph
        "x123_degree_assortativity" ->
          SparkEntry.queries("x123_degree_assortativity"),
        "x124_activity_dispersion" ->
          SparkEntry.queries("x124_activity_dispersion"),
        // winnowing over the 10× corpus: matches stay block-local
        // (disjoint vocabularies), so output grows linearly
        "x125_winnowing_match" -> SparkEntry.queries("x125_winnowing_match"),
        "x126_cadence_profile" -> SparkEntry.queries("x126_cadence_profile"),
        "x127_top_path_trigrams" ->
          SparkEntry.queries("x127_top_path_trigrams"),
        "x128_coordinated_holdout" ->
          SparkEntry.queries("x128_coordinated_holdout"),
        "x129_dim_robust_range" ->
          SparkEntry.queries("x129_dim_robust_range"),
        // per-block vocab ⇒ the term table grows 10× — the worst case
        "x130_distinctive_terms" ->
          SparkEntry.queries("x130_distinctive_terms"),
        "x131_dup_rate_wilson" ->
          SparkEntry.queries("x131_dup_rate_wilson"),
        "x132_packing_sweep" -> SparkEntry.queries("x132_packing_sweep"),
        "x133_lagged_xcorr" -> SparkEntry.queries("x133_lagged_xcorr"),
        // per-block suffixed texts: distinct contents grow 10×, k fixed
        "x134_kmv_distinct" -> SparkEntry.queries("x134_kmv_distinct"),
        // 10× rows per source, sample stays K per source; the est
        // columns re-derive from the replica's own bottom-k hashes
        "x135_quantile_sketch" ->
          SparkEntry.queries("x135_quantile_sketch"),
        // 10× rows per source; counters stay R per source and the
        // replica's suffixed texts re-hash into fresh signs
        "x136_ams_f2" -> SparkEntry.queries("x136_ams_f2"),
        // per-block suffixed shingles: each source's distinct-shingle
        // universe grows 10×, the pair matrix stays C(|S|,2), and the
        // K-row sketches go (further) above capacity
        "x137_theta_overlap" -> SparkEntry.queries("x137_theta_overlap"),
        // 10× distinct contents per fine group; every grain goes
        // (further) above the K=16 capacity, the rollup stays
        // K·|fine| rows
        "x138_sketch_rollup" -> SparkEntry.queries("x138_sketch_rollup"),
        // 10× distinct contents per source through the bounded
        // aggregator; buffers stay K slots, partials merge by the
        // bottom-k union law
        "x139_kmv_agg" -> SparkEntry.queries("x139_kmv_agg"),
        // 10× distinct contents per source; still 64 registers per
        // source, the max-merge absorbs the new hashes, and the
        // estimate must track the 10× exact audit inside the band
        "x140_hll_registers" -> SparkEntry.queries("x140_hll_registers"),
        // 10× docs per source; the spine stays value-bounded (length
        // universe unchanged), counts scale, the decimal numerator
        // re-derives exactly
        "x141_wasserstein_drift" ->
          SparkEntry.queries("x141_wasserstein_drift"),
        // 10× docs and tokens; the bucket models stay B = 4096 rows,
        // the weight table re-derives from the replica's own counts,
        // and per-doc scores stay exact i64 sums
        "x142_importance_weights" ->
          SparkEntry.queries("x142_importance_weights"),
        // 10× rows per source through the bounded payload-carrying
        // aggregator; buffers stay K triples, partials merge by the
        // bottom-k union law, output bit-equal to the window form
        "x144_sample_agg" -> SparkEntry.queries("x144_sample_agg"),
        // 10× docs: the probe slice and truth join scale with the
        // replica, the LSH candidate stage re-derives, and the banded
        // recall fractions re-compute from the replica's own pairs
        "x146_dedup_recall" -> SparkEntry.queries("x146_dedup_recall"),
        // 10× vectors through the matrix-free map-only projection;
        // hash signs recompute identically, sums stay exact i64
        "x147_jl_projection" -> SparkEntry.queries("x147_jl_projection"),
        // 10× distinct contents per source in BOTH snapshots; sketches
        // stay K longs, the union merge re-derives, est branches flip
        // to the formula side everywhere
        "x148_sketch_novelty" ->
          SparkEntry.queries("x148_sketch_novelty"),
        // 10× rows through the one-pass contract aggregate; the
        // replica's suffixed texts stay non-empty and key-unique, so
        // every expectation re-verifies green at scale
        "x149_expectations_audit" ->
          SparkEntry.queries("x149_expectations_audit"),
        "x154_zipf_fit" -> SparkEntry.queries("x154_zipf_fit"),
        "x155_benford_audit" -> SparkEntry.queries("x155_benford_audit"),
        "x156_embedding_outliers" ->
          SparkEntry.queries("x156_embedding_outliers"),
        "x157_boilerplate_phrases" ->
          SparkEntry.queries("x157_boilerplate_phrases"),
        "x158_heaps_fit" -> SparkEntry.queries("x158_heaps_fit"),
        "x159_join_size_ams" -> SparkEntry.queries("x159_join_size_ams"),
        "x160_centroid_drift" ->
          SparkEntry.queries("x160_centroid_drift"),
        "x163_psi_drift" -> SparkEntry.queries("x163_psi_drift"),
        "x164_user_entropy" -> SparkEntry.queries("x164_user_entropy"),
        "x165_fd_audit" -> SparkEntry.queries("x165_fd_audit"),
        // round-14 verdict items 5/6: the x145 lossless hash row (the
        // cap/growth evidence existed, the hash row did not), the heavy
        // relational tail (multiplicity recompute, interpolated
        // percentiles, multi-distinct agg), the x153 composition, and
        // the integer-exact Lloyd-trained IVF (x166 — training included
        // in the hash at 10×)
        "x145_semdedup" -> SparkEntry.queries("x145_semdedup"),
        "b34_set_ops_all" -> SparkEntry.queries("b34_set_ops_all"),
        "b39_percentile_cont" -> SparkEntry.queries("b39_percentile_cont"),
        "b09_agg_pricing_summary" ->
          SparkEntry.queries("b09_agg_pricing_summary"),
        "x153_curation_mix" -> SparkEntry.queries("x153_curation_mix"),
        "x166_ivf_lloyd_topk" -> SparkEntry.queries("x166_ivf_lloyd_topk"),
        // round-14: rank drift — the value spine stays saturated while
        // per-block counts grow 10×, the doubled-rank sums re-derive
        "x170_rank_drift" -> SparkEntry.queries("x170_rank_drift"),
        // round-14: Mann-Kendall — 10x users multiply the daily counts
        // while the day-pair set stays calendar-bounded; S/var18/Sen
        // re-derive from exact i64s
        "x171_mann_kendall" -> SparkEntry.queries("x171_mann_kendall"),
        // round-14: contamination matrix — eval gram sets grow with the
        // per-block vocab, matches stay block-local, cells re-derive
        "x172_contamination_matrix" ->
          SparkEntry.queries("x172_contamination_matrix"),
        // round-15: integer-exact Lloyd-trained PQ — codebooks retrain
        // on the 10× (sign-perturbed) population, the fixed block-0
        // query band ranks a 10× corpus by its code bytes, and the hash
        // certifies training + encoding + ADC + rerank at scale
        "x173_pq_lloyd_topk" -> SparkEntry.queries("x173_pq_lloyd_topk"),
        // round-15 (verdict item 3): the tokenize-heavy tail — the
        // gate's one remaining blind spot after it caught four real
        // cross-engine bugs in three rounds. The per-block suffixed
        // vocab grows the tf-idf/index/BM25 term tables 10× WITH the
        // corpus (the worst case); x24's eval gram set grows 10× while
        // matches stay block-local; b20's JSON props re-parse per row
        "x06_tfidf" -> SparkEntry.queries("x06_tfidf"),
        "x43_inverted_index" -> SparkEntry.queries("x43_inverted_index"),
        "x68_bm25_topk" -> SparkEntry.queries("x68_bm25_topk"),
        "x24_decontamination" -> SparkEntry.queries("x24_decontamination"),
        "b20_map_json" -> SparkEntry.queries("b20_map_json"),
        // round-15: the KMV shared-gram cells — eval gram sets and the
        // shared-gram populations both grow 10× (saturated cells cross
        // capacity in new hash orders), the sketch re-derives exactly
        "x176_contamination_kmv" ->
          SparkEntry.queries("x176_contamination_kmv"),
        // round-15: IVFADC — coarse cells AND residual codebooks retrain
        // on the 10× sign-perturbed population; the hash certifies both
        // trainings + residual encoding + per-cell ADC at scale
        "x178_ivfpq_topk" -> SparkEntry.queries("x178_ivfpq_topk"),
        // round-15: the persisted-artifact roundtrip at 10× — the
        // loaded probe must hash-match the same training chain
        "x179_ivfpq_persisted_topk" ->
          SparkEntry.queries("x179_ivfpq_persisted_topk"),
        // round-16 (verdict item 2): the re-pointed trained-index
        // probes at their own dials — x79's nprobe=4 chain and x151's
        // forward∪reverse pool both retrain on the 10× population
        // (x19/x31 are dial-identical to x166/x173 above and would
        // duplicate those rows)
        "x79_ann_ivfpq_topk" -> SparkEntry.queries("x79_ann_ivfpq_topk"),
        "x151_ann_ivfpq_sym_topk" ->
          SparkEntry.queries("x151_ann_ivfpq_sym_topk"),
        // round-16 (verdict item 1): the adaptive candK dial at 10× is
        // the whole point — candK tracks the ~12k-row probed population
        // where the fixed dial decays
        "x181_ivfpq_adaptive_topk" ->
          SparkEntry.queries("x181_ivfpq_adaptive_topk"),
        // round-16 (verdict item 6): the staleness audit at 10× — both
        // encode passes and the per-cell ratios re-derive on the
        // retrained 10× artifact
        "x182_index_staleness" -> SparkEntry.queries("x182_index_staleness"),
        // round-16 (verdict item 4): the collocation-graph tail (x81
        // triangles, x103 link prediction — both on the 10 disjoint
        // per-block vocab graphs), hybrid retrieval fusion (x69 — BM25
        // over 10× suffixed docs fused with ANN over the 10× perturbed
        // vectors), and the window-heavy event ops (b32 range frames,
        // b50 time-weighted averages over 10× user populations)
        "x81_triangle_stats" -> SparkEntry.queries("x81_triangle_stats"),
        "x103_link_predict" -> SparkEntry.queries("x103_link_predict"),
        "x69_hybrid_rrf" -> SparkEntry.queries("x69_hybrid_rrf"),
        "b32_window_range_frame" ->
          SparkEntry.queries("b32_window_range_frame"),
        "b50_time_weighted_avg" ->
          SparkEntry.queries("b50_time_weighted_avg"),
        // round-16: the remaining documents-shaped aggregate tail —
        // simhash near-dup (block-local pairs), vocab coverage /
        // divergence / mixture weights / apportionment (per-block
        // vocabularies grow the term tables 10× with the corpus)
        "x32_simhash_near_dup" -> SparkEntry.queries("x32_simhash_near_dup"),
        "x50_vocab_coverage" -> SparkEntry.queries("x50_vocab_coverage"),
        "x53_source_divergence" ->
          SparkEntry.queries("x53_source_divergence"),
        "x46_mixture_weights" -> SparkEntry.queries("x46_mixture_weights"),
        "x73_token_apportion" -> SparkEntry.queries("x73_token_apportion"),
        // round-16 second wave: the dedup decision family at 10× (exact
        // dedup, LSH-pair connected components, cross-source dup pairs,
        // duplication degrees), the composed curation pipeline, the
        // brute-force cosine baseline the ANN family is audited
        // against, and the event-family sessionize/heavy-hitter ops
        "x01_exact_dedup" -> SparkEntry.queries("x01_exact_dedup"),
        "x03_cosine_topk" -> SparkEntry.queries("x03_cosine_topk"),
        "x09_sessionization" -> SparkEntry.queries("x09_sessionization"),
        "x18_dup_clusters" -> SparkEntry.queries("x18_dup_clusters"),
        "x22_curation_pipeline" ->
          SparkEntry.queries("x22_curation_pipeline"),
        "x37_heavy_hitters" -> SparkEntry.queries("x37_heavy_hitters"),
        "x60_cross_source_dups" ->
          SparkEntry.queries("x60_cross_source_dups"),
        "x75_dup_degree_histogram" ->
          SparkEntry.queries("x75_dup_degree_histogram"),
        // round-16: the versioned retrain at 10x — BOTH training
        // chains (shipped + retrain over corpus ∪ ingested batch)
        // re-derive on the 10x population inside one oracle
        "x183_index_versions" -> SparkEntry.queries("x183_index_versions"),
        // round-17 (verdict item 1): the serving-alias cutover at 10× —
        // the staleness decision, the retrain, the alias flip and the
        // served probe all re-derive on the 10× population
        "x184_index_alias_probe" ->
          SparkEntry.queries("x184_index_alias_probe"),
        // round-17: compaction probe-invariance at 10x (shared x178
        // chain over the compacted reload of the 10x artifact)
        "x185_index_compaction" ->
          SparkEntry.queries("x185_index_compaction"),
        // round-18: the retention audit at 10x — the derived inventory
        // grows with the replica's sources x generations and the
        // verdict ladder re-derives per source
        "x186_artifact_retention" ->
          SparkEntry.queries("x186_artifact_retention"),
        // round-18: the graceful (two-phase) reclamation audit at 10× —
        // the six-generation inventory and the five-verdict ladder
        // re-derive per replica source
        "x187_graceful_retention" ->
          SparkEntry.queries("x187_graceful_retention"),
        // round-17 (verdict item 2): the full remaining oracle surface —
        // the relational core over the new replica dim tables (customer
        // grown with orders, region/nation/supplier/part held at 1x:
        // facts grow, dims don't), the R-composites, and the X
        // profile/vector tail. Excluded rows are documented in
        // SCALE.md's exclusion table: b11 (no oracle by design), b41
        // (unreplicated part names square block candidates for no
        // signal), x118 (ASCII vocabulary screen rejects the suffixed
        // replica tokens by design), x19/x31 (dial-identical to the
        // gated x166/x173 rows - duplicate training chains).
        "b01_scan_pushdown" -> SparkEntry.queries("b01_scan_pushdown"),
        "b02_filter_predicates" -> SparkEntry.queries("b02_filter_predicates"),
        "b03_join_broadcast_star" -> SparkEntry.queries("b03_join_broadcast_star"),
        "b04_join_fact_fact" -> SparkEntry.queries("b04_join_fact_fact"),
        "b05_join_left_outer" -> SparkEntry.queries("b05_join_left_outer"),
        "b05b_join_full_outer" -> SparkEntry.queries("b05b_join_full_outer"),
        "b06_join_semi_anti" -> SparkEntry.queries("b06_join_semi_anti"),
        "b07_join_range" -> SparkEntry.queries("b07_join_range"),
        "b08_cross_join_dims" -> SparkEntry.queries("b08_cross_join_dims"),
        "b10_agg_rollup" -> SparkEntry.queries("b10_agg_rollup"),
        "b10b_agg_cube" -> SparkEntry.queries("b10b_agg_cube"),
        "b10c_agg_grouping_sets" -> SparkEntry.queries("b10c_agg_grouping_sets"),
        "b12_window_ranking" -> SparkEntry.queries("b12_window_ranking"),
        "b12b_window_distribution" -> SparkEntry.queries("b12b_window_distribution"),
        "b13_window_analytic" -> SparkEntry.queries("b13_window_analytic"),
        "b14_sort_global" -> SparkEntry.queries("b14_sort_global"),
        "b15_topk" -> SparkEntry.queries("b15_topk"),
        "b16_set_ops" -> SparkEntry.queries("b16_set_ops"),
        "b17_dedup_first_per_key" -> SparkEntry.queries("b17_dedup_first_per_key"),
        "b18a_scalar_string" -> SparkEntry.queries("b18a_scalar_string"),
        "b18b_scalar_date" -> SparkEntry.queries("b18b_scalar_date"),
        "b18c_scalar_math_conditional" -> SparkEntry.queries("b18c_scalar_math_conditional"),
        "b19_array_hof" -> SparkEntry.queries("b19_array_hof"),
        "b21_sliding_window" -> SparkEntry.queries("b21_sliding_window"),
        "b22_session_window" -> SparkEntry.queries("b22_session_window"),
        "b24_udaf_secondmax" -> SparkEntry.queries("b24_udaf_secondmax"),
        "b26_asof_join" -> SparkEntry.queries("b26_asof_join"),
        "b27_pivot" -> SparkEntry.queries("b27_pivot"),
        "b28_salted_skew_join" -> SparkEntry.queries("b28_salted_skew_join"),
        "b29_deterministic_sample" -> SparkEntry.queries("b29_deterministic_sample"),
        "b30_merge_upsert" -> SparkEntry.queries("b30_merge_upsert"),
        "b31_correlated_subquery" -> SparkEntry.queries("b31_correlated_subquery"),
        "b35_null_semantics" -> SparkEntry.queries("b35_null_semantics"),
        "b36_gaps_islands" -> SparkEntry.queries("b36_gaps_islands"),
        "b38_ntile_buckets" -> SparkEntry.queries("b38_ntile_buckets"),
        "b40_interval_join" -> SparkEntry.queries("b40_interval_join"),
        "b42_resample_ffill" -> SparkEntry.queries("b42_resample_ffill"),
        "b44_repeat_suppress" -> SparkEntry.queries("b44_repeat_suppress"),
        "b45_integrity_audit" -> SparkEntry.queries("b45_integrity_audit"),
        "b46_basket_pair_lift" -> SparkEntry.queries("b46_basket_pair_lift"),
        "b47_compaction_plan" -> SparkEntry.queries("b47_compaction_plan"),
        "b49_partition_skew" -> SparkEntry.queries("b49_partition_skew"),
        "b51_robust_mad" -> SparkEntry.queries("b51_robust_mad"),
        "b52_grouped_mode" -> SparkEntry.queries("b52_grouped_mode"),
        "b53_resample_interp" -> SparkEntry.queries("b53_resample_interp"),
        "b55_bloom_prune_semi" -> SparkEntry.queries("b55_bloom_prune_semi"),
        "q_events_window_agg" -> SparkEntry.queries("q_events_window_agg"),
        "r_weather_roundtrip" -> SparkEntry.queries("r_weather_roundtrip"),
        "x04_pairwise_similarity" -> SparkEntry.queries("x04_pairwise_similarity"),
        "x05_token_tf" -> SparkEntry.queries("x05_token_tf"),
        "x07_lang_profile" -> SparkEntry.queries("x07_lang_profile"),
        "x08_props_decode" -> SparkEntry.queries("x08_props_decode"),
        "x102_matryoshka_recall" -> SparkEntry.queries("x102_matryoshka_recall"),
        "x10_text_quality" -> SparkEntry.queries("x10_text_quality"),
        "x11_doc_fingerprint" -> SparkEntry.queries("x11_doc_fingerprint"),
        "x12_simhash" -> SparkEntry.queries("x12_simhash"),
        "x13_multimodal_features" -> SparkEntry.queries("x13_multimodal_features"),
        "x14_ann_lsh_topk" -> SparkEntry.queries("x14_ann_lsh_topk"),
        "x15_regex_tokens" -> SparkEntry.queries("x15_regex_tokens"),
        "x16_langid_ngram" -> SparkEntry.queries("x16_langid_ngram"),
        "x20_embedding_near_dup" -> SparkEntry.queries("x20_embedding_near_dup"),
        "x21_ann_multiprobe" -> SparkEntry.queries("x21_ann_multiprobe"),
        "x25_data_profile" -> SparkEntry.queries("x25_data_profile"),
        "x27_repetition_stats" -> SparkEntry.queries("x27_repetition_stats"),
        "x28_stratified_sample" -> SparkEntry.queries("x28_stratified_sample"),
        "x29_quality_quota" -> SparkEntry.queries("x29_quality_quota"),
        "x30_pii_scrub" -> SparkEntry.queries("x30_pii_scrub"),
        "x33_doc_chunking" -> SparkEntry.queries("x33_doc_chunking"),
        "x34_percentile_profile" -> SparkEntry.queries("x34_percentile_profile"),
        "x35_zorder_layout" -> SparkEntry.queries("x35_zorder_layout"),
        "x36_label_centroids" -> SparkEntry.queries("x36_label_centroids"),
        "x38_funnel" -> SparkEntry.queries("x38_funnel"),
        "x39_cohort_retention" -> SparkEntry.queries("x39_cohort_retention"),
        "x40_event_transitions" -> SparkEntry.queries("x40_event_transitions"),
        "x44_cooccur_pmi" -> SparkEntry.queries("x44_cooccur_pmi"),
        "x45_cms_counts" -> SparkEntry.queries("x45_cms_counts"),
        "x48_embedding_quantization" -> SparkEntry.queries("x48_embedding_quantization"),
        "x49_lm_coverage" -> SparkEntry.queries("x49_lm_coverage"),
        "x51_hard_negatives" -> SparkEntry.queries("x51_hard_negatives"),
        "x52_normalize_text" -> SparkEntry.queries("x52_normalize_text"),
        "x54_span_dedup" -> SparkEntry.queries("x54_span_dedup"),
        "x55_winsorized_stats" -> SparkEntry.queries("x55_winsorized_stats"),
        "x58_cdc_chunking" -> SparkEntry.queries("x58_cdc_chunking"),
        "x59_tokenizer_apply" -> SparkEntry.queries("x59_tokenizer_apply"),
        "x61_split_leakage" -> SparkEntry.queries("x61_split_leakage"),
        "x64_embed_profile" -> SparkEntry.queries("x64_embed_profile"),
        "x65_minhash_calibration" -> SparkEntry.queries("x65_minhash_calibration"),
        "x66_split_repair" -> SparkEntry.queries("x66_split_repair"),
        "x67_quality_canonical" -> SparkEntry.queries("x67_quality_canonical"),
        "x70_centroid_assign" -> SparkEntry.queries("x70_centroid_assign"),
        "x71_kmeans_step" -> SparkEntry.queries("x71_kmeans_step"),
        "x72_filter_cascade" -> SparkEntry.queries("x72_filter_cascade"),
        "x74_exact_k_sample" -> SparkEntry.queries("x74_exact_k_sample"),
        "x76_type_correlation" -> SparkEntry.queries("x76_type_correlation"),
        "x77_snapshot_diff" -> SparkEntry.queries("x77_snapshot_diff"),
        "x78_incremental_cc" -> SparkEntry.queries("x78_incremental_cc"),
        "x80_length_bucket_batches" -> SparkEntry.queries("x80_length_bucket_batches"),
        "x83_cluster_shards" -> SparkEntry.queries("x83_cluster_shards"),
        "x86_incremental_agg" -> SparkEntry.queries("x86_incremental_agg"),
        "x87_mutual_knn" -> SparkEntry.queries("x87_mutual_knn"),
        "x90_decayed_activity" -> SparkEntry.queries("x90_decayed_activity"))

    queries.filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, tables).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[scale-verify] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }

    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = queries.map(_._1)
      .map(n => s"${q(n)}: ${q(SparkEntry.oracleSql(n))}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    println(s"scale-verify: dumped ${queries.size} queries at ${blocks}x to $outDir")
    spark.stop()
  }
}
