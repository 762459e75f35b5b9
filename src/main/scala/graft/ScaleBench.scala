package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Assign, Attribution, Bm25, Cascade, CdcChunking, Chunking, Containment, Cooccur, Correlate, Dedup, Divergence, EpochShuffle, Hybrid, IncrementalDedup, InvertedIndex, Normalize, PrefixJoin, QualityDedup, SimHashDedup, SkewAudit, SnapshotDiff, SpanDedup, Twa}

/** Local 10×-corpus scaling experiment (SCALE.md "Measured scaling
  * evidence"): the `documents` table is fixed at 5k rows across SFs, so
  * corpus-shaped operators are scaled by replicating sf0.1 documents
  * into `Blocks` blocks with DISJOINT per-block vocabulary — each
  * block keeps the original's local near-dup structure (df
  * distributions, pair density) while the corpus grows 10×, so no
  * cross-block pair can fire and the workload scales honestly.
  *
  * Usage: `sbt "runMain graft.ScaleBench"` (env `SPARK_GRAFT_SF_DIR`
  * overrides the base corpus). Prints median-of-3 wall seconds at 1×
  * and 10× per audited query.
  */
object ScaleBench {

  val Blocks = 10

  def replicate(docs: DataFrame, blocks: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.crossJoin(spark.range(blocks).toDF("block"))
      .select(
        ($"doc_id" + $"block" * 10000000L).as("doc_id"),
        // source/lang carry over unchanged: the corpus grows, the
        // source and language sets do not (matches real ingestion)
        $"source", $"lang",
        array_join(transform(split(trim(lower($"text")), "\\s+"),
          w => concat(w, lit("_"), $"block")), " ").as("text"))
  }

  /** Events replica for the event-shaped rows (b48/b49): each block
    * carries a DISJOINT user population with the original per-user
    * timelines — user-keyed windows and bucket-hash audits then scale
    * across users exactly as a 10×-user production table would.
    */
  def replicateEvents(ev: DataFrame, blocks: Int): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    ev.crossJoin(spark.range(blocks).toDF("block"))
      .select(
        ($"event_id" + $"block" * 100000000L).as("event_id"),
        $"ts",
        ($"user_id" + $"block" * 10000000L).as("user_id"),
        $"event_type", $"value", $"props")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    import spark.implicits._
    val base = Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"lang", $"text")
    // materialize both corpora to parquet so every timed query reads the
    // same physical shape (multi-split, off-heap) instead of an in-memory
    // lineage that would hide the scan
    val dir1 = "target/scale_corpus_1x"
    val dir10 = "target/scale_corpus_10x"
    base.repartition(8).write.mode("overwrite").parquet(dir1)
    replicate(base, Blocks).repartition(8 * Blocks)
      .write.mode("overwrite").parquet(dir10)
    def timed(f: => Unit): Double = {
      val reps = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        f
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }
      reps.sorted.apply(1)
    }
    val queries: Seq[(String, DataFrame => DataFrame)] = Seq(
      "x32_simhash_near_dup" ->
        (d => SimHashDedup.nearDupOf(Dedup.shinglesOf(d))),
      "x33_doc_chunking" -> (d => Chunking.chunksOf(d, 64, 48)),
      "x42_epoch_shuffle" -> (d => EpochShuffle.shuffleOf(d, 1, 64)),
      "x43_inverted_index" -> (d => InvertedIndex.indexOf(d, 5, 8)),
      "x44_cooccur_pmi" -> (d => Cooccur.cooccurOf(d, 2, 5)),
      "x52_normalize_text" -> (d => Normalize.normalizeOf(d)),
      "x53_source_divergence" -> (d => Divergence.divergenceOf(d)),
      "x54_span_dedup" -> (d => SpanDedup.spanDedupOf(d)),
      "x56_incremental_dedup" -> (d => IncrementalDedup.incrementalOf(d)),
      "x58_cdc_chunking" -> (d => CdcChunking.cdcChunkingOf(d)),
      "x67_quality_canonical" -> (d => QualityDedup.qualityCanonicalOf(d)),
      "x72_filter_cascade" -> (d => Cascade.filterCascadeOf(d)),
      "x77_snapshot_diff" -> (d => SnapshotDiff.snapshotDiffOf(d)),
      "x68_bm25_topk" -> (d => Bm25.bm25TopKOf(d)),
      // lexical retriever scales with the corpus; the dense side reads
      // the fixed embedding table both times (documented in SCALE.md)
      "x69_hybrid_rrf" ->
        (d => Hybrid.hybridRrfOf(d, Tables.embeddings(spark, sfDir))),
      // graph build scales with the corpus; the vocab (suffixed per
      // block) grows 10× with it, so the iteration frames scale too —
      // the honest worst case (production vocab is sublinear in corpus)
      "x84_pagerank" ->
        (d => graft.ops.PageRank.pagerankFromEdges(
          graft.ops.Triangles.edgesOf(d))),
      "x85_threshold_sweep" ->
        (d => graft.ops.ThresholdSweep.thresholdSweepOf(d)),
      // the replica keeps the 20-source space fixed while each source
      // grows 10× — the hierarchical rank's bucket windows get deeper,
      // never wider (the scale dimension the op is built for)
      "x89_source_quantile_norm" ->
        (d => graft.ops.QuantileNorm.sourceQuantileNormOf(d)),
      // graph family on the per-block vocab (grows 10× with the corpus
      // — the honest worst case, as for x84): fixed-round peel and
      // fixed-round synchronous diffusion
      "x95_kcore" -> (d => graft.ops.KCore.kCoreFromEdges(
        graft.ops.Triangles.edgesOf(d))),
      "x96_label_prop" -> (d => graft.ops.LabelProp.labelPropOf(
        d, graft.ops.Triangles.edgesOf(d))),
      // sampling/LM doc ops: the PPS number line grows 10×; the x98
      // reference model grows with the per-block vocab (worst case —
      // production reference vocab is fixed)
      "x97_pps_sample" -> (d => graft.ops.PpsSample.ppsSampleOf(
        d, graft.ops.PpsSample.Stride)),
      "x98_bigram_surprisal" -> (d => graft.ops.Surprisal.surprisalOf(
        d, graft.ops.Surprisal.RefLang)),
      // round-10 second wave. x103's wedge-count cost is real even when
      // the dense graph leaves the prediction set empty; x105's rank
      // line and x106's pair stream grow with the corpus; x104/x107's
      // second aggregate is vocab-bounded (grows 10× here — worst case);
      // x108 is row-local; x109's windows are per-source partitioned
      "x103_link_predict" -> (d => graft.ops.LinkPredict
        .linkPredictFromEdges(graft.ops.Triangles.edgesOf(d))),
      "x104_top_keywords" -> (d => graft.ops.Keywords.topKeywordsOf(d)),
      "x105_sorted_neighborhood" -> { d =>
        val sh = Dedup.shinglesOf(d)
        graft.ops.SortedNeighborhood.snFrom(sh, Dedup.minhashSignatures(sh))
      },
      "x106_grouped_auc" -> { d =>
        import org.apache.spark.sql.functions.{array, col, explode, length}
        val pairs = Dedup.ngramPairsFrom(Dedup.shinglesOf(d))
          .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
          .distinct()
        graft.ops.Auc.aucOf(
          d.select(col("doc_id"), col("lang").as("grp"),
            length(col("text")).cast("long").as("score")), pairs)
      },
      "x107_vocab_richness" -> (d => graft.ops.Richness.richnessOf(d)),
      "x108_reshard_audit" -> (d => graft.ops.Rendezvous.reshardAuditOf(d)),
      "x109_source_gini" -> { d =>
        import org.apache.spark.sql.functions.{col, length}
        graft.ops.Gini.giniOf(d.select(col("source").as("grp"),
          col("doc_id"), length(col("text")).cast("long").as("x")))
      },
      "x110_bpe_merges" -> (d => graft.ops.Bpe.bpeMergesOf(d)),
      "x114_feature_hash" -> (d => graft.ops.FeatureHash.featureHashOf(d)),
      // round-10 third wave. x115/x117's spines are (categories ×
      // values)-bounded; x116's windows are per-source; x123 rides the
      // per-block vocab graph (grows 10× — the x84/x95 worst case);
      // x125's fingerprint stream grows 10× with block-local matches
      "x115_lang_source_contingency" -> { d =>
        import org.apache.spark.sql.functions.col
        graft.ops.Contingency.contingencyOf(
          d.select(col("lang").as("a"), col("source").as("b")))
      },
      "x116_length_breadth_spearman" -> { d =>
        import org.apache.spark.sql.functions.{col, length}
        graft.ops.Spearman.lengthBreadthOf(d, length(col("text")))
      },
      "x117_source_length_ks" -> { d =>
        import org.apache.spark.sql.functions.{col, length}
        graft.ops.KsDrift.ksOf(d.select(col("source").as("grp"),
          length(col("text")).cast("long").as("v")))
      },
      "x123_degree_assortativity" -> (d => graft.ops.Assortativity
        .assortativityOf(graft.ops.Triangles.edgesOf(d))),
      "x125_winnowing_match" -> (d => graft.ops.Winnowing.matchOf(d)),
      "x128_coordinated_holdout" -> (d => graft.ops.Holdout.holdoutOf(d)),
      "x130_distinctive_terms" ->
        (d => graft.ops.Distinctive.distinctiveTermsOf(d)),
      "x131_dup_rate_wilson" ->
        (d => graft.ops.Wilson.dupRateWilsonOf(d)),
      "x132_packing_sweep" -> (d => graft.ops.PackSweep.packingSweepOf(d)),
      "x134_kmv_distinct" -> { d =>
        import org.apache.spark.sql.functions.col
        graft.ops.Kmv.kmvOf(d.select(col("source").as("grp"),
          col("text").as("v")))
      },
      // round-12 sketch wave: window form vs bounded-aggregator form on
      // the SAME replica (x139/x144 carry their exact audits like the
      // registered queries do; the *_noaudit rows are the pure-sketch
      // production paths — the aggregator's ≤K-per-partition partials
      // vs the window's full distinct-stream shuffle)
      "x139_kmv_agg" -> { d =>
        import org.apache.spark.sql.functions.col
        graft.ops.KmvAgg.aggOf(d.select(col("source").as("grp"),
          col("text").as("v")))
      },
      "kmv_noaudit_agg" -> (d => graft.stream.StreamKmv.sourceKmv(d)),
      "x135_quantile_sketch" -> { d =>
        import org.apache.spark.sql.functions.{col, length}
        graft.ops.QuantileSketch.sketchOf(d.select(col("source").as("grp"),
          col("doc_id").as("id"), length(col("text")).cast("long").as("v")))
      },
      "x144_sample_agg" -> { d =>
        import org.apache.spark.sql.functions.{col, length}
        graft.ops.SampleAgg.aggOf(d.select(col("source").as("grp"),
          col("doc_id").as("id"), length(col("text")).cast("long").as("v")))
      },
      "sample_stage_window" -> { d =>
        import org.apache.spark.sql.functions.{col, length}
        graft.ops.QuantileSketch.sampleOf(d.select(col("source").as("grp"),
          col("doc_id").as("id"), length(col("text")).cast("long").as("v")))
      },
      "sample_stage_agg" -> { d =>
        import org.apache.spark.sql.functions.{col, length}
        graft.ops.SampleAgg.sampleFromAgg(d.select(col("source").as("grp"),
          col("doc_id").as("id"), length(col("text")).cast("long").as("v")))
      },
      "x140_hll_registers" -> { d =>
        import org.apache.spark.sql.functions.col
        graft.ops.Hll.hllOf(d.select(col("source").as("grp"),
          col("text").as("v")))
      },
      "hll_noaudit_agg" -> (d => graft.stream.StreamHll.sourceHll(d)),
      "x141_wasserstein_drift" -> { d =>
        import org.apache.spark.sql.functions.{col, length}
        graft.ops.Wasserstein.w1Of(d.select(col("source").as("grp"),
          length(col("text")).cast("long").as("v")))
      },
      "x142_importance_weights" -> { d =>
        import org.apache.spark.sql.functions.col
        graft.ops.Importance.weightsOf(
          d.select(col("doc_id"), col("lang"), col("text")))
      },
      "x146_dedup_recall" -> (d =>
        graft.ops.DedupRecall.recallOf(Dedup.shinglesOf(d))),
      // round-14 plan-shape rewrites: the bucketed prefix sum (x158)
      // and the value-block closed form (x109's sibling x170) must
      // scale ~linearly now that no corpus-sized single-task window
      // remains
      "x158_heaps_fit" -> (d => graft.ops.Heaps.heapsFitOf(d)),
      "x170_rank_drift" -> { d =>
        import org.apache.spark.sql.functions.{col, length}
        graft.ops.RankDrift.rankDriftOf(d.select(col("source").as("grp"),
          length(col("text")).cast("long").as("x")))
      })
    // section filter for partial re-runs (e.g. the memory-heavy hot-corpus
    // recall section alone under a bigger heap):
    // generic | simjoin | hot | events | vectors | pit
    val sections = sys.env.get("SPARK_GRAFT_SCALE_SECTIONS")
      .map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set("generic", "simjoin", "hot", "events", "vectors",
        "pit", "orders"))
    // name filter within sections, for a quick look at specific queries
    val onlyQ = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def selected(name: String): Boolean = onlyQ.forall(_.contains(name))
    if (sections("generic")) queries.filter(q => selected(q._1))
      .foreach { case (name, q) =>
      val t1 = timed(q(spark.read.parquet(dir1))
        .write.format("noop").mode("overwrite").save())
      val t10 = timed(q(spark.read.parquet(dir10))
        .write.format("noop").mode("overwrite").save())
      println(f"SCALE $name 1x=$t1%.2f s 10x=$t10%.2f s growth=${t10 / t1}%.1fx")
    }
    // x62/x63 — the set-similarity joins whose uncapped candidate volume
    // is inherently superlinear in corpus size. The ≥10× DEFAULT is the
    // candidate-budget cap (r8 verdict item 3: the bench must exercise
    // the mode you would actually run at 100×); the lossless cap-off
    // form is confined to ≤1× SF, where the driver's brute-force oracle
    // pins it bit-equal anyway.
    val cap = 1000L
    val simJoins: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)] =
      Seq(
        ("x62_setsim_prefix_join",
          d => PrefixJoin.prefixSimJoinOf(d),
          d => PrefixJoin.prefixSimJoinOf(d, cap)),
        ("x63_containment_join",
          d => Containment.containmentJoinOf(d),
          d => Containment.containmentJoinOf(d, cap)))
    if (sections("simjoin")) simJoins.filter(q => selected(q._1))
      .foreach { case (name, lossless, capped) =>
      val t1 = timed(lossless(spark.read.parquet(dir1))
        .write.format("noop").mode("overwrite").save())
      val t10 = timed(capped(spark.read.parquet(dir10))
        .write.format("noop").mode("overwrite").save())
      println(f"SCALE $name 1x(lossless)=$t1%.2f s 10x(cap=$cap)=$t10%.2f s " +
        f"growth=${t10 / t1}%.1fx")
    }
    if (sections("hot")) {

    // Capped wall AND RECALL on hot corpora (r8 verdict: the 30× run
    // had wall only — recall loss was declared, never measured).
    //
    // Corpus = the disjoint-vocab replica with a corpus-wide hot phrase
    // appended to every document (df = |corpus| boilerplate — the term
    // that makes uncapped candidate volume superlinear), PLUS a crafted
    // 1200-doc cluster ("uniq<k>" + a 7-word boilerplate phrase of its
    // own, df = 1200 > cap) whose every pair overlaps ONLY through hot
    // shingles. Ground truth is exact by construction:
    //  - organic qualifying pairs are within-block only (cross-block
    //    overlap is the 5 phrase shingles; min n_sh = 15 keeps every
    //    cross-block Jaccard < 0.5 and containment < 3/4), and blocks
    //    are isomorphic — so organic truth = blocks × (lossless count
    //    on ONE hot block, a ≤1×-SF run);
    //  - the injected cluster contributes C(1200,2) Jaccard pairs and
    //    1200·1199 ordered containments (every member pairs with every
    //    other, nothing else — its vocabulary is disjoint from the
    //    corpus), ALL of which the cap must drop (their entire overlap
    //    sits above maxCandDf — the declared loss mode, pinned
    //    set-exactly in CapRecallSpec at test scale).
    val nInjected = 1200L
    def hotCorpus(blocks: Int, inject: Boolean, dir: String): String = {
      val organic = replicate(base, blocks)
        .withColumn("text",
          concat($"text", lit(" the quick brown fox jumps over it")))
      val withInjected = if (!inject) organic else organic.unionByName(
        spark.range(nInjected).select(
          ($"id" + 900000000L).as("doc_id"),
          lit("injected").as("source"),
          concat(lit("uniq"), $"id",
            lit(" lorem ipsum dolor sit amet consectetur adipiscing"))
            .as("text")))
      withInjected.repartition(8 * blocks).write.mode("overwrite").parquet(dir)
      dir
    }
    val hot1 = hotCorpus(1, inject = false, "target/scale_corpus_1x_hot")
    val hot10 = hotCorpus(10, inject = true, "target/scale_corpus_10x_hot")
    val hot30 = hotCorpus(30, inject = true, "target/scale_corpus_30x_hot")
    val w62 = PrefixJoin.prefixSimJoinOf(spark.read.parquet(hot1)).count()
    val w63 = Containment.containmentJoinOf(spark.read.parquet(hot1)).count()
    spark.catalog.clearCache()
    val inj62 = nInjected * (nInjected - 1) / 2
    val inj63 = nInjected * (nInjected - 1)
    val simTruth: Seq[(String, DataFrame => DataFrame, Long, Long)] = Seq(
      ("x62_setsim_prefix_join",
        d => PrefixJoin.prefixSimJoinOf(d, cap), w62, inj62),
      ("x63_containment_join",
        d => Containment.containmentJoinOf(d, cap), w63, inj63))
    // honor the name filter here too (ADVICE r9: SECTIONS=hot + ONLY
    // otherwise still ran every hot query)
    simTruth.filter(q => selected(q._1)).foreach { case (name, capped, w, inj) =>
      Seq(10 -> hot10, 30 -> hot30).foreach { case (blocks, dir) =>
        val t = timed(capped(spark.read.parquet(dir))
          .write.format("noop").mode("overwrite").save())
        val found = capped(spark.read.parquet(dir)).count()
        spark.catalog.clearCache()
        val truth = blocks * w + inj
        println(f"SCALE $name cap=$cap hot${blocks}x wall=$t%.2f s " +
          f"recall=${found.toDouble / truth}%.3f " +
          f"(found=$found organic_truth=${blocks * w} hot_only_dropped=$inj " +
          f"organic_recall=${found.toDouble / (blocks * w)}%.3f)")
      }
    }

    }

    // event-shaped rows scale on the user dimension instead
    if (sections("events")) {
    val ev1 = "target/scale_events_1x"
    val ev10 = "target/scale_events_10x"
    val evBase = Tables.events(spark, sfDir)
    evBase.repartition(8).write.mode("overwrite").parquet(ev1)
    replicateEvents(evBase, Blocks).repartition(8 * Blocks)
      .write.mode("overwrite").parquet(ev10)
    val evQueries: Seq[(String, DataFrame => DataFrame)] = Seq(
      "b48_last_touch_attribution" -> (d => Attribution.lastTouchOf(d)),
      "b49_partition_skew" -> (d => SkewAudit.partitionSkewOf(d)),
      "b50_time_weighted_avg" -> (d => Twa.timeWeightedAvgOf(d)),
      // the user replica multiplies events per hour, not the timeline:
      // the grid stays fixed while hourly counts grow 10× — exactly how
      // a production deployment's traffic grows
      "x76_type_correlation" -> (d => Correlate.typeCorrelationOf(d)),
      // the user replica grows the KEY space 10×: base partials, delta
      // partials, and the merge all scale on |keys| — the refresh-path
      // dimension that grows in production (the timeline is fixed)
      "x86_incremental_agg" -> (d => graft.ops.IncrementalAgg
        .incrementalAggOf(d,
          to_timestamp(lit(graft.ops.IncrementalAgg.Cutoff)))),
      "x90_decayed_activity" ->
        (d => graft.ops.Decay.decayedActivityOf(d)),
      // user-dimension scaling for the round-10 event ops: sessions,
      // CUSUM charts, and trend fits are all per-user — the spine and
      // window work scale across users, depth per user unchanged
      "x93_session_sequences" ->
        (d => graft.ops.SeqAssembly.sessionSequencesOf(d)),
      "x94_cusum_drift" -> (d => graft.ops.Cusum.cusumDriftOf(d)),
      "x99_activity_trend" -> (d => graft.ops.Trend.activityTrendOf(d)),
      "x112_type_concentration" ->
        (d => graft.ops.Concentration.concentrationOf(d)),
      // dispersion reuses the x99 spine; cadence is one per-user window
      // pair — both scale across the 10× user population
      "x124_activity_dispersion" ->
        (d => graft.ops.Dispersion.dispersionOf(d)),
      "x126_cadence_profile" ->
        (d => graft.ops.InterArrival.cadenceOf(d)),
      "x127_top_path_trigrams" ->
        (d => graft.ops.PathMining.pathTrigramsOf(d)),
      "x133_lagged_xcorr" ->
        (d => graft.ops.LaggedXcorr.xcorrOf(d,
          graft.ops.LaggedXcorr.TypeX, graft.ops.LaggedXcorr.TypeY)))
    evQueries.filter(q => selected(q._1)).foreach { case (name, q) =>
      val t1 = timed(q(spark.read.parquet(ev1))
        .write.format("noop").mode("overwrite").save())
      val t10 = timed(q(spark.read.parquet(ev10))
        .write.format("noop").mode("overwrite").save())
      println(f"SCALE $name 1x=$t1%.2f s 10x=$t10%.2f s growth=${t10 / t1}%.1fx")
    }
    }

    // fact/dimension rows (B54) scale on the customer dimension: each
    // block is a disjoint customer population carrying the original
    // order/lineitem structure — version history depth per customer is
    // unchanged while the fact stream and the version table both grow
    // 10×, exactly how a production PIT lookup grows
    if (sections("pit") && selected("b54_scd2_pit_join")) {
      val od1 = "target/scale_orders_1x"
      val od10 = "target/scale_orders_10x"
      val li1 = "target/scale_lineitem_1x"
      val li10 = "target/scale_lineitem_10x"
      val odBase = Tables.orders(spark, sfDir)
        .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"o_orderpriority")
      val liBase = Tables.lineitem(spark, sfDir)
        .select($"l_orderkey", $"l_shipdate", $"l_extendedprice", $"l_discount")
      odBase.repartition(8).write.mode("overwrite").parquet(od1)
      liBase.repartition(8).write.mode("overwrite").parquet(li1)
      odBase.crossJoin(spark.range(Blocks).toDF("block"))
        .select(($"o_orderkey" + $"block" * 100000000L).as("o_orderkey"),
          ($"o_custkey" + $"block" * 10000000L).as("o_custkey"),
          $"o_orderdate", $"o_orderpriority")
        .repartition(8 * Blocks).write.mode("overwrite").parquet(od10)
      liBase.crossJoin(spark.range(Blocks).toDF("block"))
        .select(($"l_orderkey" + $"block" * 100000000L).as("l_orderkey"),
          $"l_shipdate", $"l_extendedprice", $"l_discount")
        .repartition(8 * Blocks).write.mode("overwrite").parquet(li10)
      val t1 = timed(graft.ops.PitJoin
        .scd2PitJoinOf(spark.read.parquet(od1), spark.read.parquet(li1))
        .write.format("noop").mode("overwrite").save())
      val t10 = timed(graft.ops.PitJoin
        .scd2PitJoinOf(spark.read.parquet(od10), spark.read.parquet(li10))
        .write.format("noop").mode("overwrite").save())
      println(f"SCALE b54_scd2_pit_join 1x=$t1%.2f s 10x=$t10%.2f s " +
        f"growth=${t10 / t1}%.1fx")
    }

    // the bounded grouped-top-k aggregate scales on the GROUP dimension:
    // each block is a disjoint customer population, so per-group depth
    // (orders per customer) is unchanged while groups grow 10× — map
    // tasks still ship ≤ k pairs per (group, partition), the whole point
    // of the aggregate form over the window form
    if (sections("orders") && selected("b56_grouped_topk")) {
      val ob1 = "target/scale_b56_orders_1x"
      val ob10 = "target/scale_b56_orders_10x"
      val obBase = Tables.orders(spark, sfDir)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      obBase.repartition(8).write.mode("overwrite").parquet(ob1)
      obBase.crossJoin(spark.range(Blocks).toDF("block"))
        .select(($"o_orderkey" + $"block" * 100000000L).as("o_orderkey"),
          ($"o_custkey" + $"block" * 10000000L).as("o_custkey"),
          $"o_totalprice")
        .repartition(8 * Blocks).write.mode("overwrite").parquet(ob10)
      val t1 = timed(graft.ops.GroupedTopK
        .groupedTopKOf(spark.read.parquet(ob1))
        .write.format("noop").mode("overwrite").save())
      val t10 = timed(graft.ops.GroupedTopK
        .groupedTopKOf(spark.read.parquet(ob10))
        .write.format("noop").mode("overwrite").save())
      println(f"SCALE b56_grouped_topk 1x=$t1%.2f s 10x=$t10%.2f s " +
        f"growth=${t10 / t1}%.1fx")
    }

    // vector-shaped rows scale on the corpus dimension with the label
    // space fixed: each block carries fresh vec_ids with the original
    // label/embedding distribution, so the centroid aggregate stays
    // |labels|×dims while the E-step stream grows 10× — exactly how a
    // production corpus grows under a fixed clustering
    if (sections("vectors")) {
      val em1 = "target/scale_embeddings_1x"
      val em10 = "target/scale_embeddings_10x"
      val emBase = Tables.embeddings(spark, sfDir)
      emBase.repartition(8).write.mode("overwrite").parquet(em1)
      emBase.crossJoin(spark.range(Blocks).toDF("block"))
        .select(($"vec_id" + $"block" * 10000000L).as("vec_id"),
          $"embedding", $"label")
        .repartition(8 * Blocks).write.mode("overwrite").parquet(em10)
      val emQueries: Seq[(String, DataFrame => DataFrame)] = Seq(
        "x70_centroid_assign" -> (d => Assign.centroidAssignOf(d)),
        "x71_kmeans_step" -> (d => Assign.kmeansStepOf(d)),
        // fixed block-0 query band vs a 10× packed corpus — the ANN
        // anchor's honest scale shape (16 B/vector packed stream)
        "x92_hamming_topk" -> (d => graft.ops.BitSim.hammingTopKOf(d)),
        // the D² matrix is fixed; the cross-product stream grows 10×
        "x113_dim_covariance" ->
          (d => graft.ops.Covariance.covarianceOf(d)),
        // the power rounds are corpus-free after the covariance; the
        // agreement and MMR cuts stream the 10× corpus once each
        "x120_cov_power_iteration" ->
          (d => graft.ops.PowerIteration.powerIterationOf(d)),
        "x121_cluster_label_agreement" -> { d =>
          import org.apache.spark.sql.functions.col
          graft.ops.RandIndex.agreementOf(
            Assign.centroidAssignOf(d).select(
              col("nearest_label").as("k"), col("label").as("c")))
        },
        "x122_mmr_rerank" -> (d => graft.ops.Mmr.mmrOf(d)),
        // per-dim windows deepen 10×, never widen (D fixed)
        "x129_dim_robust_range" ->
          (d => graft.ops.RobustRange.robustRangeOf(d)),
        // the verdict-named quadratic: cells are the fixed label space,
        // so the lossless within-cell pair join SQUARES at 10× — the
        // wall row that motivates the cap...
        "x145_semdedup" -> (d => graft.ops.SemDedup.semOf(d)),
        // ...and the deployed posture (cell cap 200 = base cell size),
        // whose pair volume and wall must grow ~linearly instead
        "x145_semdedup_capped" ->
          (d => graft.ops.SemDedup.semOf(d, 200L)),
        // round-14: TRAIN + probe wall of the integer-exact Lloyd index
        // (built fresh per run — the once-per-corpus stage measured
        // honestly; per-round broadcast centroids + map-only argmin)
        "x166_ivf_lloyd_train_probe" -> (d =>
          graft.ops.LloydIvf.probe(
            graft.ops.LloydIvf.buildLloydIndexOf(d, graft.ops.LloydIvf.T))))
      emQueries.filter(q => selected(q._1)).foreach { case (name, q) =>
        val t1 = timed(q(spark.read.parquet(em1))
          .write.format("noop").mode("overwrite").save())
        val t10 = timed(q(spark.read.parquet(em10))
          .write.format("noop").mode("overwrite").save())
        println(f"SCALE $name 1x=$t1%.2f s 10x=$t10%.2f s growth=${t10 / t1}%.1fx")
      }
    }

    // 30× curvature (round-14 verdict item 4): the single 10× ratio can
    // hide a superlinear term that only bends at the next decade — the
    // rewritten shapes (x109/x158/x170), the trained indexes (x166 and
    // x173 — train + probe, built fresh per run), and the deployed
    // capped x145 get a third point. Same disjoint-vocab / disjoint-id
    // replica constructions at 30 blocks.
    if (sections("curvature30")) {
      val B30 = 30
      val dir30 = "target/scale_corpus_30x"
      replicate(base, B30).repartition(8 * B30)
        .write.mode("overwrite").parquet(dir30)
      val em1 = "target/scale_embeddings_1x"
      val em30 = "target/scale_embeddings_30x"
      val emBase = Tables.embeddings(spark, sfDir)
      emBase.repartition(8).write.mode("overwrite").parquet(em1)
      val em10 = "target/scale_embeddings_10x"
      emBase.crossJoin(spark.range(Blocks).toDF("block"))
        .select(($"vec_id" + $"block" * 10000000L).as("vec_id"),
          $"embedding", $"label")
        .repartition(8 * Blocks).write.mode("overwrite").parquet(em10)
      emBase.crossJoin(spark.range(B30).toDF("block"))
        .select(($"vec_id" + $"block" * 10000000L).as("vec_id"),
          $"embedding", $"label")
        .repartition(8 * B30).write.mode("overwrite").parquet(em30)
      def three(name: String, d1: String, d10: String, d30: String)(
          q: DataFrame => DataFrame): Unit = {
        if (selected(name)) {
          val t1 = timed(q(spark.read.parquet(d1))
            .write.format("noop").mode("overwrite").save())
          val t10 = timed(q(spark.read.parquet(d10))
            .write.format("noop").mode("overwrite").save())
          val t30 = timed(q(spark.read.parquet(d30))
            .write.format("noop").mode("overwrite").save())
          println(f"SCALE30 $name 1x=$t1%.2f s 10x=$t10%.2f s " +
            f"30x=$t30%.2f s growth10=${t10 / t1}%.1fx growth30=${t30 / t1}%.1fx")
        }
      }
      three("x109_source_gini", dir1, dir10, dir30) { d =>
        import org.apache.spark.sql.functions.{col, length}
        graft.ops.Gini.giniOf(d.select(col("source").as("grp"),
          col("doc_id"), length(col("text")).cast("long").as("x")))
      }
      three("x158_heaps_fit", dir1, dir10, dir30)(d =>
        graft.ops.Heaps.heapsFitOf(d))
      three("x170_rank_drift", dir1, dir10, dir30) { d =>
        import org.apache.spark.sql.functions.{col, length}
        graft.ops.RankDrift.rankDriftOf(d.select(col("source").as("grp"),
          length(col("text")).cast("long").as("x")))
      }
      three("x145_semdedup_capped", em1, em10, em30)(d =>
        graft.ops.SemDedup.semOf(d, 200L))
      three("x166_ivf_lloyd_train_probe", em1, em10, em30)(d =>
        graft.ops.LloydIvf.probe(
          graft.ops.LloydIvf.buildLloydIndexOf(d, graft.ops.LloydIvf.T)))
      three("x173_pq_lloyd_train_probe", em1, em10, em30)(d =>
        graft.ops.LloydPq.probe(
          graft.ops.LloydPq.buildPqLloydIndexOf(d, graft.ops.LloydPq.T)))
      // x178 trains BOTH quantizers fresh per point (coarse + residual
      // PQ) — the full IVFADC index-build + probe wall
      three("x178_ivfpq_train_probe", em1, em10, em30)(d =>
        graft.ops.LloydIvfPq.probe(
          graft.ops.LloydIvfPq.buildIvfPqIndexOf(d,
            graft.ops.LloydIvfPq.T, graft.ops.LloydIvfPq.T)))
      // round-16 (verdict item 5): the capped dedup family's third
      // scale point at DEPLOYMENT dials — the MaxCand/MaxDf caps are
      // the 100 TB posture, so their wall must bend sub-quadratically
      // through 30× (candidate volumes per factor are CandGrowth's
      // rows in CAND_GROWTH.json; these pin the wall curvature)
      three("x62_setsim_prefix_join_capped", dir1, dir10, dir30)(d =>
        PrefixJoin.prefixSimJoinOf(d, 1000L))
      three("x63_containment_join_capped", dir1, dir10, dir30)(d =>
        Containment.containmentJoinOf(d, 1000L))
      // x125's MaxDf = 64 df-cap is always-on (the operator's posture)
      three("x125_winnowing_match", dir1, dir10, dir30)(d =>
        graft.ops.Winnowing.matchOf(d))
      // x02's bound is the LSH banding itself: band-bucket joins admit
      // only same-bucket pairs, the posture that replaces pairs²
      three("x02_minhash_lsh", dir1, dir10, dir30)(d =>
        graft.ops.Dedup.minhashPairs(graft.ops.Dedup.shinglesOf(d))
          .filter($"jaccard" >= 0.5))
      // round-17 (verdict item 3): the multi-second tail's third
      // decade — each had a 10× point and a declared scale argument
      // (bounded spine / K-row sketch / vocab-bounded state); the 30×
      // point converts argument to measurement, as round 16 did for
      // the capped dedup family.
      // x137: per-source K=256 bottom-k sketches — the pair matrix
      // stays C(|sources|,2) while the distinct-shingle universe grows
      three("x137_theta_overlap", dir1, dir10, dir30) { d =>
        import graft.functions.Hashing.md5Long40
        graft.ops.ThetaOverlap.pairsOf(
          graft.ops.Dedup.shinglesOf(d)
            .join(d.select($"doc_id", $"source"), Seq("doc_id"))
            .select($"source".as("grp"), md5Long40($"sh").as("h"))
            .distinct())
      }
      // x146: probe slice + truth join scale with the corpus; the LSH
      // candidate stage is the banding-bounded x02 shape
      three("x146_dedup_recall", dir1, dir10, dir30)(d =>
        graft.ops.DedupRecall.recallOf(graft.ops.Dedup.shinglesOf(d)))
      // x172: eval gram sets grow with the per-block vocab, matches
      // stay block-local, the matrix stays |evals|×|sources|
      three("x172_contamination_matrix", dir1, dir10, dir30)(d =>
        graft.ops.ContaminationMatrix.matrixOf(d))
      // x110: 4 fixed rounds; per-round state is vocab-bounded after
      // one corpus pass (the suffixed replica vocab grows WITH the
      // corpus — the honest worst case)
      three("x110_bpe_merges", dir1, dir10, dir30)(d =>
        graft.ops.Bpe.bpeMergesOf(d))
      // x120: three exact rounds over the D²-bounded covariance — the
      // corpus pass grows, the iteration frames stay 64×64
      three("x120_cov_power_iteration", em1, em10, em30)(d =>
        graft.ops.PowerIteration.powerIterationOf(d))
      // b58/b54: the order-history family — disjoint per-block
      // customer populations (depth per customer unchanged, customers
      // grow), the production scale dimension. Replica builds are
      // gated on their consumers (round-17 advice item 4: a run
      // selecting only e.g. x137 must not pay the large orders/
      // lineitem writes that only b58/b54 read).
      if (selected("b58_incremental_scd2") ||
          selected("b54_scd2_pit_join")) {
      val od30s = Seq(1, Blocks, B30).map { b =>
        val path = s"target/scale_orders_full_${b}x"
        Tables.orders(spark, sfDir)
          .crossJoin(spark.range(b).toDF("block"))
          .select(($"o_orderkey" + $"block" * 100000000L).as("o_orderkey"),
            ($"o_custkey" + $"block" * 10000000L).as("o_custkey"),
            $"o_orderstatus", $"o_totalprice", $"o_orderdate",
            $"o_orderpriority")
          .repartition(8 * b).write.mode("overwrite").parquet(path)
        path
      }
      val li30s = if (!selected("b54_scd2_pit_join")) Seq.empty[String]
      else Seq(1, Blocks, B30).map { b =>
        val path = s"target/scale_lineitem_pit_${b}x"
        Tables.lineitem(spark, sfDir)
          .select($"l_orderkey", $"l_shipdate", $"l_extendedprice",
            $"l_discount")
          .crossJoin(spark.range(b).toDF("block"))
          .select(($"l_orderkey" + $"block" * 100000000L).as("l_orderkey"),
            $"l_shipdate", $"l_extendedprice", $"l_discount")
          .repartition(8 * b).write.mode("overwrite").parquet(path)
        path
      }
      three("b58_incremental_scd2", od30s(0), od30s(1), od30s(2))(d =>
        graft.ops.IncScd2.incrementalScd2Of(d,
          lit(graft.ops.IncScd2.Cutoff).cast("timestamp")))
      if (selected("b54_scd2_pit_join")) {
        val walls = od30s.zip(li30s).map { case (od, li) =>
          timed(graft.ops.PitJoin
            .scd2PitJoinOf(spark.read.parquet(od), spark.read.parquet(li))
            .write.format("noop").mode("overwrite").save())
        }
        println(f"SCALE30 b54_scd2_pit_join 1x=${walls(0)}%.2f s " +
          f"10x=${walls(1)}%.2f s 30x=${walls(2)}%.2f s " +
          f"growth10=${walls(1) / walls(0)}%.1fx " +
          f"growth30=${walls(2) / walls(0)}%.1fx")
      }
      }
    }
    spark.stop()
  }
}
