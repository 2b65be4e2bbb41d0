package graft

import org.apache.spark.sql.SparkSession
import graft.operators.Staging

/** Benchmark main: runs the headline query set on
  * `SPARK_GRAFT_SF_DIR`, prints the full per-query-seconds JSON record
  * (also persisted to `BENCH_last_full.json`), then ends stdout with a
  * compact summary line sized to survive a bounded tail capture.
  *
  * Queries execute against the `noop` sink so the full physical plan
  * runs (scan → shuffle → agg) without count()'s shortcuts or a
  * collect bottleneck on the driver.
  *
  * Each query is timed `samples` times and the MEDIAN is reported:
  * this host is a VM with measured 4-20% hypervisor CPU steal
  * (vmstat `st` column), which stalls single runs by seconds at
  * random — medians separate plan cost from host noise.
  *
  * Samples are INTERLEAVED round-robin across the suite (run the
  * whole query list, then run it again), not taken back-to-back per
  * query: a sustained steal wave lasting a minute previously owned
  * all 3 consecutive samples of a contiguous query block and doubled
  * their medians (BENCH_r04 reported 62.5s for an engine whose
  * isolated per-query envelopes summed to ~31-40s). Round-robin
  * spreads any one wave across at most one sample of many queries,
  * where the median rejects it. The per-query MIN is reported
  * alongside (`queries_min`/`total_min`): these plans are
  * deterministic — same data, same plan, no caching between samples —
  * so the min is the steal-robust estimate of true plan cost; the
  * median shows what a typical contended run costs.
  */
object Bench {

  /** Representative, scale-meaningful subset of SURVEY §2: scans,
    * broadcast + shuffle joins, window, top-k, asof, dedup, ANN, text.
    * (d02 exact-Jaccard pair mining — and d06 clustering, which mines
    * pairs the same way — are deliberately absent: on the benchmark
    * corpus every doc shares the tiny vocabulary, so exact all-pairs is
    * quadratic by construction — d03 MinHash-LSH is the scale path for
    * that workload.) */
  val headline: Seq[String] = Seq(
    "q01_scan_project", "q03_agg_groupby", "q04_join_broadcast",
    "q06_multijoin", "q09_topk", "q11_window_rank", "q12_window_running",
    "q22_count_distinct", "q24_time_bucket", "q26_asof_join",
    "q27_range_join", "q29_cube", "q33_sessionize", "q34_stratified_sample",
    "q36_interval_pairs", "q37_grouping_sets", "q40_topk_per_group",
    "q41_doc_embedding_join", "q42_token_pack", "q44_cms_freq",
    // q45 and q48 run the SAME deliberately-skewed join — salted vs
    // plain — so every BENCH_r*.json carries the salted-join win (or
    // lack of it) as a measured side-by-side number
    "q45_salted_join", "q48_plain_skew", "q49_factored_skew",
    "q46_histogram_quantile", "q47_bloom_join",
    "q50_funnel", "q51_retention",
    // d07 is the whole dedup pipeline — exact dedup + d03's mining +
    // label propagation (2 rounds at sf0.1: one that changes labels,
    // one that confirms the fixpoint; each a blocking job reading the
    // previous round's localCheckpoint) + an anti-join — a multi-job
    // sum, not one query. Measured median ≈4s at sf0.1 after the
    // one-job-per-round rework; iteration overhead amortizes at scale
    "d01_dedup_exact", "d03_minhash_lsh", "d04_simhash", "d05_embed_neardup",
    "d07_dedup_corpus", "d08_decontaminate", "d09_bloom_decontaminate",
    "d10_incremental_dedup",
    "s01_cosine_topk", "s02_ann_lsh", "s03_ivf_ann", "s04_pq_ann",
    "t01_token_count", "t03_quality_score", "t05_ngram_stats",
    "t06_subword_stats", "t08_tfidf", "t10_repetition", "t11_pii_redact",
    // d13/t13 reuse d02's exact-Jaccard mining and inherit its
    // deliberate headline exclusion (quadratic on this corpus's tiny
    // shared vocabulary); m06 is m05's sub-quadratic pigeonhole join
    // plus CC rounds, so it benches
    "q32_hash_sample", "m01_binary_meta", "m05_image_phash",
    "m06_phash_clusters", "st07_stream_funnel",
    // round-8 additions: global shard packing (two-phase prefix sum)
    // and temperature source mixing (broadcast rates, zero fact
    // shuffle); d14 reuses d02's exact-Jaccard mining and inherits
    // its headline exclusion like d13/t13
    "q52_mixture_sample", "q53_shard_pack",
    // round-9: per-domain caps (broadcast caps + one window exchange);
    // trained-BPE apply (merges table as a codegen literal, zero
    // corpus shuffle); duplicated-span removal (segment-count agg +
    // hot-set literal rebuild, zero corpus shuffle)
    "d15_domain_cap", "t14_bpe_apply", "d16_segment_dedup",
    // round-9 vocabulary filters: top-K / bigram model trained by a
    // vocab-sized aggregate, applied row-locally as a hashed plan
    // reference — zero corpus shuffle
    "t15_oov_rate", "t16_bigram_surprise",
    // round-9: kNN join (banded self-join blocking, pair-once scoring),
    // the streaming as-of join's gated batch face, and the audio
    // envelope fingerprint (row-local mapPartitions codec)
    "s05_knn_join", "st09_stream_asof", "m07_audio_fingerprint",
    // round-9: incremental rollup maintenance (algebraic-state merge),
    // scene-cut detection (frame-energy deltas, row-local), and
    // content-defined-chunking span removal (CDC boundaries)
    "q54_incremental_rollup", "m08_scene_cuts", "d17_cdc_segment_dedup",
    // round-9 batch 4: semantic dedup (cell-bounded pairs), DSIR
    // importance weights (two models, one zero-shuffle scan),
    // video scene-rhythm pairs (3-long rows through the join),
    // integer PageRank (2-long rows per iteration), Z-order key
    // (pure codegen arithmetic)
    "q55_semdedup", "t17_dsir_score", "m09_video_neardup",
    "s06_knn_centrality", "q56_zorder_key",
    // round-9: CDC snapshot diff (one co-partitioned full-outer join)
    "q57_snapshot_diff",
    // round-9 batch 5: KMV set algebra (one corpus scan, persisted
    // sketch, broadcast pair phase), the composed curation pipeline
    // (one corpus exchange), audio near-dup pairs on real WAV decode
    "q58_sketch_setops", "q59_curation_e2e", "m10_audio_neardup",
    // round-9 batch 6: the CMS-guided skew audit (buffer shuffle +
    // candidate-sized exact verify) and MMR diversification (one
    // mmr_select expression over per-query collected candidates)
    "q60_heavy_hitters", "s07_mmr_diversify",
    // round-9 batch 7: exact sliding-window distinct (dedup-first
    // bounded fan-out). d18_lsh_recall_audit embeds d02's exact-
    // Jaccard join (on the half-corpus subset) and inherits its
    // quadratic-by-construction headline exclusion like d13/t13/d14
    "q61_sliding_distinct",
    // round-9 batch 8: FastSS deletion-neighborhood fuzzy join
    // (equi-join on |s|+1 variants, verify below the pair dedup)
    "d19_fuzzy_join",
    // round-9 batch 9: exact global top-p% (histogram prefix cut, no
    // global sort) and embedding-space decontamination (bench side
    // broadcast through the shared hyperplane banding)
    "q62_global_topk_percent", "d20_semantic_decontaminate",
    // round-9 batch 10: token↔label lift feature selection (one
    // token scan, vocabulary-sized broadcast scoring join); sketch-
    // priced join cardinality (two CMS buffers, join never runs)
    "q63_mi_feature_select", "q64_join_size_sketch",
    // round-10: q06's fact-fact core over bucketed layouts — first
    // sample pays the one-time clustered write, the rest measure the
    // steady-state zero-Exchange zero-Sort merge join (median of 3
    // reports the amortized regime, exactly the 100 TB contract)
    "q65_bucketed_join",
    // round-13: the full 5-way star over the same layouts — the
    // facts merge-join co-bucketed on orderkey, dims broadcast (the
    // pre-aggregate spelling was A/B-rejected in
    // 92dfbba:src/main/scala/graft/tools/Q06Ab.scala; q06
    // stays as the raw-parquet baseline, measured side-by-side)
    "q06b_multijoin_bucketed",
    // round-10: k-means model training (Lloyd scans shrink map-side
    // to nCells×dims; broadcast centroids) and the cluster-balanced
    // quota sample over the trained model
    "q66_kmeans_train", "q67_cluster_sample",
    // round-10: CDC merge — one co-partitioned full-outer join lands
    // the batch; the bucketed-snapshot variant of the same shape is
    // q65's territory
    "q68_apply_changeset",
    // round-10: pivot's inverse — one Expand over the 6-row aggregate
    "q69_unpivot",
    // round-11: SCD2 history (one change-sized window), PPS
    // systematic sampling (distributed prefix sum + row-local grid),
    // Merkle replica checksum (map-side-combined range digests), and
    // per-scene keyframe selection (row-local single pass)
    "q70_scd2_history", "q71_pps_sample", "q72_table_checksum",
    "m11_keyframe_select", "q73_interval_merge", "q74_snapshot_asof",
    "q75_column_profile", "q76_group_linregress", "q77_gap_fill",
    "q78_weighted_median",
    // round-11: data-quality family — rule audit (one orders
    // aggregate + two anti-joins), first-failing attrition cascade
    // (one row-local scan), per-group sigma outliers (q78's
    // output-sized stats collect + one flagging scan)
    "q79_dq_audit", "t18_filter_attrition", "q80_group_outliers",
    // round-11: rolling anomaly gauge (one event_type exchange, frame
    // aggregates share the window buffer) and last-touch attribution
    // (as-of as a window — one user_id exchange, no join)
    "q81_rolling_anomaly", "q82_attribution")

  /** Re-exec into a child JVM with a PINNED, PRE-TOUCHED heap before
    * timing anything. With a growable heap (-Xmx alone, the natural
    * invocation) G1 uncommits regions after each concurrent cycle and
    * the next allocation burst page-faults tens of GB back from the
    * kernel — measured on this host as random 50–250 s whole-process
    * stalls at ~80% system time (JVM unresponsive to jstack, zero GC
    * activity in -Xlog:gc, ~50 GB of free memory committed during the
    * stall). One such stall in 3 samples poisons a median; a bench
    * that can silently absorb a 250 s lie is not a measurement.
    * -Xms=-Xmx stops the uncommit cycle entirely and AlwaysPreTouch
    * moves the one-time page-zeroing to child startup, outside every
    * timed region. Skipped when the parent already runs pinned
    * (SPARK_GRAFT_BENCH_PINNED=1, which the child sets). */
  private def reexecPinned(args: Array[String]): Nothing = {
    // Default heap: 70% of physical RAM capped at 64g — a hard-coded
    // 64g fails (or thrashes through AlwaysPreTouch) on any host with
    // less; SPARK_GRAFT_HEAP still overrides for deliberate sizing.
    val heap = sys.env.getOrElse("SPARK_GRAFT_HEAP", {
      val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val totalG = os.getTotalMemorySize / (1L << 30)
      s"${math.max(4L, math.min(64L, totalG * 7 / 10))}g"
    })
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java").getPath
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments
    val cmd = new java.util.ArrayList[String]()
    cmd.add(javaBin)
    jvmArgs.forEach { a =>
      // strip the parent's heap sizing; ours is appended below
      if (!a.startsWith("-Xms") && !a.startsWith("-Xmx")) cmd.add(a)
    }
    cmd.add(s"-Xms$heap"); cmd.add(s"-Xmx$heap"); cmd.add("-XX:+AlwaysPreTouch")
    cmd.add("-cp"); cmd.add(System.getProperty("java.class.path"))
    cmd.add("graft.Bench"); args.foreach(cmd.add)
    val pb = new ProcessBuilder(cmd)
    pb.environment().put("SPARK_GRAFT_BENCH_PINNED", "1")
    pb.inheritIO()
    sys.exit(pb.start().waitFor())
  }

  def main(args: Array[String]): Unit = {
    if (!sys.env.contains("SPARK_GRAFT_BENCH_PINNED")) reexecPinned(args)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_BENCH_ONLY=q50_funnel,q51_retention benches a subset
    // (mirrors Verify's SPARK_GRAFT_ONLY) — used to refresh expensive
    // artifacts like BENCH_sf1.json for new queries without re-paying
    // the full-suite cost (the sf1 skew pair alone is ~40 min).
    val run: Seq[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty) // empty value means all, as in Verify
      .fold(headline) { only =>
        // a typo'd subset name would otherwise silently shrink the run
        // and the merged artifact would silently lack the intended query
        val unknown = only -- headline
        require(unknown.isEmpty,
          s"SPARK_GRAFT_BENCH_ONLY names not in headline: ${unknown.toSeq.sorted.mkString(", ")}")
        headline.filter(only)
      }
    val spark = GraftSession.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JIT/codegen warm-up: run every headline plan once at the smallest
    // SF. Generated-code compilation (janino) dominates first execution
    // (~5s for the LSH pipeline). The warm-up does not take janino out
    // of the samples below: the round-robin runs every other headline
    // query between two samples of one query, and one pass over the
    // headline set compiles more classes than the codegen cache holds
    // (1229 at sf0.001, against the 1000 entries GraftSession.tune
    // sets; Spark's default is 100). LRU eviction drops a query's
    // classes before its next sample: a second pass at sf0.001
    // recompiled 1026 of them. So timings below are data work plus most
    // of each plan's compile.
    SparkEntry.queries.view.filterKeys(run.contains).foreach { case (_, fn) =>
      try Staging.scope(fn(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save())
      catch { case _: Throwable => }
    }

    val samples = sys.env.getOrElse("SPARK_GRAFT_BENCH_SAMPLES", "3").toInt
    // round-robin: pass 1 over every query, then pass 2, ... — a
    // sustained steal wave hits at most one sample per query.
    // a failed sample yields None — its time-to-failure must not feed
    // the median (a query that starts failing fast would otherwise
    // read as a performance improvement)
    val outcomes =
      collection.mutable.Map(run.map(_ -> Vector.empty[Option[Double]]): _*)
    for (_ <- 1 to samples; name <- run) {
      val fn = SparkEntry.queries(name)
      // each sample is a staging scope: the operators' stages (LSH
      // signatures, CC checkpoints) are freed when it ends, after the
      // timed region, so no cache carries over to the next sample
      val (ok, dt) = Staging.scope {
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
          }
        (ok, (System.nanoTime() - t0) / 1e9)
      }
      // broadcasts (dim hash relations, Bloom bits) are reaped by the
      // ContextCleaner only after their weak refs are GC'd; a pinned
      // 64 GB heap can go many samples without a collection, so dead
      // broadcast blocks pile up in unified memory and later samples
      // read ~2-4x slow (measured at sf10: q47 2.3 -> 7.9 s across 4
      // round-robin samples, flat ~1 s solo). One explicit GC outside
      // the timed region keeps every sample's memory state equal.
      System.gc()
      outcomes(name) :+= (if (ok) Some(dt) else None)
    }
    val all = run.map { name =>
      val times = outcomes(name).flatten
      // ANY failed sample marks the query failed: an intermittently
      // erroring query must not masquerade as a healthy median
      if (times.size < samples) { name -> None }
      else {
        val med = times.sorted.apply(times.size / 2)
        val min = times.min
        System.err.println(f"[bench] $name%-22s median $med%7.2fs  min $min%7.2fs  " +
          s"(${times.map(t => f"$t%.2f").mkString(", ")})")
        name -> Some((med, min))
      }
    }
    val results = all.collect { case (k, Some(v)) => k -> v }
    val failed = all.collect { case (k, None) => k }
    val qs = results.map { case (k, (med, _)) => "\"" + k + f"""\":$med%.3f""" }
      .mkString("{", ",", "}")
    val qsMin = results.map { case (k, (_, min)) => "\"" + k + f"""\":$min%.3f""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2._1).sum
    val totalMin = results.map(_._2._2).sum
    val failedJson = if (failed.isEmpty) ""
      else failed.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
    val fullLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"total_min":$totalMin%.3f,"queries_min":$qsMin$failedJson,"sf":"$sfDir"}"""
    println(fullLine)
    // The harness that consumes this output keeps only the LAST ~2000
    // characters of stdout and parses a JSON line out of them. The full
    // record above is ~6 kB at 129 queries — every per-round artifact
    // since the suite passed ~75 queries silently failed to parse
    // (BENCH_r08..r10 all carry "parsed": null). So: persist the full
    // record to a file the tail can't truncate, then end stdout with a
    // COMPACT line that provably fits the window — headline totals plus
    // the slowest queries, greedily packed under a hard byte budget.
    // subset runs (SPARK_GRAFT_BENCH_ONLY) persist to a SEPARATE file:
    // a 1-query refresh must never overwrite the committed full-suite
    // record (measured: it did, round 11)
    val fullFile = if (run.size == headline.size) "BENCH_last_full.json"
                   else "BENCH_last_subset.json"
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(fullFile),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] $fullFile write failed: $e") }
    val head =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","total_min":$totalMin%.3f,"n_queries":${results.size},"full":"$fullFile"$failedJson,"queries":{"""
    val tail0 = s"""},"sf":"$sfDir"}"""
    val budget = 1600 - head.length - tail0.length
    val entries = results.sortBy { case (_, (med, _)) => -med }
      .map { case (k, (med, _)) => "\"" + k + f"""\":$med%.2f""" }
    val packed = new StringBuilder
    var used = 0
    entries.foreach { e =>
      val cost = e.length + (if (used > 0) 1 else 0)
      if (used + cost <= budget) {
        if (used > 0) packed.append(',')
        packed.append(e); used += cost
      }
    }
    println(head + packed + tail0)
    if (failed.nonEmpty) { spark.stop(); sys.exit(1) }
    spark.stop()
  }
}
