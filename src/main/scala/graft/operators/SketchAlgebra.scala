package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** KMV sketch SET ALGEBRA (q58) — the cross-source overlap matrix.
  *
  * A 100 TB corpus question a single distinct-join cannot answer at
  * scale: "how much does every pair of sources overlap?" Naively that
  * is |S|² distinct-intersection joins over the full element stream.
  * Here the corpus is scanned ONCE to build a k-minimum-values sketch
  * per group (the same bottom-k construction [[graft.functions.KmvSketch]]
  * aggregates, materialized as rows so sketches compose); every set
  * operation after that runs on k-sized sketches:
  *
  *   - union:        merge two sketches, keep the k smallest distinct
  *                   values; the kth smallest h_k gives the standard
  *                   KMV estimate (k-1)·P / h_k (exact while the
  *                   merged sketch holds < k values).
  *   - intersection: among the merged k smallest, count the values
  *                   present in BOTH input sketches (n_common); the
  *                   Jaccard estimate is n_common / m and the
  *                   intersection estimate jaccard · union.
  *
  * All arithmetic is integer (div, no doubles), so a SQL engine
  * replays the estimates bit-exactly — the estimator itself is
  * oracle-checkable, not just spot-bounded. At scale the sketch table
  * is |groups|·k rows (KBs for thousands of groups): the pair phase is
  * metadata-sized no matter how large the corpus, and sketches persist
  * as a mergeable summary — tomorrow's batch unions in without
  * rescanning today's.
  *
  * Reference surface: the reference's SQL layer answers overlap
  * questions only via full COUNT(DISTINCT) joins
  * (/root/reference/src/main.rs:214-294, the rusqlite REPL); this is
  * the sketch-native formulation of the same question.
  */
object SketchAlgebra {

  val P = 2147483647L // 2^31 - 1, the hash domain KmvSketch expects

  /** Per-group bottom-k sketch rows from a (group, hash) element
    * stream, via [[graft.functions.KmvSketchValues]] — one
    * ObjectHashAggregate whose partial buffers hold at most k longs
    * per group per partition, so the ONLY corpus-sized work is the
    * map-side scan: the shuffle carries sketch buffers, not elements.
    * (The composed `distinct → window-rank ≤ k` formulation was
    * measured 4.5× slower at sf0.1 — its distinct exchange moves
    * every (group, element) row, ~10M here, corpus-sized at 100 TB.)
    * Duplicate elements collapse in the buffer (TreeSet), exactly the
    * distinct-value semantics KMV is defined on. */
  def kmvSketchRows(elems: DataFrame, groupCol: Column, hashCol: Column,
                    k: Int): DataFrame = {
    require(k >= 2, s"kmv sketch k must be >= 2, got $k")
    elems.select(groupCol.as("g"), hashCol.as("h"))
      .groupBy("g")
      .agg(graft.functions.KmvFunctions.kmvValues(col("h"), k).as("hs"))
      .select(col("g"), explode(col("hs")).as("h"))
  }

  /** All-pairs KMV set operations over per-group sketches: for every
    * unordered group pair (g_a < g_b) the merged-sketch union
    * estimate, intersection estimate and Jaccard in ppm — integer
    * arithmetic end to end. `sk` must be [[kmvSketchRows]] output (or
    * any (g, h) bottom-k rows with h in [0, P)). Sketch-sized only:
    * every join here touches |groups|·k rows.
    */
  def kmvSetOps(sk: DataFrame, k: Int): DataFrame =
    kmvSetOpsStaged(sk, k).result

  /** [[kmvSetOps]] with its persisted stage exposed ([[Dedup.Staged]]
    * convention): the pair phase references the sketch table FOUR
    * times (two group lists, two membership joins) — without staging,
    * each reference re-runs the corpus-sized sketch build, turning
    * one scan into four (measured in the sf0.1 plan). An EAGER
    * localCheckpoint rather than a lazy persist(): the four
    * references surface as concurrently-launched broadcast-exchange
    * jobs, and a cold cache lets them race to populate it — each
    * racer paying the full corpus scan (measured as a 1.5–15 s spread
    * at sf0.1; checkpointed: stable). The materialized stage is
    * |groups|·k rows — KBs — and its one build job IS the query's
    * corpus pass. */
  def kmvSetOpsStaged(skIn: DataFrame, k: Int): Dedup.Staged = {
    val sk = Staging.checkpoint(skIn, eager = true)
    val groups = sk.select(col("g")).distinct()
    val pairs = groups.as("x").join(groups.as("y"), col("x.g") < col("y.g"))
      .select(col("x.g").as("ga"), col("y.g").as("gb"))
    // membership-tagged merged element list per pair; the sketch side
    // is tiny so both joins broadcast — no corpus data moves here
    val tagged = pairs.join(broadcast(sk), col("g") === col("ga"))
      .select(col("ga"), col("gb"), col("h"), lit(1).as("ia"), lit(0).as("ib"))
      .unionByName(
        pairs.join(broadcast(sk), col("g") === col("gb"))
          .select(col("ga"), col("gb"), col("h"), lit(0).as("ia"), lit(1).as("ib")))
    val mem = tagged.groupBy("ga", "gb", "h")
      .agg(max(col("ia")).as("in_a"), max(col("ib")).as("in_b"))
    val mw = Window.partitionBy("ga", "gb").orderBy("h")
    val mk = mem.withColumn("mrn", row_number().over(mw))
      .filter(col("mrn") <= k)
    val res = mk.groupBy("ga", "gb")
      .agg(count(lit(1)).as("m"),
        max(col("h")).as("hmax"),
        sum(col("in_a") * col("in_b")).cast("long").as("n_common"))
      // m < k → the merged sketch saw the whole union: counts exact.
      // Otherwise the classic KMV estimator on the kth smallest hash.
      .withColumn("union_est",
        when(col("m") < k, col("m"))
          .otherwise(expr(s"(${k - 1}L * ${P}L) div hmax")))
      .withColumn("inter_est", expr("(n_common * union_est) div m"))
      .withColumn("jaccard_ppm", expr("(n_common * 1000000L) div m"))
      .select(col("ga").as("src_a"), col("gb").as("src_b"),
        col("union_est"), col("inter_est"), col("jaccard_ppm"))
    Dedup.Staged(res, Seq(sk))
  }

  /** Two-pass EXACT heavy hitters (q60) — the pre-join skew audit.
    *
    * Pass 1 aggregates a Count-Min sketch plus the stream length N in
    * one buffer-sized shuffle (the CMS matrix is depth·width longs per
    * partition regardless of cardinality). The sketch then rides the
    * second scan as a LITERAL (d09's runtime-filter convention — one
    * codegen reference, never copied per row), so candidate detection
    * is row-local: keep rows whose estimate ≥ T = N div phiInv. Pass 2
    * exact-counts ONLY the survivors — the shuffle is candidate-sized,
    * not |distinct keys|-sized.
    *
    * CMS never underestimates, so no true heavy hitter is dropped; the
    * final exact filter removes the sketch's false positives. The
    * result is therefore EXACTLY the φ-heavy hitters — independent of
    * sketch geometry (a width-4 sketch returns the same rows, just
    * shuffling more candidates) — which is why the oracle is the plain
    * exact GROUP BY ... HAVING, sketch-free. The sketch's only job is
    * performance: at 100 TB the plain formulation shuffles every
    * distinct key × partition; this shuffles the sketch plus the few
    * keys that might be heavy. Two corpus scans by nature (count-them-
    * all then verify) — same shape as every sketch-guided second pass.
    *
    * The driver-side sketch materialization is one action over a
    * buffer-sized aggregate — the pattern Spark's own runtime filters
    * use (see d09, SURVEY §4). Keys must lie in [0, 2³¹-1) — the CMS
    * position arithmetic's domain; CmsSketch rejects out-of-range
    * input loudly, so wider keys need a mod-P reduction first (the
    * st10 fingerprint convention). */
  def heavyHitters(keyed: DataFrame, key: Column, phiInv: Long,
                   depth: Int = 3, width: Int = 8192,
                   seed: Long = 42L): DataFrame = {
    require(phiInv >= 2, s"phiInv must be >= 2, got $phiInv")
    import graft.functions.CmsFunctions
    val ks = keyed.select(key.cast("long").as("k"))
    val head = ks.agg(
      CmsFunctions.cmsAgg(col("k"), depth, width, seed).as("__cms"),
      count(lit(1)).as("n")).head()
    val cms = head.getAs[Array[Byte]](0)
    // floor the threshold at 1: with N < phiInv the raw N div phiInv
    // is 0, and a zero threshold would pass EVERY row through the CMS
    // filter — the exact pass then degenerates to the full |distinct
    // keys| GROUP BY the sketch exists to avoid. At t >= 1 the filter
    // only passes keys that occur at all; note that for N < phiInv the
    // φ-heavy-hitter DEFINITION itself makes every present key heavy
    // (count >= 1 > N·φ), so the all-keys result is correct — it is
    // the caller's job to pick phiInv <= N for the sketch to prune.
    val t = math.max(1L, head.getLong(1) / phiInv)
    ks.filter(
        CmsFunctions.cmsEstimate(lit(cms), col("k"), depth, width, seed)
          >= lit(t))
      .groupBy("k")
      .agg(count(lit(1)).as("exact_cnt"))
      .filter(col("exact_cnt") >= lit(t))
  }

  /** [[heavyHitters]] over SEVERAL keyed inputs at once, paying the
    * two passes ONCE for the whole set instead of once per side: pass
    * 1 is a single job whose union aggregates one (CMS, N) row per
    * side (the scheduler overlaps the per-side scan stages), pass 2 a
    * single job unioning the per-side candidate-verify branches. Same
    * results as mapping [[heavyHitters]] over the sides — the audit
    * is per-side by construction — but 2 driver actions instead of
    * 2×|sides|, and every scan in flight together (q60 measured the
    * sequential spelling paying ~2× job latency for the same work).
    * Each input is (sideLabel, keyedRows, keyColumn, phiInv). */
  def heavyHittersSides(sides: Seq[(String, DataFrame, Column, Long)],
                        depth: Int = 3, width: Int = 8192,
                        seed: Long = 42L): DataFrame = {
    require(sides.nonEmpty, "heavyHittersSides: no sides given")
    sides.foreach { case (lbl, _, _, phiInv) =>
      require(phiInv >= 2, s"phiInv must be >= 2, got $phiInv (side $lbl)") }
    import graft.functions.CmsFunctions
    val tagged = sides.map { case (lbl, df, key, _) =>
      df.select(lit(lbl).as("side"), key.cast("long").as("k")) }
      .reduce(_ unionByName _)
    val sketches = tagged.groupBy("side")
      .agg(CmsFunctions.cmsAgg(col("k"), depth, width, seed).as("__cms"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => r.getString(0) -> (r.getAs[Array[Byte]](1), r.getLong(2)))
      .toMap
    sides.map { case (lbl, df, key, phiInv) =>
      val (cms, n) = sketches(lbl)
      val t = math.max(1L, n / phiInv) // same floor rationale as above
      df.select(lit(lbl).as("side"), key.cast("long").as("k"))
        .filter(
          CmsFunctions.cmsEstimate(lit(cms), col("k"), depth, width, seed)
            >= lit(t))
        .groupBy("side", "k")
        .agg(count(lit(1)).as("exact_cnt"))
        .filter(col("exact_cnt") >= lit(t))
    }.reduce(_ unionByName _)
  }
}
