package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Temperature-weighted source mixing — the pretraining data-mixing
  * step: re-balance a multi-source corpus toward p_s ∝ c_s^α with
  * α = 1/2, target total = half the corpus, upsampling rare sources by
  * integer repetition (rates above 1 emit floor copies of every doc
  * plus a hash-selected fraction with one more).
  *
  * Everything is exact integer arithmetic so the per-doc decision is
  * reproducible across engines, runs, and partitionings:
  * w_s = isqrt(c_s), rate_ppm_s = (N·10^6·w_s) div (Σw·c_s) with
  * N = total div 2, and a doc contributes `rate_ppm div 10^6` copies
  * plus one more iff `fingerprint(text) mod 10^6 < rate_ppm mod 10^6`.
  * isqrt via floor(sqrt(x)) is exact for counts far beyond any corpus
  * (IEEE sqrt is correctly rounded; integers < 2^52 are exact doubles).
  * Content-keyed selection means a doc duplicated across shards samples
  * identically wherever it lives — same invariance argument as t12's
  * split assignment. The rate numerator (N·10^6·w) passes through
  * DECIMAL(38,0): in BIGINT it would overflow near 10^9 total docs
  * with a dominant source (5·10^8 · 10^6 · ~3·10^4 ≈ 1.5·10^19 >
  * Long.Max), and a 100 TB corpus is ~10^11 docs. The final rate_ppm
  * itself is small (≤ 10^6 · w_max) and lands back in BIGINT.
  *
  * Plan shape: tiny per-source count aggregate → one-row totals
  * crossJoin → rates BROADCAST back onto the corpus → row-local
  * fingerprint decision. The corpus is scanned once and never
  * shuffled; at 100 TB the only shuffle is the map-side-combined
  * source-count aggregate whose output is |sources| rows.
  */
object Mixing {

  /** Appends (`c_docs`, `rate_ppm`, `copies`) to `docs`, keyed by
    * `sourceCol`; `copies` may be 0 (drop), 1, or >1 (upsample). */
  def mixtureCopies(docs: DataFrame, sourceCol: String, text: Column): DataFrame = {
    val cnt = docs.groupBy(sourceCol).agg(count(lit(1)).as("c_docs"))
      .withColumn("w", floor(sqrt(col("c_docs"))).cast("long"))
    val tot = cnt.agg(sum("w").as("sum_w"), sum("c_docs").as("c_total"))
    val rates = cnt.crossJoin(broadcast(tot))
      .withColumn("rate_ppm",
        expr("CAST((CAST(c_total div 2 AS DECIMAL(38,0)) * 1000000 * w) " +
          "div (CAST(sum_w AS DECIMAL(38,0)) * c_docs) AS BIGINT)"))
      .select(col(sourceCol), col("c_docs"), col("rate_ppm"))
    docs
      .join(broadcast(rates), sourceCol)
      .withColumn("u_ppm",
        pmod(TextAnalysis.fingerprint(text), lit(1000000L)))
      .withColumn("copies",
        expr("rate_ppm div 1000000 " +
          "+ CASE WHEN u_ppm < rate_ppm % 1000000 THEN 1 ELSE 0 END"))
      .drop("u_ppm")
  }

  /** Per-domain document caps — the C4/RefinedWeb curation shape: no
    * single registrable domain may contribute more than its
    * temperature-weighted share of the output budget. Budget
    * N = total div 2 splits across domains ∝ isqrt(c_d) (the same
    * α = 1/2 temperature as [[mixtureCopies]], flattening the
    * head-domain dominance a raw-proportional cap would keep), with a
    * floor of `minPerDomain` so tail domains survive. Within a domain
    * the kept docs are the cap smallest by (md5(text), id) — content-
    * keyed like q34's stratified sample, so selection is reproducible
    * across engines, runs, and partitionings.
    *
    * All cap arithmetic is exact integers (isqrt via floor∘sqrt is
    * exact below 2^52; the cap product (N div 2)·w stays ≤ ~10^17 for
    * a 10^11-doc corpus, far inside BIGINT — unlike the ppm rates
    * above, no decimal widening needed). Plan shape: tiny domain-count
    * aggregate → one-row total → caps BROADCAST back; the corpus pays
    * ONE exchange, the ranking window by domain. A pathological
    * mega-domain makes that window's sort partition-heavy; since
    * selection is hash-ordered, a scale deployment pre-prunes with an
    * md5-threshold filter (keep ≈ 2·cap_d/c_d of the domain by hash
    * prefix, then rank survivors) — probabilistic, so the exact form
    * stays the reference semantics here.
    */
  def domainCap(docs: DataFrame, domainCol: String, text: Column,
                idCol: String, minPerDomain: Long = 4L): DataFrame = {
    // The per-domain count aggregate feeds BOTH the caps join and the
    // totals row; unstaged, each consumer re-runs the corpus scan +
    // count shuffle (the round-14 plan audit showed two extra
    // documents scans). Staging is the d19/knnCentrality discipline:
    // |domains| rows, built once (measured at sf10: 1.31 s → 0.97 s
    // median for d15). EAGERLY materialized (round-17): `tot` and
    // `caps` are two concurrently-launched broadcast jobs racing on the
    // cold lazy cache — the same shape A/B'd at q63 (−37 % med), q55
    // (−13 %) and q53 (−15 %).
    val cnt = Staging.persist(
      docs.groupBy(domainCol).agg(count(lit(1)).as("c_docs"))
        .withColumn("w", floor(sqrt(col("c_docs"))).cast("long")),
      eager = true)
    val tot = cnt.agg(sum("w").as("sum_w"), sum("c_docs").as("c_total"))
    val caps = cnt.crossJoin(broadcast(tot))
      .withColumn("cap",
        greatest(lit(minPerDomain),
          expr("((c_total div 2) * w) div sum_w")))
      .select(col(domainCol), col("cap"))
    val byDomain = org.apache.spark.sql.expressions.Window
      .partitionBy(domainCol).orderBy(md5(text), col(idCol))
    docs
      .withColumn("rk", row_number().over(byDomain))
      .join(broadcast(caps), domainCol)
      .filter(col("rk") <= col("cap"))
  }

  /** Probability-proportional-to-size SYSTEMATIC sampling (q71): a
    * k-point sample where each item's inclusion count is proportional
    * to its weight — the classic survey-sampling scheme (randomize
    * order, then walk a fixed-stride grid over the cumulative weight
    * axis), and the shape a token-budgeted curation pass wants:
    * "sample k shards proportional to token count" keeps long
    * documents' representation without the variance of independent
    * Bernoulli draws (systematic guarantees EXACTLY k grid hits, and
    * an item heavier than the stride is hit multiple times —
    * multiplicity is reported, it IS the sample's honest shape).
    *
    * Everything is EXACT long arithmetic — the grid points sit at
    * (2j+1)·T/(2k) and membership is decided by cross-multiplied
    * integer comparisons, never a float — so any engine replays the
    * selection bit-for-bit (the transcendental-free alternative to
    * A-ES weighted reservoirs, whose -ln(u)/w keys are only as
    * portable as each engine's libm). Order is (md5(id), id) — the
    * content-independent deterministic shuffle every sampler here
    * uses.
    *
    * Scale shape: the cumulative axis is [[Packing.globalRunningSum]]
    * — the two-phase distributed prefix sum (per-bucket windows +
    * broadcast bucket offsets), NO single-reducer global window — and
    * the grid test is then row-local arithmetic. One window-class
    * shuffle over the corpus, total. */
  def ppsSystematicSample(df: DataFrame, id: Column, weight: Column,
                          k: Int): DataFrame = {
    require(k > 0, s"ppsSystematicSample: k must be positive, got $k")
    // a non-castable id must fail loudly under ANY ansi setting: with
    // ansi off a plain cast silently NULLs and drops the row from the
    // sample frame; try_cast + explicit raise is loud either way
    val base = df.select(id.as("__pps_raw"), weight.cast("long").as("w"))
      .select(
        when(col("__pps_raw").isNotNull &&
            expr("try_cast(__pps_raw AS BIGINT)").isNull,
          raise_error(concat(lit("ppsSystematicSample: id not castable " +
            "to BIGINT: "), col("__pps_raw").cast("string"))).cast("long"))
          .otherwise(expr("try_cast(__pps_raw AS BIGINT)")).as("id"),
        col("w"))
      .filter(col("w") > 0)
      .withColumn("__ord", md5(col("id").cast("string").cast("binary")))
    // the grand total rides globalRunningSum's bucket-offset pass
    // (totCol) — deriving it with a separate base.agg() was a third
    // full-corpus scan of the same input for one scalar
    val cum = Packing.globalRunningSum(base,
      bucket = substring(col("__ord"), 1, 1),
      ordCols = Seq(col("__ord"), col("id")),
      weight = col("w"), outCol = "__cw", totCol = Some("__t"))
    // g(W) = #grid points strictly below W, in positive-operand long
    // arithmetic (ceil(a/b) = (a + b - 1) div b needs a > 0 — the
    // CASE guard supplies it)
    def g(w: String): String =
      s"CASE WHEN ${2L * k} * ($w) <= __t THEN CAST(0 AS BIGINT) " +
        s"ELSE least(CAST($k AS BIGINT), " +
        s"(${2L * k} * ($w) - __t + 2 * __t - 1) div (2 * __t)) END"
    // the grid numerator is 2k·w + __t - 1, worst case (2k+1)·__t - 1
    // when one row holds the whole weight: a total above
    // Long.MaxValue/(2k+1) would silently wrap and corrupt the
    // selection — fail loudly (one constant comparison per row; at
    // that magnitude the caller must rescale weights, e.g. tokens ->
    // kilotokens)
    val maxT = Long.MaxValue / (2L * k + 1L)
    cum
      .withColumn("mult",
        when(col("__t") > maxT, raise_error(concat(
          lit(s"ppsSystematicSample: total weight "), col("__t"),
          lit(s" overflows the 2k*W grid arithmetic at k=$k — " +
            "rescale weights"))).cast("int"))
        .otherwise((expr(g("__cw")) - expr(g("__cw - w"))).cast("int")))
      .filter(col("mult") > 0)
      .select(col("id"), col("w"), col("mult"))
  }
}
