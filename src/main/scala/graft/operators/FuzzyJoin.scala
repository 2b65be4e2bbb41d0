package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Edit-distance fuzzy self-join (d19) — FastSS deletion
  * neighborhoods (Bocek et al. '07), the spelling-variant miner:
  * two strings are within edit distance 1 iff they share a member of
  * their deletion neighborhoods (the string itself plus every
  * single-character deletion) — substitutions meet at the deletion of
  * the differing position, insert/delete pairs meet at the shorter
  * string itself. So candidates come from an EQUI-join on variants —
  * |s|+1 variant rows per string, never the O(n²) cross join — and a
  * cheap levenshtein verify (codegen'd built-in on both engines)
  * removes the false candidates — pairs whose deletions at DIFFERENT
  * positions produce the same variant sit at edit distance 2 (e.g.
  * "aab"/"abb" meet at "ab") — keeping only true ≤1 pairs.
  *
  * Verify-then-distinct (SURVEY §4): levenshtein is row-local-cheap
  * and runs BELOW the pair-dedup exchange, so only survivors shuffle.
  * At 100 TB the variant fan-out is (avg length + 1)× the keys — the
  * price of never materializing a cross join; for longer strings cap
  * the neighborhood to a prefix or hash the variants (same join, 8-
  * byte keys). */
object FuzzyJoin {

  /** All (id_a < id_b) pairs of non-empty strings within edit
    * distance 1. Output: (id_a, id_b, dist).
    *
    * `maxBucket` is d19's quadratic guard (the d11 mega-bucket cap,
    * same anti-join mechanism): a variant shared by k strings emits
    * ~k² candidates, and on DENSE key populations hot variants grow
    * with the corpus — measured sf1→sf10 (10× suppliers): candidates
    * went superlinear and the query 5.2 s → 128 s on BOTH engines
    * (DuckDB 30 s → 162 s; the data, not the plan). A hot variant is
    * a low-information key — a run-of-zeros deletion matched by a
    * whole numeric block — so capping drops mostly distance-2 noise
    * candidates; true pairs still meet at their other, more selective
    * variants unless every shared variant is hot. The honest limit of
    * the knob: on DENSE serial-number-style keys (zero-padded id
    * blocks, where a pair's ONLY meeting variant is the digit-prefix
    * deletion the whole block shares) every true pair lives in a hot
    * bucket, and the cap trades exactly that block-internal recall
    * for bounded work — the right trade on a 100 TB key table, where
    * same-block serial neighbours are id-adjacency noise, not
    * spelling variants. Off by default in the API; the gated d19
    * entry runs it ON (cap 8) over a mixed dense+selective key table
    * so both the drop and the survive path are oracle-checked. */
  def editDistance1Pairs(df: DataFrame, id: Column, str: Column,
                         maxBucket: Option[Long] = None): DataFrame = {
    // EAGER: materialize the (near-pair-sized, corpus-independent)
    // result off the persisted variant stage, then drop the stage —
    // the lazy form leaked a corpus-sized cached variant table per
    // invocation for the session lifetime (each bench sample, each
    // gate run). Callers who want lazy control over the stage use
    // editDistance1PairsStaged + cleanup() themselves.
    val staged = editDistance1PairsStaged(df, id, str, maxBucket)
    val out = Staging.checkpoint(staged.result, eager = true)
    staged.cleanup()
    out
  }

  /** [[editDistance1Pairs]] with the persisted variant stage exposed
    * for caller-owned cleanup (Dedup.Staged convention). The variant
    * table is corpus-sized × (avg length + 1) and is read up to four
    * times — the hot-bucket aggregation, the anti-join probe, and both
    * sides of the candidate self-join — so recomputing it per
    * reference (explode + transform per row) multiplies the most
    * expensive row-local work in the operator; persisting it keeps
    * that to one evaluation. */
  def editDistance1PairsStaged(df: DataFrame, id: Column, str: Column,
                               maxBucket: Option[Long] = None): Dedup.Staged = {
    val base = df.select(id.cast("long").as("id"), str.as("s"))
      .filter(col("s").isNotNull && length(col("s")) > 0)
    // the string itself (0-deletion) + every 1-deletion variant;
    // sequence() would run DESCENDING for the empty string, hence the
    // non-empty guard above. array_distinct is load-bearing, not
    // cosmetic: deleting any char of an m-long run yields the SAME
    // variant, so a string with run length r emits r duplicate rows
    // and the candidate join multiplies r_a·r_b per true pair —
    // measured 36× pair inflation on zero-padded supplier names at
    // sf1. Row-local dedup keeps the fan-out at distinct variants.
    // the variant itself never leaves the row it was built in: every
    // downstream consumer (hot-bucket agg, anti-join, candidate
    // self-join) keys on its xxhash64 FINGERPRINT, so the exchanges
    // ship 8-byte longs where they shipped name-length strings (d16's
    // fingerprint discipline; round-13 verdict flagged the string
    // variants as the exchange fat). A 64-bit collision would only
    // make a false CANDIDATE — editWithin1 verifies the real strings
    // below the pair exchange, so correctness never depends on hash
    // injectivity (a collision straddling the cap boundary could at
    // worst drop a bucket early — the same recall trade the cap
    // itself makes, at ~2⁻⁶⁴ odds per variant pair).
    val vars = Staging.persist(base.select(col("id"), col("s"),
      explode(array_distinct(concat(array(col("s")),
        expr("transform(sequence(1, length(s)), " +
          "i -> concat(substr(s, 1, i-1), substr(s, i+1)))")))).as("v"))
      .select(col("id"), col("s"), xxhash64(col("v")).as("vh")),
      eager = false)
    val capped = maxBucket.fold(vars) { cap =>
      val hot = vars.groupBy("vh").agg(count(lit(1)).as("__n"))
        .filter(col("__n") > cap).select("vh")
      vars.join(hot, Seq("vh"), "left_anti")
    }
    // the bounded two-pointer check, not the DP levenshtein: the DP
    // on the candidate stream measured ~19 s of the sf1 wall (4.35M
    // pairs); edit_within_1 answers the same predicate in one pass
    val result = capped.as("a").join(capped.as("b"),
        col("a.vh") === col("b.vh") && col("a.id") < col("b.id"))
      .filter(graft.functions.EditDistanceFunctions
        .editWithin1(col("a.s"), col("b.s")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        when(col("a.s") === col("b.s"), 0).otherwise(1).as("dist"))
      .distinct()
    Dedup.Staged(result, Seq(vars))
  }
}
