package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale rule: never compare rows pairwise across the whole corpus.
  * Exact dedup buckets by content hash (one shuffle, map-side partial
  * agg). Near-dup ops bucket by MinHash/SimHash keys first, then verify
  * only within buckets — candidate generation is a hash-join, not a
  * cross product.
  */
object Dedup {

  /** A lazily-built result plus the [[Staging]] stages it reads. The
    * stages live until the enclosing [[Staging.scope]] ends (graft's
    * sinks and REPL statements open one), so the result can be
    * materialized first; [[cleanup]] frees them sooner. A
    * checkpoint-backed stage (connected components' labels) cannot be
    * recomputed once freed, so act on `result` before calling cleanup().
    * The overloads returning a bare DataFrame leave the stages to the
    * scope. */
  final case class Staged(result: DataFrame, stages: Seq[DataFrame]) {
    def cleanup(): Unit = stages.foreach(Staging.free)
  }

  /** Exact dedup: keep one representative row per distinct key (min of
    * `tieBreak` wins, so results are deterministic). Single hash shuffle
    * on the content hash; the per-key `row_number` sort is bounded by
    * the WindowGroupLimit pushdown (rank-limit filter), not a full sort
    * of the data. */
  def exact(df: DataFrame, key: Column, tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(tieBreak)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Distinct n-token shingles of a document (order-sensitive). Plain
    * token SETS are degenerate on natural corpora — most documents
    * share the high-frequency vocabulary, so set-Jaccard saturates and
    * every LSH bucket holds the whole corpus (quadratic candidates).
    * Shingles keep word ORDER, so only genuinely similar passages
    * collide. Row-local, codegen built-ins only. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = split(trim(lower(text)), "\\s+")
    // Chain zip_with over shifted slices of the token array. Indexing
    // the array inside the lambda (element_at(toks, i)) would re-run
    // the tokenizer per ELEMENT: higher-order lambdas are interpreted
    // (CodegenFallback), so nothing hoists the split — that's O(len²)
    // regex work per row. zip_with pads the shorter side with null and
    // concat propagates it, so truncated tail windows drop out in the
    // filter.
    val joined = (2 to n).foldLeft(toks)((acc, k) =>
      zip_with(acc, slice(toks, lit(k), greatest(size(toks) - (k - 1), lit(0))),
        (a, b) => concat(a, lit(" "), b)))
    array_distinct(filter(joined, x => x.isNotNull))
  }

  /** Exploded (id, shingle) rows — the inverted index both Jaccard and
    * MinHash build on. */
  private def tokenSet(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("id"), explode(shingles(text)).as("tok"))
      .filter(col("tok") =!= "")

  /** Exact n-gram (token-set) Jaccard pair mining via inverted index:
    * explode tokens → self-join on token → |A∩B| per pair → join set
    * sizes → J = inter/(|A|+|B|-inter) ≥ minJaccard. Distributed: the
    * join key is the token, so only docs SHARING a token ever meet.
    * Output: (id_a, id_b, inter, size_a, size_b, jaccard), id_a < id_b. */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column,
                        minJaccard: Double,
                        maxDocFreq: Option[Long] = None): DataFrame =
    ngramJaccardPairsStaged(df, id, text, minJaccard, maxDocFreq).result

  /** [[ngramJaccardPairs]] with the persisted token stage exposed for
    * caller-owned cache cleanup. */
  def ngramJaccardPairsStaged(df: DataFrame, id: Column, text: Column,
                              minJaccard: Double,
                              maxDocFreq: Option[Long] = None): Staged = {
    val Staged(sized, stages) = coShinglePairsStaged(df, id, text, maxDocFreq)
    val result = sized
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")
    Staged(result, stages)
  }

  /** Asymmetric shingle containment (overlap coefficient):
    * C = |A∩B| / min(|A|,|B|) ≥ `minContainment`. Catches a short
    * document quoted or embedded inside a much longer one — symmetric
    * Jaccard stays low there because the union is dominated by the long
    * side, so d02-style mining misses exactly the subset/quote pairs a
    * training-data pipeline wants flagged. Same inverted-index join as
    * [[ngramJaccardPairs]] (only docs sharing a shingle ever meet);
    * `maxDocFreq` is the same mandatory-at-scale fan-out cap.
    * Output: (id_a, id_b, inter, size_a, size_b, containment), id_a < id_b. */
  def containmentPairs(df: DataFrame, id: Column, text: Column,
                       minContainment: Double,
                       maxDocFreq: Option[Long] = None): DataFrame = {
    val Staged(sized, _) = coShinglePairsStaged(df, id, text, maxDocFreq)
    sized
      .withColumn("containment",
        col("inter").cast("double") / least(col("size_a"), col("size_b")))
      .filter(col("containment") >= minContainment)
      .select("id_a", "id_b", "inter", "size_a", "size_b", "containment")
  }

  /** Shared co-shingle pair stage: explode tokens → self-join on token →
    * |A∩B| per pair → join both set sizes. The similarity measure
    * (Jaccard, containment) is a cheap row-local column on top, so each
    * miner filters AFTER this stage without re-running the join. */
  private def coShinglePairsStaged(df: DataFrame, id: Column, text: Column,
                                   maxDocFreq: Option[Long]): Staged = {
    val raw = tokenSet(df, id, text)
    // Optional document-frequency cap: a shingle shared by k docs emits
    // k² candidate pairs, so boilerplate shared by a large fraction of
    // a 100 TB corpus makes exact mining quadratic. Dropping those
    // shingles bounds per-key join fan-out (slightly lowering measured
    // J for the affected pairs). Default off: exact semantics.
    val capped = maxDocFreq.fold(raw) { cap =>
      val w = Window.partitionBy("tok")
      raw.withColumn("__df", count(lit(1)).over(w))
        .filter(col("__df") <= cap).drop("__df")
    }
    val toks = Staging.persist(capped, eager = false)
    val sizes = toks.groupBy("id").agg(count(lit(1)).as("sz"))
    val pairs = toks.as("a").join(toks.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    val sized = pairs
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "size_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "size_b"), "id_b")
    Staged(sized, Seq(toks))
  }

  /** Deterministic per-permutation MinHash: h_i(tok) = min over tokens of
    * ((a_i * shingleHash(tok) + b_i) mod p) with p = 2^31-1, so the
    * product stays < 2^62 (ANSI mode forbids silent long wrap-around).
    * (a_i, b_i) come from a seeded LCG so signatures are reproducible
    * across runs/executors. */
  private val P31 = 2147483647L // 2^31 - 1 (Mersenne prime)

  /** Sorted-distinct shingle fingerprints, fused end-to-end (no shingle
    * strings materialized — see [[graft.functions.HashedShingles]]).
    * The per-shingle hash is the rolling code-point fingerprint
    * (optionally mod p), chosen over xxhash64 because DuckDB can
    * reproduce it (string_split('') + unicode + list_reduce), which
    * makes the WHOLE MinHash/SimHash pipeline oracle-checkable —
    * signatures, banding and verification included. */
  private def hashedShingles(text: Column, modP: Boolean = true): Column =
    graft.functions.ShingleFunctions.hashedShingles(
      split(trim(lower(text)), "\\s+"), n = 3, modP = modP)

  /** The canonical text → distinct-shingle-hash recipe (lowercase,
    * whitespace tokens, 3-token shingles, rolling fingerprint mod
    * 2^31-1) — PUBLIC so stream probes (st06) and external sketch
    * builders hash exactly like the batch operators. A re-spelled copy
    * of this recipe that drifts (different n, normalization, modulus)
    * makes probe hashes diverge from the sketch's and decontamination
    * silently stops flagging — the false-negative mode the Bloom ops
    * exist to prevent. */
  def shingleHashes(text: Column): Column = hashedShingles(text)

  /** Full MinHash signature as one array column (codegen'd native
    * expression — see [[graft.functions.MinHashSignature]]). */
  def minhashSignature(text: Column, numPerms: Int = 64, seed: Long = 42L): Column =
    graft.functions.MinHashFunctions.minhashSig(
      hashedShingles(text), numPerms, seed)

  /** MinHash + LSH banding near-dup candidates, verified with exact
    * Jaccard. bands*rowsPerBand permutations; two docs collide if any
    * band of their signatures is identical — P(collide) ≈ 1-(1-J^r)^b.
    * Candidate generation = explode bands → hash-join on (band, key):
    * only docs agreeing on a band meet. Output like ngramJaccardPairs
    * filtered to verified >= minJaccard. */
  def minhashLshPairs(df: DataFrame, id: Column, text: Column,
                      bands: Int = 16, rowsPerBand: Int = 4,
                      minJaccard: Double = 0.7, seed: Long = 42L,
                      maxBucketSize: Option[Long] = None): DataFrame =
    minhashLshPairsStaged(df, id, text, bands, rowsPerBand, minJaccard,
      seed, maxBucketSize).result

  /** [[minhashLshPairs]] with the persisted signature stage exposed for
    * caller-owned cache cleanup.
    *
    * EAGER-EXECUTION NOTE (round 17): with the default
    * `eagerSigs = true` the signature stage is materialized by a
    * count() action AT BUILD TIME ([[Staging.persist]] eager), so this
    * is no longer a plan-only builder — calling it runs the signature
    * pass immediately. The stage lives until the enclosing
    * [[Staging.scope]] ends (or [[Staged.cleanup]]); plan-only callers
    * (explain/compose-later) should expect the build job.
    *
    * `maxBucketSize`: an LSH bucket holding k docs emits k² candidate
    * pairs, so one boilerplate bucket (empty docs, licence headers)
    * can go quadratic on a 100 TB corpus. The cap drops buckets larger
    * than k — docs in them still pair through their other (more
    * selective) bands, so recall degrades only for near-dup GROUPS
    * bigger than k, which a dedup pipeline handles via d06 clustering
    * anyway. Off by default; at real scale it must be on. */
  def minhashLshPairsStaged(df: DataFrame, id: Column, text: Column,
                      bands: Int = 16, rowsPerBand: Int = 4,
                      minJaccard: Double = 0.7, seed: Long = 42L,
                      maxBucketSize: Option[Long] = None,
                      eagerSigs: Boolean = true): Staged = {
    // Stage 1: hash each shingle ONCE per document into a long array.
    // Computing string shingles inside all 64 permutation expressions
    // would re-evaluate the tokenizer 64×/row once the giant tree falls
    // out of whole-stage codegen; after this projection each permutation
    // is pure long arithmetic. Staging cuts the tree so the self-join
    // reads the signatures instead of recomputing them per side (the
    // 100 TB equivalent is staging signatures to a parquet table).
    val hExpr = hashedShingles(text)
    // One EAGERLY materialized stage holds (h, sig); the band keys and
    // the join read it from storage instead of re-deriving signatures
    // (the 100 TB equivalent is staging signatures to a parquet
    // table). Eager ([[Staging.persist]]), not a lazy persist: the band
    // self-join's two map stages and the two verify-side joins all hit
    // a COLD cache under the first action (the kmvSetOps race) —
    // measured on d03 at sf0.1 (interleaved same-JVM A/B, identical
    // rows): lazy 1.60 med / 1.38 min s vs eager 1.30 / 1.26. The one
    // build job IS the pipeline's signature pass; downstream stages
    // read warm blocks, and the enclosing scope frees them once the
    // action that consumes the returned plan is done.
    //
    // `eagerSigs = false` (round 18): when the caller's FIRST consumer
    // is itself a blocking materialization — dedupCorpus's CC edge
    // checkpoint runs the whole band join + verify as one job — the
    // eager count is a WHOLE EXTRA blocking pass over the corpus,
    // and the cold race it prevents is cheaper than the job it adds
    // (interleaved same-JVM A/B on d07 at sf0.1, identical rows:
    // eager 2.46 med / 2.13 min s vs lazy 2.00 / 1.72 — −19 %). The
    // direct-result path (d03: band join + two concurrently-launched
    // verify broadcasts under ONE final action) keeps the round-17
    // eager default (lazy measured +23 % there).
    val sigs0 = df
      .select(id.as("id"), hExpr.as("h"))
      .filter(size(col("h")) > 0)
      .select(col("id"), col("h"),
        graft.functions.MinHashFunctions
          .minhashSig(col("h"), bands * rowsPerBand, seed).as("sig"))
    val sigs = Staging.persist(sigs0, eager = eagerSigs)
    val bandCols = (0 until bands).map { b =>
      val bandSig = concat_ws("_",
        (0 until rowsPerBand).map(r =>
          element_at(col("sig"), b * rowsPerBand + r + 1).cast("string")): _*)
      struct(lit(b).as("band"), xxhash64(bandSig).as("bkey"))
    }
    // Candidate generation shuffles IDS ONLY: the band explode, the
    // self-join and the pair-dedup all carry (id, band, bkey) — never
    // the shingle-hash arrays (hundreds of longs/doc; dragging them
    // through the explode ×bands and the dedup shuffle dominated the
    // whole pipeline's shuffle volume). The arrays are fetched exactly
    // once per surviving pair by joining back to the persisted sigs
    // stage (at 100 TB: a parquet stage table keyed by id).
    val buckets0 = sigs
      .select(col("id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bkey"))
    // mega-bucket cap: count per bucket (map-side partial agg), then
    // anti-join the oversized ones away. No broadcast hint: the hot
    // list is usually tiny (AQE broadcasts it), but on a pathological
    // corpus it can be nDocs·bands/cap rows — let the planner decide
    // rather than force a driver collect.
    val buckets = maxBucketSize.fold(buckets0) { cap =>
      val hot = buckets0.groupBy("band", "bkey")
        .agg(count(lit(1)).as("__n")).filter(col("__n") > cap)
        .select("band", "bkey")
      buckets0.join(hot, Seq("band", "bkey"), "left_anti")
    }
    val candIds = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val hTab = sigs.select(col("id"), col("h"))
    // verify candidates exactly on the hashed shingle sets (row-local;
    // candidates are few by construction)
    val result = candIds
      .join(hTab.toDF("id_a", "ha"), "id_a")
      .join(hTab.toDF("id_b", "hb"), "id_b")
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("ha")) + size(col("hb")) - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "inter", "jaccard")
    Staged(result, Seq(sigs))
  }

  /** Connected components over a near-dup pair list — the clustering
    * step of a dedup pipeline (pairs alone don't say which docs form
    * one duplicate group; transitive closure does). Iterative
    * min-label propagation: each round every node takes the smallest
    * label among itself and its neighbours (one join + one min-agg
    * shuffle per round), until a fixpoint. Rounds needed = component
    * diameter; near-dup clusters are clique-ish (diameter 2-3). For
    * high-diameter or billion-edge graphs use
    * [[connectedComponentsTwoPhase]] — O(log n) rounds via
    * large-star/small-star contraction, proven equivalent in DedupSpec.
    *
    * Output: (id, cluster_id) for every id in `pairs`, cluster_id =
    * min id reachable — deterministic. */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b",
                          maxIters: Int = 20): DataFrame =
    connectedComponentsStaged(pairs, idA, idB, maxIters).result

  /** [[connectedComponents]] with the final-labels frame exposed for
    * caller-owned cleanup (it is checkpoint-backed — see below — so
    * materialize the result before calling `cleanup()`).
    *
    * `stepsPerJob` propagation steps per blocking job (round 18;
    * default 2): near-dup components are clique-ish (min-label
    * fixpoint f = 2–3 steps including the confirming pass), so
    * one-step-per-job paid a full job/stage floor per step. All of a
    * round's steps live in ONE plan: each step's id-keyed aggregated
    * exchange is read by the next step's self branch AND its
    * neighbour join, which ReuseExchange dedups (two operations keyed
    * the same way share one exchange — guide §2.4), and the single
    * count action materializes the fused round while yielding the
    * LAST step's change count. Min-label propagation is idempotent
    * past the fixpoint, so the at-most s−1 wasted steps a fused job
    * can run are harmless and result-invisible; converged iff the
    * round's last step changed nothing (then one further step from
    * the checkpointed frame would change nothing either). No separate
    * convergence join. Only the round's last step carries its input
    * label (in `o`; neighbour rows carry null, which `min` ignores) —
    * earlier steps aggregate the bare (id, lbl), and the round-17
    * spelling's second old-label column (dead: written to every
    * round's checkpoint, never read) is gone.
    *
    * Picking `stepsPerJob` is an f-parity trade: a round of s steps
    * converges in ceil(f/s) blocking jobs and runs s·ceil(f/s) − f
    * propagation passes past the fixpoint (each a node-sized shuffle —
    * cheap locally, a real pass at 100 TB). f=2 graphs (cliques whose
    * min-id doc pairs with every member) want s=2: s=3 adds a wasted
    * pass for the same one job. f=3 graphs want s=3: one job and zero
    * wasted passes vs two jobs and one wasted pass at s=2. BUT f is a
    * property of the data, not the query — the d10 graph measures f=3
    * at sf0.1 and f=2 at sf1 (`Probe cc`), so every gated caller
    * keeps the default 2 (never wastes on the common clique case;
    * odd-f costs one extra round-trip + checkpoint). Pass a larger s
    * only for a corpus whose f you have measured.
    *
    * Rounds are `localCheckpoint`ed, not `persist`ed: a persisted round
    * stacks its whole lineage under the next round's plan, so analysis
    * cost grows per round and every round generates STRUCTURALLY NEW
    * code (janino recompiles, ~1s/round of driver stall at any scale).
    * Checkpointing makes every round's plan a flat scan over the
    * previous round's blocks — constant analysis cost, and the
    * generated code is the same from round 2 on. It hits the codegen
    * cache in sessions built by [[graft.GraftSession.tune]], which
    * names classes without the AQE stage id and holds 1000 entries.
    * Under Spark's defaults it did not: each round's new stage id gave
    * the same code a new class name, and the 100-entry cache (one entry
    * per class loader, driver and executor) evicted the rest, so every
    * round and every run compiled again (CodegenCacheSpec pins this).
    * Each round's blocks are freed as soon as the next round is
    * materialized. At billion-edge scale, swap the localCheckpoint for
    * a per-round stage table (same loop shape, executor-loss-safe).
    *
    * Duplicate input pairs are tolerated (min-agg is idempotent); they
    * only widen the per-round join fan-out, so pre-`distinct` a pair
    * list with heavy duplication. LSH/SimHash pair miners already emit
    * unique pairs. */
  def connectedComponentsStaged(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b",
                          maxIters: Int = 20,
                          stepsPerJob: Int = 2): Staged = {
    require(stepsPerJob >= 1,
      s"stepsPerJob must be >= 1, got $stepsPerJob")
    // eager: materialized once, read every round as a flat LogicalRDD.
    // Both edge directions come from ONE explode, not a self-union —
    // the union's second branch re-ran the whole pair-mining subtree
    // (band self-join + exact verify under d07/d10, the hamming join
    // under m06) inside the checkpoint job; explode(array) emits the
    // same two rows per pair in a single pass over `pairs`.
    val edges = Staging.checkpoint(pairs
      .select(explode(array(
        struct(col(idA).as("src"), col(idB).as("dst")),
        struct(col(idB).as("src"), col(idA).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")),
      eager = true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
    val lblType = labels.schema("lbl").dataType
    var prevRound: DataFrame = null
    var inFlight: DataFrame = null // partially materialized on failure
    var converged = false
    var i = 0
    try {
      while (!converged && i < maxIters) {
        // steps 1..s−1: plain min over self ∪ neighbours — no
        // old-label bookkeeping; each step's aggregate is keyed by id,
        // so the next step's self branch and neighbour join reuse its
        // exchange
        var cur = labels.select(col("id"), col("lbl"))
        for (_ <- 1 until stepsPerJob)
          cur = cur
            .unionAll(edges.join(cur, edges("dst") === cur("id"))
              .select(edges("src").as("id"), col("lbl")))
            .groupBy("id").agg(min("lbl").as("lbl"))
        // the round's LAST step carries its input label in `o`
        val next = Staging.checkpoint(cur
          .select(col("id"), col("lbl"), col("lbl").as("o"))
          .unionAll(edges.join(cur, edges("dst") === cur("id"))
            .select(edges("src").as("id"), col("lbl"),
              lit(null).cast(lblType).as("o")))
          .groupBy("id").agg(min("lbl").as("lbl"), min("o").as("o")),
          eager = false) // materialized by the count job below
        inFlight = next
        // the ONE action of the fused round: materializes `next` and
        // returns how many labels the last step still shrank (earlier
        // steps' counts are implied: by monotonicity a later-step
        // change ⇒ an earlier-step change, and an earlier-step
        // fixpoint makes every later step the identity)
        val changed = next
          .agg(count(when(col("lbl") < col("o"), lit(1))).as("c"))
          .first().getLong(0)
        inFlight = null
        converged = changed == 0L
        if (prevRound != null) Staging.free(prevRound)
        prevRound = next
        labels = next
        i += stepsPerJob
      }
      if (!converged)
        throw new CcRoundBudgetExceeded(
          s"connectedComponents did not converge in $maxIters iterations — " +
            "a component's diameter exceeds maxIters; raise it (labels would " +
            "silently split one component into several)")
    } catch {
      case e: Throwable =>
        // don't leak blocks on failure — including the failed round's
        // partially checkpointed partitions
        Seq(inFlight, prevRound, edges).filter(_ != null).foreach(Staging.free)
        throw e
    }
    Staging.free(edges)
    Staged(labels.select(col("id"), col("lbl").as("cluster_id")), Seq(labels))
  }

  /** Thrown by [[connectedComponentsStaged]] when min-label propagation
    * exhausts its round budget (component diameter > maxIters). A
    * TYPED subclass so [[connectedComponentsAuto]] can catch exactly
    * this condition and re-route, without swallowing genuine failures
    * (executor loss, OOM) that also surface as exceptions. */
  final class CcRoundBudgetExceeded(msg: String)
    extends IllegalStateException(msg)

  /** [[connectedComponentsStaged]] with automatic strategy fallback:
    * min-label propagation first (near-dup clusters are clique-ish —
    * diameter 2-3, so ~3 one-job rounds win), and if the round budget
    * is exhausted (chain-shaped duplicate families: serial edits,
    * sliding-window shards — diameter grows with corpus size), rerun
    * with [[connectedComponentsTwoPhase]], whose round count is
    * O(log n) regardless of diameter. The failed propagation frees all
    * its blocks on the way out (its catch path), so the fallback
    * recomputes only `pairs`' lineage — cheap when pairs ride
    * persisted signature stages, as in [[dedupCorpus]] /
    * [[incrementalDedup]] (both route through this). The propagation
    * budget is deliberately left at the cheap default rather than
    * raised: 20 wasted one-job rounds cost less than mis-sizing
    * either strategy by hand. */
  def connectedComponentsAuto(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxLabelRounds: Int = 20,
      maxStarRounds: Int = 30, stepsPerJob: Int = 2): Staged =
    try connectedComponentsStaged(pairs, idA, idB, maxLabelRounds,
      stepsPerJob)
    catch { case _: CcRoundBudgetExceeded =>
      connectedComponentsTwoPhase(pairs, idA, idB, maxStarRounds)
    }

  /** Alternating large-star / small-star connected components — the
    * O(log n)-ROUND alternative to [[connectedComponentsStaged]]'s
    * min-label propagation, whose round count equals the component
    * DIAMETER (fine for clique-ish near-dup clusters, ruinous for long
    * chains: a 10⁶-node path would need 10⁶ rounds; this needs ~20).
    * Each phase is one shuffle on the node id; edges contract
    * monotonically toward stars rooted at component minima — the
    * standard two-phase formulation for billion-edge graphs (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", 2014).
    *
    * large-star: every node attaches its LARGER neighbours to the
    * minimum of its neighbourhood (incl. itself); small-star (on the
    * max→min orientation) attaches the smaller ones. Fixpoint = both
    * phases change nothing; detected by an order-insensitive edge-set
    * signature (count + sum of 64-bit edge hashes — a missed change
    * needs a 2⁻⁶⁴ hash-sum collision). Rounds are localCheckpoint'ed
    * like the label loop, two light actions per round (materialize +
    * signature) on sets that only ever SHRINK toward one edge per
    * non-root node.
    *
    * Self-pairs are dropped (a near-dup miner never emits them); ids
    * appearing only in self-pairs are absent from the output. Output:
    * (id, cluster_id = min reachable id) — same contract as
    * [[connectedComponents]], proven equivalent in DedupSpec. */
  def connectedComponentsTwoPhase(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIters: Int = 30): Staged = {
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val w = Window.partitionBy("u")
      sym.withColumn("m", least(min(col("v")).over(w), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val sym = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val w = Window.partitionBy("u")
      val withM = sym.withColumn("m", least(min(col("v")).over(w), col("u")))
      withM.select(col("v").as("u"), col("m").as("v"))
        .unionAll(withM.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def signature(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    var edges = Staging.checkpoint(
      pairs.select(col(idA).as("u"), col(idB).as("v"))
        .filter(col("u") =!= col("v")).distinct(), eager = true)
    var sig = signature(edges)
    var inFlight: DataFrame = null // partially materialized on failure
    var converged = false
    var i = 0
    try {
      while (!converged && i < maxIters) {
        val next =
          Staging.checkpoint(smallStar(largeStar(edges)), eager = false)
        inFlight = next
        val nsig = signature(next) // materializes the lazy checkpoint
        inFlight = null
        converged = nsig == sig
        Staging.free(edges)
        edges = next
        sig = nsig
        i += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponentsTwoPhase did not converge in $maxIters " +
            "iterations — pathological input; raise maxIters")
    } catch {
      case e: Throwable =>
        Seq(inFlight, edges).filter(_ != null).foreach(Staging.free)
        throw e
    }
    // fixpoint edges are stars: every node points straight at its
    // component's min. groupBy-min is belt and braces for ties.
    val labels = edges.select(col("u").as("id"), col("v").as("cluster_id"))
      .unionAll(edges.select(col("v").as("id"), col("v").as("cluster_id")))
      .groupBy("id").agg(min("cluster_id").as("cluster_id"))
    Staged(labels, Seq(edges))
  }

  /** End-to-end corpus deduplication — the one-call pipeline a
    * training-data user runs: (1) exact dedup on the content hash
    * (min-id representative), (2) MinHash-LSH near-dup pair mining on
    * the survivors, (3) connected-components clustering of the pairs,
    * (4) keep only each cluster's min-id representative. Returns the
    * deduplicated corpus with the original schema. Every stage is
    * hash-bucketed — nothing is ever compared all-pairs. */
  def dedupCorpus(df: DataFrame, id: Column, text: Column,
                  minJaccard: Double = 0.7,
                  bands: Int = 16, rowsPerBand: Int = 4,
                  seed: Long = 42L,
                  maxBucketSize: Option[Long] = None,
                  twoPhaseCc: Boolean = false): DataFrame =
    dedupCorpusStaged(df, id, text, minJaccard, bands, rowsPerBand,
      seed, maxBucketSize, twoPhaseCc).result

  /** [[dedupCorpus]] with the persisted stages (survivors + LSH
    * signatures + CC labels) exposed for caller-owned cache cleanup,
    * like the other staged miners.
    *
    * `twoPhaseCc` FORCES the clustering step onto
    * [[connectedComponentsTwoPhase]] — same clusters (spec-proven),
    * O(log n) rounds instead of diameter-many — for callers that know
    * their duplicate families are chain-shaped (serial edits). The
    * default routes through [[connectedComponentsAuto]]: clique-ish
    * clusters converge in ~3 cheap propagation rounds, and a
    * high-diameter corpus falls back to star contraction instead of
    * throwing. */
  def dedupCorpusStaged(df: DataFrame, id: Column, text: Column,
                  minJaccard: Double = 0.7,
                  bands: Int = 16, rowsPerBand: Int = 4,
                  seed: Long = 42L,
                  maxBucketSize: Option[Long] = None,
                  twoPhaseCc: Boolean = false): Staged = {
    // staged: read by the signature stage AND the final anti-join
    // (at 100 TB: a parquet stage table)
    val survivors = Staging.persist(exact(df, md5(text), id), eager = false)
    // eagerSigs = false: the first consumer is the CC edge checkpoint,
    // a blocking job of its own — see the A/B note in
    // [[minhashLshPairsStaged]] (d07 −19 % med)
    val staged = minhashLshPairsStaged(survivors, id, text,
      bands, rowsPerBand, minJaccard, seed, maxBucketSize,
      eagerSigs = false)
    val cc = if (twoPhaseCc) connectedComponentsTwoPhase(staged.result)
             else connectedComponentsAuto(staged.result)
    val dupes = cc.result
      .filter(col("id") =!= col("cluster_id")) // non-representatives
      .select(col("id").as("__dup_id"))
    Staged(survivors.join(dupes, id === col("__dup_id"), "left_anti"),
      (survivors +: staged.stages) ++ cc.stages)
  }

  /** Incremental (batch-vs-corpus) deduplication — the shape a
    * PRODUCTION ingest actually runs: the corpus is already deduped
    * and sits untouched; every day a new batch arrives and must be
    * reduced to the docs that add information. A batch doc survives
    * iff it is not an exact copy of corpus content, not near-dup
    * reachable from any corpus doc, and not a non-representative
    * member of a batch-internal near-dup cluster.
    *
    * The incremental win over re-running [[dedupCorpus]] on the union:
    * candidate generation only probes BATCH band buckets — the
    * bucket-join's right side is the batch, so corpus×corpus pairs
    * (the quadratically dominant part, and pointless: the corpus is
    * deduped) are never formed. At 100 TB the corpus's signature stage
    * is a parquet table maintained across ingests; each batch computes
    * only its own signatures and joins against it.
    *
    * Corpus precedence is encoded in the CC key space: corpus ids keep
    * their value, batch ids get 2^62 added — ids must be non-null and
    * in [0, 2^62), VALIDATED in-plan (the first action fails loudly on
    * a violating id rather than silently flipping precedence) — so a
    * cluster's min-key representative is always a corpus doc when one
    * is present. Returns the surviving batch rows (original batch
    * schema). */
  def incrementalDedup(corpus: DataFrame, corpusId: Column,
      corpusText: Column, batch: DataFrame, batchId: Column,
      batchText: Column, minJaccard: Double = 0.7, bands: Int = 16,
      rowsPerBand: Int = 4, seed: Long = 42L,
      maxBucketSize: Option[Long] = None): DataFrame =
    incrementalDedupStaged(corpus, corpusId, corpusText, batch, batchId,
      batchText, minJaccard, bands, rowsPerBand, seed, maxBucketSize).result

  /** [[incrementalDedup]] with persisted stages exposed for
    * caller-owned cleanup.
    *
    * EXECUTION NOTE: the clustering loop inside this builder runs AT
    * CALL TIME (the CC edge checkpoint + fused label rounds are
    * blocking jobs), so the in-plan id validation (non-null,
    * [0, 2^62)) throws from THIS call — during the edge-checkpoint
    * job that first evaluates the keyed union — not from the first
    * action on `.result`. The signature stage itself is a LAZY
    * [[Staging.persist]] (round 18; see [[minhashLshPairsStaged]]'s
    * eagerSigs note), materialized by that same checkpoint job. */
  def incrementalDedupStaged(corpus: DataFrame, corpusId: Column,
      corpusText: Column, batch: DataFrame, batchId: Column,
      batchText: Column, minJaccard: Double = 0.7, bands: Int = 16,
      rowsPerBand: Int = 4, seed: Long = 42L,
      maxBucketSize: Option[Long] = None): Staged = {
    val FLAG = 1L << 62
    // corpus precedence rides on ids staying below the batch FLAG —
    // an id outside [0, 2^62) (or NULL) would silently flip precedence
    // or collide key spaces, so validate IN the plan, loudly, like the
    // Bloom/CMS probe-side validation
    def checkedId(id: Column, side: String): Column =
      when(assert_true(id.isNotNull && id >= 0L && id < FLAG, concat(
        lit(s"incrementalDedup $side ids must be non-null and in " +
          "[0, 2^62) so corpus-precedence flagging cannot collide: got "),
        coalesce(id.cast("string"), lit("NULL")))).isNull, id)
    // (1) batch-exact dedup, then drop batch docs whose content already
    // exists in the corpus (one hash semi-join, no text comparison)
    val b1 = exact(batch, md5(batchText), batchId)
    val corpusHashes = corpus.select(md5(corpusText).as("__ch")).distinct()
    // staged: read by the signature stage AND the final anti-join
    val b2 = Staging.persist(
      b1.join(corpusHashes, md5(batchText) === col("__ch"), "left_anti"),
      eager = false)
    // (2) signatures over corpus + surviving batch in one keyed space
    val keyed = corpus.select(
        checkedId(corpusId.cast("long"), "corpus").as("kid"),
        corpusText.as("ktext"))
      .unionAll(b2.select(
        (checkedId(batchId.cast("long"), "batch") + FLAG).as("kid"),
        batchText.as("ktext")))
    // LAZY staging (round 18), like dedupCorpus's signature stage: the
    // first consumer is the CC edge checkpoint — a blocking job of its
    // own that materializes this cache as it runs — so an eager count
    // here is a whole extra corpus pass (the d07 A/B: eager 2.46 med
    // vs lazy 2.00, identical rows). b2's persisted cache lands in
    // the same checkpoint job.
    val sigs = Staging.persist(keyed
      .select(col("kid").as("id"), hashedShingles(col("ktext")).as("h"))
      .filter(size(col("h")) > 0)
      .select(col("id"), col("h"),
        graft.functions.MinHashFunctions
          .minhashSig(col("h"), bands * rowsPerBand, seed).as("sig")),
      eager = false)
    val bandCols = (0 until bands).map { b =>
      val bandSig = concat_ws("_",
        (0 until rowsPerBand).map(r =>
          element_at(col("sig"), b * rowsPerBand + r + 1).cast("string")): _*)
      struct(lit(b).as("band"), xxhash64(bandSig).as("bkey"))
    }
    val buckets0 = sigs
      .select(col("id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bkey"))
    val buckets = maxBucketSize.fold(buckets0) { cap =>
      val hot = buckets0.groupBy("band", "bkey")
        .agg(count(lit(1)).as("__n")).filter(col("__n") > cap)
        .select("band", "bkey")
      buckets0.join(hot, Seq("band", "bkey"), "left_anti")
    }
    // (3) candidates: every pair's RIGHT side is a batch doc — with
    // batch keys all above FLAG, a.id < b.id >= FLAG yields exactly
    // the corpus×batch and batch×batch pairs; corpus×corpus never forms
    val batchBuckets = buckets.filter(col("id") >= FLAG)
    val candIds = buckets.as("a").join(batchBuckets.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val hTab = sigs.select(col("id"), col("h"))
    val pairs = candIds
      .join(hTab.toDF("id_a", "ha"), "id_a")
      .join(hTab.toDF("id_b", "hb"), "id_b")
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("ha")) + size(col("hb")) - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b")
    // (4) cluster; min key = corpus doc when present, else min batch id.
    // stepsPerJob=3 was TRIED here and REJECTED (round 18): the sf0.1
    // graph measured fixpoint f=3 (`Probe cc`: per-step changes
    // 56, 5, 0 — batch docs that are dups only of other batch docs sit
    // at distance 2 from the corpus representative), where s=3
    // converges in ONE fused job (−8 % med quiet-window A/B,
    // 92dfbba:src/main/scala/graft/tools/AbR18.scala d10cc3). But f is
    // DATA-dependent, not structural: the same query
    // at sf1 measures f=2 (166, 0 — no batch-batch-only dups survive
    // that subset), where the third step is a wasted pass over the
    // label table — at 100 TB a corpus-sized shuffle bought nothing.
    // The default s=2 never wastes a pass on f=2 graphs (the common
    // clique case) and caps the odd-f penalty at one extra driver
    // round-trip + checkpoint; callers who have MEASURED their
    // corpus's f (`Probe cc`) can pass stepsPerJob explicitly.
    val cc = connectedComponentsAuto(pairs)
    val dropped = cc.result
      .filter(col("id") =!= col("cluster_id") && col("id") >= FLAG)
      .select((col("id") - FLAG).as("__drop_id"))
    val result = b2.join(dropped, batchId === col("__drop_id"), "left_anti")
    Staged(result, Seq(b2, sigs) ++ cc.stages)
  }

  /** Benchmark decontamination pairs — the training-data op that keeps
    * evaluation sets out of the corpus: flag every corpus document
    * whose distinct 3-token shingles overlap a benchmark document's by
    * at least `minOverlapMilli` per-mille (of the CORPUS doc's shingle
    * count — the conventional direction: a long document quoting one
    * benchmark item is diluted, a short near-copy is caught).
    *
    * Scale shape: the benchmark side is small (an eval suite, not a
    * corpus) and is BROADCAST as exploded distinct shingle hashes; the
    * corpus is scanned once, row-local shingle hashing + explode, no
    * full-width shuffle — only the (doc, bench) shingle MATCHES reach
    * the counting aggregation. Integer per-mille via `div` keeps the
    * ratio bit-identical across engines.
    *
    * Output: (doc_id, bench_id, inter, n_shingles, overlap_milli). */
  def contaminationPairs(corpus: DataFrame, id: Column, text: Column,
                         bench: DataFrame, benchId: Column,
                         benchText: Column,
                         minOverlapMilli: Long = 800L): DataFrame = {
    val corpusToks = corpus
      .select(id.as("doc_id"), hashedShingles(text).as("h"))
      .filter(size(col("h")) > 0)
      .select(col("doc_id"), size(col("h")).cast("long").as("n_shingles"),
        explode(col("h")).as("sh"))
    val benchToks = bench
      .select(benchId.as("bench_id"),
        explode(hashedShingles(benchText)).as("sh"))
    // HashedShingles emits sorted-DISTINCT hashes per doc, so each
    // matched (doc, bench, shingle) contributes exactly one row and
    // count(*) == |intersection|
    corpusToks.join(broadcast(benchToks), "sh")
      .groupBy("doc_id", "bench_id", "n_shingles")
      .agg(count(lit(1)).as("inter"))
      .withColumn("overlap_milli", expr("(inter * 1000) div n_shingles"))
      .filter(col("overlap_milli") >= minOverlapMilli)
      .select("doc_id", "bench_id", "inter", "n_shingles", "overlap_milli")
  }

  /** [[contaminationPairs]] folded to the corpus cleaner: drop every
    * corpus document contaminated by ANY benchmark document. */
  def decontaminate(corpus: DataFrame, id: Column, text: Column,
                    bench: DataFrame, benchId: Column, benchText: Column,
                    minOverlapMilli: Long = 800L): DataFrame = {
    val bad = contaminationPairs(corpus, id, text, bench, benchId,
      benchText, minOverlapMilli).select(col("doc_id").as("__bad_id"))
    corpus.join(bad, id === col("__bad_id"), "left_anti")
  }

  /** Sketch-side decontamination: the benchmark's distinct shingle
    * hashes collapse into ONE Bloom bit array
    * ([[graft.functions.BloomSketch]], mBits/8 bytes regardless of
    * benchmark size), broadcast as a 1-row scalar; each corpus doc then
    * counts row-locally how many of its shingles MIGHT be benchmark
    * shingles. Versus [[contaminationPairs]] this trades per-bench-doc
    * attribution and exactness (false positives at the usual Bloom
    * rate; never false negatives, so as a FILTER it is conservative)
    * for a corpus side with NO join and NO shuffle at all — the shape
    * that wins when the eval suites are many but the corpus is 100 TB.
    *
    * Output: (doc_id, n_shingles, n_hits, hit_milli) for docs whose
    * maybe-contaminated shingle fraction >= `minHitMilli` per-mille;
    * integer per-mille via `div` keeps it engine-exact (the oracle
    * simulates the same bit positions as a distinct-position set). */
  def bloomContamination(corpus: DataFrame, id: Column, text: Column,
                         bench: DataFrame, benchText: Column,
                         mBits: Int = 1 << 20, numHashes: Int = 3,
                         seed: Long = 42L,
                         minHitMilli: Long = 500L): DataFrame = {
    import graft.functions.BloomFunctions
    // EAGER: one driver action aggregates the bench side (small by
    // contract; the bytes are mBits/8 whatever its row count). The
    // bytes then ride the corpus projection as a LITERAL — one
    // reference in codegen. A broadcast cross join would instead copy
    // the bit array into EVERY corpus UnsafeRow (mBits/8 bytes × rows
    // of pure memcpy — measured 20+ s on a 600k-row probe in the q47
    // shape). Spark's runtime bloom filters inline theirs the same way.
    val bits = bench
      .select(explode(hashedShingles(benchText)).as("h"))
      .agg(BloomFunctions.bloomAgg(col("h"), mBits, numHashes, seed)
        .as("__bloom"))
      .head().getAs[Array[Byte]](0)
    corpus
      .select(id.as("doc_id"), hashedShingles(text).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_shingles"),
        BloomFunctions.bloomHitCount(lit(bits), col("hs"),
          mBits, numHashes, seed).as("n_hits"))
      .withColumn("hit_milli", expr("(n_hits * 1000) div n_shingles"))
      .filter(col("hit_milli") >= minHitMilli)
      .select("doc_id", "n_shingles", "n_hits", "hit_milli")
  }

  /** 64-bit SimHash over word shingles: for each bit, sum +1/-1 votes
    * of the shingle-hash bits; sign → fingerprint bit. Feature hashes
    * are the 62-bit rolling fingerprints (not mod p — SimHash wants
    * bit width), DuckDB-computable so simhashPairs is oracle-checkable.
    * Row-local, one codegen'd n×64 vote loop. */
  def simhash(text: Column): Column =
    simhashFromHashes(hashedShingles(text, modP = false))

  /** SimHash given pre-computed shingle hashes — one codegen'd n×64
    * vote loop (see [[graft.functions.SimHash64]]). */
  def simhashFromHashes(hashes: Column): Column =
    graft.functions.SimHashFunctions.simhash64(hashes)

  /** SimHash near-dup pairs with hamming distance <= maxDist, using the
    * pigeonhole trick: split the 64-bit fingerprint into (maxDist+1)
    * segments — any pair within maxDist agrees exactly on >= 1 segment,
    * so a hash-join per segment finds all candidates without O(n²). */
  def simhashPairs(df: DataFrame, id: Column, text: Column,
                   maxDist: Int = 3): DataFrame =
    simhashPairsStaged(df, id, text, maxDist).result

  /** [[simhashPairs]] with the persisted hash stage exposed for
    * caller-owned cache cleanup. */
  def simhashPairsStaged(df: DataFrame, id: Column, text: Column,
                   maxDist: Int = 3): Staged = {
    // stage the hashes BEFORE deriving fp: Catalyst collapses
    // adjacent projections, which would re-inline the tokenizer into
    // all 64 per-bit vote expressions.
    val hashed = Staging.persist(df
      .select(id.as("id"), hashedShingles(text, modP = false).as("hs")),
      eager = false)
    val withFp = hashed.select(col("id"), simhashFromHashes(col("hs")).as("fp"))
    Staged(hamming64Pairs(withFp, maxDist), Seq(hashed))
  }

  /** Near-dup pairs among ANY 64-bit fingerprints by hamming distance
    * <= maxDist — the pigeonhole segment join shared by SimHash (text)
    * and perceptual image hashes: the fingerprint splits into
    * (maxDist+1) segments, any pair within maxDist agrees on >= 1
    * segment, so per-segment hash joins find all candidates without
    * O(n²). Input: (id, fp) with fp a 64-bit long.
    * Output: (id_a, id_b, hamming). */
  def hamming64Pairs(withFp: DataFrame, maxDist: Int = 3): DataFrame = {
    // maxDist=0 would make the single segment's mask (1L<<64)-1 == 0
    // (JVM shifts mod 64): every row lands in ONE bucket and the join
    // silently goes O(n²). Exact-fingerprint matching is a groupBy, not
    // a hamming join.
    require(maxDist >= 1 && maxDist <= 63,
      s"maxDist must be in [1, 63], got $maxDist (for exact matches " +
        "group by the fingerprint instead)")
    val nSeg = maxDist + 1
    val segBits = 64 / nSeg
    val segs = withFp.select(col("id"), col("fp"),
      explode(array((0 until nSeg).map(sg => struct(lit(sg).as("seg"),
        shiftright(col("fp"), sg * segBits)
          .bitwiseAND((1L << segBits) - 1).as("skey"))): _*)).as("s"))
      .select(col("id"), col("fp"), col("s.seg"), col("s.skey"))
    val popcnt = (x: Column) => bit_count(x).cast("int")
    segs.as("a").join(segs.as("b"),
        col("a.seg") === col("b.seg") && col("a.skey") === col("b.skey") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        popcnt(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
      // verify-then-distinct (SURVEY §4): popcount is row-local-cheap and
      // already computed pre-exchange, so filtering BEFORE the pair-dedup
      // shuffles only survivors instead of every candidate the segment
      // join emits — same rule d05 measured at 3× (sf1).
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Duplicated-span removal (d16): drop every non-overlapping
    * `segTokens`-token segment whose EXACT text occurs more than
    * `maxCount` times across the corpus, then reassemble each document
    * from its surviving segments in order — the within-document
    * counterpart of whole-doc dedup (the ExactSubstr observation of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better", discretized to aligned segments so membership is
    * a set lookup instead of a suffix-array query; on corpora with
    * newlines the same operator with line splitting is
    * RefinedWeb-style line dedup).
    *
    * Two corpus SCANS, zero corpus SHUFFLES:
    *  1. segment-count aggregation keyed by the segment's 64-BIT
    *     FINGERPRINT (xxhash64), map-side combined — only (8-byte fp,
    *     partial-count) pairs move, never segment text → the
    *     over-`maxCount` "hot" fingerprint set, boilerplate by
    *     definition and bounded by total_tokens / (segTokens ·
    *     maxCount) ENTRIES but only 8 BYTES each: the hot set grows
    *     with corpus size (128 → 12.8k across sf0.1 → sf10,
    *     extrapolating ~10⁸ at 100 TB), and carrying text meant GBs
    *     on the driver and in every task — fingerprints cap it at
    *     ~800 MB worst-case where strings were ~50× that, and shrink
    *     the count shuffle payload identically;
    *  2. a second scan rebuilds each doc row-locally, filtering its
    *     own segments' fingerprints against the hot set carried as a
    *     hashed plan reference object (functions.InLongSet — d09's
    *     literal distribution path, but an O(1) primitive probe out of
    *     the generated code: the string-set form of the same probe is
    *     the d16 lesson where an inlined array_contains scan measured
    *     121 s at sf10 vs the hashed probe's flat two-job floor).
    *
    * Fingerprint membership equals text membership up to 64-bit
    * collisions (a cold segment is dropped iff its xxhash64 equals a
    * hot segment's): with ~10⁸ hot segments and ~10¹⁰ probes the
    * expected false-drop count is ~10¹⁸⁄2⁶⁴ ≈ 0.05 documents'
    * segments corpus-wide — the same accepted-approximation class as
    * d09's Bloom, and invisible to the string-exact oracle at any
    * tested scale.
    *
    * Output: (doc_id, n_seg, n_dropped, cleaned_text), one row per
    * input document. */
  def segmentDedup(docs: DataFrame, idCol: Column, textCol: Column,
                   segTokens: Int = 8, maxCount: Long = 2): DataFrame = {
    // both passes ride the single-walk byte kernels
    // ([[graft.functions.SegmentUtil]]): a segment of tokens joined by
    // single spaces is exactly a byte SPAN of the original text, so
    // pass 1 hashes spans in place (no segment-string array per doc —
    // the split/transform/slice/array_join spelling built three
    // interpreted-HOF arrays per row and measured 7.4 s at sf10) and
    // pass 2 probes + copies surviving spans once into the output
    val hot: Array[Long] = docs
      .select(explode(graft.functions.SegmentFunctions
        .segmentHashes(textCol, segTokens)).as("fp"))
      .groupBy("fp").count()
      .filter(col("count") > maxCount)
      .select("fp").collect().map(_.getLong(0)).sorted
    docs.select(idCol.as("doc_id"), graft.functions.SegmentFunctions
        .segmentCleanse(textCol, segTokens, hot).as("c"))
      .select(col("doc_id"), col("c.n_seg").as("n_seg"),
        col("c.n_dropped").as("n_dropped"),
        col("c.cleaned_text").as("cleaned_text"))
  }

  /** Duplicated-span removal with CONTENT-DEFINED boundaries (d17) —
    * the rsync/LBFS chunking upgrade over [[segmentDedup]]'s aligned
    * windows: a token closes its segment iff
    * `rolling_fingerprint(token) % modB == 0` (expected length modB,
    * one codegen'd pass — functions/RollingHashExpression.scala
    * `CdcSegments`). Aligned windows re-key EVERY later segment when
    * one token is inserted upstream, so a shifted copy of boilerplate
    * never reaches the hot count; CDC boundaries depend only on
    * content and resynchronize right after the edit — the shifted
    * copies produce the SAME segments and dedup together
    * (DedupSpec proves exactly this split). Same two-scan shape as
    * d16: a map-side-combined segment-FINGERPRINT count (8-byte keys
    * in the shuffle, 8-byte entries on the driver — see
    * [[segmentDedup]]'s collision note) builds the tiny hot set,
    * which rides back as a hashed plan reference for the row-local
    * rebuild — zero corpus shuffle. */
  def cdcSegmentDedup(docs: DataFrame, idCol: Column, textCol: Column,
                      modB: Int = 8, maxCount: Long = 2): DataFrame = {
    // same single-walk byte kernels as [[segmentDedup]], with the
    // boundary rule swapped: the per-token rolling fingerprint is
    // decoded from the UTF-8 bytes in place, so neither pass builds a
    // segment-string array per document
    val hot: Array[Long] = docs
      .select(explode(graft.functions.SegmentFunctions
        .cdcSegmentHashes(textCol, modB)).as("fp"))
      .groupBy("fp").count()
      .filter(col("count") > maxCount)
      .select("fp").collect().map(_.getLong(0)).sorted
    docs.select(idCol.as("doc_id"), graft.functions.SegmentFunctions
        .cdcSegmentCleanse(textCol, modB, hot).as("c"))
      .select(col("doc_id"), col("c.n_seg").as("n_seg"),
        col("c.n_dropped").as("n_dropped"),
        col("c.cleaned_text").as("cleaned_text"))
  }
}
