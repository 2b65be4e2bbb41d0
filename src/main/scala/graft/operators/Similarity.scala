package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Vector similarity search over an `Array[Float]` embedding column.
  *
  * Baseline is exact brute-force (fine when the query set is small and
  * broadcastable: cost = |Q|·|corpus| row-local dot products, no
  * shuffle until top-k). The scale paths avoid scanning the whole
  * corpus per query: random-hyperplane LSH buckets or IVF cells bound
  * the candidate set, then exact re-ranking restores precision.
  */
object Similarity {

  /** Sequential left-to-right dot product in double precision —
    * deterministic across engines/partitionings (same element order
    * every time). Backed by the codegen'd [[graft.functions.FloatVectorDot]]
    * expression; the zip_with/aggregate formulation would run
    * interpreted per element (HOFs are CodegenFallback). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.fdot(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Exact top-k neighbours for each query vector (brute force).
    * `queries` must be small — it is broadcast so the corpus is scanned
    * exactly once with no shuffle before the per-query top-k. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = corpus.as("c")
      .join(broadcast(queries.as("q")), col("c.vec_id") =!= col("q.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("vec_id"),
        cosine(col("q.embedding"), col("c.embedding")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "cos")
  }

  /** MMR-diversified top-k (s07): maximal marginal relevance — greedy
    * selection maximizing `λ·rel(c) − (1−λ)·max_{s∈selected} cos(c,s)`
    * — the retrieval-diversification step a data-selection pipeline
    * runs so its exemplars don't all say the same thing (Carbonell &
    * Goldstein '98). Structure:
    *
    *  - candidate stage (the only corpus-sized work): exact top-`cand`
    *    per query via [[bruteForceTopK]] — swap in [[lshTopK]]/
    *    [[ivfTopK]] at scale, the selection below is source-agnostic.
    *  - selection: ONE custom expression ([[graft.functions.MmrSelect]])
    *    over the per-query collected candidate array — the greedy
    *    recurrence is sequential in k, and every DataFrame-level
    *    unrolling of it was measured structurally worse: the lazy
    *    join form doubles lineage per step (2^k plan subtrees by
    *    k=10 — 1023 printed ExistingRDD references), the per-step
    *    checkpoint form pays k driver-roundtrip jobs (~3 s of pure
    *    scheduling at sf0.1), and the single-reference window form
    *    compiles O(k²) distinct codegen stages (~6 s of janino, not
    *    data). Per query the candidate set is bounded, so the
    *    O(k·cand) cosine loop is group-local work: the whole
    *    selection is one groupBy + collect_list + explode — a linear
    *    plan, no sequential jobs at all.
    *
    * All score arithmetic is plain IEEE double on both engines (the
    * s01/s05 cosine convention), so the argmax decisions — and hence
    * the selected SET, not just its scores — oracle bit-exactly. Ties
    * break by vec_id ascending. */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              cand: Int, lam: Double = 0.7): DataFrame = {
    require(k >= 1 && cand >= k, s"need cand >= k >= 1, got k=$k cand=$cand")
    bruteForceTopK(corpus, queries, cand)
      .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("query_id"), col("vec_id"), col("cos").as("rel"),
        col("embedding"))
      .groupBy("query_id")
      .agg(collect_list(struct(col("vec_id"), col("rel"),
        col("embedding"))).as("cands"))
      .select(col("query_id"),
        explode(graft.functions.MmrFunctions.mmrSelect(col("cands"), k, lam))
          .as("s"))
      .select(col("query_id"), col("s.rank").as("rank"),
        col("s.vec_id").as("vec_id"),
        round(col("s.score"), 6).as("score"))
  }

  /** nBits-bit random-hyperplane signature: bit j = sign(dot(plane_j, v)).
    * Row-local; collisions preserve cosine similarity (SimHash for
    * angles). One codegen'd nBits×dims loop — see
    * [[graft.functions.HyperplaneSignature]]. */
  def hyperplaneSignature(vec: Column, nBits: Int = 16): Column =
    graft.functions.HyperplaneFunctions.hyperplaneSig(vec, nBits)

  /** ANN top-k: candidates = corpus vectors whose signature agrees with
    * the query on >= one of `bands` signature bands (multi-probe), then
    * exact cosine re-rank. Join key = (band, band bits): only same-bucket
    * vectors meet — at 100 TB the per-query candidate set is ~corpus/2^r
    * per band instead of the whole corpus. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nBits: Int = 16, bands: Int = 4): DataFrame = {
    val bits = nBits / bands
    def banded(df: DataFrame, idc: String): DataFrame = {
      val sig = hyperplaneSignature(col("embedding"), nBits)
      df.select(col("vec_id").as(idc), col("embedding"), sig.as("sig"))
        .select(col(idc), col("embedding"),
          explode(array((0 until bands).map(b => struct(lit(b).as("band"),
            shiftright(col("sig"), b * bits)
              .bitwiseAND((1L << bits) - 1).as("bkey"))): _*)).as("bk"))
        .select(col(idc), col("embedding"),
          col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    }
    val cand = banded(corpus, "vec_id").as("c")
      .join(broadcast(banded(queries, "query_id")).as("q"),
        col("c.band") === col("q.band") && col("c.bkey") === col("q.bkey") &&
        col("c.vec_id") =!= col("q.query_id"))
      .select(col("q.query_id"), col("c.vec_id"),
        cosine(col("q.embedding"), col("c.embedding")).as("cos"))
      .distinct()
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "cos")
  }

  /** The centroid table collapsed to ONE row holding
    * `array<array<float>>` ordered by cell id — the broadcastable shape
    * [[graft.functions.NearestCells]] consumes. Cell id = position. */
  private def centsArray(cent: DataFrame): DataFrame =
    cent.agg(transform(
      array_sort(collect_list(struct(col("cell_id"), col("centroid")))),
      s => s.getField("centroid")).as("cents"))

  /** Row-local cell assignment: broadcast the one-row centroid array,
    * pick the top-`keep` cells per vector with a single codegen'd
    * argmax pass — ZERO shuffle of `df` (the window-argmax alternative
    * shuffles every embedding nCells times). `centsArr` must already be
    * the one-row [[centsArray]] shape. */
  private def assignCells(df: DataFrame, centsArr: DataFrame, keep: Int): DataFrame =
    df.crossJoin(broadcast(centsArr))
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorFunctions
          .nearestCells(col("embedding"), col("cents"), keep).as("cells"))

  /** IVF-style ANN: seed `nCells` centroids from the corpus, refine
    * them with `lloydIters` k-means steps, assign every vector to its
    * nearest cell, probe the `nProbe` nearest cells per query, exact
    * re-rank within probed cells.
    *
    * Scale shape: centroids are tiny and travel by broadcast; cell
    * assignment is row-local (no corpus shuffle, see [[assignCells]]).
    * Seeding is a deterministic hash-ordered top-k
    * (TakeOrderedAndProject) — no eager `count()`, no dense-id
    * assumption, and no arbitrary-subset `limit`. Each Lloyd step is
    * one corpus scan whose exploded (cell, dim) partial sums shrink
    * map-side to nCells×dims rows. Centroid means use decimal-exact
    * sums so cell boundaries are identical across runs/partitionings. */
  /** Deterministic IVF centroid training shared by [[ivfTopK]] and
    * [[semDedup]]: md5-hash-ordered seeding (top-nCells by md5 of the
    * decimal id string — same hex, and so the same order, in any
    * engine, which keeps every consumer oracle-checkable), then
    * `lloydIters` k-means steps. Collapsed straight to the one-row
    * positional array: cell_id = index in the vec_id-sorted seed
    * array, so no global window runs anywhere in the pipeline
    * (row_number over an unpartitioned Window drags every row to one
    * partition and warns on every run, even for the 16 seed rows it
    * was bounded to here). Each Lloyd step is one corpus scan whose
    * exploded (cell, dim) partial sums shrink map-side to
    * nCells×dims rows; element-wise decimal-exact means keep cell
    * boundaries identical across runs/partitionings; cells are
    * renumbered by position each step (empty cells drop out). */
  private def trainCentroids(corpus: DataFrame, nCells: Int,
                             lloydIters: Int): DataFrame = {
    val seeds = corpus
      .orderBy(md5(col("vec_id").cast("string").cast("binary")).asc,
        col("vec_id").asc)
      .limit(nCells)
      .agg(transform(
        array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
        s => s.getField("embedding")).as("cents"))

    def step1(centsArr: DataFrame): DataFrame =
      centsArray(assignCells(corpus, centsArr, 1)
        .select(element_at(col("cells"), 1).as("cell_id"),
          posexplode(col("embedding")))
        .groupBy("cell_id", "pos")
        .agg((sum(col("col").cast(DecimalType(27, 8))).cast("double") /
          count(lit(1))).as("m"))
        .groupBy("cell_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m").cast("float")).as("centroid")))

    (0 until lloydIters).foldLeft(seeds)((c, _) => step1(c))
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4,
              lloydIters: Int = 1): DataFrame = {
    val centroids = trainCentroids(corpus, nCells, lloydIters)

    val corpusCells = assignCells(corpus, centroids, 1)
      .select(col("vec_id"), col("embedding"),
        element_at(col("cells"), 1).as("cell_id"))
    val queryCells = assignCells(queries, centroids, nProbe)
      .select(col("vec_id").as("query_id"), col("embedding"),
        explode(col("cells")).as("cell_id"))
    // each corpus vector lives in exactly one cell, so a (query, vec)
    // pair meets at most once — no dedup shuffle needed
    val cand = corpusCells.as("c")
      .join(broadcast(queryCells).as("q"),
        col("c.cell_id") === col("q.cell_id") &&
        col("c.vec_id") =!= col("q.query_id"))
      .select(col("q.query_id"), col("c.vec_id"),
        cosine(col("q.embedding"), col("c.embedding")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "cos")
  }

  /** Product-quantization ANN: split each `dims`-dim vector into
    * `nSub` contiguous subspaces, train an `nCodes`-word codebook per
    * subspace (same md5-seeded deterministic Lloyd machinery as
    * [[ivfTopK]], but with the L2 codeword rule — PQ minimizes
    * reconstruction error, not angle), encode every corpus vector as
    * `nSub` small codes, score candidates by asymmetric-distance
    * computation (ADC) over the codes alone, and exact-cosine re-rank
    * the top `rerank` candidates per query.
    *
    * Scale shape — this is the COMPRESSION path of ANN (IVF/LSH are the
    * pruning paths): the scan that touches every corpus row reads
    * (vec_id, nSub codes) ≈ 8 + 4·nSub bytes instead of the 4·dims-byte
    * embedding — 16× narrower at 64 dims / 4 subspaces — and full
    * vectors are fetched for only `rerank` candidates per query.
    * Codebooks and queries travel by broadcast (the per-query LUT
    * `lut[m][code] = dot(q_m, c_{m,code})` turns each candidate's
    * approximate score into nSub array lookups, no float math on the
    * corpus side); encoding is row-local with ZERO corpus shuffle; each
    * Lloyd step is one corpus scan whose (m, code, dim) partial sums
    * shrink map-side to nSub·nCodes·dims/nSub rows. The only
    * corpus-wide shuffle is the per-query top-`rerank` window over
    * (query_id, vec_id, score) triples.
    *
    * ADC scores cosine with both factors reconstructed from the
    * codebook: dot(q,v) ≈ Σ_m lut[m][code_m] and |v|² ≈ Σ_m
    * |c_{m,code_m}|² (exact if v equalled its reconstruction); sums run
    * m = 0..nSub-1 left-to-right so the oracle can replicate them
    * bit-for-bit. Assumes no zero-norm codeword (true for real
    * embeddings; a zero centroid would need a cell whose members sum to
    * exactly zero in every dimension). Determinism contract matches
    * [[ivfTopK]]: decimal-exact centroid means rounded through float,
    * score-then-lower-code tie rule, positional renumbering monotone in
    * the oracle's kept seed ids. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             dims: Int, nSub: Int = 4, nCodes: Int = 16,
             lloydIters: Int = 1, rerank: Int = 50): DataFrame = {
    require(dims % nSub == 0, s"dims=$dims not divisible by nSub=$nSub")
    val ds = dims / nSub
    def sub(m: Int): Column = slice(col("embedding"), m * ds + 1, ds)
    def assign1(m: Int, cents: Column): Column = element_at(
      graft.functions.VectorFunctions.nearestCellsL2(
        sub(m), element_at(cents, m + 1), 1), 1)

    // seed codebooks: the md5-ordered top-nCodes corpus rows, sliced —
    // one row holding array-by-m of array-by-code of subvector
    val seeds = corpus
      .orderBy(md5(col("vec_id").cast("string").cast("binary")).asc,
        col("vec_id").asc)
      .limit(nCodes)
      .agg(transform(
        array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
        s => s.getField("embedding")).as("seedArr"))
      .select(array((0 until nSub).map(m =>
        transform(col("seedArr"), e => slice(e, m * ds + 1, ds))): _*)
        .as("cents"))

    // one Lloyd step over ALL subspaces in a single corpus scan:
    // assignment is row-local against the broadcast codebooks, the
    // exploded (m, code, pos) partials combine map-side, and codes are
    // renumbered positionally per subspace (empty cells drop out)
    def step1(centsRow: DataFrame): DataFrame =
      corpus.crossJoin(broadcast(centsRow))
        .select(explode(array((0 until nSub).map(m => struct(
          lit(m).as("m"), assign1(m, col("cents")).as("code"),
          sub(m).as("sv"))): _*)).as("a"))
        .select(col("a.m").as("m"), col("a.code").as("code"),
          posexplode(col("a.sv")))
        .groupBy("m", "code", "pos")
        .agg((sum(col("col").cast(DecimalType(27, 8))).cast("double") /
          count(lit(1))).as("x"))
        .groupBy("m", "code")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("x")))),
          s => s.getField("x").cast("float")).as("centroid"))
        .groupBy("m")
        .agg(transform(array_sort(collect_list(struct(col("code"), col("centroid")))),
          s => s.getField("centroid")).as("cm"))
        .agg(transform(array_sort(collect_list(struct(col("m"), col("cm")))),
          s => s.getField("cm")).as("cents"))

    val cents = (0 until lloydIters).foldLeft(seeds)((c, _) => step1(c))

    // encode: nSub row-local argmins per corpus vector — the compressed
    // corpus the ANN scan actually reads
    val codes = corpus.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        array((0 until nSub).map(m => assign1(m, col("cents"))): _*)
          .as("codes"))

    // per-query LUT + codeword norms (tiny: |Q| rows × nSub×nCodes
    // doubles; HOF lambdas run interpreted but only over these rows)
    val qlut = queries.crossJoin(broadcast(cents))
      .select(col("vec_id").as("query_id"),
        sqrt(dot(col("embedding"), col("embedding"))).as("qnorm"),
        array((0 until nSub).map(m =>
          transform(element_at(col("cents"), m + 1),
            c => dot(slice(col("embedding"), m * ds + 1, ds), c))): _*)
          .as("lut"),
        transform(col("cents"), cm => transform(cm, c => dot(c, c)))
          .as("cnorm2"))

    // ADC scan: codes-only corpus side × broadcast LUTs; the score is
    // nSub array lookups summed in fixed m-order
    def lookupSum(tbl: String): Column = (0 until nSub).map(m =>
      element_at(element_at(col(tbl), m + 1),
        element_at(col("codes"), m + 1) + 1)).reduce(_ + _)
    val scored = codes.join(broadcast(qlut), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (lookupSum("lut") / (col("qnorm") * sqrt(lookupSum("cnorm2"))))
          .as("ascore"))
    val wA = Window.partitionBy("query_id")
      .orderBy(col("ascore").desc, col("vec_id").asc)
    val cand = scored.withColumn("arn", row_number().over(wA))
      .filter(col("arn") <= rerank).select("query_id", "vec_id")

    // exact re-rank: full vectors fetched for rerank·|Q| rows only
    val vecs = corpus.select(col("vec_id"), col("embedding"))
    val qvecs = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"))
    val exact = cand.join(vecs, "vec_id").join(broadcast(qvecs), "query_id")
      .select(col("query_id"), col("vec_id"),
        cosine(col("qe"), col("embedding")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    exact.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "cos")
  }

  /** Embedding-cosine near-duplicate pairs: LSH-bucket the corpus on
    * per-band slices of the hyperplane signature, verify cosine >=
    * minCos inside buckets only.
    *
    * RECALL CONTRACT under `maxBucketSize`: a bucket denser than the
    * cap is dropped WHOLE. Identical-copy cliques share the same
    * bucket in EVERY band, so a near-duplicate group denser than the
    * cap emits zero pairs — the cap deliberately trades away the
    * most-replicated content's pairwise edges to keep the in-bucket
    * self-join bounded at cap² (the alternative at scale is a
    * quadratic blowup in the copy count: the round-13 s05 spill).
    * Callers that need the heavy cliques themselves should mine them
    * from the dropped buckets directly — a bucket over the cap IS the
    * detection (its members are mutual near-dup candidates by
    * construction; d11 exposes exactly this view for MinHash). Pairs
    * whose members merely TOUCH a dropped bucket still pair through
    * their other bands; only groups dense in every band lose edges.
    *
    * Scale shape (the same banding contract d03 pins in PlanSpec): the
    * band-bucket self-join carries (id, band, bkey) ONLY — three longs
    * a row — and the pair distinct runs AFTER cosine verification, so
    * the dedup exchange carries only pairs that already passed minCos.
    * Ordering matters measurably (sf1, `Probe time` medians): ids-only
    * with distinct-before-verify shuffles the full quadratic candidate
    * set — 12.8s; embeddings carried through the band join — 5.0s
    * locally, but that shuffle widens by two orders of magnitude at
    * cluster scale; verify-then-distinct — 4.2s. It keeps both stages
    * narrow: candidates never shuffle wide, and only
    * minCos survivors (a small fraction under any useful threshold)
    * reach the dedup exchange. The vector fetch joins broadcast when
    * the corpus is small and degrade to id-keyed shuffle joins at
    * scale. A pair sharing k bands pays k cosines (k <= bands) — the
    * price of not materializing the candidate set; cosine is one
    * codegen'd expression, cheaper than shuffling the candidates. */
  def nearDupPairs(corpus: DataFrame, minCos: Double,
                   nBits: Int = 16, bands: Int = 4,
                   maxBucketSize: Option[Long] = None): DataFrame = {
    val bits = nBits / bands
    val sig = hyperplaneSignature(col("embedding"), nBits)
    val banded0 = corpus
      .select(col("vec_id").as("id"), sig.as("sig"))
      .select(col("id"),
        explode(array((0 until bands).map(b => struct(lit(b).as("band"),
          shiftright(col("sig"), b * bits)
            .bitwiseAND((1L << bits) - 1).as("bkey"))): _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    // d11's mega-bucket cap, knnJoin's spelling (groupBy the tiny
    // (band, bkey) domain → hot list → left-anti): a bucket denser
    // than the cap is dropped WHOLE (see the recall contract above).
    // With only 2^(nBits/bands) bucket values per band the per-bucket
    // population grows linearly with the corpus — and quadratically
    // in the copy count of replicated content — so at scale the cap
    // is the gate, not an option (the s05 argument). The hot-list agg
    // is map-side-combined over ≤ bands·2^(nBits/bands) keys — no
    // per-row window sort. With the cap, banded0 feeds the hot agg
    // AND both anti-joined self-join sides, whose exchanges differ —
    // ReuseExchange can't dedup them, so unstaged the corpus scan +
    // hyperplane signature ran up to 4× (round-15 ADVICE). EAGERLY
    // materialized (autoFreeEager, round-17): the hot agg and the
    // anti-join's left map stage race on the cold lazy cache (A/B'd
    // under s05's knnJoin twin: −6% med, identical rows); the
    // round-16 lifecycle holds — the consuming action's end frees
    // the blocks.
    val banded = maxBucketSize.fold(banded0) { cap =>
      val staged = Staged.autoFreeEager(banded0)
      val hot = staged.groupBy("band", "bkey")
        .agg(count(lit(1)).as("__n")).filter(col("__n") > cap)
        .select("band", "bkey")
      staged.join(hot, Seq("band", "bkey"), "left_anti")
    }
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val vecs = corpus.select(col("vec_id"), col("embedding"))
    pairs
      .join(vecs.as("va"), col("id_a") === col("va.vec_id"))
      .join(vecs.as("vb"), col("id_b") === col("vb.vec_id"))
      .select(col("id_a"), col("id_b"),
        cosine(col("va.embedding"), col("vb.embedding")).as("cos"))
      .filter(col("cos") >= minCos)
      .distinct()
  }

  /** Semantic decontamination (d20): flag corpus vectors whose cosine
    * to ANY benchmark vector clears `minCos` — d08's leakage audit in
    * EMBEDDING space, catching the paraphrased/translated
    * contamination shingle overlap cannot see. Candidates from the
    * shared hyperplane banding with the BENCH side broadcast (the
    * corpus never shuffles — the d08/d09 asymmetry: eval suites are
    * small, the corpus is 100 TB), exact cosine verify BELOW the
    * pair-dedup exchange (d05's verify-then-distinct discipline).
    * Output: (vec_id, bench_id, cos) per flagged pair. */
  def semanticContamination(corpus: DataFrame, bench: DataFrame,
                            minCos: Double, nBits: Int = 16,
                            bands: Int = 4): DataFrame = {
    val bits = nBits / bands
    def banded(df: DataFrame, idc: String): DataFrame = df
      .select(col("vec_id").as(idc), col("embedding"),
        hyperplaneSignature(col("embedding"), nBits).as("sig"))
      .select(col(idc), col("embedding"),
        explode(array((0 until bands).map(b => struct(lit(b).as("band"),
          shiftright(col("sig"), b * bits)
            .bitwiseAND((1L << bits) - 1).as("bkey"))): _*)).as("bk"))
      .select(col(idc), col("embedding"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    banded(corpus, "vec_id").as("c")
      .join(broadcast(banded(bench, "bench_id")).as("q"),
        col("c.band") === col("q.band") && col("c.bkey") === col("q.bkey"))
      .select(col("c.vec_id").as("vec_id"), col("bench_id"),
        cosine(col("c.embedding"), col("q.embedding")).as("cos"))
      .filter(col("cos") >= minCos)
      .distinct()
  }

  /** k-NN JOIN: top-k neighbours for EVERY corpus vector — the kNN
    * graph that embedding-level curation (SemDeDup-style cluster
    * pruning, graph-based diversity sampling) is built on. Differs
    * from [[lshTopK]] in that the query set IS the corpus, so nothing
    * broadcasts: candidates come from the banded signature SELF-join
    * ([[nearDupPairs]]'s blocking), with `maxBucketSize` applying the
    * d11 mega-bucket cap — which at this operator's bucket density is
    * MANDATORY at scale, not optional (see the in-body note: the
    * 4-bit default degenerates quadratically past ~10^5 vectors).
    *
    * Each unordered candidate pair is scored ONCE (cosine is
    * symmetric: a<b join + distinct, then both directions are emitted
    * by a union — half the dot products of the naive id≠id self-join).
    * Per-vector ranking is one key-partitioned window whose
    * WindowGroupLimit partial pre-trims to k rows per vector before
    * the final exchange. */
  def knnJoin(corpus: DataFrame, k: Int,
              nBits: Int = 16, bands: Int = 4,
              maxBucketSize: Option[Long] = None): DataFrame = {
    val bits = nBits / bands
    val sig = hyperplaneSignature(col("embedding"), nBits)
    val banded0 = corpus
      .select(col("vec_id").as("id"), sig.as("sig"))
      .select(col("id"),
        explode(array((0 until bands).map(b => struct(lit(b).as("band"),
          shiftright(col("sig"), b * bits)
            .bitwiseAND((1L << bits) - 1).as("bkey"))): _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    // the d11 mega-bucket cap, which at this operator's density is the
    // SCALE GATE, not an option: a band key has only 2^(nBits/bands)
    // values, so bucket population grows linearly with the corpus and
    // the self-join quadratically — at 1M vectors the 4-bit default
    // degenerates to ~62k ids/bucket ≈ 31G candidate pairs (measured:
    // the sf10 gate spilled past a 65 GB temp disk). Capped, a vector
    // in a dropped bucket still pairs through its other bands; only
    // degenerate near-dup GROUPS larger than the cap lose edges.
    // Staged like nearDupPairs: capped, banded0 feeds the hot agg and
    // both self-join sides with differing exchanges (no reuse) — the
    // staging collapses up to 4 signature computes to one. EAGERLY
    // materialized (autoFreeEager): the hot agg and the anti-join's
    // left map stage race on the cold lazy cache (round-17 A/B,
    // identical rows: lazy 1.35 med / 1.24 min s vs eager 1.26 / 1.19
    // at sf0.1); the consuming action's end frees the blocks (the
    // round-16 lifecycle). Round 18 re-tested LAZY staging here for
    // the knnCentrality path (whose first consumer is its own edge
    // checkpoint — the d07 eagerSigs trade): a wash with a WORSE
    // median (eager 2.09 med / 1.89 min s vs lazy 2.26 / 1.75,
    // 92dfbba:src/main/scala/graft/tools/AbR18.scala s06banded) — unlike
    // d07's signature stage this one is
    // (id, band, bkey) rows whose build job is cheap, and the lazy
    // race re-runs the corpus scan + hyperplane signature up to 3×.
    // Eager kept for every caller.
    val banded = maxBucketSize.fold(banded0) { cap =>
      val staged = Staged.autoFreeEager(banded0)
      val hot = staged.groupBy("band", "bkey")
        .agg(count(lit(1)).as("__n")).filter(col("__n") > cap)
        .select("band", "bkey")
      staged.join(hot, Seq("band", "bkey"), "left_anti")
    }
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val vecs = corpus.select(col("vec_id"), col("embedding"))
    val scored = pairs
      .join(vecs.as("va"), col("id_a") === col("va.vec_id"))
      .join(vecs.as("vb"), col("id_b") === col("vb.vec_id"))
      .select(col("id_a"), col("id_b"),
        cosine(col("va.embedding"), col("vb.embedding")).as("cos"))
    // both directions via ONE explode, not a self-union: the union's
    // second branch re-ran the whole candidate-mining + vector-fetch +
    // cosine subtree (ReuseExchange dedups only the exchanges below
    // it — the final joins and the cosine evaluated twice, visible as
    // two full branches under the plan's Union node). explode(array)
    // emits the same two rows per scored pair in a single pass.
    val both = scored
      .select(explode(array(
        struct(col("id_a").as("query_id"), col("id_b").as("vec_id"), col("cos")),
        struct(col("id_b").as("query_id"), col("id_a").as("vec_id"), col("cos"))))
        .as("e"))
      .select(col("e.query_id").as("query_id"), col("e.vec_id").as("vec_id"),
        col("e.cos").as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    both.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "cos")
  }

  /** kNN-graph CENTRALITY (s06): PageRank over the [[knnJoin]] graph,
    * in INTEGER mass units so every engine/partitioning produces the
    * same bits — the graph-based diversity/centrality signal
    * embedding curation ranks with (a doc whose neighbourhood points
    * back at it is a cluster core; fringe docs collect little mass).
    *
    * Each node starts with 1,000,000 mass units; one iteration is
    * `mass'(v) = 150000 + (850 · Σ_{u→v} (mass(u) div deg(u))) div
    * 1000` — the α=0.15 teleport in exact integer arithmetic
    * (truncating div on non-negative values agrees between Spark's
    * `div` and DuckDB's `//`; dangling and rounding mass simply
    * leaks, deterministically). Two shuffles per iteration, both
    * carrying 2-long rows: mass joins edges on src, contributions
    * aggregate on dst — the Pregel shape with the d06 discipline
    * (embeddings never enter the loop; the edge list is reusable
    * across iterations and would be co-partitioned+cached on a
    * cluster).
    *
    * EAGER-EXECUTION NOTE (round 17): this is an eager EXECUTOR, not
    * a plan builder — the edge checkpoint and the in-mass checkpoint
    * run the full kNN join and the whole PageRank loop AT CALL TIME;
    * the returned frame is a cheap join over the materialized mass
    * blocks, which are freed by ContextCleaner GC once the frame is
    * dropped (the corpus-scaled edge blocks are freed deterministically
    * before returning). Callers that only want the plan (explain,
    * PlanSpec-style pinning) pay full execution. */
  def knnCentrality(corpus: DataFrame, k: Int, iters: Int = 2,
                    nBits: Int = 16, bands: Int = 4,
                    maxBucketSize: Option[Long] = None): DataFrame = {
    // the graph is built ONCE and read `iters` times — persist() cuts
    // the banded self-join subtree so it executes once, not per
    // iteration (the d03 staging discipline; on a cluster this stage
    // is a parquet table, and it measured 21s/iteration unstaged at
    // sf1). Out-degree rides the SAME query_id partitioning knnJoin's
    // ranking window already established — count(*) over (partition by
    // query_id) adds a Window node but NO exchange — so the old
    // separate deg aggregate + per-iteration deg join are gone.
    // maxBucketSize passes straight through to [[knnJoin]] — the
    // mega-bucket cap is MANDATORY at scale there, so centrality
    // callers must be able to wire it (round-13 verdict: the cap
    // existed but no gated caller could pass it through this path).
    val nodes = corpus.select(col("vec_id"))
    if (iters == 0) return nodes.withColumn("mass", lit(1000000L))
    // The connectedComponents pattern (round 17): the edge list is
    // EAGERLY checkpointed (a lazy persist is populated cold by
    // whichever of the loop's independent map stages wins the race —
    // A/B'd at 2.33 med / 2.16 min s lazy vs 1.76 / 1.47 eager,
    // identical rows), the FINAL in-mass aggregate is checkpointed
    // too (materializing every round while the graph blocks are warm
    // — A/B'd against the cache-staged alternative at 2.88 med /
    // 2.57 min vs 2.23 / 1.88), and the BIG stage is then freed
    // deterministically before returning: the result plan references
    // only the nodes-sized mass blocks, so nothing corpus-scaled
    // outlives the call.
    val edges = Staged.checkpointStage(
      knnJoin(corpus, k, nBits, bands, maxBucketSize)
        .select(col("query_id").as("src"), col("vec_id").as("dst"),
          count(lit(1)).over(Window.partitionBy("query_id")).as("deg")),
      eager = true)
    // Mass is carried IMPLICITLY by the in-mass aggregate of the
    // previous round: a node absent from `inm` received no
    // contributions, so its mass is exactly the teleport term —
    // coalesce(inm, 0) reproduces the old all-nodes mass table without
    // materializing it. Round 1 is uniform (1,000,000 everywhere), so
    // it needs NO mass join at all; later rounds pay ONE join
    // (edges ⋈ inm on src) instead of the previous three per round
    // (edges ⋈ mass, ⋈ deg, nodes ⋈ contrib), and the full node list
    // is re-attached once at the end. Values are bit-identical: the
    // integer formula is unchanged, only where it is evaluated moved.
    val inm = (1 to iters).foldLeft(null: DataFrame) { (prev, _) =>
      val withMass =
        if (prev == null) edges.withColumn("mass", lit(1000000L))
        else edges.join(prev.withColumnRenamed("vec_id", "src"), Seq("src"), "left")
          .withColumn("mass",
            expr("150000L + (850 * coalesce(inm, 0L)) div 1000"))
      withMass
        .select(col("dst").as("vec_id"), expr("mass div deg").as("c"))
        .groupBy("vec_id").agg(sum(col("c")).as("inm"))
    }
    val inmMat = Staged.checkpointStage(inm, eager = true)
    // the loop is fully materialized in `inmMat` — free the corpus-
    // scaled edge blocks now, inside the operator (the CC discipline)
    org.apache.spark.sql.GraftInternal.unpersistBackingRdd(edges)
    nodes.join(inmMat, Seq("vec_id"), "left")
      .select(col("vec_id"),
        expr("150000L + (850 * coalesce(inm, 0L)) div 1000").as("mass"))
  }

  /** SEMANTIC dedup (the SemDeDup shape): cluster embeddings into IVF
    * cells, mine cosine >= `eps` pairs INSIDE cells only, and drop the
    * higher id of every such pair — keeping, per epsilon-clique, the
    * lowest-id member. Returns the survivors with their cluster
    * representative (the min surviving vec_id of the cell — a label
    * both engines can derive, unlike the positional cell id, which
    * this pipeline renumbers per Lloyd step while the oracle keeps
    * seed ids).
    *
    * This is the embedding-level complement of d05: d05 finds ALL
    * near-dup pairs via signature banding (pairs can cross any
    * bucket); semDedup trades that recall for a clustering the
    * curation pipelines prune with — candidate generation is one
    * cell-keyed self-join, so a pair is considered exactly when both
    * members land in the same cell (the published SemDeDup design).
    *
    * Scale shape: centroids train on map-side-shrinking corpus scans
    * and travel by broadcast ([[trainCentroids]]); assignment is
    * row-local; the corpus then shuffles ONCE keyed by cell (exactly
    * a groupBy-sized exchange), and the quadratic pair stage is
    * bounded per cell — at 100 TB, nCells scales with corpus size
    * (cells of ~constant size) and a d11-style mega-cell cap bounds
    * the worst cell. The drop rule needs no CC iteration: membership
    * of the drop set is decided per pair, so one anti-join finishes
    * the job. */
  def semDedup(corpus: DataFrame, eps: Double, nCells: Int = 16,
               lloydIters: Int = 1): DataFrame = {
    val centroids = trainCentroids(corpus, nCells, lloydIters)
    // staged: the assigned-cells frame feeds BOTH sides of the in-cell
    // self-join AND the anti-join's left side — unstaged, the
    // assignment scan (nearestCells argmax over every corpus row) ran
    // 3×, and ReuseExchange cannot dedup the differently-keyed
    // consumers. EAGERLY materialized (autoFreeEager) rather than
    // lazily: the self-join's two map stages race on the cold cache
    // (round-17 interleaved A/B, identical rows: lazy 1.22 med / 1.01
    // min s vs eager 1.06 / 0.94 at sf0.1); the consuming action's
    // end frees the blocks (the round-16 lifecycle).
    val cells = Staged.autoFreeEager(assignCells(corpus, centroids, 1)
      .select(col("vec_id"), col("embedding"),
        element_at(col("cells"), 1).as("cell_id")))
    val drops = cells.as("a").join(cells.as("b"),
        col("a.cell_id") === col("b.cell_id") &&
        col("a.vec_id") < col("b.vec_id"))
      .filter(cosine(col("a.embedding"), col("b.embedding")) >= eps)
      .select(col("b.vec_id").as("vec_id"))
      .distinct()
    val kept = cells.join(drops, Seq("vec_id"), "left_anti")
    val w = Window.partitionBy("cell_id")
    kept.withColumn("cell_rep", min(col("vec_id")).over(w))
      .select(col("vec_id"), col("cell_rep"))
  }

  /** The k-means MODEL as a first-class result (q66): per cell its
    * min-member-id label (numbering-independent — Spark numbers cells
    * positionally, an oracle may keep seed ids; the min member id is
    * the same under any scheme), member count, and the trained
    * centroid. This is the training half that s03 (IVF), s04 (PQ) and
    * q55 (SemDeDup) consume implicitly; exposing it makes the trainer
    * itself oracle-checkable and gives curation pipelines the artifact
    * they actually persist (a centroid table to re-assign against —
    * retraining per downstream query would re-scan the corpus).
    *
    * Scale shape is [[trainCentroids]]'s: each Lloyd step is one
    * corpus scan whose (cell, dim) partials shrink map-side to
    * nCells×dims rows; centroids broadcast; the final stats pass is
    * one nCells-sized aggregation. Empty cells (every vector nearer
    * some other centroid) drop out on both engines by the same
    * membership rule. */
  def kmeansModel(corpus: DataFrame, nCells: Int = 16,
                  lloydIters: Int = 1): DataFrame = {
    val centroids = trainCentroids(corpus, nCells, lloydIters)
    // stats first (cells-sized), attach the broadcast centroid array
    // AFTER the aggregation — carrying the nCells×dims array per
    // corpus row through the shuffle would multiply the exchange by
    // the model size
    assignCells(corpus, centroids, 1)
      .select(col("vec_id"), element_at(col("cells"), 1).as("cell_id"))
      .groupBy("cell_id")
      .agg(min(col("vec_id")).as("cell_rep"),
        count(lit(1)).as("n_members"))
      .crossJoin(broadcast(centroids))
      .select(col("cell_rep"), col("n_members"),
        transform(element_at(col("cents"), col("cell_id") + 1),
          _.cast("double")).as("centroid"))
  }

  /** Cluster-balanced subset selection (q67): up to `quota` vectors
    * per k-means cell, picked in deterministic hash order — the
    * cluster-coverage sampling curation recipes use to keep topical
    * diversity while shrinking a corpus (a uniform sample keeps the
    * head topics; per-cell quotas keep the tail). Order inside a cell
    * is (md5(vec_id), vec_id) — content-independent, engine-portable
    * (the same hex ranking the seed step already relies on), and
    * stable under any partitioning.
    *
    * Scale shape: assignment is row-local (broadcast centroids); the
    * quota cut is ONE window shuffle keyed by cell — and cells are
    * ~constant-size by construction (nCells grows with the corpus),
    * so no window partition is ever skewed. */
  def clusterBalancedSample(corpus: DataFrame, quota: Int,
                            nCells: Int = 16,
                            lloydIters: Int = 1): DataFrame = {
    val centroids = trainCentroids(corpus, nCells, lloydIters)
    val cells = assignCells(corpus, centroids, 1)
      .select(col("vec_id"), element_at(col("cells"), 1).as("cell_id"))
    val w = Window.partitionBy("cell_id")
      .orderBy(md5(col("vec_id").cast("string").cast("binary")).asc,
        col("vec_id").asc)
    val repW = Window.partitionBy("cell_id")
    cells
      .withColumn("cell_rep", min(col("vec_id")).over(repW))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= quota)
      .select(col("vec_id"), col("cell_rep"))
  }
}
