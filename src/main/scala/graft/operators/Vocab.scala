package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained vocabulary filters — the CCNet/Gopher quality-model
  * shape: a small model is TRAINED with one map-side-combined
  * aggregation over the corpus (output is vocabulary-sized, not
  * corpus-sized), then APPLIED row-locally with the model riding the
  * plan as a hashed reference object (functions/VocabExpressions).
  *
  * Scale contract: the train step's collect moves only the top-K /
  * vocabulary-sized model to the driver — the same adjudicated
  * pattern as d16's hot-segment set and d09's Bloom literal (SURVEY
  * §4): it is how Spark's own runtime filters distribute small
  * data-derived state. The apply step scans the corpus ONCE with zero
  * shuffles. At 100 TB both models are capped (top-K by frequency
  * with deterministic ties) so driver memory is bounded by K, not by
  * corpus vocabulary.
  */
object Vocab {

  /** Whitespace tokens, lowercased — the corpus-wide tokenization every
    * text op shares (t01's convention; oracle form
    * `string_split_regex(trim(lower(text)), '\s+')`). */
  def toks(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Top-K tokens by corpus frequency; ties broken by token ascending
    * so the vocabulary is deterministic across engines and runs. */
  def topTokens(docs: DataFrame, textCol: Column, k: Int): Seq[String] =
    docs.select(explode(toks(textCol)).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(k)
      .collect().map(_.getString(0)).toSeq

  /** Top-K unigram occurrence counts (count desc, token asc ties —
    * deterministic across engines and layouts, like [[topTokens]]).
    * The cap is what bounds the driver model at 100 TB: corpus
    * vocabulary grows ~heap's-law with corpus size, so an uncapped
    * collect is a linear-growth driver object; a prefix absent from
    * the capped table falls back to count 1 in the scorer
    * (VocabUtil.bigramSurprise's `uni.getOrElse(w1, 1L)`), which reads
    * as "rare prefix, conditional ratio ≈ its pair count" — 0 bits
    * when the pair is also untabled, the desired behavior for a
    * below-top-K prefix. */
  def unigramCounts(docs: DataFrame, textCol: Column,
                    k: Int): Seq[(String, Long)] =
    docs.select(explode(toks(textCol)).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq

  /** Top-K adjacent-pair (bigram) counts, key = "w1 w2"; deterministic
    * (count desc, w1 asc, w2 asc) ties. The pair stream is produced
    * row-locally (zip of the token array with its own tail) — no
    * positional self-join. */
  def topBigrams(docs: DataFrame, textCol: Column, k: Int): Seq[(String, Long)] = {
    val t = toks(textCol)
    val pairs = zip_with(
      slice(t, lit(1), greatest(size(t) - 1, lit(0))),
      slice(t, lit(2), greatest(size(t) - 1, lit(0))),
      (a, b) => concat_ws(" ", a, b))
    docs.select(explode(pairs).as("bg"))
      // a "" token only occurs alone (split of blank text), so it never
      // forms a pair — no filter needed; guard anyway for direct calls
      // on pre-tokenized input
      .filter(!col("bg").startsWith(" ") && !col("bg").endsWith(" "))
      .groupBy("bg").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("bg").asc)
      .limit(k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
  }

  /** Out-of-vocabulary rate per document against the top-`k` token
    * list: (n_tok, n_oov, integer per-mille). One corpus scan to
    * train (vocab-sized output), one zero-shuffle scan to score. */
  def oovRate(docs: DataFrame, idCol: Column, textCol: Column,
              k: Int = 16): DataFrame = {
    val vocab = topTokens(docs, textCol, k)
    docs.select(idCol.as("doc_id"),
        graft.functions.VocabFunctions.vocabStats(toks(textCol), vocab).as("st"))
      .select(col("doc_id"),
        col("st.n_tok").as("n_tok"),
        col("st.n_oov").as("n_oov"),
        expr("(1000 * st.n_oov) div greatest(st.n_tok, 1)").as("oov_milli"))
  }

  /** Bigram-LM surprise per document — the perplexity-filter proxy:
    * per adjacent pair, `floor(log2(c_uni(w1) div c_big(w1 w2)))` bits
    * (integer-exact; see functions/VocabExpressions.scala), summed and
    * averaged as integer milli-bits. Train = two TOP-K-CAPPED
    * aggregates (`kUni` unigrams, `k` bigrams — both driver models
    * bounded by their caps, not by corpus vocabulary); apply = one
    * zero-shuffle corpus scan. */
  def bigramSurprise(docs: DataFrame, idCol: Column, textCol: Column,
                     k: Int = 64, kUni: Int = 4096): DataFrame = {
    // round-18 audit note: fusing the two training scans into ONE
    // tagged-key explode ("u "+token ∪ "b "+pair → one aggregate, two
    // top-K collects — the t17 dsirScore trick) was built and A/B'd
    // (92dfbba:src/main/scala/graft/tools/AbR18.scala "t16fuse") and
    // REJECTED: 1.478 → 1.970 s med (+33 %,
    // identical rows). Unlike t17 — where both models share ONE key
    // space and the second model is a conditional count on the SAME
    // rows — the t16 fusion doubles the exploded row count (tokens +
    // pairs) and unions two vocabularies into one larger hash
    // aggregate, which costs more than the saved tokenizer pass. The
    // two scans below also pipeline straight into TakeOrdered with no
    // persist job. Two scans kept deliberately.
    val uni = unigramCounts(docs, textCol, kUni)
    val big = topBigrams(docs, textCol, k)
    docs.select(idCol.as("doc_id"),
        graft.functions.VocabFunctions.bigramSurprise(toks(textCol), uni, big).as("st"))
      .select(col("doc_id"),
        col("st.n_bigrams").as("n_bigrams"),
        col("st.total_bits").as("total_bits"),
        expr("(1000 * st.total_bits) div greatest(st.n_bigrams, 1)").as("milli_bits"))
  }

  /** One [[graft.functions.BigramInfo]] model — (top-K pair table,
    * total pair count N) — from ONE corpus scan: the vocab-sized
    * count table persists, and both the deterministic top-K and the
    * total (Σ counts — identical to summing max(ntok-1, 0) per doc,
    * since every non-empty adjacent pair lands in exactly one group)
    * are derived from it without touching the corpus again. */
  def bigramModel(docs: DataFrame, textCol: Column,
                  k: Int): (Seq[(String, Long)], Long) = {
    val t = toks(textCol)
    val pairs = zip_with(
      slice(t, lit(1), greatest(size(t) - 1, lit(0))),
      slice(t, lit(2), greatest(size(t) - 1, lit(0))),
      (a, b) => concat_ws(" ", a, b))
    val cnts = Staging.persist(docs.select(explode(pairs).as("bg"))
      .filter(!col("bg").startsWith(" ") && !col("bg").endsWith(" "))
      .groupBy("bg").agg(count(lit(1)).as("c")), eager = false)
    try {
      val top = cnts.orderBy(col("c").desc, col("bg").asc).limit(k)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      val total = cnts.agg(coalesce(sum(col("c")), lit(0L)))
        .collect()(0).getLong(0)
      (top, total)
    } finally Staging.free(cnts)
  }

  /** DSIR-style data-selection importance score (Xie et al.'s hashed
    * n-gram importance resampling, made integer-exact): per document,
    * `score_bits = raw_bits - tgt_bits`, where each side is the
    * total UNCONDITIONAL bigram information of the doc under that
    * corpus's model — `Σ floor(log2(max(N_X div c_X(pair), 1)))` with
    * `N_X` the model corpus's total bigram count and `c_X` its
    * top-K-pruned pair table ([[graft.functions.BigramInfo]]; a pair
    * absent from a table costs the max `floor(log2(N_X))` bits, so
    * unseen-in-target reads as improbable-under-target). A high score
    * means the doc is cheaper to encode under the TARGET distribution
    * than under the raw corpus — the docs importance resampling
    * upweights. Plain subtraction, no division: negative scores stay
    * exact on both engines (integer `div` rounding conventions
    * differ; `-` does not).
    *
    * Train = ONE tokenize+explode corpus scan feeding a single
    * vocabulary-sized (c_raw, c_tgt) conditional-count aggregate
    * (the target is a subset of the corpus, so its counts ride the
    * same groups); apply = ONE zero-shuffle corpus scan with both
    * models riding the plan as hashed references. At 100 TB the
    * target is typically sampled — both tables stay top-K-bounded
    * regardless. */
  def dsirScore(docs: DataFrame, idCol: Column, textCol: Column,
                targetFilter: Column, k: Int = 64): DataFrame = {
    // Both models from ONE tokenize+explode corpus scan (was two
    // [[bigramModel]] calls = two full scans): the raw count is
    // count(*), the target count a conditional count — a bigram's
    // target rows are exactly its rows from target docs, so
    // (top-K, N) per side derived from this table equal the two
    // separate models' (same tie order c desc, bg asc; the target
    // table's support is the ct > 0 slice). Measured on t17 at sf0.1
    // (interleaved same-JVM A/B, 5 pairs): median 1.74 → 1.54 s,
    // min 1.64 → 1.44 s, identical rows.
    val t = toks(textCol)
    val pairs = zip_with(
      slice(t, lit(1), greatest(size(t) - 1, lit(0))),
      slice(t, lit(2), greatest(size(t) - 1, lit(0))),
      (a, b) => concat_ws(" ", a, b))
    val cnts = Staging.persist(docs
      .select(targetFilter.as("__is_tgt"), explode(pairs).as("bg"))
      .filter(!col("bg").startsWith(" ") && !col("bg").endsWith(" "))
      .groupBy("bg").agg(count(lit(1)).as("c"),
        count(when(col("__is_tgt"), lit(1))).as("ct")), eager = false)
    val (bigRaw, nRaw, bigTgt, nTgt) = try {
      val top = cnts.orderBy(col("c").desc, col("bg").asc).limit(k)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      val topT = cnts.filter(col("ct") > 0)
        .orderBy(col("ct").desc, col("bg").asc).limit(k)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toSeq
      val totals = cnts.agg(coalesce(sum(col("c")), lit(0L)),
        coalesce(sum(col("ct")), lit(0L))).collect()(0)
      (top, totals.getLong(0), topT, totals.getLong(1))
    } finally Staging.free(cnts)
    docs.select(idCol.as("doc_id"),
        graft.functions.VocabFunctions.bigramInfo(toks(textCol), bigRaw, nRaw).as("r"),
        graft.functions.VocabFunctions.bigramInfo(toks(textCol), bigTgt, nTgt).as("g"))
      .select(col("doc_id"),
        col("r.n_bigrams").as("n_bigrams"),
        col("r.total_bits").as("raw_bits"),
        col("g.total_bits").as("tgt_bits"),
        (col("r.total_bits") - col("g.total_bits")).as("score_bits"))
  }
}
