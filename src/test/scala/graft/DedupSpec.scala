package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends TestSpark {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while rain falls softly " +
    "on the quiet village roofs tonight"                       // 19 tokens

  private def docs = Seq(
    (1L, base),
    (2L, base),                                                // exact dup of 1
    (3L, base.replace("tonight", "today")),                    // near dup of 1
    (4L, "completely different words about spark engines and data"),
    (5L, "data and engines spark about words different completely"), // same SET, different order
    (6L, "unrelated text mentioning nothing similar at all anywhere here")
  ).toDF("id", "text")

  test("exact dedup keeps one deterministic representative per key") {
    val out = Dedup.exact(docs, md5(col("text")), col("id"))
    assert(out.count() === 5)
    // dup group {1,2} keeps min id = 1
    assert(out.filter(col("id").isin(1L, 2L)).select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("shingle jaccard is order-sensitive: reordered docs are NOT near-dups") {
    val pairs = Dedup.ngramJaccardPairs(docs, col("id"), col("text"), 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))   // identical
    assert(pairs.contains((1L, 3L)))   // one-word edit, J ≈ 0.86
    assert(!pairs.contains((4L, 5L)))  // same token SET but different order
    assert(!pairs.exists(p => p._1 == 6L || p._2 == 6L))
  }

  test("containment flags a quoted subset that symmetric jaccard misses") {
    val short = "alpha beta gamma delta epsilon"              // 3 shingles
    val long = short + " " + (1 to 30).map(i => s"w$i").mkString(" ")
    val quoted = Seq((1L, short), (2L, long)).toDF("id", "text")
    // jaccard = 3/33 ≈ 0.09 — d02-style mining at 0.6 sees nothing
    assert(Dedup.ngramJaccardPairs(quoted, col("id"), col("text"), 0.6).isEmpty)
    val cont = Dedup.containmentPairs(quoted, col("id"), col("text"), 0.9)
      .select("id_a", "id_b", "inter", "size_a", "size_b", "containment")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(cont === Seq((1L, 2L, 3L, 3L, 33L, 1.0)))
  }

  test("doc-frequency cap drops boilerplate shingles but keeps exact dups") {
    val pairs = Dedup.ngramJaccardPairs(docs, col("id"), col("text"), 0.5,
        maxDocFreq = Some(2L))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // shingles shared by docs 1,2,3 have df=3 and are dropped; docs 1,2
    // still match on their df=2 "tonight" shingles, doc 3 no longer does
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("minhash-LSH candidates match brute-force jaccard pairs at high threshold") {
    val brute = Dedup.ngramJaccardPairs(docs, col("id"), col("text"), 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, col("id"), col("text"),
        bands = 16, rowsPerBand = 4, minJaccard = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // LSH verifies candidates exactly, so lsh ⊆ brute always; with 16
    // bands of 4 rows, P(miss | J>=0.7) < 1% → equality on this fixture.
    assert(lsh === brute)
    assert(lsh.contains((1L, 2L)))
  }

  test("simhash: identical docs collide at distance 0, near-dups nearby") {
    val fps = docs.select(col("id"), Dedup.simhash(col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fps(1L) === fps(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fps(1L), fps(3L)) <= 16)       // one word changed
    assert(ham(fps(1L), fps(6L)) > 16)        // unrelated
    val pairs = Dedup.simhashPairs(docs, col("id"), col("text"), maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("split-leakage audit equals near-dup pairs filtered by split assignment") {
    // t13 wiring check against its own verified building blocks: the
    // leakage rows must be exactly the d02 pairs whose t12 splits differ
    val leak = SparkEntry.queries("t13_split_leakage")(spark, sfDir)
      .select("id_a", "id_b", "split_a", "split_b")
      .as[(Long, Long, String, String)].collect().toSet
    val splits = SparkEntry.queries("t12_split_assign")(spark, sfDir)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val expected = Dedup.ngramJaccardPairs(
        Tables(spark, sfDir, "documents"), col("doc_id"), col("text"), 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .map { case (a, b) => (a, b, splits(a), splits(b)) }
      .filter(r => r._3 != r._4).toSet
    assert(leak === expected)
    assert(leak.forall(r => r._3 != r._4))
  }

  test("minhash-LSH agrees with brute force on the real documents table") {
    val real = Tables(spark, sfDir, "documents")
    val brute = Dedup.ngramJaccardPairs(real, col("doc_id"), col("text"), 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(real, col("doc_id"), col("text"),
        bands = 16, rowsPerBand = 4, minJaccard = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute))
    // banding catches >= 80% of J>=0.8 pairs in expectation
    assert(brute.isEmpty || lsh.size.toDouble / brute.size >= 0.8)
  }

  test("LSH bucket cap drops mega-buckets but small near-dup groups still pair") {
    // 30 identical boilerplate docs (one mega-group) + one small
    // near-dup pair of distinct text
    val docs = (0 until 30).map(i => (i.toLong, base)) ++
      Seq((100L, base + " extra tail"), (101L, base + " extra tail"))
    val df = docs.toDF("doc_id", "text")
    val uncapped = Dedup.minhashLshPairs(df, col("doc_id"), col("text"),
      minJaccard = 0.8).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val capped = Dedup.minhashLshPairs(df, col("doc_id"), col("text"),
      minJaccard = 0.8, maxBucketSize = Some(10L))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((100L, 101L)))
    assert(uncapped.size >= 30 * 29 / 2) // the mega-group went quadratic
    assert(capped === Set((100L, 101L))) // cap kills it; small pair survives
  }

  test("dedupCorpus: no near-dup pair survives and representatives are kept") {
    val real = Tables(spark, sfDir, "documents")
    val deduped = Dedup.dedupCorpus(real, col("doc_id"), col("text"),
      minJaccard = 0.6)
    // two surviving docs from different clusters can have no pair
    // between them (a pair would have merged their components)
    val residual = Dedup.minhashLshPairs(deduped, col("doc_id"), col("text"),
      minJaccard = 0.6)
    assert(residual.isEmpty)
    // every original doc is either a survivor or a non-representative
    val exactDeduped = Dedup.exact(real, md5(col("text")), col("doc_id"))
    val pairs = Dedup.minhashLshPairs(exactDeduped, col("doc_id"), col("text"),
      minJaccard = 0.6)
    val nonReps = Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("cluster_id")).count()
    assert(deduped.count() + nonReps === exactDeduped.count())
  }

  test("decontaminate drops benchmark near-copies, keeps diluted quotes") {
    val bench = Seq((100L, base)).toDF("bid", "btext")
    val corpus = Seq(
      (1L, base),                                  // verbatim benchmark copy
      (2L, base.replace("tonight", "today")),      // near-copy, high overlap
      (3L, base + " " + (1 to 36).map(i => s"pad$i").mkString(" ")),
      // ^ quotes the benchmark but is mostly other text (diluted:
      //   distinct padding words, so the shingle count really grows)
      (4L, "completely different words about spark engines and data")
    ).toDF("id", "text")
    val pairs = Dedup.contaminationPairs(corpus, col("id"), col("text"),
        bench, col("bid"), col("btext"), minOverlapMilli = 600L)
      .select("doc_id", "bench_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 100L)))
    assert(pairs.contains((2L, 100L)))
    assert(!pairs.exists(_._1 == 3L)) // overlap diluted below threshold
    assert(!pairs.exists(_._1 == 4L))
    val clean = Dedup.decontaminate(corpus, col("id"), col("text"),
        bench, col("bid"), col("btext"), minOverlapMilli = 600L)
      .select("id").as[Long].collect().toSet
    assert(clean === Set(3L, 4L))
    // verbatim copy overlaps at exactly 1000 per-mille
    val full = Dedup.contaminationPairs(corpus, col("id"), col("text"),
        bench, col("bid"), col("btext"), minOverlapMilli = 1000L)
      .select("doc_id").as[Long].collect().toSet
    assert(full === Set(1L))
  }

  test("incrementalDedup: exact copies and corpus-reachable chains drop, " +
       "fresh content survives") {
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val aTxt = base.replace("w5", "x5")   // near-dup of the corpus doc
    val bTxt = aTxt.replace("w15", "y15") // near-dup of A, not of corpus
    val corpus = Seq((100L, base),
      (101L, "totally different content here entirely"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, base), // exact copy of corpus content
      (2L, aTxt), // near-dup of corpus
      (3L, bTxt), // reachable only VIA 2 — corpus precedence is transitive
      (4L, "unrelated fresh words nobody else uses at all"),
      (5L, "unrelated fresh words nobody else uses at all") // exact dup of 4
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(corpus, col("doc_id"), col("text"),
        batch, col("doc_id"), col("text"), minJaccard = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(out === Set(4L))
  }

  test("incrementalDedup survivors: no residual near-dup pair within the " +
       "batch or against the corpus") {
    val docs = Tables(spark, sfDir, "documents")
    val corpus = docs.filter(col("doc_id") % 7 =!= 0)
    val batch = docs.filter(col("doc_id") % 7 === 0)
    val out = Dedup.incrementalDedup(corpus, col("doc_id"), col("text"),
      batch, col("doc_id"), col("text"), minJaccard = 0.6)
    assert(out.count() > 0)
    assert(Dedup.minhashLshPairs(out, col("doc_id"), col("text"),
      minJaccard = 0.6).isEmpty)
    // survivors shifted into their own id range, mined against the
    // corpus: any cross pair would mean a survivor near-dups the corpus
    val offset = 1000000L
    val union = corpus.select(col("doc_id"), col("text"))
      .unionAll(out.select((col("doc_id") + offset).as("doc_id"), col("text")))
    val cross = Dedup.minhashLshPairs(union, col("doc_id"), col("text"),
        minJaccard = 0.6)
      .filter((col("id_a") >= offset) =!= (col("id_b") >= offset))
    assert(cross.isEmpty)
  }

  test("connected components: chains propagate the min label transitively") {
    // 1-2, 2-3, 3-4 is a diameter-3 path (needs >1 propagation round);
    // 10-11 is a separate component; 7-5 checks min via the larger id
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (7L, 5L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 5L -> 5L, 7L -> 5L))
  }

  test("dedupCorpus with two-phase CC keeps the same survivors") {
    val real = Tables(spark, sfDir, "documents")
    val viaLabels = Dedup.dedupCorpus(real, col("doc_id"), col("text"),
      minJaccard = 0.6).select("doc_id").as[Long].collect().toSet
    val viaStars = Dedup.dedupCorpus(real, col("doc_id"), col("text"),
      minJaccard = 0.6, twoPhaseCc = true)
      .select("doc_id").as[Long].collect().toSet
    assert(viaStars === viaLabels)
  }

  test("label propagation is stepsPerJob-invariant on a random graph") {
    // 1, 2 and 3 steps per fused job must produce identical labels —
    // the fused round count is an execution schedule, not a semantic
    val rnd = new scala.util.Random(7)
    val pairs = (1 to 120)
      .map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
      .toDF("id_a", "id_b")
    val got = Seq(1, 2, 3).map { s =>
      val st = Dedup.labelLoop(pairs, maxIters = 60, stepsPerJob = s)
      val labels = st.result.as[(Long, Long)].collect().toMap
      st.cleanup()
      labels
    }
    assert(got(0) === got(1))
    assert(got(1) === got(2))
  }

  test("two-phase CC equals label propagation on a random graph") {
    // and so does the driver finish, which a graph this small takes
    Seq(42, 7, 1, 2024).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val pairs = (1 to 120)
        .map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter { case (a, b) => a != b }
        .toDF("id_a", "id_b")
      val loop = Dedup.labelLoop(pairs, maxIters = 60)
      val viaLabels = loop.result.as[(Long, Long)].collect().toMap
      loop.cleanup()
      val twoPhase = Dedup.connectedComponentsTwoPhase(pairs)
      val viaStars = twoPhase.result.as[(Long, Long)].collect().toMap
      twoPhase.cleanup()
      val local = Dedup.connectedComponentsStaged(pairs, maxIters = 60)
      assert(local.stages.isEmpty, s"seed $seed: not finished on the driver")
      val viaDriver = local.result.as[(Long, Long)].collect().toMap
      assert(viaStars === viaLabels, s"seed $seed")
      assert(viaDriver === viaLabels, s"seed $seed")
    }
  }

  test("the driver finish gives the label loop's rows: int and string " +
       "ids, self and duplicate pairs, empty and null ids") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.sortBy(_.toString)
    def same(pairs: org.apache.spark.sql.DataFrame): Unit = {
      val loop = Dedup.labelLoop(pairs)
      val want = rows(loop.result)
      val wantSchema = loop.result.schema
      loop.cleanup()
      val local = Dedup.connectedComponentsStaged(pairs)
      assert(local.stages.isEmpty, "not finished on the driver")
      assert(local.result.schema === wantSchema)
      assert(rows(local.result) === want)
    }
    same(Seq((1, 2), (2, 3), (10, 11), (7, 5)).toDF("id_a", "id_b"))
    // Spark's min is UTF-8 byte order: "｡" (U+FF61) sorts before "😀"
    // (U+1F600), though String.compareTo puts the surrogate pair first
    same(Seq(("😀", "｡"), ("b", "ab"), ("ab", "a"), ("é", "e"))
      .toDF("id_a", "id_b"))
    val emoji = Dedup.connectedComponents(Seq(("😀", "｡")).toDF("id_a", "id_b"))
      .as[(String, String)].collect().toMap
    assert(emoji === Map("😀" -> "｡", "｡" -> "｡"))
    same(Seq((1L, 1L), (2L, 3L), (3L, 2L), (2L, 3L), (4L, 4L), (4L, 5L))
      .toDF("id_a", "id_b"))
    same(Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    // a null id takes its neighbours' least label and passes on none
    same(Seq((Some(1L), Some(2L)), (None, Some(2L)), (Some(3L), None),
      (None, None)).toDF("id_a", "id_b"))
    same(Seq((Some(1L), Some(2L)), (None, None)).toDF("id_a", "id_b"))
  }

  test("connectedComponentsAuto falls back to star contraction when the " +
       "propagation budget is exhausted") {
    val chain = (0L until 50L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val st = Dedup.starFallback(chain, "id_a", "id_b", maxStarRounds = 30)(
      Dedup.labelLoop(chain, maxIters = 10))
    val got = st.result.as[(Long, Long)].collect().toMap
    st.cleanup()
    assert(got.size === 51)
    assert(got.values.forall(_ == 0L))
  }

  test("dedupCorpus completes on a high-diameter chain corpus via the " +
       "auto CC fallback") {
    // sliding-window docs: doc i = words i..i+11, so consecutive docs
    // share 11/12 tokens (shingle Jaccard 0.82) — a diameter-59 path
    // of near-dups. Label propagation's default 20-round budget cannot
    // converge on it; the pipeline must re-route to star contraction
    // instead of throwing.
    val docs = (0 until 60).map { i =>
      (i.toLong, (i until i + 12).map(w => s"w$w").mkString(" "))
    }.toDF("doc_id", "text")
    val kept = Dedup.dedupCorpus(docs, col("doc_id"), col("text"),
      minJaccard = 0.6).select("doc_id").as[Long].collect().toSet
    assert(kept.contains(0L), s"representative must be the min id: $kept")
    assert(kept.size <= 3, s"chain should collapse to ~1 survivor: $kept")
  }

  test("incrementalDedup rejects ids outside [0, 2^62) loudly") {
    val corpus = Seq((1L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val badBatch = Seq((-5L, "zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.incrementalDedup(corpus, col("doc_id"), col("text"),
        badBatch, col("doc_id"), col("text")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("2^62")), e)
  }

  test("d14: one keeper per cluster, argmax quality, doc_id tiebreak") {
    // cross-check the gated windowed-rank plan with an independent
    // groupBy-max aggregation over the same cluster membership
    val out = SparkEntry.queries("d14_cluster_canonical")(spark, sfDir)
      .select("cluster_id", "keep_doc_id", "keep_quality_bp", "cluster_sz")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.map(_._1).distinct.length == out.length) // one row per cluster
    val docs = Tables(spark, sfDir, "documents")
    val members = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 0.6))
      .join(docs.withColumnRenamed("doc_id", "id"), "id")
      .select(col("cluster_id"), col("id"),
        operators.TextAnalysis.qualityScoreBp(col("text")).as("q"))
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    out.foreach { case (cid, keep, kq, sz) =>
      val m = members(cid)
      assert(m.length.toLong == sz)
      val best = m.map { case (_, id, q) => (-q, id) }.min
      assert((keep, kq) == (best._2, -best._1), s"cluster $cid")
    }
  }

  test("segmentDedup cuts over-threshold segments from every doc, " +
       "preserves order, and leaves the rest byte-identical") {
    // an 8-token boilerplate header shared by 3 docs (count 3 > 2 →
    // hot), unique bodies, one short doc, one doc that is ONLY header
    val header = "copyright acme corp all rights strictly reserved forever"
    val corpus = Seq(
      (1L, s"$header alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"$header one two three four five six seven eight extra"),
      (3L, header),
      (4L, "just a tiny doc"),
      (5L, s"unique start padding words here fill the whole segment $header"))
    // doc 5's header is NOT segment-aligned (9 tokens precede it), so
    // its occurrences split differently and stay cold — alignment is
    // part of the operator's contract (discretized ExactSubstr)
    val got = Dedup.segmentDedup(corpus.toDF("doc_id", "text"),
        col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, 2L, 1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, 3L, 1L, "one two three four five six seven eight extra"),
      (3L, 1L, 1L, ""),
      (4L, 1L, 0L, "just a tiny doc"),
      (5L, 3L, 0L, s"unique start padding words here fill the whole segment $header")))
    // every input doc produced exactly one output row
    assert(got.map(_._1) === corpus.map(_._1).sorted)
  }

  test("cdcSegmentDedup: SHIFTED boilerplate resynchronizes and dedups — " +
       "the exact split aligned windows cannot make") {
    import org.apache.spark.unsafe.types.UTF8String
    def fp(w: String) = graft.functions.RollingFingerprintUtil
      .compute(UTF8String.fromString(w))
    // derive anchor (fp%8==0, closes a segment) and non-anchor words
    // from the operator's own fingerprint — no magic constants
    val pool = (1 to 500).map(i => s"w$i")
    val anchors = pool.filter(w => fp(w) % 8 == 0)
    val nons = pool.filter(w => fp(w) % 8 != 0)
    assert(anchors.size >= 2 && nons.size >= 8)
    val (a1, a2) = (anchors(0), anchors(1))
    val n = nons
    // boilerplate = two content-defined segments: [n0 n1 a1] [n2 n3 a2]
    val boiler = s"${n(0)} ${n(1)} $a1 ${n(2)} ${n(3)} $a2"
    val corpus = Seq(
      (1L, s"$boiler ${n(4)}"),
      (2L, s"$boiler ${n(5)}"),
      (3L, s"${n(6)} $boiler ${n(7)}")) // boilerplate SHIFTED one token
    // doc 3's prefix corrupts only the FIRST boilerplate segment (it
    // lands inside it); the second segment's boundary resynchronizes
    // at a1, so [n2 n3 a2] reaches count 3 > 2 and is cut EVERYWHERE
    val cdc = Dedup.cdcSegmentDedup(corpus.toDF("doc_id", "text"),
        col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).sortBy(_._1).toSeq
    assert(cdc === Seq(
      (1L, 3L, 1L, s"${n(0)} ${n(1)} $a1 ${n(4)}"),
      (2L, 3L, 1L, s"${n(0)} ${n(1)} $a1 ${n(5)}"),
      (3L, 3L, 1L, s"${n(6)} ${n(0)} ${n(1)} $a1 ${n(7)}")))
    // the aligned-window operator on the SAME corpus cuts nothing:
    // docs 1/2 and the shifted doc 3 window differently, every
    // whole-window segment is unique
    val aligned = Dedup.segmentDedup(corpus.toDF("doc_id", "text"),
        col("doc_id"), col("text"))
      .collect().map(_.getLong(2)).sum
    assert(aligned === 0L)
  }

  test("segmentDedup with nothing hot is the identity on text") {
    val corpus = (1L to 6L).map(i =>
      (i, s"doc $i words only appear once each time ever token$i"))
    val got = Dedup.segmentDedup(corpus.toDF("doc_id", "text"),
        col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq
    assert(got === corpus.map { case (i, t) => (i, 0L, t) })
  }

  test("segment byte kernels match the composable spellings hash-for-" +
       "hash and span-for-span — incl. multibyte UTF-8, empty tokens, " +
       "trailing spaces, and the empty document") {
    import graft.functions.{RollingHashFunctions, SegmentFunctions}
    val texts = Seq(
      "a b c d e f g h i j k l m n o p q",          // >2 aligned segments
      "über café 東京 naïve θ δ ε ζ η θ ι κ",        // multibyte code points
      "x  y   z", "a b ", " lead", "", "one",        // empty tokens / edges
      (1 to 40).map(i => s"tok$i").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    // aligned: kernel hashes == xxhash64 over the split/slice spelling
    val segTok = 8
    val spelled = df.select(col("doc_id"), transform(
        sequence(lit(0),
          ceil(size(split(col("text"), " ")).cast("double") / segTok)
            .cast("int") - 1),
        j => xxhash64(array_join(
          slice(split(col("text"), " "), j * segTok + 1, lit(segTok)), " ")))
      .as("hs"))
    val kernel = df.select(col("doc_id"),
      SegmentFunctions.segmentHashes(col("text"), segTok).as("hs"))
    assert(kernel.orderBy("doc_id").collect().map(_.getSeq[Long](1)).toSeq
      === spelled.orderBy("doc_id").collect().map(_.getSeq[Long](1)).toSeq)
    // CDC: kernel hashes == xxhash64 over the CdcSegments spelling
    // (exercises the in-place UTF-8 code-point fingerprint decoder)
    val modB = 8
    val cdcSpelled = df.select(col("doc_id"), transform(
        RollingHashFunctions.cdcSegments(split(col("text"), " "), modB),
        s => xxhash64(s)).as("hs"))
    val cdcKernel = df.select(col("doc_id"),
      SegmentFunctions.cdcSegmentHashes(col("text"), modB).as("hs"))
    assert(cdcKernel.orderBy("doc_id").collect().map(_.getSeq[Long](1)).toSeq
      === cdcSpelled.orderBy("doc_id").collect().map(_.getSeq[Long](1)).toSeq)
    // cleanse with an empty hot set is the identity on every fixture
    val id16 = df.select(col("text"),
      SegmentFunctions.segmentCleanse(col("text"), segTok,
        Array.empty[Long]).as("c"))
      .select(col("text"), col("c.cleaned_text")).collect()
    id16.foreach(r => assert(r.getString(0) === r.getString(1)))
    val id17 = df.select(col("text"),
      SegmentFunctions.cdcSegmentCleanse(col("text"), modB,
        Array.empty[Long]).as("c"))
      .select(col("text"), col("c.cleaned_text")).collect()
    id17.foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  test("InLongSet: O(1) fingerprint probe — membership exact incl. the " +
       "zero key, and the d16 hot-set model is 8 bytes/entry") {
    import graft.functions.SetFunctions
    val items = Array(0L, 42L, -7L, Long.MinValue, 0x9e3779b97f4a7c15L)
    val vals = Seq(0L, 42L, -7L, Long.MinValue, 0x9e3779b97f4a7c15L,
      1L, 43L, Long.MaxValue).toDF("v")
    val got = vals.select(col("v"),
        SetFunctions.inLongSet(col("v"), items).as("m"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(items.forall(got(_)))
    assert(!got(1L) && !got(43L) && !got(Long.MaxValue))
    // empty set: nothing matches (incl. 0, the open-addressing sentinel)
    val none = vals.select(SetFunctions.inLongSet(col("v"), Array.empty[Long]))
      .collect().map(_.getBoolean(0))
    assert(none.forall(!_))
  }

  test("two-phase CC handles a diameter-50 chain in logarithmic rounds") {
    // a 51-node path: label propagation needs >50 rounds (throws at 10);
    // star contraction collapses it within the default budget
    val chain = (0L until 50L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.labelLoop(chain, maxIters = 10)
    }
    val st = Dedup.connectedComponentsTwoPhase(chain, maxIters = 10)
    val got = st.result.as[(Long, Long)].collect().toMap
    st.cleanup()
    assert(got.size === 51)
    assert(got.values.forall(_ == 0L))
  }
}
