package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators._

/** §2.D–G scale operators + the as-of join, wired into the driver
  * contract. Oracles are provided wherever DuckDB can express the exact
  * same computation; LSH/sketch ops are rows-only here and verified
  * against brute-force ground truth in ScalaTest specs.
  */
object Pipeline {

  private val tok = "string_split_regex(trim(lower(text)), '\\s+')"

  /** DuckDB CTE chain replicating `Dedup.ngramJaccardPairs(0.6)` →
    * `Dedup.connectedComponents`: 3-token shingles → inverted-index
    * pair mining → Jaccard ≥ 0.6 filter → undirected edges →
    * reachability (per-node MIN reach == the CC label). Goes inside a
    * `WITH RECURSIVE`; shared by d06 and d14. */
  private val ccJaccardCtes: String =
    s"""toks AS (
                   SELECT DISTINCT id, tok FROM (
                     SELECT doc_id AS id,
                            unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
                              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS tok
                     FROM (SELECT doc_id, $tok AS tk FROM documents))
                   WHERE tok <> ''),
                 sizes AS (SELECT id, COUNT(*) AS sz FROM toks GROUP BY id),
                 cpairs AS (
                   SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
                   FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
                   GROUP BY 1, 2),
                 fpairs AS (
                   SELECT id_a, id_b FROM cpairs
                   JOIN sizes sa ON id_a = sa.id
                   JOIN sizes sb ON id_b = sb.id
                   WHERE CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter) >= 0.6),
                 edges AS (SELECT id_a AS src, id_b AS dst FROM fpairs
                           UNION SELECT id_b AS src, id_a AS dst FROM fpairs),
                 r(id, reach) AS (
                   SELECT src, src FROM edges
                   UNION
                   SELECT r.id, e.dst FROM r JOIN edges e ON e.src = r.reach)"""

  /** t03's quality score as a DuckDB subquery body yielding
    * (doc_id, n_tokens, quality_bp) from `documents`. Shared by t03
    * and d14 so the canonical-selection oracle scores with the exact
    * same formula the gated scorer is checked against. */
  private val qualitySubquery: String =
    s"""SELECT doc_id, ntok AS n_tokens,
                      LEAST(ntok, 50) * 80
                      + LEAST((nstop * 15000) // GREATEST(ntok, 1), 3000)
                      + 3000 - LEAST((npunct * 30000) // GREATEST(nchar, 1), 3000)
                        AS quality_bp
               FROM (SELECT doc_id,
                       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS ntok,
                       CAST(len(list_filter($tok,
                         w -> w IN ('the','a','an','of','and','to','in','is','it','for'))) AS BIGINT) AS nstop,
                       CAST(length(regexp_replace(text, '[^.,!?;:''"]', '', 'g')) AS BIGINT) AS npunct,
                       CAST(length(text) AS BIGINT) AS nchar
                     FROM documents)"""

  /** Shared DuckDB CTEs (`sigs`, `bnd`) replicating the hyperplane-LSH
    * signature + banding: per plane j, the ±1 component for dim d is
    * the parity of ((a_j·(d+1)+b_j) mod p)² mod p with the same LCG
    * constants as the native expression; the dot-product fold runs
    * left-to-right (list_reduce) exactly like the codegen'd loop, so
    * sign decisions — and therefore buckets — are bit-identical. */
  private def hyperBandCtes(nBits: Int, bands: Int, seed: Long,
                            src: String = "embeddings"): String = {
    val (as, bs) = graft.functions.MinHashSignature.perms(nBits, seed)
    val P = graft.functions.HyperplaneSignature.P
    val bits = nBits / bands
    val sigTerms = (0 until nBits).map { j =>
      val u = s"((${as(j)} * i + ${bs(j)}) % $P)"
      val sgn = s"CASE WHEN ((($u * $u) % $P) & 1) = 0 THEN 1.0 ELSE -1.0 END"
      val fold = s"list_reduce(list_transform(embedding, " +
        s"(x, i) -> CAST(x AS DOUBLE) * ($sgn)), (p, q) -> p + q)"
      s"CASE WHEN $fold > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("\n                 + ")
    val bandSel = (0 until bands).map { b =>
      s"SELECT vec_id, e, $b AS band, (sig >> ${b * bits}) & ${(1L << bits) - 1} AS bkey FROM sigs"
    }.mkString("\n               UNION ALL ")
    s"""sigs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                 $sigTerms AS sig
            FROM $src),
          bnd AS ($bandSel)"""
  }

  private def cosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * " +
      s"sqrt(list_dot_product($b, $b)))"

  /** Deterministically skewed join inputs for q45/q48: the benchmark
    * corpus is uniform (~66 events/user), so hot-key behavior is
    * derived — key 1 owns ~1/3 of events and ~450 orders rows at
    * sf0.1, making the unsalted join push ~15M rows through one task.
    * Both engines derive the keys with the same CASE expressions. */
  // the shared bucketed fact layouts live in [[Layouts]] (one
  // clustered copy per (source, key), consumed across query files)
  private def bucketedOrders(s: org.apache.spark.sql.SparkSession,
      d: String) = Layouts.orders(s, d)
  private def bucketedLineitem(s: org.apache.spark.sql.SparkSession,
      d: String) = Layouts.lineitem(s, d)
  private def bucketedEvents(s: org.apache.spark.sql.SparkSession,
      d: String) = Layouts.events(s, d)

  private def skewEvents(s: org.apache.spark.sql.SparkSession, d: String) =
    t(s, d, "events").withColumn("skew_uid",
      when(col("event_id") % 3 === 0, lit(1L)).otherwise(col("user_id")))
  private def skewOrders(s: org.apache.spark.sql.SparkSession, d: String) =
    t(s, d, "orders").withColumn("skew_ck",
      when(col("o_orderkey") % 997 < 3, lit(1L)).otherwise(col("o_custkey")))
  private val skewOracle: String =
    s"""SELECT event_type, COUNT(*) AS cnt,
              ${sqlSum("o_totalprice")} AS sum_price
       FROM (SELECT CASE WHEN event_id % 3 = 0 THEN 1
                         ELSE user_id END AS skew_uid, event_type
             FROM events) e
       JOIN (SELECT CASE WHEN o_orderkey % 997 < 3 THEN 1
                         ELSE o_custkey END AS skew_ck, o_totalprice
             FROM orders) o
         ON skew_uid = skew_ck
       GROUP BY event_type ORDER BY event_type"""

  /** DuckDB replica of LSH ANN top-k (s02). */
  private def s02Oracle(k: Int, nBits: Int, bands: Int, seed: Long): String =
    s"""WITH ${hyperBandCtes(nBits, bands, seed)},
          cand AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id,
                   ${cosSql("q.e", "c.e")} AS cos
            FROM bnd c JOIN bnd q
              ON c.band = q.band AND c.bkey = q.bkey
             AND q.vec_id < 5 AND c.vec_id <> q.vec_id),
          ranked AS (
            SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, vec_id) AS INT) AS rank
            FROM cand)
        SELECT query_id, rank, vec_id, round(cos, 6) AS cos
        FROM ranked WHERE rank <= $k ORDER BY query_id, rank"""

  /** The s05/s06-shared kNN-graph CTE chain: the d03-style bounded
    * subset (`s05src`), banded blocking with the mega-bucket cap
    * replicated as a COUNT() OVER the (band, bkey) bucket (`cbnd` —
    * the d11/d19 oracle pattern), each unordered pair scored once,
    * both directions ranked (`ranked`). Subset modulus and cap are
    * both derived from data-driven counts with the same truncating
    * integer arithmetic the Spark side uses ([[s05CorpusAndCap]]), so
    * the cut and the cap are identical by construction. */
  private def knnCtes(nBits: Int, bands: Int, seed: Long): String =
    s"""s05src AS (SELECT * FROM embeddings
            WHERE vec_id % greatest(1,
              (SELECT count(*) FROM embeddings) // $s05SubsetTarget) = 0),
          ${hyperBandCtes(nBits, bands, seed, "s05src")},
          cbnd AS (
            SELECT vec_id, e, band, bkey FROM (
              SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bn
              FROM bnd)
            WHERE bn <= ${megaBucketCapSql("s05src", nBits, bands)}),
          pairs AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
                   ${cosSql("a.e", "b.e")} AS cos
            FROM cbnd a JOIN cbnd b
              ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
          dirs AS (
            SELECT id_a AS query_id, id_b AS vec_id, cos FROM pairs
            UNION ALL
            SELECT id_b AS query_id, id_a AS vec_id, cos FROM pairs),
          ranked AS (
            SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, vec_id) AS INT) AS rank
            FROM dirs)"""

  /** d18's oracle: exact string-shingle Jaccard pairs (d02's CTEs) and
    * the MinHash-LSH verified pairs (the shared [[minhashCtes]] chain)
    * over the same doc_id % 2 subset, full-outer'd into the recall/
    * precision counts. */
  private def d18Oracle(bands: Int, rpb: Int, minJ: Double,
                        seed: Long): String =
    s"""WITH sub AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
          xtoks AS (
            SELECT DISTINCT id, tok FROM (
              SELECT doc_id AS id,
                     unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS tok
              FROM (SELECT doc_id, $tok AS tk FROM sub))
            WHERE tok <> ''),
          xsizes AS (SELECT id, COUNT(*) AS sz FROM xtoks GROUP BY id),
          xpairs AS (
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
            FROM xtoks a JOIN xtoks b ON a.tok = b.tok AND a.id < b.id
            GROUP BY 1, 2),
          tr AS (
            SELECT id_a, id_b FROM xpairs
            JOIN xsizes sa ON id_a = sa.id
            JOIN xsizes sb ON id_b = sb.id
            WHERE CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter) >= $minJ),
          ${minhashCtes("sub", bands, rpb, seed)},
          ls AS (SELECT id_a, id_b FROM verified WHERE jaccard >= $minJ),
          co AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
                 FROM tr JOIN ls USING (id_a, id_b)),
          tc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tr),
          lc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ls)
        SELECT tc.n AS n_truth, lc.n AS n_lsh, co.n AS n_common,
               (co.n * 1000) // tc.n AS recall_milli,
               (co.n * 1000) // lc.n AS precision_milli
        FROM tc, lc, co"""

  /** DuckDB replica of MMR diversification (s07): exact top-`cand`
    * candidates (s01's chain), then the k greedy steps as UNROLLED
    * CTEs — per-step argmax via row_number, penalty via GREATEST over
    * a join with the step's pick. `1.0 - lam` is interpolated as the
    * double Scala computes (0.30000000000000004 for λ=0.7), so both
    * engines weigh the penalty with the identical IEEE value. */
  private def s07Oracle(k: Int, cand: Int, lam: Double): String = {
    val sb = new StringBuilder
    sb.append(s"""WITH q AS (SELECT vec_id AS query_id,
                         CAST(embedding AS DOUBLE[]) AS qe
                  FROM embeddings WHERE vec_id < 3),
           c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
                 FROM embeddings),
           scored AS (
             SELECT query_id, vec_id, ${cosSql("qe", "ce")} AS rel, ce
             FROM q JOIN c ON vec_id <> query_id),
           cand AS (
             SELECT query_id, vec_id, rel, ce FROM (
               SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY rel DESC, vec_id) AS rn
               FROM scored) WHERE rn <= $cand),
           r0 AS (SELECT query_id, vec_id, rel, ce,
                         CAST(0.0 AS DOUBLE) AS pen FROM cand)""")
    val score = s"CAST($lam AS DOUBLE) * rel - CAST(${1.0 - lam} AS DOUBLE) * pen"
    for (i <- 1 to k) {
      val prev = s"r${i - 1}"
      sb.append(s""",
           s$i AS (
             SELECT query_id, vec_id, ce, score, $i AS rank FROM (
               SELECT query_id, vec_id, ce, $score AS score,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY $score DESC, vec_id) AS rn
               FROM $prev) WHERE rn = 1)""")
      if (i < k) sb.append(s""",
           r$i AS (
             SELECT r.query_id, r.vec_id, r.rel, r.ce,
                    GREATEST(r.pen, ${cosSql("r.ce", "s.ce")}) AS pen
             FROM $prev r JOIN s$i s ON s.query_id = r.query_id
             WHERE r.vec_id <> s.vec_id)""")
    }
    sb.append(s"""
         SELECT query_id, rank, vec_id, round(score, 6) AS score
         FROM (${(1 to k).map(i => s"SELECT query_id, vec_id, score, rank FROM s$i")
           .mkString("\n               UNION ALL ")})
         ORDER BY query_id, rank""")
    sb.toString
  }

  /** DuckDB replica of the kNN join (s05). */
  private def s05Oracle(k: Int, nBits: Int, bands: Int, seed: Long): String =
    s"""WITH ${knnCtes(nBits, bands, seed)}
        SELECT query_id, rank, vec_id, round(cos, 6) AS cos
        FROM ranked WHERE rank <= $k ORDER BY query_id, rank"""

  /** DuckDB replica of kNN-graph centrality (s06): the shared kNN
    * chain truncated to top-k edges, then `iters` integer-PageRank
    * steps — `mass' = 150000 + (850·Σ mass//deg)//1000` — with every
    * intermediate HUGEINT cast back to BIGINT at the output. */
  private def s06Oracle(k: Int, iters: Int, nBits: Int, bands: Int,
                        seed: Long): String = {
    val steps = (1 to iters).map { i =>
      val prev = if (i == 1) "m0" else s"m${i - 1}"
      s"""m$i AS (
            SELECT n.vec_id,
                   CAST(150000 + (850 * COALESCE(s.inm, 0)) // 1000
                     AS BIGINT) AS mass
            FROM nodes n LEFT JOIN (
              SELECT e.dst AS vec_id,
                     CAST(SUM(m.mass // d.dg) AS BIGINT) AS inm
              FROM edges e
              JOIN $prev m ON m.vec_id = e.src
              JOIN deg d ON d.src = e.src
              GROUP BY e.dst) s USING (vec_id))"""
    }.mkString(",\n          ")
    s"""WITH ${knnCtes(nBits, bands, seed)},
          edges AS (
            SELECT query_id AS src, vec_id AS dst
            FROM ranked WHERE rank <= $k),
          deg AS (SELECT src, CAST(count(*) AS BIGINT) AS dg
                  FROM edges GROUP BY src),
          nodes AS (SELECT vec_id FROM s05src),
          m0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS mass
                 FROM nodes),
          $steps
        SELECT vec_id, mass FROM m$iters ORDER BY vec_id"""
  }

  /** DuckDB replica of m07's audio energy-delta fingerprint over the
    * ASCII stub path (bytes == code points, m05's guard): 65
    * exact-boundary window means over the byte stream, delta bits,
    * integer window stats. */
  private def m07Oracle: String = {
    val fpTerms = (0 until 64).map { f =>
      s"CASE WHEN e[${f + 2}] > e[${f + 1}] THEN ${1L << f} ELSE 0 END"
    }.mkString("\n                 + ")
    s"""WITH base AS (
          SELECT doc_id, text, length(text) AS len FROM documents
          WHERE CASE WHEN length(text) = octet_length(encode(text))
                     THEN true
                     ELSE error('m07 oracle requires a pure-ASCII corpus: doc '
                                || doc_id || ' has multi-byte text') END),
        en AS (
          SELECT doc_id,
                 list_transform(range(0, 65), f ->
                   CASE WHEN ((f+1)*len)//65 > (f*len)//65 THEN
                     list_sum(list_transform(range((f*len)//65, ((f+1)*len)//65),
                       i -> unicode(substr(text, CAST(i+1 AS INT), 1))))
                       // (((f+1)*len)//65 - (f*len)//65)
                   ELSE 0 END) AS e
          FROM base)
        SELECT doc_id,
               $fpTerms AS fp,
               CAST(list_max(e) AS BIGINT) AS e_peak,
               CAST(list_sum(e) // 65 AS BIGINT) AS e_mean
        FROM en ORDER BY doc_id"""
  }

  /** DuckDB replica of embedding near-dup pairs (d05), over the
    * [[embPairSubset]] bound (m = 1 through sf10). */
  private def d05Oracle(minCos: Double, nBits: Int, bands: Int, seed: Long): String =
    s"""WITH ${embPairSubsetCte("d05src")},
          ${hyperBandCtes(nBits, bands, seed, src = "d05src")},
          cbnd AS (
            SELECT vec_id, e, band, bkey FROM (
              SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bn
              FROM bnd)
            WHERE bn <= ${megaBucketCapSql("d05src", nBits, bands)}),
          pairs AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
                   ${cosSql("a.e", "b.e")} AS cos
            FROM cbnd a JOIN cbnd b
              ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id)
        SELECT id_a, id_b, round(cos, 6) AS cos
        FROM pairs WHERE cos >= $minCos ORDER BY id_a, id_b"""

  /** q64's oracle: both CMS matrices rebuilt as grouped counts over
    * the same LCG positions (q44's pattern), per-row dot products,
    * min; exact size from plain per-key count tables. */
  private def q64Oracle(depth: Int, width: Int, seed: Long): String = {
    val (as, bs) = graft.functions.MinHashSignature.perms(depth, seed)
    val jList = (0 until depth).mkString("[", ", ", "]")
    def posList(h: String) = (0 until depth)
      .map(j => s"((${as(j)} * $h + ${bs(j)}) % 2147483647) % $width")
      .mkString("[", ", ", "]")
    s"""WITH ev AS (
          SELECT CASE WHEN event_id % 3 = 0 THEN 1
                      ELSE user_id END AS k FROM events),
        oo AS (
          SELECT CASE WHEN o_orderkey % 997 < 3 THEN 1
                      ELSE o_custkey END AS k FROM orders),
        ce AS (
          SELECT j, pos, CAST(COUNT(*) AS BIGINT) AS c FROM (
            SELECT unnest($jList) AS j, unnest(${posList("k")}) AS pos
            FROM ev)
          GROUP BY 1, 2),
        co AS (
          SELECT j, pos, CAST(COUNT(*) AS BIGINT) AS c FROM (
            SELECT unnest($jList) AS j, unnest(${posList("k")}) AS pos
            FROM oo)
          GROUP BY 1, 2),
        dots AS (
          SELECT a.j, CAST(SUM(a.c * b.c) AS BIGINT) AS dot
          FROM ce a JOIN co b ON a.j = b.j AND a.pos = b.pos
          GROUP BY a.j),
        ex AS (
          SELECT CAST(SUM(e.n * o.n) AS BIGINT) AS exact_pairs FROM
            (SELECT k, COUNT(*) AS n FROM ev GROUP BY k) e
            JOIN (SELECT k, COUNT(*) AS n FROM oo GROUP BY k) o USING (k))
        SELECT (SELECT MIN(dot) FROM dots) AS est_pairs, ex.exact_pairs
        FROM ex"""
  }

  /** d21's oracle: exact-cosine ground truth vs the production
    * hyperplane banding, both over the same deterministic
    * fixed-size sample (vec_id even, first `sampleN` by id), full-
    * outer audit identical in shape to d18's. */
  private def d21Oracle(minCos: Double, nBits: Int, bands: Int,
                        seed: Long, sampleN: Int): String =
    s"""WITH sub AS (
            SELECT * FROM embeddings WHERE vec_id % 2 = 0
            ORDER BY vec_id LIMIT $sampleN),
          sube AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM sub),
          ${hyperBandCtes(nBits, bands, seed, src = "sub")},
          truth AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM sube a JOIN sube b ON a.vec_id < b.vec_id
            WHERE ${cosSql("a.e", "b.e")} >= $minCos),
          lsh AS (
            SELECT id_a, id_b FROM (
              SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
                     ${cosSql("a.e", "b.e")} AS cos
              FROM bnd a JOIN bnd b
                ON a.band = b.band AND a.bkey = b.bkey
               AND a.vec_id < b.vec_id)
            WHERE cos >= $minCos),
          j AS (
            SELECT COALESCE(t.id_a, l.id_a) AS id_a,
                   t.id_a AS t, l.id_a AS l
            FROM truth t FULL OUTER JOIN lsh l
              ON t.id_a = l.id_a AND t.id_b = l.id_b)
        SELECT CAST(COUNT(t) AS BIGINT) AS n_truth,
               CAST(COUNT(l) AS BIGINT) AS n_lsh,
               CAST(COUNT(CASE WHEN t IS NOT NULL AND l IS NOT NULL
                 THEN 1 END) AS BIGINT) AS n_common,
               (COUNT(CASE WHEN t IS NOT NULL AND l IS NOT NULL THEN 1 END)
                 * 1000) // COUNT(t) AS recall_milli,
               (COUNT(CASE WHEN t IS NOT NULL AND l IS NOT NULL THEN 1 END)
                 * 1000) // COUNT(l) AS precision_milli
        FROM j"""

  /** d20's oracle: the shared hyperplane-band CTEs with the corpus /
    * bench split applied in the pair join, exact cosine threshold. */
  private def d20Oracle(minCos: Double, nBits: Int, bands: Int,
                        seed: Long): String =
    s"""WITH ${embPairSubsetCte("d20src")},
          ${hyperBandCtes(nBits, bands, seed, src = "d20src")},
          pairs AS (
            SELECT DISTINCT c.vec_id, q.vec_id AS bench_id,
                   ${cosSql("c.e", "q.e")} AS cos
            FROM bnd c JOIN bnd q
              ON c.band = q.band AND c.bkey = q.bkey
             AND c.vec_id % 29 <> 0 AND q.vec_id % 29 = 0)
        SELECT vec_id, bench_id, round(cos, 6) AS cos
        FROM pairs WHERE cos >= $minCos ORDER BY vec_id, bench_id"""

  /** DuckDB replica of the IVF ANN pipeline (s03) for ANY number of
    * Lloyd iterations: md5-ordered seeding, then per iteration one
    * assign CTE + one centroid-mean CTE (decimal-exact means rounded
    * through FLOAT exactly like the Spark centroids), assignment by
    * the same dot/|c| score with the same lower-cell tie rule, probe +
    * exact cosine re-rank. The Spark side renumbers cells positionally
    * each step while this replica keeps seed ids — both orderings are
    * monotone in the previous step's id, so the ASC tie rule picks the
    * same winner. Assumes no zero-norm centroid (true for real
    * embeddings). */
  /** The s03/q55-shared IVF CTE chain: `emb` (double-cast corpus),
    * `seeds` (md5-ordered), one assign+mean CTE pair per Lloyd
    * iteration, and `afin` (every vector assigned to its final cell).
    * Returns (ctes, finalCentroidCteName) — the caller appends its
    * own probe/pair stages. */
  private def ivfAssignCtes(nCells: Int, lloydIters: Int,
                            src: String = "embeddings"): (String, String) = {
    val score = "list_dot_product(v.e, s.ce) / sqrt(list_dot_product(s.ce, s.ce))"
    val steps = (1 to lloydIters).map { i =>
      val prev = if (i == 1) "seeds" else s"cent${i - 1}"
      s"""a$i AS (
            SELECT vec_id, cell FROM (
              SELECT v.vec_id, s.cell,
                     row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY $score DESC, s.cell ASC) AS rn
              FROM emb v CROSS JOIN $prev s)
            WHERE rn = 1),
          comp$i AS (
            SELECT a$i.cell, unnest(v.e) AS x,
                   unnest(range(1, len(v.e) + 1)) AS pos
            FROM a$i JOIN emb v USING (vec_id)),
          cent$i AS (
            SELECT cell, list(cd ORDER BY pos) AS ce FROM (
              SELECT cell, pos,
                     CAST(CAST(CAST(SUM(CAST(x AS DECIMAL(27,8))) AS DOUBLE)
                       / COUNT(*) AS FLOAT) AS DOUBLE) AS cd
              FROM comp$i GROUP BY cell, pos)
            GROUP BY cell)"""
    }.mkString(",\n          ") match {
      case "" => "" // lloydIters = 0: probe the raw seeds
      case s  => s + ","
    }
    val cent = if (lloydIters == 0) "seeds" else s"cent$lloydIters"
    (s"""emb AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM $src),
          seeds AS (
            SELECT vec_id AS cell, e AS ce FROM emb
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $nCells),
          $steps
          afin AS (
            SELECT vec_id, cell FROM (
              SELECT v.vec_id, s.cell,
                     row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY $score DESC, s.cell ASC) AS rn
              FROM emb v CROSS JOIN $cent s)
            WHERE rn = 1)""", cent)
  }

  private def s03Oracle(k: Int, nCells: Int, nProbe: Int,
                        lloydIters: Int = 1): String = {
    val score = "list_dot_product(v.e, s.ce) / sqrt(list_dot_product(s.ce, s.ce))"
    val (ctes, cent) = ivfAssignCtes(nCells, lloydIters)
    s"""WITH $ctes,
          qp AS (
            SELECT vec_id, cell FROM (
              SELECT v.vec_id, s.cell,
                     row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY $score DESC, s.cell ASC) AS rn
              FROM emb v CROSS JOIN $cent s WHERE v.vec_id < 5)
            WHERE rn <= $nProbe),
          cand AS (
            SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                   ${cosSql("qe.e", "ce.e")} AS cos
            FROM afin c
            JOIN qp q ON c.cell = q.cell AND c.vec_id <> q.vec_id
            JOIN emb ce ON ce.vec_id = c.vec_id
            JOIN emb qe ON qe.vec_id = q.vec_id),
          ranked AS (
            SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, vec_id) AS INT) AS rank
            FROM cand)
        SELECT query_id, rank, vec_id, round(cos, 6) AS cos
        FROM ranked WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** DuckDB replica of the k-means MODEL (q66): the shared IVF assign
    * chain, per-cell stats from the final assignment, centroids joined
    * from the final centroid CTE. Cell labels are min member ids on
    * both sides (Spark numbers cells positionally, this replica keeps
    * seed vec_ids — min-id is numbering-independent, the q55
    * argument). The centroid is emitted LONG-FORM — one
    * (cell_rep, dim, component) row per coordinate — because the
    * compare layer hashes scalar cells; an ARRAY column is opaque to
    * it (round 10 measured: the driver compare crashed on the wide
    * array shape even though the values were cross-engine
    * bit-identical). */
  private def q66Oracle(nCells: Int, lloydIters: Int): String = {
    val (ctes, cent) = ivfAssignCtes(nCells, lloydIters)
    s"""WITH $ctes,
          stats AS (
            SELECT cell, MIN(vec_id) AS cell_rep, COUNT(*) AS n_members
            FROM afin GROUP BY cell),
          model AS (
            SELECT s.cell_rep, s.n_members, c.ce
            FROM stats s JOIN $cent c ON c.cell = s.cell)
        SELECT * FROM (
          SELECT cell_rep, n_members,
                 CAST(unnest(range(1, len(ce) + 1)) AS INT) AS dim,
                 unnest(ce) AS c
          FROM model)
        ORDER BY cell_rep, dim"""
  }

  /** DuckDB replica of cluster-balanced sampling (q67): final IVF
    * assignment, then up to `quota` per cell in (md5(vec_id), vec_id)
    * order — the engine-portable hash ranking the seed step uses. */
  private def q67Oracle(quota: Int, nCells: Int, lloydIters: Int): String = {
    val (ctes, _) = ivfAssignCtes(nCells, lloydIters)
    s"""WITH $ctes,
          reps AS (
            SELECT cell, MIN(vec_id) AS cell_rep FROM afin GROUP BY cell),
          ranked AS (
            SELECT a.vec_id, r.cell_rep,
                   row_number() OVER (PARTITION BY a.cell
                     ORDER BY md5(CAST(a.vec_id AS VARCHAR)), a.vec_id) AS rn
            FROM afin a JOIN reps r USING (cell))
        SELECT vec_id, cell_rep FROM ranked WHERE rn <= $quota
        ORDER BY vec_id"""
  }

  /** DuckDB replica of semantic dedup (q55): the shared IVF assign
    * chain, then in-cell `cos >= eps` pairs with the higher id
    * dropped, survivors labeled by the min surviving vec_id of their
    * cell (the positional-vs-seed cell-numbering difference cancels
    * out — min-id is numbering-independent). */
  private def q55Oracle(eps: Double, nCells: Int, lloydIters: Int): String = {
    val (ctes, _) = ivfAssignCtes(nCells, lloydIters, src = "q55src")
    s"""WITH ${embPairSubsetCte("q55src")},
          $ctes,
          drops AS (
            SELECT DISTINCT b.vec_id AS vec_id
            FROM afin a JOIN afin b ON a.cell = b.cell AND a.vec_id < b.vec_id
            JOIN emb ea ON ea.vec_id = a.vec_id
            JOIN emb eb ON eb.vec_id = b.vec_id
            WHERE ${cosSql("ea.e", "eb.e")} >= $eps),
          kept AS (
            SELECT f.vec_id, f.cell FROM afin f
            WHERE f.vec_id NOT IN (SELECT vec_id FROM drops))
        SELECT vec_id, CAST(MIN(vec_id) OVER (PARTITION BY cell) AS BIGINT)
                 AS cell_rep
        FROM kept ORDER BY vec_id"""
  }

  /** DuckDB replica of the product-quantization ANN pipeline (s04):
    * per-subspace md5-seeded Lloyd with the L2 codeword rule
    * (dot - |c|²/2, the score [[graft.functions.NearestCells]] uses in
    * l2 mode), decimal-exact centroid means rounded through FLOAT,
    * ADC scoring with the per-subspace terms summed in explicit
    * left-to-right m-order (bit-identical to the Spark side's fixed
    * reduce), top-`rerank` by (ascore DESC, vec_id), exact cosine
    * re-rank. The replica keeps seed vec_ids as codes while Spark
    * renumbers positionally — both monotone in the previous step's id,
    * so the ASC tie rule picks the same codeword (the s03 argument). */
  private def s04Oracle(k: Int, dims: Int, nSub: Int, nCodes: Int,
                        lloydIters: Int, rerank: Int): String = {
    val ds = dims / nSub
    val l2 = "list_dot_product(v.se, s.ce) - list_dot_product(s.ce, s.ce)/2"
    val steps = (1 to lloydIters).map { i =>
      val prev = if (i == 1) "seeds" else s"cent${i - 1}"
      s"""a$i AS (
            SELECT vec_id, m, code FROM (
              SELECT v.vec_id, v.m, s.code,
                     row_number() OVER (PARTITION BY v.vec_id, v.m
                       ORDER BY $l2 DESC, s.code ASC) AS rn
              FROM subs v JOIN $prev s ON s.m = v.m)
            WHERE rn = 1),
          comp$i AS (
            SELECT a.m, a.code, unnest(v.se) AS x,
                   unnest(range(1, ${ds + 1})) AS pos
            FROM a$i a JOIN subs v ON v.vec_id = a.vec_id AND v.m = a.m),
          cent$i AS (
            SELECT m, code, list(cd ORDER BY pos) AS ce FROM (
              SELECT m, code, pos,
                     CAST(CAST(CAST(SUM(CAST(x AS DECIMAL(27,8))) AS DOUBLE)
                       / COUNT(*) AS FLOAT) AS DOUBLE) AS cd
              FROM comp$i GROUP BY m, code, pos)
            GROUP BY m, code)"""
    }.mkString(",\n          ") match {
      case "" => ""
      case s  => s + ","
    }
    val cent = if (lloydIters == 0) "seeds" else s"cent$lloydIters"
    val codeCols = (0 until nSub)
      .map(m => s"MAX(CASE WHEN m = $m THEN code END) AS c$m")
      .mkString(",\n                 ")
    val cbJoins = (0 until nSub)
      .map(m => s"JOIN cb b$m ON b$m.m = $m AND b$m.code = c.c$m")
      .mkString("\n          ")
    val adot = (0 until nSub).map(m =>
      s"list_dot_product(list_slice(q.e, ${m * ds + 1}, ${(m + 1) * ds}), b$m.ce)")
      .mkString("\n                   + ")
    val anrm = (0 until nSub).map(m => s"b$m.nrm2").mkString(" + ")
    s"""WITH emb AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
          subs AS (
            SELECT vec_id, m, list_slice(e, m * $ds + 1, m * $ds + $ds) AS se
            FROM emb CROSS JOIN (SELECT unnest(range(0, $nSub)) AS m)),
          seeds AS (
            SELECT m, vec_id AS code, se AS ce FROM subs
            WHERE vec_id IN (SELECT vec_id FROM emb
                             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                             LIMIT $nCodes)),
          $steps
          afin AS (
            SELECT vec_id, m, code FROM (
              SELECT v.vec_id, v.m, s.code,
                     row_number() OVER (PARTITION BY v.vec_id, v.m
                       ORDER BY $l2 DESC, s.code ASC) AS rn
              FROM subs v JOIN $cent s ON s.m = v.m)
            WHERE rn = 1),
          codes AS (
            SELECT vec_id,
                 $codeCols
            FROM afin GROUP BY vec_id),
          cb AS (
            SELECT m, code, ce, list_dot_product(ce, ce) AS nrm2 FROM $cent),
          q AS (
            SELECT vec_id AS query_id, e,
                   sqrt(list_dot_product(e, e)) AS qnorm
            FROM emb WHERE vec_id < 5),
          adc AS (
            SELECT q.query_id, c.vec_id,
                   ($adot)
                     / (q.qnorm * sqrt($anrm)) AS ascore
            FROM codes c
            $cbJoins
            JOIN q ON c.vec_id <> q.query_id),
          cand AS (
            SELECT query_id, vec_id FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY ascore DESC, vec_id ASC) AS rn
              FROM adc)
            WHERE rn <= $rerank),
          exact AS (
            SELECT t.query_id, t.vec_id, ${cosSql("qe.e", "ce.e")} AS cos
            FROM cand t
            JOIN emb ce ON ce.vec_id = t.vec_id
            JOIN emb qe ON qe.vec_id = t.query_id),
          ranked AS (
            SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, vec_id) AS INT) AS rank
            FROM exact)
        SELECT query_id, rank, vec_id, round(cos, 6) AS cos
        FROM ranked WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** DuckDB replica of the SimHash pipeline: 62-bit rolling-fingerprint
    * feature hashes, per-bit ±1 votes with the same strict `> 0` sign
    * rule as the native SimHash64 expression, pigeonhole segment join,
    * hamming via bit_count(xor). Docs with no shingles get fp = 0 (the
    * expression's empty-array value), hence the LEFT JOIN. */
  private def d04Oracle(maxDist: Int): String = {
    val P = 2147483647L
    val nSeg = maxDist + 1
    val segBits = 64 / nSeg
    val fpTerms = (0 until 62).map { b =>
      s"CASE WHEN 2 * list_sum(list_transform(hs, h -> (h >> $b) & 1)) " +
        s"> len(hs) THEN ${1L << b} ELSE 0 END"
    }.mkString("\n                 + ")
    val segSel = (0 until nSeg).map { sg =>
      s"SELECT id, fp, $sg AS seg, (fp >> ${sg * segBits}) & ${(1L << segBits) - 1} AS skey FROM sims"
    }.mkString("\n               UNION ALL ")
    s"""WITH toks AS (
            SELECT DISTINCT id, tok FROM (
              SELECT doc_id AS id,
                     unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS tok
              FROM (SELECT doc_id, $tok AS tk FROM documents))
            WHERE tok <> ''),
          thash AS (
            SELECT id,
                   list_reduce(list_transform(string_split(tok, ''),
                      ch -> CAST(unicode(ch) AS BIGINT)),
                      (a, b) -> (a * 131 + b) % $P) * 2147483648
                    + list_reduce(list_transform(string_split(tok, ''),
                        ch -> CAST(unicode(ch) AS BIGINT)),
                        (a, b) -> (a * 257 + b) % $P) AS h
            FROM toks),
          hsets AS (
            SELECT d.doc_id AS id, coalesce(t.hs, CAST([] AS BIGINT[])) AS hs
            FROM documents d
            LEFT JOIN (SELECT id, list(h) AS hs FROM thash GROUP BY id) t
              ON t.id = d.doc_id),
          sims AS (
            SELECT id,
                 $fpTerms AS fp
            FROM hsets),
          segs AS ($segSel),
          cands AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                   CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
            FROM segs a JOIN segs b
              ON a.seg = b.seg AND a.skey = b.skey AND a.id < b.id)
        SELECT id_a, id_b, hamming FROM cands
        WHERE hamming <= $maxDist ORDER BY id_a, id_b"""
  }

  /** DuckDB replica of the image-dHash near-dup pipeline (m05) on the
    * STUB grid path: the payloads are `encode(text)` and the corpus is
    * pure ASCII — ASSERTED INSIDE the oracle's `base` CTE (length ==
    * octet_length for every doc, else `error(...)`), so a corpus that
    * ever grows multi-byte text fails the gate loudly instead of
    * hash-mismatching mysteriously. Under that invariant byte i of the
    * payload IS code point i of the text — the 72-sample stride grid,
    * the 64 neighbour-comparison bits and the pigeonhole hamming join
    * all reproduce exactly. */
  /** q58's oracle: the d08 shingle-hash CTE keyed by source, then the
    * same bottom-k / merge / count-common arithmetic the Spark side
    * runs — the KMV estimates are integer, so they replay exactly. */
  private def q58Oracle(k: Int): String = {
    val est = s"CASE WHEN m < $k THEN m ELSE (CAST(${k - 1} AS BIGINT) * 2147483647) // hmax END"
    s"""WITH toks AS (
          SELECT DISTINCT source, tok FROM (
            SELECT source,
                   unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS tok
            FROM (SELECT source, $tok AS tk FROM documents))
          WHERE tok <> ''),
        th AS (
          SELECT DISTINCT source,
                 (list_reduce(list_transform(string_split(tok, ''),
                    ch -> CAST(unicode(ch) AS BIGINT)),
                    (a, b) -> (a * 131 + b) % 2147483647) * 2147483648
                  + list_reduce(list_transform(string_split(tok, ''),
                      ch -> CAST(unicode(ch) AS BIGINT)),
                      (a, b) -> (a * 257 + b) % 2147483647)) % 2147483647 AS h
          FROM toks),
        sk AS (
          SELECT source AS g, h FROM (
            SELECT source, h,
                   row_number() OVER (PARTITION BY source ORDER BY h) AS rn
            FROM th)
          WHERE rn <= $k),
        grp AS (SELECT DISTINCT g FROM sk),
        pairs AS (
          SELECT x.g AS ga, y.g AS gb FROM grp x JOIN grp y ON x.g < y.g),
        mem AS (
          SELECT p.ga, p.gb, s.h,
                 max(CASE WHEN s.g = p.ga THEN 1 ELSE 0 END) AS in_a,
                 max(CASE WHEN s.g = p.gb THEN 1 ELSE 0 END) AS in_b
          FROM pairs p JOIN sk s ON s.g = p.ga OR s.g = p.gb
          GROUP BY 1, 2, 3),
        mk AS (
          SELECT * FROM (
            SELECT ga, gb, h, in_a, in_b,
                   row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS mrn
            FROM mem)
          WHERE mrn <= $k),
        agg AS (
          SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS m,
                 max(h) AS hmax,
                 CAST(SUM(in_a * in_b) AS BIGINT) AS n_common
          FROM mk GROUP BY 1, 2)
        SELECT ga AS src_a, gb AS src_b,
               CAST($est AS BIGINT) AS union_est,
               CAST((n_common * ($est)) // m AS BIGINT) AS inter_est,
               CAST((n_common * 1000000) // m AS BIGINT) AS jaccard_ppm
        FROM agg ORDER BY src_a, src_b"""
  }

  /** m10's oracle: the synthetic staircase levels recomputed from the
    * id arithmetic (window mean == level by construction), m07's
    * fingerprint fold, m05's pigeonhole candidate join. */
  private def m10Oracle(maxDist: Int): String = {
    val nSeg = maxDist + 1
    val segBits = 64 / nSeg
    val h0 = "((((id % 1099511627776) * 65536 + f) * 131071 + 524287) % 2147483647)"
    val h2 = s"(($h0 * $h0) % 2147483647)"
    val lvl = s"(800 + 100 * (((($h2 * $h2) % 2147483647) * $h0) % 2147483647 % 7))"
    val fpTerms = (0 until 64).map { f =>
      s"CASE WHEN e[${f + 2}] > e[${f + 1}] THEN ${1L << f} ELSE 0 END"
    }.mkString("\n                 + ")
    val segSel = (0 until nSeg).map { sg =>
      s"SELECT id, fp, $sg AS seg, (fp >> ${sg * segBits}) & ${(1L << segBits) - 1} AS skey FROM fps"
    }.mkString("\n               UNION ALL ")
    s"""WITH ids AS (
          SELECT doc_id AS id FROM documents
          UNION ALL
          SELECT doc_id + 1099511627776 AS id FROM documents),
        en AS (
          SELECT id,
                 list_transform(range(0, 65), f ->
                   $lvl * (CASE WHEN id >= 1099511627776 THEN 2 ELSE 1 END)) AS e
          FROM ids),
        fps AS (
          SELECT id, $fpTerms AS fp FROM en),
        segs AS ($segSel),
        cands AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                 CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
          FROM segs a JOIN segs b
            ON a.seg = b.seg AND a.skey = b.skey AND a.id < b.id)
        SELECT id_a, id_b, hamming FROM cands
        WHERE hamming <= $maxDist ORDER BY id_a, id_b"""
  }

  private def m05Oracle(maxDist: Int): String =
    s"""WITH ${m05Ctes(maxDist)}
        SELECT id_a, id_b, hamming FROM cands
        WHERE hamming <= $maxDist ORDER BY id_a, id_b"""

  /** The m05 dHash + pigeonhole-candidate CTE chain (ends at `cands`),
    * shared by the pair miner (m05) and the cluster closure (m06). */
  private def m05Ctes(maxDist: Int): String = {
    val nSeg = maxDist + 1
    val segBits = 64 / nSeg
    val fpTerms = (for (r <- 0 until 8; c <- 0 until 8) yield
      s"CASE WHEN gv[${r * 9 + c + 2}] > gv[${r * 9 + c + 1}] " +
        s"THEN ${1L << (r * 8 + c)} ELSE 0 END")
      .mkString("\n                 + ")
    val segSel = (0 until nSeg).map { sg =>
      s"SELECT id, fp, $sg AS seg, (fp >> ${sg * segBits}) & ${(1L << segBits) - 1} AS skey FROM sims"
    }.mkString("\n               UNION ALL ")
    s"""base AS (
            SELECT doc_id, text, length(text) AS len FROM documents
            WHERE CASE WHEN length(text) = octet_length(encode(text))
                       THEN true
                       ELSE error('m05 oracle requires a pure-ASCII corpus: doc '
                                  || doc_id || ' has multi-byte text') END),
          g AS (
            SELECT doc_id,
                   CASE WHEN len = 0
                        THEN list_transform(range(0, 72), i -> 0)
                        ELSE list_transform(range(0, 72), i ->
                          unicode(substr(text,
                            CAST(least(i * greatest(len // 72, 1) + 1, len)
                              AS INT), 1)))
                   END AS gv
            FROM base),
          sims AS (
            SELECT doc_id AS id,
                 $fpTerms AS fp
            FROM g),
          segs AS ($segSel),
          cands AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                   CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
            FROM segs a JOIN segs b
              ON a.seg = b.seg AND a.skey = b.skey AND a.id < b.id)"""
  }

  /** DuckDB replica of m06: the m05 hamming pairs closed into clusters
    * via recursive reachability, cluster_id = min reachable id (the
    * same label rule [[graft.operators.Dedup.connectedComponents]]
    * converges to). */
  private def m06Oracle(maxDist: Int): String =
    s"""WITH RECURSIVE ${m05Ctes(maxDist)},
          fpairs AS (
            SELECT id_a, id_b FROM cands WHERE hamming <= $maxDist),
          edges AS (SELECT id_a AS src, id_b AS dst FROM fpairs
                    UNION SELECT id_b AS src, id_a AS dst FROM fpairs),
          r(id, reach) AS (
            SELECT src, src FROM edges
            UNION
            SELECT r.id, e.dst FROM r JOIN edges e ON e.src = r.reach)
        SELECT id AS doc_id, MIN(reach) AS cluster_id
        FROM r GROUP BY id ORDER BY doc_id"""

  /** DuckDB CTE chain replicating the ENTIRE MinHash-LSH pipeline over
    * `src` (any relation with doc_id + text) — possible because the
    * shingle hash is the rolling code-point fingerprint
    * (DuckDB-computable) and the permutation constants come from the
    * same LCG ([[graft.functions.MinHashSignature.perms]]) embedded
    * here as literals. Banding joins on the raw signature-band string
    * (Spark joins on xxhash64 of it — identical equality classes).
    * Ends with `verified(id_a, id_b, inter, jaccard)`. */
  private def minhashCtes(src: String, bands: Int, rpb: Int, seed: Long,
                          maxBucketSize: Option[Long] = None): String = {
    val n = bands * rpb
    val (as, bs) = graft.functions.MinHashSignature.perms(n, seed)
    val P = 2147483647L
    val sigCols = (0 until n).map(i =>
      s"list_min(list_transform(hs, h -> (h * ${as(i)} + ${bs(i)}) % $P)) AS s$i")
      .mkString(",\n                 ")
    val bandSel = (0 until bands).map { b =>
      val parts = (0 until rpb).map(r => s"s${b * rpb + r}").mkString(", '_', ")
      s"SELECT id, $b AS band, CONCAT($parts) AS bkey FROM sigs"
    }.mkString("\n               UNION ALL ")
    s"""toks AS (
            SELECT DISTINCT id, tok FROM (
              SELECT doc_id AS id,
                     unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS tok
              FROM (SELECT doc_id, $tok AS tk FROM $src))
            WHERE tok <> ''),
          thash AS (
            SELECT id,
                   (list_reduce(list_transform(string_split(tok, ''),
                      ch -> CAST(unicode(ch) AS BIGINT)),
                      (a, b) -> (a * 131 + b) % $P) * 2147483648
                    + list_reduce(list_transform(string_split(tok, ''),
                        ch -> CAST(unicode(ch) AS BIGINT)),
                        (a, b) -> (a * 257 + b) % $P)) % $P AS h
            FROM toks),
          hsets AS (SELECT id, list(DISTINCT h) AS hs FROM thash GROUP BY id),
          sigs AS (SELECT id,
                 $sigCols
            FROM hsets WHERE len(hs) > 0),
          bnd AS ($bandSel),${maxBucketSize.fold("") { cap =>
            // mirror of Dedup.minhashLshPairsStaged's mega-bucket cap:
            // buckets holding > cap docs are dropped whole; members
            // still pair via their other (more selective) bands
            s"""
          bnd_capped AS (
            SELECT id, band, bkey FROM (
              SELECT id, band, bkey,
                     COUNT(*) OVER (PARTITION BY band, bkey) AS __n
              FROM bnd)
            WHERE __n <= $cap),"""}}
          cands AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM ${maxBucketSize.fold("bnd")(_ => "bnd_capped")} a
            JOIN ${maxBucketSize.fold("bnd")(_ => "bnd_capped")} b
              ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
          verified AS (
            SELECT id_a, id_b,
                   len(list_intersect(ha.hs, hb.hs)) AS inter,
                   CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE) /
                     (len(ha.hs) + len(hb.hs)
                      - len(list_intersect(ha.hs, hb.hs))) AS jaccard
            FROM cands
            JOIN hsets ha ON ha.id = id_a
            JOIN hsets hb ON hb.id = id_b)"""
  }

  /** d03's bounded-subset target — see the Q("d03_minhash_lsh")
    * comment. 50k = the largest size the oracle has completed at
    * (full sf1 table), so every smaller SF keeps full-table rows. */
  private val d03SubsetTarget = 50000L

  /** s05/s06's bounded-subset target (d03's discipline on the
    * embeddings table): 20k vectors = the full-sf1 size, the largest
    * the banded self-join AND its DuckDB replica are both measured to
    * complete at (~50M candidate pairs with 16/4 banding). From sf10
    * up, `vec_id % m` keeps the gate at exactly that scale. */
  private val s05SubsetTarget = 20000L

  /** d05/d20/q55's bounded-subset target (the same discipline, on the
    * FULL-corpus pairwise shapes): 200k vectors = the full-sf10 size,
    * the largest scale the banded pair mine / in-cell semdedup AND
    * their DuckDB replicas are measured to complete at. Every smaller
    * SF keeps full-table rows (m = 1 through sf10); from sf100 up
    * (2M vectors), `vec_id % m` holds the gate at that proven scale —
    * without it the 16-values-per-band buckets grow linearly with the
    * corpus and the in-bucket self-joins quadratically (the exact
    * round-13 s05 spill, measured again at sf100: one q55 in-cell
    * aggregate stage burned >30 CPU-minutes per task before the run
    * was killed). */
  private val embPairSubsetTarget = 200000L

  /** Spark half of the d05/d20/q55 subset — same truncating integer
    * arithmetic as the oracle's scalar subquery. */
  private def embPairSubset(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val full = t(s, d, "embeddings")
    val m = math.max(1L, full.count() / embPairSubsetTarget)
    if (m == 1L) full else full.filter(col("vec_id") % m === 0)
  }

  /** Mega-bucket cap shared by d05/s05/s06 AND their oracles: 1.2×
    * the uniform per-bucket expectation n / 2^(nBits/bands) of the
    * banding geometry in use, floored at 8, spelled 6n div (5·2^bits)
    * so both engines' truncating integer division produces the same
    * value (for the gated 16/4 geometry this is exactly the historic
    * 3n div 40). ONE formula, parameterized by the geometry — change
    * the banding and the cap, Spark-side and oracle-side, moves with
    * it instead of silently keeping the old bucket-count constant. */
  private[graft] def megaBucketCap(n: Long, nBits: Int, bands: Int): Long =
    math.max(8L, 6L * n / (5L * (1L << (nBits / bands))))

  /** The oracle half of [[megaBucketCap]] — same truncating
    * arithmetic, count taken from the subset CTE both sides rank. */
  private[graft] def megaBucketCapSql(srcCte: String, nBits: Int, bands: Int): String =
    s"greatest(8, (6 * (SELECT count(*) FROM $srcCte)) // ${5L * (1L << (nBits / bands))})"

  /** d05's subset + always-on mega-bucket cap (the s05CorpusAndCap
    * discipline at the [[embPairSubsetTarget]] scale): cap =
    * [[megaBucketCap]] of the banding geometry, derived from the SAME
    * count the oracle's scalar subquery uses. Without it the
    * content-replicated corpus (sf100: ~1000 identical copies per
    * base vector) turns every bucket into a copy-clique — the banded
    * self-join is quadratic in the COPY count even after the subset
    * bound. */
  private def d05CorpusAndCap(s: org.apache.spark.sql.SparkSession,
      d: String, nBits: Int, bands: Int):
      (org.apache.spark.sql.DataFrame, Long) = {
    val corpus = embPairSubset(s, d)
    val n = corpus.count()
    (corpus, megaBucketCap(n, nBits, bands))
  }

  /** The oracle-side CTE for [[embPairSubset]]. */
  private def embPairSubsetCte(name: String): String =
    s"""$name AS (SELECT * FROM embeddings
                  WHERE vec_id % greatest(1,
                    (SELECT count(*) FROM embeddings)
                      // $embPairSubsetTarget) = 0)"""

  /** The Spark half of s05/s06's two data-driven guards: the bounded
    * subset (m = count/[[s05SubsetTarget]], truncating) and the
    * [[megaBucketCap]] of the banding geometry — buckets denser than
    * 1.2× a fair hyperplane split (degenerate near-dup clusters) are
    * dropped while their members still pair via their other bands.
    * Round-13 verdict item 1: the cap existed but NO gated caller
    * passed it, so the sf10 gate ran the uncapped config straight
    * into a ~31G-candidate spill. The cap derives from the same count
    * the oracle's scalar subquery uses, making drop decisions
    * identical by construction. */
  private def s05CorpusAndCap(s: org.apache.spark.sql.SparkSession,
      d: String, nBits: Int, bands: Int):
      (org.apache.spark.sql.DataFrame, Long) = {
    val full = t(s, d, "embeddings")
    val nFull = full.count()
    val m = math.max(1L, nFull / s05SubsetTarget)
    val corpus = if (m == 1L) full else full.filter(col("vec_id") % m === 0)
    val n = if (m == 1L) nFull else corpus.count()
    (corpus, megaBucketCap(n, nBits, bands))
  }

  private def d03Oracle(bands: Int, rpb: Int, minJ: Double, seed: Long,
                        maxBucketSize: Option[Long] = None): String =
    s"""WITH d03src AS (SELECT * FROM documents
                        WHERE doc_id % greatest(1,
                          (SELECT count(*) FROM documents)
                            // $d03SubsetTarget) = 0),
        ${minhashCtes("d03src", bands, rpb, seed, maxBucketSize)}
        SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
               round(jaccard, 4) AS jaccard
        FROM verified WHERE jaccard >= $minJ
        ORDER BY id_a, id_b"""

  /** DuckDB replica of the incremental batch-vs-corpus dedup (d10):
    * batch exact-dedup → drop batch content already in the corpus →
    * MinHash-LSH over the keyed union (batch ids + 2^62 so corpus
    * always wins representative election) with pairs RESTRICTED to
    * batch-involving ones (id_b >= FLAG — exactly what the Spark side
    * mines) → reachability → drop non-representative batch docs. */
  /** d10 gates the FULL documents table wherever the DuckDB oracle
    * can run it and a doc_id % m bounded subset above, with
    * m = max(1, count/25000) — so the subset stays ~25k docs at EVERY
    * scale (the size the oracle's reach-pairs recursive CTE is known
    * to complete at; the full table OOMs it from sf1 up — measured
    * round 7). sf0.001/0.01/0.1 keep full-table evidence (m = 1),
    * sf1 keeps its round-12 doc_id%2 rows exactly (m = 2), and sf10
    * becomes gateable at m = 20 instead of skipped. Both engines
    * derive m from the same data-driven count, so the cut is
    * identical by construction. */
  private val d10SubsetTarget = 25000L

  /** t14's bounded-subset target — 500k docs, the full-sf10 size the
    * BPE oracle (recursive-CTE merge fixed point + per-doc
    * string_agg) is measured to complete at; m = 1 through sf10. */
  private val t14SubsetTarget = 500000L

  private def d10Oracle(bands: Int, rpb: Int, minJ: Double, seed: Long): String = {
    val FLAG = 1L << 62
    s"""WITH RECURSIVE
          sub AS (SELECT * FROM documents
                  WHERE doc_id % greatest(1,
                    (SELECT count(*) FROM documents) // $d10SubsetTarget)
                    = 0),
          b1 AS (
            SELECT * FROM sub WHERE doc_id % 7 = 0
            QUALIFY row_number() OVER (PARTITION BY md5(text)
                                       ORDER BY doc_id) = 1),
          corpus AS (SELECT * FROM sub WHERE doc_id % 7 <> 0),
          b2 AS (SELECT * FROM b1
                 WHERE md5(text) NOT IN (SELECT md5(text) FROM corpus)),
          keyed AS (
            SELECT doc_id + $FLAG AS doc_id, text FROM b2
            UNION ALL
            SELECT doc_id, text FROM corpus),
          ${minhashCtes("keyed", bands, rpb, seed)},
          fpairs AS (SELECT id_a, id_b FROM verified
                     WHERE jaccard >= $minJ AND id_b >= $FLAG),
          edges AS (SELECT id_a AS src, id_b AS dst FROM fpairs
                    UNION SELECT id_b AS src, id_a AS dst FROM fpairs),
          r(id, reach) AS (
            SELECT src, src FROM edges
            UNION
            SELECT r.id, e.dst FROM r JOIN edges e ON e.src = r.reach),
          dupes AS (
            SELECT id FROM (SELECT id, MIN(reach) AS cluster_id
                            FROM r GROUP BY id)
            WHERE id <> cluster_id)
        SELECT doc_id, lang, n_chars FROM b2
        WHERE doc_id + $FLAG NOT IN (SELECT id FROM dupes)
        ORDER BY doc_id"""
  }

  /** DuckDB replica of the WHOLE dedupCorpus pipeline: exact dedup
    * (min-id per content hash) → MinHash-LSH pairs over survivors →
    * recursive-CTE connected components → drop non-representatives. */
  private def d07Oracle(bands: Int, rpb: Int, minJ: Double, seed: Long): String =
    s"""WITH RECURSIVE
          survivors AS (
            SELECT * FROM documents
            QUALIFY row_number() OVER (PARTITION BY md5(text)
                                       ORDER BY doc_id) = 1),
          ${minhashCtes("survivors", bands, rpb, seed)},
          fpairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= $minJ),
          edges AS (SELECT id_a AS src, id_b AS dst FROM fpairs
                    UNION SELECT id_b AS src, id_a AS dst FROM fpairs),
          r(id, reach) AS (
            SELECT src, src FROM edges
            UNION
            SELECT r.id, e.dst FROM r JOIN edges e ON e.src = r.reach),
          dupes AS (
            SELECT id FROM (SELECT id, MIN(reach) AS cluster_id
                            FROM r GROUP BY id)
            WHERE id <> cluster_id)
        SELECT doc_id, lang, n_chars FROM survivors
        WHERE doc_id NOT IN (SELECT id FROM dupes)
        ORDER BY doc_id"""

  val all: Seq[Q] = Seq(

    // -- as-of join (q26) --------------------------------------------------
    Q("q26_asof_join",
      (s, d) => {
        // duplicate (custkey, orderdate) rows resolve to max orderkey
        // via the tie-break INSIDE the single asof window pass — no
        // separate dedup shuffle
        val o = t(s, d, "orders")
          .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
        val e = t(s, d, "events")
          .select(col("event_id"), col("user_id"),
            date_trunc("second", col("ts")).as("ts_s"))
        AsofJoin(e, col("user_id"), col("ts_s"),
            o, col("o_custkey"), col("o_orderdate"),
            Seq("o_orderkey", "o_totalprice"),
            rightTieBreak = Seq(col("o_orderkey")))
          .select("event_id", "user_id", "o_orderkey", "o_totalprice")
          .orderBy("event_id")
      },
      Some("""WITH o AS (
                SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
                  SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                               ORDER BY o_orderkey DESC) AS rn
                  FROM orders) WHERE rn = 1)
              SELECT event_id, user_id, o_orderkey, o_totalprice
              FROM events ASOF LEFT JOIN o
                ON user_id = o.o_custkey AND date_trunc('second', ts) >= o.o_orderdate
              ORDER BY event_id""")),

    // -- range join (q27) --------------------------------------------------
    Q("q27_range_join",
      (s, d) => {
        val e = t(s, d, "events")
          .select(col("event_id"), col("user_id"),
            unix_timestamp(date_trunc("second", col("ts"))).as("tsec"))
        RangeJoin(
            e.select(col("event_id").as("id_a"), col("user_id"), col("tsec")),
            col("user_id"), col("tsec"),
            e.select(col("event_id").as("id_b"), col("user_id").as("u2"), col("tsec").as("t2")),
            col("u2"), col("t2"),
            window = 21600L)
          .filter(col("id_a") =!= col("id_b"))
          .select("id_a", "id_b")
          .orderBy("id_a", "id_b")
      },
      Some("""WITH e AS (SELECT event_id, user_id,
                                date_trunc('second', ts) AS ts_s FROM events)
              SELECT a.event_id AS id_a, b.event_id AS id_b
              FROM e a JOIN e b ON a.user_id = b.user_id
               AND b.ts_s >= a.ts_s AND b.ts_s < a.ts_s + INTERVAL 6 HOUR
               AND a.event_id <> b.event_id
              ORDER BY id_a, id_b""")),

    // -- approx distinct (q28), cube (q29), set ops (q30/q31) -------------
    Q("q28_approx_distinct",
      (s, d) => t(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(approx_count_distinct(col("o_custkey")).as("approx_cust"),
             countDistinct(col("o_custkey")).as("exact_cust"))
        .orderBy("o_orderpriority"),
      None), // HLL sketch values are engine-specific; spec bounds the error

    // -- KMV distinct sketch: approximate AND cross-engine exact -----------
    // HLL sketch bytes are engine-private (q28 is rows-only for that
    // reason); the k-minimum-values estimator is not: the k smallest
    // hashes — and therefore (k-1)·P div h_(k) — are the same numbers
    // in any engine. Approximate in accuracy, deterministic in value.
    // The hash must be injective AND uniform: an affine map mod the
    // Mersenne prime is injective for keys < P but leaves dense keys on
    // an arithmetic progression (the k minima then sit at the wrap
    // points and the estimate lands ~100x off); composing with x^5
    // mod P — a BIJECTION on [0,P) since gcd(5, P-1) = 1 — scrambles
    // the progression while keeping the zero-collision property.
    // Plan: ONE ObjectHashAggregate, partial → final — each task keeps
    // the k smallest distinct hashes (O(k) buffer), so the shuffle
    // carries at most k longs per group per partition; the composed
    // distinct → window-rank formulation would shuffle EVERY distinct
    // (group, key) row first (asserted in PlanSpec).
    Q("q43_kmv_distinct",
      (s, d) => t(s, d, "lineitem")
        .select(col("l_returnflag"),
          expr("(cast(l_partkey as bigint) * 131071 + 524287) % 2147483647")
            .as("h0"))
        .select(col("l_returnflag"), col("h0"),
          expr("(h0 * h0) % 2147483647").as("h2"))
        .select(col("l_returnflag"),
          expr("(((h2 * h2) % 2147483647) * h0) % 2147483647").as("h"))
        .groupBy("l_returnflag")
        .agg(graft.functions.KmvFunctions.kmvDistinct(col("h"), k = 256)
          .as("kmv_est"))
        .orderBy("l_returnflag"),
      Some("""WITH keys AS (
                SELECT DISTINCT l_returnflag, l_partkey FROM lineitem),
              h0s AS (
                SELECT l_returnflag,
                       (CAST(l_partkey AS BIGINT) * 131071 + 524287)
                         % 2147483647 AS h0
                FROM keys),
              hs AS (
                SELECT l_returnflag,
                       ((((h0 * h0) % 2147483647) * ((h0 * h0) % 2147483647))
                         % 2147483647 * h0) % 2147483647 AS h
                FROM h0s),
              rk AS (
                SELECT l_returnflag, h,
                       row_number() OVER (PARTITION BY l_returnflag
                                          ORDER BY h) AS rn
                FROM hs),
              kk AS (
                SELECT l_returnflag, MAX(h) AS hk, COUNT(*) AS cnt
                FROM rk WHERE rn <= 256 GROUP BY 1)
              SELECT l_returnflag,
                     CASE WHEN cnt < 256 THEN cnt
                          ELSE (CAST(255 AS BIGINT) * 2147483647) // hk END AS kmv_est
              FROM kk ORDER BY l_returnflag""")),

    // -- Count-Min Sketch frequency estimates ------------------------------
    // the third deterministic sketch (KMV: distinct counts; Bloom:
    // membership; CMS: frequencies): counter increments are commutative
    // sums over LCG-derived positions, so the matrix — and every
    // min-over-rows estimate — is bit-identical in any engine and under
    // any partitioning. Probes = the exact top-10 tokens, so the entry
    // checks estimate >= exact semantics on real frequencies.
    Q("q44_cms_freq",
      (s, d) => {
        import graft.functions.{CmsFunctions, RollingHashFunctions}
        val tkh = t(s, d, "documents")
          .select(explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
          .filter(col("tok") =!= "")
          .withColumn("h",
            RollingHashFunctions.fingerprint(col("tok")) % 2147483647L)
        val cms = tkh.agg(CmsFunctions.cmsAgg(col("h")).as("__cms"))
        val probes = tkh.groupBy("tok", "h")
          .agg(count(lit(1)).as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("tok"))
          .limit(10)
        probes.crossJoin(broadcast(cms)) // 1-row scalar
          .select(col("tok").as("token"), col("exact_cnt"),
            CmsFunctions.cmsEstimate(col("__cms"), col("h")).as("cms_est"))
          .orderBy(col("exact_cnt").desc, col("token"))
      },
      Some {
        val depth = 3; val width = 1024
        val (as, bs) = graft.functions.MinHashSignature.perms(depth, 42L)
        def posOf(j: Int, h: String) =
          s"((${as(j)} * $h + ${bs(j)}) % 2147483647) % $width"
        val jList = (0 until depth).mkString("[", ", ", "]")
        def posList(h: String) =
          (0 until depth).map(posOf(_, h)).mkString("[", ", ", "]")
        s"""WITH tk AS (
               SELECT unnest($tok) AS tok FROM documents),
             tkh AS (
               SELECT tok,
                      (list_reduce(list_transform(string_split(tok, ''),
                         ch -> CAST(unicode(ch) AS BIGINT)),
                         (a, b) -> (a * 131 + b) % 2147483647) * 2147483648
                       + list_reduce(list_transform(string_split(tok, ''),
                           ch -> CAST(unicode(ch) AS BIGINT)),
                           (a, b) -> (a * 257 + b) % 2147483647)) % 2147483647 AS h
               FROM tk WHERE tok <> ''),
             cms AS (
               SELECT j, pos, COUNT(*) AS c FROM (
                 SELECT unnest($jList) AS j, unnest(${posList("h")}) AS pos
                 FROM tkh)
               GROUP BY j, pos),
             probes AS (
               SELECT tok, h, COUNT(*) AS exact_cnt
               FROM tkh GROUP BY tok, h
               ORDER BY exact_cnt DESC, tok LIMIT 10),
             ppos AS (
               SELECT tok, exact_cnt, unnest($jList) AS j,
                      unnest(${posList("h")}) AS pos
               FROM probes)
           SELECT tok AS token, exact_cnt, MIN(c) AS cms_est
           FROM ppos JOIN cms USING (j, pos)
           GROUP BY tok, exact_cnt
           ORDER BY exact_cnt DESC, token"""
      }),

    // -- explicit salted skew join -----------------------------------------
    // result is IDENTICAL to the plain join (the oracle IS the plain
    // join over the same derived keys) — what changes is the shuffle:
    // a detected hot key's probe rows scatter over numSalts salt
    // buckets instead of one reducer's hash bucket, and ONLY hot keys
    // pay the right-side replication (uniform keys take the plain-join
    // tail). The input is DELIBERATELY skewed — the benchmark corpus
    // is uniform, so the skew is derived deterministically: key 1 owns
    // ~1/3 of events (event_id % 3) and a few hundred orders rows
    // (o_orderkey % 997 < 3), so the hot output grows QUADRATICALLY
    // with SF (both sides' hot rows collapse onto one key): ~15M rows
    // at sf0.1, ~1.5B at sf1 — a stress test, not a linear workload.
    //
    // Both q45 and q48 pin the build side to a shuffle join
    // (hint "shuffle_merge"): salting exists for the fact-fact regime
    // where neither side broadcasts — SkewJoin's own scaladoc says use
    // broadcast() for broadcastable dims, and with a broadcast build
    // there is no key-partitioned shuffle to skew (measured at sf1:
    // plain broadcast join 45s ≈ fine without salting). The regime
    // matters because Spark's own rescue fails here: AQE skew-join
    // keys on map-output BYTES (hot partition ~100 MB < the 256 MB
    // threshold) and is blind to join AMPLIFICATION — the hot key
    // fans out ~450×, so the modest-input partition explodes into
    // ~1.5B output rows inside one reducer. Measured at sf1
    // (BENCH_sf1.json queries_min, 3 interleaved samples, AQE
    // skew-join enabled): q48 plain SMJ 694.6s vs q45 salted 72.4s —
    // 9.6×. SkewJoin detects hot keys by probe ROW
    // COUNT, which sees exactly the skew AQE misses. Deterministic
    // salt (hash of event_id, not rand()) keeps it retry-safe.
    Q("q45_salted_join",
      (s, d) => SkewJoin.saltedJoin(
          skewEvents(s, d), col("skew_uid"), col("event_id"),
          skewOrders(s, d).hint("shuffle_merge"), col("skew_ck"),
          numSalts = 32, hotKeyThreshold = 1000L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("event_type"),
      Some(skewOracle)),

    // -- unsalted baseline on the same skewed input ------------------------
    // the comparison point that shows q45's WIN, not just its cost:
    // same derived-skew join, same shuffle-join regime (see q45's
    // header), no salting — the hot key's entire quadratic output is
    // produced by ONE sort-merge reducer and AQE does not split it
    // (input-size heuristic, amplification-blind). Same oracle as q45
    // by construction.
    Q("q48_plain_skew",
      (s, d) => skewEvents(s, d)
        .join(skewOrders(s, d).hint("shuffle_merge"),
          col("skew_uid") === col("skew_ck"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("event_type"),
      Some(skewOracle)),

    // -- the THIRD skew regime: factor the aggregate through the join ------
    // q45 salts because it models a join whose OUTPUT rows are needed.
    // When the final aggregate is distributive over the join (as this
    // benchmark's count+sum is), the right plan is algebraic, not
    // physical: pre-aggregate each side per key, join the ~unique-key
    // relations, and multiply — SUM(price) over the pair fan-out equals
    // SUM(n_events_per_key_and_type * sum_price_per_key). The ~1.5B-row
    // pair materialization never exists, the hot key carries ONE row per
    // side, and skew is gone by construction. At 100 TB this rewrite is
    // the first thing to reach for; salting is for when the join rows
    // themselves are the product (enrichment, feature joins). All
    // arithmetic stays exact: counts in LONG, money in DECIMAL(27,4)
    // sums factored as n_e (exact long->decimal) * sum_o (exact
    // decimal), so the final correctly-rounded DOUBLE is bit-identical
    // to q45/q48/the oracle — same skewOracle gates all three regimes.
    Q("q49_factored_skew",
      (s, d) => {
        val e = skewEvents(s, d)
          .groupBy("skew_uid", "event_type")
          .agg(count(lit(1)).as("n_e"))
        val o = skewOrders(s, d)
          .groupBy("skew_ck")
          .agg(count(lit(1)).as("n_o"),
               sum(col("o_totalprice").cast(D4)).as("sum_o"))
        e.join(o, col("skew_uid") === col("skew_ck"))
          .groupBy("event_type")
          .agg(sum(col("n_e") * col("n_o")).as("cnt"),
               sum(col("n_e").cast(
                   org.apache.spark.sql.types.DecimalType(10, 0)) *
                 col("sum_o")).cast("double").as("sum_price"))
          .orderBy("event_type")
      },
      Some(skewOracle)),

    // -- bloom-prefiltered join (explicit semi-join reduction) -------------
    // most lineitem rows have no high-value order partner; the probe
    // side is screened row-locally against a broadcast Bloom of the
    // build keys BEFORE the join shuffle. False positives just ride to
    // the real join; false negatives can't happen — so the oracle is
    // the plain join.
    //
    // Whether to install the filter at all is a planning decision:
    // BloomJoin.adaptivePrefilteredJoin makes it from the sketch
    // family (survivor fraction = cms_join_size(standing probe CMS,
    // build distinct-key CMS) / cms_total; skip above 0.5 — BloomSpec
    // pins both regimes and result equality). This gate shape has
    // TRUE survivor fraction 0.20 at every tested decade (20% of
    // orders clear 400k at any SF), so the rule keeps the filter —
    // but how much the filter actually drops is a SIZING question,
    // and the fixed 2^20-bit round-9 gate was a measured decade bug:
    // 30k build keys at sf0.1 (35 bits/key, works) became 3.01M at
    // sf10 (0.35 bits/key, fpp ≈ 1.0) — a silently saturated sketch
    // passing every probe row, which is why the round-10 sf10 A/B saw
    // filtered ≈ plain (2.85 vs 2.68 s min). The gate now sizes the
    // sketch from the build side's measured key count
    // (sized from the build side's measured key count), which holds
    // fpp scale-invariant at EVERY decade: the sketch drops the 80%
    // of probe rows with no partner before they reach the join.
    // Round 12, two reworks measured at sf10: (1) both sides run over
    // the SHARED bucketed layouts (q65's tables — one clustered copy
    // per source serves every order-key join), so the join itself
    // pays zero Exchange and zero Sort — the residual probe-side
    // exchange of round 11 (3.46 s vs DuckDB 0.54) is gone; (2) the
    // sketch is SELF-SIZING (one build job, no separate
    // approx_count_distinct pass — that job alone cost 0.5–0.6 s,
    // comparable to the whole remaining join). In the exchange-free
    // regime the sketch saves merge compute, not shuffle bytes, so
    // the sweet spot is a SMALLER sketch than the 16 b/key shuffle
    // default: 4 b/key (pow-2 rounding makes it ~5.6 effective),
    // k=2, fpp ≈ 9% — A/B at sf10: 0.95 s vs 2.25 s for the
    // fixed-16b two-job spelling, vs 0.8 s for no filter at all.
    // Round 13 closes that last gap: the decision rule prices the
    // REGIME before selectivity — when the plain join plans as a
    // shuffle-class join with zero Exchanges (both sides co-bucketed),
    // the Bloom has no shuffle bytes to save and is a measured net
    // loss, so selfSizedPrefilteredJoin skips it and this gate runs
    // the plain co-partitioned join; in the broadcast/shuffle regimes
    // the sketch still installs (BloomSpec pins all paths).
    Q("q47_bloom_join",
      (s, d) => BloomJoin.selfSizedPrefilteredJoin(
          bucketedLineitem(s, d), col("l_orderkey"),
          bucketedOrders(s, d).filter(col("o_totalprice") > 400000),
          col("o_orderkey"), bitsPerKey = 4, numHashes = 2)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderpriority"),
      Some(s"""SELECT o_orderpriority, COUNT(*) AS cnt,
                      ${sqlSum("l_extendedprice")} AS sum_price
               FROM lineitem JOIN orders ON l_orderkey = o_orderkey
               WHERE o_totalprice > 400000
               GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // -- histogram quantile estimates --------------------------------------
    // the quantile member of the deterministic-sketch family: one
    // histogram shuffle (map-side combine), quantiles read off the
    // cumulative counts — versus q21's exact percentile, which sorts
    // every group row. Bucket lower edge ⇒ error <= width; integer
    // cross-multiplied threshold, no float ratios.
    Q("q46_histogram_quantile",
      (s, d) => Quantiles.histogramQuantiles(
          t(s, d, "lineitem"), col("l_returnflag"), col("l_extendedprice"),
          width = 1000L, percentiles = Seq(50, 95, 99))
        .withColumnRenamed("g", "l_returnflag")
        .orderBy("l_returnflag", "p"),
      Some("""WITH h AS (
                SELECT l_returnflag AS g,
                       CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS b,
                       COUNT(*) AS c
                FROM lineitem GROUP BY 1, 2),
              cum AS (
                SELECT g, b,
                       SUM(c) OVER (PARTITION BY g ORDER BY b
                         ROWS UNBOUNDED PRECEDING) AS cum,
                       SUM(c) OVER (PARTITION BY g) AS total
                FROM h),
              q AS (SELECT g, p, MIN(b * 1000) AS est
                    FROM cum CROSS JOIN (SELECT unnest([50, 95, 99]) AS p) ps
                    WHERE cum * 100 >= total * p GROUP BY g, p)
              SELECT g AS l_returnflag, p, est FROM q
              ORDER BY l_returnflag, p""")),

    Q("q29_cube",
      (s, d) => t(s, d, "customer")
        .cube("c_mktsegment", "c_nationkey")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("c_mktsegment").asc_nulls_first,
                 col("c_nationkey").asc_nulls_first),
      Some("""SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt
              FROM customer GROUP BY CUBE (c_mktsegment, c_nationkey)
              ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST""")),

    Q("q30_intersect",
      (s, d) => t(s, d, "customer")
        .filter(col("c_mktsegment") === "AUTOMOBILE")
        .select(col("c_custkey").as("k"))
        .intersect(t(s, d, "orders")
          .filter(col("o_totalprice") > 300000)
          .select(col("o_custkey").as("k")))
        .orderBy("k"),
      Some("""SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
              INTERSECT
              SELECT o_custkey AS k FROM orders WHERE o_totalprice > 300000
              ORDER BY k""")),

    Q("q31_except",
      (s, d) => t(s, d, "customer")
        .filter(col("c_mktsegment") === "AUTOMOBILE")
        .select(col("c_custkey").as("k"))
        .except(t(s, d, "orders")
          .filter(col("o_totalprice") > 300000)
          .select(col("o_custkey").as("k")))
        .orderBy("k"),
      Some("""SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
              EXCEPT
              SELECT o_custkey AS k FROM orders WHERE o_totalprice > 300000
              ORDER BY k""")),

    // -- deduplication -----------------------------------------------------
    Q("d01_dedup_exact",
      (s, d) => t(s, d, "documents")
        .agg(count(lit(1)).as("n_docs"),
             countDistinct(md5(col("text"))).as("n_distinct")),
      Some("""SELECT COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_distinct
              FROM documents""")),

    Q("d02_ngram_jaccard",
      (s, d) => Dedup.ngramJaccardPairs(
          t(s, d, "documents"), col("doc_id"), col("text"), 0.6)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("id_a", "id_b"),
      Some(s"""WITH toks AS (
                 SELECT DISTINCT id, tok FROM (
                   SELECT doc_id AS id,
                          unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
                            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS tok
                   FROM (SELECT doc_id, $tok AS tk FROM documents))
                 WHERE tok <> ''),
               sizes AS (SELECT id, COUNT(*) AS sz FROM toks GROUP BY id),
               pairs AS (
                 SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
                 FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
                 GROUP BY 1, 2)
               SELECT id_a, id_b, inter, sa.sz AS size_a, sb.sz AS size_b,
                      round(CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter), 4) AS jaccard
               FROM pairs
               JOIN sizes sa ON id_a = sa.id
               JOIN sizes sb ON id_b = sb.id
               WHERE CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter) >= 0.6
               ORDER BY id_a, id_b""")),

    // d03 gates the FULL table wherever the oracle can replay the
    // banding (≤ d03SubsetTarget docs — sf0.001 through sf1) and a
    // doc_id % m bounded subset above (m = count/50000): the ORACLE's
    // signature CTEs spill past this box's temp disk on 500k docs
    // (sf10 was an honest skip through round 12); a fixed-size ~50k
    // slice keeps a full decade of hash evidence at every larger
    // scale. Both engines derive m from the same count.
    Q("d03_minhash_lsh",
      (s, d) => {
        val full = t(s, d, "documents")
        val m = math.max(1L, full.count() / d03SubsetTarget)
        val docs =
          if (m == 1L) full else full.filter(col("doc_id") % m === 0)
        Dedup.minhashLshPairs(
            docs, col("doc_id"), col("text"),
            bands = 16, rowsPerBand = 4, minJaccard = 0.6)
          .withColumn("jaccard", round(col("jaccard"), 4))
          .orderBy("id_a", "id_b")
      },
      Some(d03Oracle(bands = 16, rpb = 4, minJ = 0.6, seed = 42L))),

    // -- dedup clustering (transitive closure of near-dup pairs) -----------
    // Spark: iterative min-label propagation; DuckDB: recursive CTE
    // reachability — both converge to cluster_id = min reachable id.
    Q("d06_dedup_clusters",
      (s, d) => Dedup.connectedComponents(
          Dedup.ngramJaccardPairs(
            t(s, d, "documents"), col("doc_id"), col("text"), 0.6))
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE
                 $ccJaccardCtes
               SELECT id AS doc_id, MIN(reach) AS cluster_id
               FROM r GROUP BY id ORDER BY doc_id""")),

    // -- canonical selection within near-dup clusters (d14) ----------------
    // the step a real dedup pipeline runs AFTER clustering: keep exactly
    // one survivor per cluster, chosen by quality (t03's scorer), doc_id
    // as the deterministic tiebreak. The cluster side is pair-derived
    // (tiny vs the corpus) so its join onto documents broadcasts;
    // scoring is row-local; the ranking window is cluster-partitioned
    // (bounded by cluster size — never global).
    Q("d14_cluster_canonical",
      (s, d) => {
        val docs = t(s, d, "documents")
        val clusters = Dedup.connectedComponents(
          Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 0.6))
        val scored = docs
          .join(broadcast(clusters.select(col("id").as("doc_id"), col("cluster_id"))),
            "doc_id")
          .select(col("cluster_id"), col("doc_id"),
            TextAnalysis.qualityScoreBp(col("text")).as("quality_bp"))
        val wRk = org.apache.spark.sql.expressions.Window
          .partitionBy("cluster_id").orderBy(col("quality_bp").desc, col("doc_id"))
        val wSz = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
        scored
          .withColumn("rk", row_number().over(wRk))
          .withColumn("cluster_sz", count(lit(1)).over(wSz))
          .filter(col("rk") === 1)
          .select(col("cluster_id"), col("doc_id").as("keep_doc_id"),
            col("quality_bp").as("keep_quality_bp"),
            col("cluster_sz"), (col("cluster_sz") - 1).as("drop_cnt"))
          .orderBy("cluster_id")
      },
      Some(s"""WITH RECURSIVE
                 $ccJaccardCtes,
                 cl AS (SELECT id, MIN(reach) AS cluster_id FROM r GROUP BY id),
                 q AS ($qualitySubquery),
                 sc AS (SELECT cl.cluster_id, cl.id AS doc_id, q.quality_bp
                        FROM cl JOIN q ON cl.id = q.doc_id),
                 rk AS (SELECT cluster_id, doc_id, quality_bp,
                               row_number() OVER (PARTITION BY cluster_id
                                 ORDER BY quality_bp DESC, doc_id) AS rk,
                               COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_sz
                        FROM sc)
               SELECT cluster_id, doc_id AS keep_doc_id,
                      quality_bp AS keep_quality_bp,
                      CAST(cluster_sz AS BIGINT) AS cluster_sz,
                      CAST(cluster_sz - 1 AS BIGINT) AS drop_cnt
               FROM rk WHERE rk = 1 ORDER BY cluster_id""")),

    // -- per-domain document caps (d15) -------------------------------------
    // C4/RefinedWeb-style domain curation: budget = half the corpus,
    // split across domains ∝ isqrt(count) with a floor of 4; within a
    // domain keep the cap smallest by (md5(text), doc_id) — the same
    // content-keyed determinism contract as q34. Caps broadcast; the
    // corpus pays one domain-partitioned window exchange.
    Q("d15_domain_cap",
      (s, d) => Mixing.domainCap(
          t(s, d, "documents"), "source", col("text"), "doc_id")
        .select(col("source"), col("cap"), col("rk"), col("doc_id"))
        .orderBy("source", "rk"),
      Some("""WITH cnt AS (SELECT source, COUNT(*) AS c_docs
                           FROM documents GROUP BY source),
                   wts AS (SELECT source, c_docs,
                                  CAST(floor(sqrt(c_docs)) AS BIGINT) AS w
                           FROM cnt),
                   tot AS (SELECT CAST(SUM(w) AS BIGINT) AS sum_w,
                                  CAST(SUM(c_docs) AS BIGINT) AS c_total
                           FROM wts),
                   caps AS (SELECT source,
                                   GREATEST(CAST(4 AS BIGINT),
                                     ((c_total // 2) * w) // sum_w) AS cap
                            FROM wts, tot),
                   ranked AS (SELECT source, doc_id,
                                     CAST(row_number() OVER (
                                       PARTITION BY source
                                       ORDER BY md5(text), doc_id) AS INT) AS rk
                              FROM documents)
              SELECT r.source, c.cap, r.rk, r.doc_id
              FROM ranked r JOIN caps c ON r.source = c.source
              WHERE r.rk <= c.cap
              ORDER BY r.source, rk""")),

    // -- duplicated-span removal (d16) -------------------------------------
    // ExactSubstr-style within-document dedup (Lee et al. 2022),
    // discretized to aligned 8-token segments: segments occurring > 2
    // times corpus-wide are boilerplate and are cut from EVERY doc,
    // which is what whole-doc dedup (d01/d07) structurally cannot do.
    // Two corpus scans, zero corpus shuffles: a map-side-combined
    // segment count builds the tiny hot set, which rides back as a
    // plan literal for the row-local rebuild (operators/Dedup.scala
    // segmentDedup).
    Q("d16_segment_dedup",
      (s, d) => Dedup.segmentDedup(
          t(s, d, "documents"), col("doc_id"), col("text"))
        .orderBy("doc_id"),
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t
                          FROM documents),
                   segs AS (
                     SELECT doc_id, generate_subscripts(ss, 1) AS si,
                            unnest(ss) AS seg
                     FROM (SELECT doc_id,
                             list_transform(
                               range(0, CAST(ceil(len(t)/8.0) AS BIGINT)),
                               j -> array_to_string(
                                 t[j*8+1 : least((j+1)*8, len(t))], ' ')) AS ss
                           FROM tk)),
                   hot AS (SELECT seg FROM segs
                           GROUP BY seg HAVING count(*) > 2)
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_seg,
                     CAST(count(*) FILTER (
                       WHERE seg IN (SELECT seg FROM hot)) AS BIGINT)
                       AS n_dropped,
                     COALESCE(string_agg(seg, ' ' ORDER BY si) FILTER (
                       WHERE seg NOT IN (SELECT seg FROM hot)), '')
                       AS cleaned_text
              FROM segs GROUP BY doc_id
              ORDER BY doc_id""")),

    // -- content-defined-chunking span removal (d17) -----------------------
    // d16 with rsync/LBFS boundaries: a token closes its segment iff
    // rolling_fingerprint(token) % 8 == 0, so segment boundaries
    // depend only on content and RESYNCHRONIZE after an upstream
    // insertion — the duplicated span a shifted copy carries still
    // produces identical segments and reaches the hot count, where
    // d16's aligned windows re-key the whole document (DedupSpec
    // proves the split). Same zero-corpus-shuffle two-scan shape.
    // The oracle re-derives the per-token fingerprint (t04's
    // list_reduce form), marks closers, assigns segments by an
    // exclusive running sum of closers, and replays the hot-set cut.
    // Gated on the FULL table through sf1 and a ~50k-doc doc_id % m
    // subset above (m = count/50000, the d03/d10 pattern): the
    // ORACLE re-derives every token's rolling fingerprint under a
    // per-doc running-sum window — at sf10 that is a window over
    // 130M tokens, which DuckDB cannot hold (measured this round:
    // OOM at a 110 GB limit even isolated) — the graft side (one
    // byte-kernel scan) is not the bottleneck.
    Q("d17_cdc_segment_dedup",
      (s, d) => {
        val full = t(s, d, "documents")
        val m = math.max(1L, full.count() / d03SubsetTarget)
        val docs =
          if (m == 1L) full else full.filter(col("doc_id") % m === 0)
        Dedup.cdcSegmentDedup(docs, col("doc_id"), col("text"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t
                          FROM documents
                          WHERE doc_id % greatest(1,
                            (SELECT count(*) FROM documents)
                              // $d03SubsetTarget) = 0),
                   tok AS (SELECT doc_id, generate_subscripts(t, 1) AS ti,
                                  unnest(t) AS tokv
                           FROM tk),
                   fps AS (SELECT doc_id, ti, tokv,
                             CASE WHEN tokv = '' THEN 0 ELSE
                               list_reduce(list_transform(string_split(tokv, ''),
                                   ch -> CAST(unicode(ch) AS BIGINT)),
                                 (a, b) -> (a * 131 + b) % 2147483647)
                                 * 2147483648
                               + list_reduce(list_transform(string_split(tokv, ''),
                                   ch -> CAST(unicode(ch) AS BIGINT)),
                                 (a, b) -> (a * 257 + b) % 2147483647)
                             END AS fp
                           FROM tok),
                   sg AS (SELECT doc_id, ti, tokv,
                            COALESCE(SUM(CASE WHEN fp % 8 = 0 THEN 1 ELSE 0 END)
                              OVER (PARTITION BY doc_id ORDER BY ti
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS segid
                           FROM fps),
                   segs AS (SELECT doc_id, segid,
                                   string_agg(tokv, ' ' ORDER BY ti) AS seg,
                                   min(ti) AS si
                            FROM sg GROUP BY doc_id, segid),
                   hot AS (SELECT seg FROM segs
                           GROUP BY seg HAVING count(*) > 2)
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_seg,
                     CAST(count(*) FILTER (
                       WHERE seg IN (SELECT seg FROM hot)) AS BIGINT)
                       AS n_dropped,
                     COALESCE(string_agg(seg, ' ' ORDER BY si) FILTER (
                       WHERE seg NOT IN (SELECT seg FROM hot)), '')
                       AS cleaned_text
              FROM segs GROUP BY doc_id
              ORDER BY doc_id""")),

    // -- end-to-end corpus dedup (exact → LSH pairs → clusters → keep reps)
    Q("d07_dedup_corpus",
      (s, d) => Dedup.dedupCorpus(
          t(s, d, "documents"), col("doc_id"), col("text"), minJaccard = 0.6)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id"),
      Some(d07Oracle(bands = 16, rpb = 4, minJ = 0.6, seed = 42L))),

    // -- benchmark decontamination (eval-set leakage detection) ------------
    // benchmark stand-in: every 29th document; flag corpus docs whose
    // distinct-shingle overlap with a benchmark doc >= 500 per-mille of
    // the corpus doc's shingles. Join on the same rolling-fingerprint
    // shingle hashes both engines compute; integer per-mille via div/
    // DuckDB `//`.
    Q("d08_decontaminate",
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.contaminationPairs(docs, col("doc_id"), col("text"),
            docs.filter(col("doc_id") % 29 === 0), col("doc_id"),
            col("text"), minOverlapMilli = 500L)
          .orderBy("doc_id", "bench_id")
      },
      Some(s"""WITH
                 toks AS (
                   SELECT DISTINCT id, tok FROM (
                     SELECT doc_id AS id,
                            unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
                              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS tok
                     FROM (SELECT doc_id, $tok AS tk FROM documents))
                   WHERE tok <> ''),
                 thash AS (
                   SELECT DISTINCT id,
                          (list_reduce(list_transform(string_split(tok, ''),
                             ch -> CAST(unicode(ch) AS BIGINT)),
                             (a, b) -> (a * 131 + b) % 2147483647) * 2147483648
                           + list_reduce(list_transform(string_split(tok, ''),
                               ch -> CAST(unicode(ch) AS BIGINT)),
                               (a, b) -> (a * 257 + b) % 2147483647)) % 2147483647 AS h
                   FROM toks),
                 sizes AS (SELECT id, COUNT(*) AS n_shingles
                           FROM thash GROUP BY id),
                 matches AS (
                   SELECT c.id AS doc_id, b.id AS bench_id,
                          COUNT(*) AS inter
                   FROM thash c
                   JOIN thash b ON c.h = b.h AND b.id % 29 = 0
                   GROUP BY 1, 2)
               SELECT m.doc_id, m.bench_id, m.inter, s.n_shingles,
                      (m.inter * 1000) // s.n_shingles AS overlap_milli
               FROM matches m JOIN sizes s ON s.id = m.doc_id
               WHERE (m.inter * 1000) // s.n_shingles >= 500
               ORDER BY m.doc_id, m.bench_id""")),

    // -- sketch-side decontamination (Bloom bit array, no corpus join) -----
    // same benchmark stand-in as d08; the oracle simulates the bit
    // array as the DISTINCT SET of bench bit positions (identical
    // semantics: a shingle "might be contaminated" iff ALL its k
    // positions are set) with the same LCG constants as literals —
    // Bloom false positives reproduce EXACTLY, not approximately.
    Q("d09_bloom_decontaminate",
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.bloomContamination(docs, col("doc_id"), col("text"),
            docs.filter(col("doc_id") % 29 === 0), col("text"),
            mBits = 1 << 18, numHashes = 3, seed = 42L, minHitMilli = 500L)
          .orderBy("doc_id")
      },
      Some {
        val m = 1 << 18
        val k = 3
        val (as, bs) = graft.functions.MinHashSignature.perms(k, 42L)
        def posList(h: String) = (0 until k)
          .map(j => s"((${as(j)} * $h + ${bs(j)}) % 2147483647) % $m")
          .mkString("[", ", ", "]")
        s"""WITH
             toks AS (
               SELECT DISTINCT id, tok FROM (
                 SELECT doc_id AS id,
                        unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
                          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS tok
                 FROM (SELECT doc_id, $tok AS tk FROM documents))
               WHERE tok <> ''),
             thash AS (
               SELECT DISTINCT id,
                      (list_reduce(list_transform(string_split(tok, ''),
                         ch -> CAST(unicode(ch) AS BIGINT)),
                         (a, b) -> (a * 131 + b) % 2147483647) * 2147483648
                       + list_reduce(list_transform(string_split(tok, ''),
                           ch -> CAST(unicode(ch) AS BIGINT)),
                           (a, b) -> (a * 257 + b) % 2147483647)) % 2147483647 AS h
               FROM toks),
             sizes AS (SELECT id, COUNT(*) AS n_shingles
                       FROM thash GROUP BY id),
             bpos AS (SELECT DISTINCT pos FROM (
                 SELECT unnest(${posList("h")}) AS pos
                 FROM (SELECT DISTINCT h FROM thash WHERE id % 29 = 0))),
             cpos AS (SELECT id, h, unnest(${posList("h")}) AS pos
                      FROM thash),
             hits AS (SELECT id, h FROM cpos JOIN bpos USING (pos)
                      GROUP BY id, h HAVING COUNT(*) = $k),
             nh AS (SELECT id, COUNT(*) AS n_hits FROM hits GROUP BY id)
           SELECT s.id AS doc_id, s.n_shingles, nh.n_hits,
                  (nh.n_hits * 1000) // s.n_shingles AS hit_milli
           FROM sizes s JOIN nh ON nh.id = s.id
           WHERE (nh.n_hits * 1000) // s.n_shingles >= 500
           ORDER BY doc_id"""
      }),

    // -- incremental batch-vs-corpus dedup (the production ingest shape) ---
    // corpus = docs with doc_id % 7 != 0 (stands in for yesterday's
    // deduped corpus), batch = the rest. Candidate mining only probes
    // batch buckets; corpus precedence via the 2^62 key offset.
    // Gated on the FULL table where the oracle can run it and a
    // ~25k-doc doc_id % m subset above (d18's pattern, m scale-
    // adaptive — see d10SubsetTarget): the ORACLE's connected
    // components is a reach-pairs recursive CTE that cannot complete
    // on 50k+ docs (measured round 7: unbounded spill under a memory
    // cap, OOM without one) — the graft side is not the bottleneck.
    // Both engines branch on the same data-driven count, so small
    // scales keep full-table evidence and every larger decade keeps a
    // fixed-size corpus-vs-batch slice; DedupSpec covers the
    // operator's own laws on full fixtures.
    Q("d10_incremental_dedup",
      (s, d) => {
        val full = t(s, d, "documents")
        val m = math.max(1L, full.count() / d10SubsetTarget)
        val docs =
          if (m == 1L) full else full.filter(col("doc_id") % m === 0)
        Dedup.incrementalDedup(
            docs.filter(col("doc_id") % 7 =!= 0), col("doc_id"), col("text"),
            docs.filter(col("doc_id") % 7 === 0), col("doc_id"), col("text"),
            minJaccard = 0.6)
          .select("doc_id", "lang", "n_chars")
          .orderBy("doc_id")
      },
      Some(d10Oracle(bands = 16, rpb = 4, minJ = 0.6, seed = 42L))),

    Q("d04_simhash",
      (s, d) => Dedup.simhashPairs(
          t(s, d, "documents"), col("doc_id"), col("text"), maxDist = 3)
        .orderBy("id_a", "id_b"),
      Some(d04Oracle(maxDist = 3))),

    Q("d05_embed_neardup",
      // embPairSubset bound + ACTIVE mega-bucket cap (d05CorpusAndCap)
      // — the capped config IS the gated config at every SF, the
      // s05/d11 convention
      (s, d) => {
        val (corpus, cap) = d05CorpusAndCap(s, d, nBits = 16, bands = 4)
        Similarity.nearDupPairs(corpus, minCos = 0.4,
            maxBucketSize = Some(cap))
          .withColumn("cos", round(col("cos"), 6))
          .orderBy("id_a", "id_b")
      },
      Some(d05Oracle(minCos = 0.4, nBits = 16, bands = 4, seed = 42L))),

    // -- sketch-estimated join size (q64) ----------------------------------
    // predict the skewed join's OUTPUT CARDINALITY without running it:
    // per CMS row, the integer dot product of the two sides' count
    // vectors, min over rows (AGMS via Count-Min) — the est never
    // underestimates, so as the broadcast/salt planning input it errs
    // the safe way. Beside it, the exact size from key-cardinality-
    // sized count tables (Σ c_e(k)·c_o(k) — no join materialized).
    // This is the number that says q48 will emit ~1.5G rows BEFORE
    // anyone pays for it; q60 names the keys, q64 prices the join.
    Q("q64_join_size_sketch",
      (s, d) => {
        import graft.functions.CmsFunctions
        val depth = 3; val width = 8192
        val ev = skewEvents(s, d).select(col("skew_uid").as("k"))
        val or = skewOrders(s, d).select(col("skew_ck").as("k"))
        val ecms = ev.agg(CmsFunctions.cmsAgg(col("k"), depth, width)
          .as("cms_e"))
        val ocms = or.agg(CmsFunctions.cmsAgg(col("k"), depth, width)
          .as("cms_o"))
        val exact = ev.groupBy("k").agg(count(lit(1)).as("ce"))
          .join(or.groupBy("k").agg(count(lit(1)).as("co")), "k")
          .agg(sum(col("ce") * col("co")).cast("long").as("exact_pairs"))
        ecms.crossJoin(ocms).crossJoin(exact)
          .select(CmsFunctions.cmsJoinSize(col("cms_e"), col("cms_o"),
            depth, width).as("est_pairs"), col("exact_pairs"))
      },
      Some(q64Oracle(depth = 3, width = 8192, seed = 42L))),

    // -- bucketed fact-fact join (q65) --------------------------------------
    // q06's expensive core — lineitem ⋈ orders on the order key, the
    // join where BOTH sides are fact-sized and neither broadcasts —
    // run over hash-BUCKETED table layouts instead of raw parquet:
    // Layout.ensureBucketed writes each side once per session,
    // clustered+sorted into 32 buckets on its key, and the join then
    // reads co-located sorted buckets with ZERO Exchange and ZERO
    // per-query Sort of either fact table (PlanSpec pins both). This
    // is the standard 100 TB answer to the Exchange-heavy q05/q06
    // class: the shuffle is paid once at ingest, amortized over every
    // downstream join/agg on that key — exactly how the bench's
    // repeated samples see it (first sample pays the write, the rest
    // measure the steady state). The aggregation keys afterwards are
    // 5-value dimensions, so that exchange moves partials only.
    Q("q65_bucketed_join",
      (s, d) => {
        val orders = bucketedOrders(s, d)
        val li = bucketedLineitem(s, d)
        li.join(orders, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"), count(lit(1)).as("cnt"))
          .orderBy("o_orderpriority")
      },
      Some(s"""SELECT o_orderpriority,
                      ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue,
                      COUNT(*) AS cnt
               FROM lineitem JOIN orders ON l_orderkey = o_orderkey
               GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // -- bucketed 5-way star (q06b) -----------------------------------------
    // q06's full star over the SHARED bucketed layouts — the gated
    // proof that q06's two fact shuffles (its 4.4×-DuckDB growth term
    // at sf10) are a LAYOUT cost, not a query cost. Same result, same
    // oracle; q06 stays as the raw-parquet baseline (q45/q48 style).
    // Shape: q65's sort-free co-bucketed merge join of the two facts,
    // then the dimension chain (customer→nation→region, key+name
    // columns only) broadcasts onto the joined rows, and the final
    // aggregate combines map-side to 25 groups — no fact row is ever
    // hashed across the cluster; the only hash Exchange is the 25-row
    // final agg (PlanSpec pins scan bucketing + Exchange count).
    // A/B at sf10 (92dfbba:src/main/scala/graft/tools/Q06Ab.scala):
    // pre-aggregating lineitem to order
    // grain first measured ~2.9 s steady vs this form's ~2.3 s — the
    // pre-agg saves broadcast-probe work on 45M rows but its
    // HashAggregate output DROPS the bucket sort, putting a 15M-row
    // per-partition Sort back under the merge join; the sort costs
    // more than the probes save. At 100 TB customer outgrows the
    // explicit broadcast; the same contract then buckets orders by
    // o_custkey for this family instead (one more standing layout,
    // zero query rewrites).
    Q("q06b_multijoin_bucketed",
      (s, d) => {
        val cust = t(s, d, "customer")
          .join(broadcast(t(s, d, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, d, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("c_custkey"), col("r_name"), col("n_name"))
        bucketedLineitem(s, d)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
          .join(bucketedOrders(s, d).select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy("r_name", "n_name")
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"), count(lit(1)).as("cnt"))
          .orderBy("r_name", "n_name")
      },
      Some(s"""SELECT r_name, n_name,
                      ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue,
                      COUNT(*) AS cnt
               FROM lineitem
               JOIN orders   ON l_orderkey = o_orderkey
               JOIN customer ON o_custkey = c_custkey
               JOIN nation   ON c_nationkey = n_nationkey
               JOIN region   ON n_regionkey = r_regionkey
               GROUP BY r_name, n_name ORDER BY r_name, n_name""")),

    // -- pointwise-MI feature selection (q63) ------------------------------
    // which tokens are INFORMATIVE about a label (here lang) — the
    // feature-selection pass a quality/lang classifier trains on.
    // Score = association LIFT in ppm: (c_wl·10⁶ div c_w)·N div c_l —
    // P(w|l)/P(w) scaled to integers with STAGED division (the single
    // product c_wl·N·10⁶ overflows BIGINT at sf10; the staged form is
    // bounded and both engines define truncating div identically).
    // Finer than floor-log2 PMI bits, which quantized this corpus's
    // near-uniform lifts to a single value. All four count tables are
    // map-side-combined aggregates of ONE token scan; the scoring
    // join is vocabulary-sized and broadcast. Top-5 per lang under a
    // total (lift, count, token) order.
    Q("q63_mi_feature_select",
      (s, d) => {
        val tok = t(s, d, "documents")
          .select(col("lang"),
            explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
          .filter(col("w") =!= "")
        // cwl feeds FOUR consumers (scoring join + cl/cw/n rollups).
        // Unstaged, each re-ran the corpus scan + token explode + agg:
        // ReuseExchange can NOT dedup them because each consumer
        // pushes a different isnotnull set into its copy of the
        // subtree (round-15 plan audit: 4 FileScans, 0 reuse — the
        // q77 lazy-derivation trap). EAGERLY materialized (round-17):
        // cl/cw/n are three CONCURRENTLY-launched broadcast jobs racing
        // on the cold lazy cache — interleaved A/B (pinned heap,
        // identical rows): lazy 0.83 med / 0.68 min s vs eager 0.52 /
        // 0.49 at sf0.1.
        val cwl = graft.operators.Staging.persist(
          tok.groupBy("lang", "w").agg(count(lit(1)).as("c_wl")),
          eager = true)
        val cl = cwl.groupBy("lang").agg(sum("c_wl").as("c_l"))
        val cw = cwl.groupBy("w").agg(sum("c_wl").as("c_w"))
        val n = cwl.agg(sum("c_wl").as("n"))
        val wRank = org.apache.spark.sql.expressions.Window
          .partitionBy("lang")
          .orderBy(col("lift_ppm").desc, col("c_wl").desc, col("w").asc)
        cwl.join(broadcast(cl), "lang").join(broadcast(cw), "w")
          .crossJoin(broadcast(n))
          .filter(col("c_wl") >= 5)
          .withColumn("lift_ppm",
            expr("((c_wl * 1000000L) div c_w) * n div c_l"))
          .withColumn("rank", row_number().over(wRank))
          .filter(col("rank") <= 5)
          .select(col("lang"), col("rank"), col("w").as("token"),
            col("c_wl"), col("lift_ppm"))
          .orderBy("lang", "rank")
      },
      Some(s"""WITH tok AS (
                SELECT lang, unnest($tok) AS w FROM documents),
              tk AS (SELECT lang, w FROM tok WHERE w <> ''),
              cwl AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c_wl
                      FROM tk GROUP BY 1, 2),
              cl AS (SELECT lang, CAST(SUM(c_wl) AS BIGINT) AS c_l
                     FROM cwl GROUP BY 1),
              cw AS (SELECT w, CAST(SUM(c_wl) AS BIGINT) AS c_w
                     FROM cwl GROUP BY 1),
              n AS (SELECT CAST(SUM(c_wl) AS BIGINT) AS n FROM cwl),
              scored AS (
                SELECT cwl.lang, cwl.w, cwl.c_wl,
                       CAST(((cwl.c_wl * 1000000) // cw.c_w) * n.n // cl.c_l
                         AS BIGINT) AS lift_ppm
                FROM cwl JOIN cl ON cl.lang = cwl.lang
                JOIN cw ON cw.w = cwl.w
                CROSS JOIN n
                WHERE cwl.c_wl >= 5),
              ranked AS (
                SELECT *, CAST(row_number() OVER (PARTITION BY lang
                  ORDER BY lift_ppm DESC, c_wl DESC, w) AS INT) AS rank
                FROM scored)
              SELECT lang, rank, w AS token, c_wl, lift_ppm
              FROM ranked WHERE rank <= 5 ORDER BY lang, rank""")),

    // -- exact global top-10% selection (q62) ------------------------------
    // "keep the top decile by quality" WITHOUT the single-reducer
    // global window: one histogram shuffle over the integer score
    // domain, prefix arithmetic on the (tiny) histogram, rows join
    // back against the broadcast cut — only the boundary score value
    // pays a tie-ranking window. Selected set == the naive global
    // row_number's, which IS the oracle.
    Q("q62_global_topk_percent",
      (s, d) => Quantiles.globalTopFraction(
          t(s, d, "documents").select(col("doc_id"),
            TextAnalysis.qualityScoreBp(col("text")).as("quality_bp")),
          col("quality_bp"), col("doc_id"), num = 1, den = 10,
          stageScores = true)
        .select("doc_id", "quality_bp")
        .orderBy("doc_id"),
      Some(s"""WITH q AS ($qualitySubquery),
            sel AS (
              SELECT doc_id, quality_bp,
                     row_number() OVER (ORDER BY quality_bp DESC, doc_id)
                       AS rn
              FROM q)
          SELECT doc_id, quality_bp FROM sel
          WHERE rn <= (SELECT COUNT(*) // 10 FROM q)
          ORDER BY doc_id""")),

    // -- semantic decontamination (d20) ------------------------------------
    // d08's eval-leakage audit in EMBEDDING space: flag corpus vectors
    // whose cosine to any benchmark vector (vec_id % 29, d08's bench
    // convention) clears the threshold — the paraphrased contamination
    // shingle overlap cannot see. Bench side broadcast through the
    // shared hyperplane banding; the corpus never shuffles.
    Q("d20_semantic_decontaminate",
      (s, d) => {
        // embPairSubset bound (m = 1 through sf10), applied BEFORE the
        // %29 corpus/bench split so both sides shrink consistently
        val emb = embPairSubset(s, d)
        Similarity.semanticContamination(
            emb.filter(col("vec_id") % 29 =!= 0),
            emb.filter(col("vec_id") % 29 === 0), minCos = 0.3)
          .withColumn("cos", round(col("cos"), 6))
          .orderBy("vec_id", "bench_id")
      },
      Some(d20Oracle(minCos = 0.3, nBits = 16, bands = 4, seed = 42L))),

    // -- quadratic-guard caps under oracle (SURVEY §2.D hardening) ---------
    // The two configs SURVEY calls MANDATORY at 100 TB — mega-bucket
    // and document-frequency caps bound per-key join fan-out so one
    // boilerplate bucket/shingle can't go O(k²) — run here with the
    // caps ACTIVE and the DuckDB oracle reproducing the recall effect
    // (at sf0.1 the corpus has LSH buckets of 3-4 docs and shingles in
    // up to 25 docs, so both caps demonstrably fire).
    Q("d11_lsh_bucket_cap",
      (s, d) => {
        // same data-driven bounded subset as d03 (shared oracle CTEs)
        val full = t(s, d, "documents")
        val m = math.max(1L, full.count() / d03SubsetTarget)
        val docs =
          if (m == 1L) full else full.filter(col("doc_id") % m === 0)
        Dedup.minhashLshPairs(
            docs, col("doc_id"), col("text"),
            bands = 16, rowsPerBand = 4, minJaccard = 0.6,
            maxBucketSize = Some(2L))
          .withColumn("jaccard", round(col("jaccard"), 4))
          .orderBy("id_a", "id_b")
      },
      Some(d03Oracle(bands = 16, rpb = 4, minJ = 0.6, seed = 42L,
        maxBucketSize = Some(2L)))),

    Q("d12_docfreq_cap",
      (s, d) => Dedup.ngramJaccardPairs(
          t(s, d, "documents"), col("doc_id"), col("text"), 0.6,
          maxDocFreq = Some(10L))
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("id_a", "id_b"),
      // d02's oracle with the doc-frequency cap applied where the
      // operator applies it: AFTER token dedup, BEFORE sizes — so
      // size_a/size_b (and thus jaccard) reflect the capped token sets
      Some(s"""WITH toks0 AS (
                 SELECT DISTINCT id, tok FROM (
                   SELECT doc_id AS id,
                          unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
                            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS tok
                   FROM (SELECT doc_id, $tok AS tk FROM documents))
                 WHERE tok <> ''),
               toks AS (
                 SELECT id, tok FROM (
                   SELECT id, tok, COUNT(*) OVER (PARTITION BY tok) AS df
                   FROM toks0)
                 WHERE df <= 10),
               sizes AS (SELECT id, COUNT(*) AS sz FROM toks GROUP BY id),
               pairs AS (
                 SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
                 FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
                 GROUP BY 1, 2)
               SELECT id_a, id_b, inter, sa.sz AS size_a, sb.sz AS size_b,
                      round(CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter), 4) AS jaccard
               FROM pairs
               JOIN sizes sa ON id_a = sa.id
               JOIN sizes sb ON id_b = sb.id
               WHERE CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter) >= 0.6
               ORDER BY id_a, id_b""")),

    // -- asymmetric containment (quote/subset detection) --------------------
    // overlap coefficient |A∩B|/min(|A|,|B|): flags a short doc embedded
    // in a long one, which symmetric Jaccard (d02) misses because the
    // union is dominated by the long side
    Q("d13_containment",
      (s, d) => Dedup.containmentPairs(
          t(s, d, "documents"), col("doc_id"), col("text"), 0.8)
        .withColumn("containment", round(col("containment"), 4))
        .orderBy("id_a", "id_b"),
      Some(s"""WITH toks AS (
                 SELECT DISTINCT id, tok FROM (
                   SELECT doc_id AS id,
                          unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
                            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS tok
                   FROM (SELECT doc_id, $tok AS tk FROM documents))
                 WHERE tok <> ''),
               sizes AS (SELECT id, COUNT(*) AS sz FROM toks GROUP BY id),
               pairs AS (
                 SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
                 FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
                 GROUP BY 1, 2)
               SELECT id_a, id_b, inter, sa.sz AS size_a, sb.sz AS size_b,
                      round(CAST(inter AS DOUBLE)/least(sa.sz, sb.sz), 4) AS containment
               FROM pairs
               JOIN sizes sa ON id_a = sa.id
               JOIN sizes sb ON id_b = sb.id
               WHERE CAST(inter AS DOUBLE)/least(sa.sz, sb.sz) >= 0.8
               ORDER BY id_a, id_b""")),

    // -- similarity search -------------------------------------------------
    Q("s01_cosine_topk",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 10)
          .withColumn("cos", round(col("cos"), 6))
          .orderBy("query_id", "rank")
      },
      Some("""WITH q AS (SELECT vec_id AS query_id,
                                CAST(embedding AS DOUBLE[]) AS qe
                         FROM embeddings WHERE vec_id < 5),
                   c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
                         FROM embeddings),
                   scored AS (
                     SELECT query_id, vec_id,
                            list_dot_product(qe, ce) /
                              (sqrt(list_dot_product(qe, qe)) *
                               sqrt(list_dot_product(ce, ce))) AS cos
                     FROM q JOIN c ON vec_id <> query_id),
                   ranked AS (
                     SELECT *, CAST(row_number() OVER (
                       PARTITION BY query_id ORDER BY cos DESC, vec_id)
                       AS INTEGER) AS rank
                     FROM scored)
              SELECT query_id, rank, vec_id, round(cos, 6) AS cos
              FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""")),

    Q("s02_ann_lsh",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), k = 10)
          .withColumn("cos", round(col("cos"), 6))
          .orderBy("query_id", "rank")
      },
      Some(s02Oracle(k = 10, nBits = 16, bands = 4, seed = 42L))),

    Q("s03_ivf_ann",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
            lloydIters = 2)
          .withColumn("cos", round(col("cos"), 6))
          .orderBy("query_id", "rank")
      },
      Some(s03Oracle(k = 10, nCells = 16, nProbe = 4, lloydIters = 2))),

    // -- k-means model as an artifact (q66) --------------------------------
    // the training half s03/s04/q55 consume implicitly, exposed as the
    // persistable result a curation pipeline actually ships: per cell
    // its min-member-id label, size, and trained centroid. Each Lloyd
    // step is one corpus scan shrinking map-side to nCells×dims rows;
    // centroids broadcast; the stats pass is one cells-sized agg with
    // the model attached AFTER aggregation (never per corpus row).
    // The gate flattens the array-valued centroid to long form — one
    // (cell_rep, dim, c) row per coordinate — because the compare
    // layer hashes scalar cells only (an array column crashed the
    // round-10 driver compare despite bit-identical values). The
    // library artifact keeps the array shape; this is a gate reshape.
    Q("q66_kmeans_train",
      (s, d) => Similarity.kmeansModel(t(s, d, "embeddings"),
          nCells = 16, lloydIters = 2)
        .select(col("cell_rep"), col("n_members"),
          posexplode(col("centroid")))
        .select(col("cell_rep"), col("n_members"),
          (col("pos") + 1).cast("int").as("dim"), col("col").as("c"))
        .orderBy("cell_rep", "dim"),
      Some(q66Oracle(nCells = 16, lloydIters = 2))),

    // -- cluster-balanced subset selection (q67) ---------------------------
    // per-cell quotas in deterministic (md5, id) order: the cluster-
    // coverage sampling that keeps tail topics a uniform sample
    // drops. Assignment is row-local (broadcast model); the cut is
    // one cell-keyed window over ~constant-size cells.
    Q("q67_cluster_sample",
      (s, d) => Similarity.clusterBalancedSample(t(s, d, "embeddings"),
          quota = 20, nCells = 16, lloydIters = 2)
        .orderBy("vec_id"),
      Some(q67Oracle(quota = 20, nCells = 16, lloydIters = 2))),

    Q("s04_pq_ann",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.pqTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
            dims = 64, nSub = 4, nCodes = 16, lloydIters = 1, rerank = 50)
          .withColumn("cos", round(col("cos"), 6))
          .orderBy("query_id", "rank")
      },
      Some(s04Oracle(k = 10, dims = 64, nSub = 4, nCodes = 16,
        lloydIters = 1, rerank = 50))),

    // -- kNN join (s05): top-k neighbours for EVERY vector ------------------
    // the kNN-graph primitive embedding-level curation builds on
    // (SemDeDup cluster pruning, diversity sampling). Query set = the
    // corpus, so nothing broadcasts: banded-signature SELF-join
    // blocking (d05's), each unordered pair scored once + union'd both
    // ways, per-vector top-k via a WindowGroupLimit-pre-trimmed window.
    Q("s05_knn_join",
      (s, d) => {
        // bounded subset + ACTIVE mega-bucket cap (s05CorpusAndCap) —
        // the capped config IS the gated config at every SF
        val (corpus, cap) = s05CorpusAndCap(s, d, nBits = 16, bands = 4)
        Similarity.knnJoin(corpus, k = 3, maxBucketSize = Some(cap))
          .withColumn("cos", round(col("cos"), 6))
          .orderBy("query_id", "rank")
      },
      Some(s05Oracle(k = 3, nBits = 16, bands = 4, seed = 42L))),

    // -- edit-distance-1 fuzzy join (d19) ----------------------------------
    // FastSS deletion-neighborhood self-join: two strings within edit
    // distance 1 SHARE a deletion variant, so candidates come from an
    // equi-join on |s|+1 variants per string (never the O(n²) cross
    // join) and levenshtein verifies below the pair-dedup exchange.
    // The spelling-variant miner entity resolution runs where
    // SimHash/MinHash are too coarse.
    //
    // Gated with the mega-bucket cap ACTIVE (maxBucket=8, the d11/m09
    // convention) over a MIXED key table exercising both regimes:
    //  - supplier names are dense zero-padded serial blocks whose only
    //    meeting variants are block-shared digit prefixes — uniform
    //    19-per-bucket at sf0.01 growing ~+9/decade, the superlinear
    //    candidate source measured 5.2 s → 128 s across sf1 → sf10.
    //    The cap drops ALL of them: same-block serial neighbours are
    //    id-adjacency noise, not spelling variants, and that recall
    //    is exactly what the knob prices.
    //  - part-name words (deterministic ids = 10^9 + dense_rank so
    //    both engines agree) are a natural-language vocabulary whose
    //    variants are selective — the true pairs (cold, old) and
    //    (red, rod) meet in buckets of 2-3 and SURVIVE the cap,
    //    proving the filter is a cap, not a kill switch.
    Q("d19_fuzzy_join",
      (s, d) => {
        val sup = t(s, d, "supplier")
          .select(col("s_suppkey").cast("long").as("id"),
            col("s_name").as("name"))
        val words = t(s, d, "part")
          .select(explode(split(col("p_name"), " ")).as("w"))
          .filter(col("w") =!= "").distinct()
          .select((lit(1000000000L) + dense_rank().over(
              org.apache.spark.sql.expressions.Window.orderBy("w"))).as("id"),
            col("w").as("name"))
        FuzzyJoin.editDistance1Pairs(sup.unionByName(words),
            col("id"), col("name"), maxBucket = Some(8L))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH sup AS (
                SELECT CAST(s_suppkey AS BIGINT) AS id, s_name AS s
                FROM supplier),
              words AS (
                SELECT DISTINCT unnest(string_split(p_name, ' ')) AS w
                FROM part),
              wid AS (
                SELECT 1000000000 + dense_rank() OVER (ORDER BY w) AS id,
                       w AS s
                FROM words WHERE w <> ''),
              base AS (
                SELECT id, s FROM (
                  SELECT id, s FROM sup UNION ALL SELECT id, s FROM wid)
                WHERE s IS NOT NULL AND length(s) > 0),
              vars AS (
                SELECT id, s,
                       unnest(list_distinct(list_prepend(s,
                         list_transform(range(1, length(s) + 1),
                           i -> substr(s, 1, CAST(i - 1 AS INT))
                                || substr(s, CAST(i + 1 AS INT)))))) AS v
                FROM base),
              hot AS (
                SELECT v FROM vars GROUP BY v HAVING count(*) > 8),
              capped AS (
                SELECT * FROM vars
                WHERE v NOT IN (SELECT v FROM hot)),
              cands AS (
                SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                       CAST(levenshtein(a.s, b.s) AS INT) AS dist
                FROM capped a JOIN capped b
                  ON a.v = b.v AND a.id < b.id)
              SELECT id_a, id_b, dist FROM cands
              WHERE dist <= 1 ORDER BY id_a, id_b""")),

    // -- sliding-window distinct users (q61) -------------------------------
    // EXACT distinct-user counts for every 1-hour window sliding by 10
    // minutes — the classic "you can't sum distincts across buckets"
    // problem, solved without per-window rescans: dedup (user, bucket)
    // first (exchange-FREE over the user-bucketed layout), then
    // each surviving pair fans out to exactly the W/S = 6 windows
    // containing its bucket — a BOUNDED explode of the deduped pairs,
    // not the events — distinct (user, window), count. At 100 TB the
    // fan-out factor stays 6 whatever the event volume; the naive
    // formulation joins events against every window range.
    Q("q61_sliding_distinct",
      (s, d) => {
        // SWEEP-LINE formulation (A/B'd at sf10 vs the fan-out form —
        // see §6): a user covers window w iff they have a bucket in
        // [w, w+5], i.e. per user the covered windows are the UNION of
        // intervals [b−5, b] — merge buckets ≤5 apart (one user-
        // partitioned window over the deduped pairs, sessionize on
        // the bucket axis), emit +1/−1 boundary deltas per merged
        // interval, prefix-sum over the delta domain, densify the
        // constant runs with an output-sized sequence explode. The
        // fan-out form shuffled 6×|user-buckets| rows through the
        // (user, window) distinct; this shuffles the pairs once plus
        // interval-sized rows.
        val wU = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("b")
        val wCum = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("b")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val wW = org.apache.spark.sql.expressions.Window.orderBy("w")
        // round 13: the one corpus-sized shuffle is gone too — over
        // the user-bucketed layout both the (user, bucket) distinct
        // and the per-user sweep window need only user co-location,
        // which the buckets already provide (zero Exchange; the
        // remaining exchanges move interval- and window-sized rows)
        val intervals = bucketedEvents(s, d)
          .select(col("user_id"), expr("unix_timestamp(ts) div 600").as("b"))
          .distinct()
          .withColumn("prev", lag("b", 1).over(wU))
          .withColumn("ns",
            when(col("prev").isNull || col("b") - col("prev") > 5, 1)
              .otherwise(0))
          .withColumn("seg", sum("ns").over(wCum))
          .groupBy("user_id", "seg")
          .agg((min(col("b")) - 5).as("w_lo"), max(col("b")).as("w_hi"))
        // both sweep endpoints leave ONE read of the intervals subtree
        // (a 2-element explode) — the earlier self-union's branches
        // each re-computed the distinct+sessionize subtree (the q63
        // duplicate-subtree trap; 92dfbba:src/main/scala/graft/tools/AbR16.scala
        // at sf10: 1.76 → 1.19 s median)
        intervals
          .select(explode(array(
            struct(col("w_lo").as("w"), lit(1L).as("d")),
            struct((col("w_hi") + 1).as("w"), lit(-1L).as("d")))).as("e"))
          .select(col("e.w").as("w"), col("e.d").as("d"))
          .groupBy("w").agg(sum("d").as("d"))
          .withColumn("n_users", sum("d").over(
            wW.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .withColumn("next_w", lead("w", 1).over(wW))
          .filter(col("n_users") > 0)
          .select(explode(expr("sequence(w, coalesce(next_w - 1, w))"))
            .as("wb"), col("n_users"))
          .select((col("wb") * 600).as("w_start"), col("n_users"))
          .orderBy("w_start")
      },
      Some("""WITH ub AS (
                SELECT DISTINCT user_id,
                       (epoch_us(ts) // 1000000) // 600 AS b
                FROM events),
              uw AS (
                SELECT DISTINCT user_id, (b - i) * 600 AS w_start
                FROM ub CROSS JOIN (SELECT unnest(range(0, 6)) AS i)),
              counts AS (
                SELECT w_start, CAST(COUNT(*) AS BIGINT) AS n_users
                FROM uw GROUP BY w_start)
              SELECT w_start, n_users FROM counts ORDER BY w_start""")),

    // -- LSH recall/precision audit (d18) ----------------------------------
    // measure the near-dup MINER against exact ground truth on a
    // bounded subset (doc_id % 2 — the quadratic exact join stays
    // subset-sized; the LSH side is the production d03 config): full-
    // outer join of the two pair sets, integer per-mille recall and
    // precision. The audit every large-scale LSH deployment needs —
    // banding guarantees are probabilistic, the measured numbers are
    // what you tune bands/rows against. Truth = string-shingle
    // Jaccard (d02's measure); candidates = hashed-shingle MinHash-LSH
    // (d03's), so the audit also covers hash-collision drift.
    Q("d18_lsh_recall_audit",
      (s, d) => {
        val sub = t(s, d, "documents").filter(col("doc_id") % 2 === 0)
        val truth = Dedup.ngramJaccardPairs(sub, col("doc_id"), col("text"),
            0.6).select(col("id_a"), col("id_b"), lit(1).as("t"))
        val lsh = Dedup.minhashLshPairs(sub, col("doc_id"), col("text"),
            bands = 16, rowsPerBand = 4, minJaccard = 0.6)
          .select(col("id_a"), col("id_b"), lit(1).as("l"))
        truth.join(lsh, Seq("id_a", "id_b"), "full_outer")
          .agg(count(col("t")).as("n_truth"),
            count(col("l")).as("n_lsh"),
            count(when(col("t").isNotNull && col("l").isNotNull, 1))
              .as("n_common"))
          .select(col("n_truth"), col("n_lsh"), col("n_common"),
            expr("(n_common * 1000) div n_truth").as("recall_milli"),
            expr("(n_common * 1000) div n_lsh").as("precision_milli"))
      },
      Some(d18Oracle(bands = 16, rpb = 4, minJ = 0.6, seed = 42L))),

    // -- hyperplane-banding recall audit (d21) ------------------------------
    // d18's audit applied to the EMBEDDING family: d05/d20/s02 all
    // share the hyperplane signature + banding, whose recall is
    // probabilistic in the angle — this measures it against exact
    // cosine ground truth. Sample = the first 2048 even vec_ids: a
    // FIXED-size deterministic audit sample, so the quadratic truth
    // join is bounded by construction at every corpus scale (the knob
    // a 100 TB deployment sets; the sample broadcasts). The banding
    // side runs d05's production config on the same sample. Since the
    // production miner verifies candidates with the exact cosine,
    // precision is 1000‰ by construction and the measured number that
    // matters is RECALL — the pairs whose signatures never collide in
    // any band. One audit row, integer per-mille, both engines
    // bit-equal.
    Q("d21_hyperplane_recall_audit",
      (s, d) => {
        val sub = t(s, d, "embeddings")
          .filter(col("vec_id") % 2 === 0)
          .orderBy("vec_id").limit(2048)
          .select(col("vec_id"), col("embedding"))
        val truth = sub.as("a").crossJoin(broadcast(sub.as("b")))
          .filter(col("a.vec_id") < col("b.vec_id") &&
            Similarity.cosine(col("a.embedding"), col("b.embedding"))
              >= 0.4)
          .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
            lit(1).as("t"))
        val lsh = Similarity.nearDupPairs(sub, minCos = 0.4)
          .select(col("id_a"), col("id_b"), lit(1).as("l"))
        truth.join(lsh, Seq("id_a", "id_b"), "full_outer")
          .agg(count(col("t")).as("n_truth"),
            count(col("l")).as("n_lsh"),
            count(when(col("t").isNotNull && col("l").isNotNull, 1))
              .as("n_common"))
          .select(col("n_truth"), col("n_lsh"), col("n_common"),
            expr("(n_common * 1000) div n_truth").as("recall_milli"),
            expr("(n_common * 1000) div n_lsh").as("precision_milli"))
      },
      Some(d21Oracle(minCos = 0.4, nBits = 16, bands = 4, seed = 42L,
        sampleN = 2048))),

    // -- MMR diversified retrieval (s07) -----------------------------------
    // greedy maximal-marginal-relevance over the exact top-50
    // candidates per query: λ·rel − (1−λ)·max-sim-to-selected, the k
    // steps unrolled into ONE declarative plan (per-query argmax
    // window + broadcast penalty join per step, candidate stage
    // checkpointed). IEEE-double score arithmetic matches engines
    // bit-for-bit, so the SELECTED SET oracles, not just its scores.
    Q("s07_mmr_diversify",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.mmrTopK(emb, emb.filter(col("vec_id") < 3),
            k = 10, cand = 50)
          .orderBy("query_id", "rank")
      },
      Some(s07Oracle(k = 10, cand = 50, lam = 0.7)),
    ),

    // -- snapshot diff (q57) -----------------------------------------------
    // CDC derivation from two full dumps: "yesterday" = orders minus
    // the keys ≡0 mod 101 (so those read as inserts), "today" = orders
    // minus keys ≡0 mod 103 (deletes), with keys ≡0 mod 7 repriced
    // (updates). One full-outer join on the key; null-safe column
    // comparison row-local inside it; unchanged rows never leave the
    // join. Both engines derive the snapshots with the same CASE
    // arithmetic — no fixture data needed.
    Q("q57_snapshot_diff",
      (s, d) => {
        val o = t(s, d, "orders")
        val snapA = o.filter(col("o_orderkey") % 101 =!= 0)
        val snapB = o.filter(col("o_orderkey") % 103 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 7 === 0, col("o_totalprice") + lit(1.0))
              .otherwise(col("o_totalprice")))
        Diff.snapshotDiff(snapA, snapB, keys = Seq("o_orderkey"))
          .orderBy("o_orderkey")
      },
      Some("""WITH a AS (
                SELECT * FROM orders WHERE o_orderkey % 101 <> 0),
              b AS (
                SELECT o_orderkey, o_custkey, o_orderstatus,
                       CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                            ELSE o_totalprice END AS o_totalprice,
                       o_orderdate, o_orderpriority
                FROM orders WHERE o_orderkey % 103 <> 0),
              j AS (
                SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
                       CASE
                         WHEN a.o_orderkey IS NULL THEN 'insert'
                         WHEN b.o_orderkey IS NULL THEN 'delete'
                         WHEN (a.o_custkey IS DISTINCT FROM b.o_custkey)
                           OR (a.o_orderstatus IS DISTINCT FROM b.o_orderstatus)
                           OR (a.o_totalprice IS DISTINCT FROM b.o_totalprice)
                           OR (a.o_orderdate IS DISTINCT FROM b.o_orderdate)
                           OR (a.o_orderpriority IS DISTINCT FROM b.o_orderpriority)
                           THEN 'update'
                         ELSE 'unchanged'
                       END AS status
                FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
              SELECT o_orderkey, status FROM j
              WHERE status <> 'unchanged' ORDER BY o_orderkey""")),

    // -- changeset APPLY / MERGE upsert (q68) ------------------------------
    // q57's inverse and the write half of incremental maintenance:
    // land a CDC batch (insert/update/delete + payload) onto a
    // snapshot in ONE co-partitioned full-outer join (bucketed
    // snapshot layout ⇒ the snapshot side never re-shuffles — the
    // 100 TB daily-merge shape). The changeset here is derived from
    // orders with the same CASE arithmetic in both engines: keys
    // ≡0 (mod 7) repriced +1000, keys ≡3 (mod 11) deleted (mod-7
    // overlap excluded so the batch is key-unique), keys ≡0 (mod
    // 101) re-inserted under key+2⁴⁰ — the m10 offset convention,
    // above every reachable o_orderkey at any tested SF (a first cut
    // used 10⁸ and the sf10 gate caught the collision with real keys
    // immediately: the operator itself refused the then-duplicated
    // batch LOUDLY, which is the failure mode working as designed).
    Q("q68_apply_changeset",
      (s, d) => {
        val snap = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), col("o_orderstatus"))
        val updates = snap.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
          .withColumn("op", lit("update"))
        val deletes = snap.filter(col("o_orderkey") % 11 === 3 &&
            col("o_orderkey") % 7 =!= 0)
          .withColumn("op", lit("delete"))
        val inserts = snap.filter(col("o_orderkey") % 101 === 0)
          .select((col("o_orderkey") + 1099511627776L).as("o_orderkey"),
            col("o_custkey"), lit(42.0).as("o_totalprice"),
            lit("O").as("o_orderstatus"), lit("insert").as("op"))
        Diff.applyChangeset(snap,
            updates.unionByName(deletes).unionByName(inserts),
            keys = Seq("o_orderkey"))
          .orderBy("o_orderkey")
      },
      Some("""WITH snap AS (
                SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
                FROM orders),
              chg AS (
                SELECT o_orderkey, o_custkey,
                       o_totalprice + 1000.0 AS o_totalprice,
                       o_orderstatus, 'update' AS op
                FROM snap WHERE o_orderkey % 7 = 0
                UNION ALL
                SELECT o_orderkey, o_custkey, o_totalprice,
                       o_orderstatus, 'delete'
                FROM snap WHERE o_orderkey % 11 = 3 AND o_orderkey % 7 <> 0
                UNION ALL
                SELECT o_orderkey + 1099511627776, o_custkey, 42.0, 'O', 'insert'
                FROM snap WHERE o_orderkey % 101 = 0)
              SELECT coalesce(c.o_orderkey, s.o_orderkey) AS o_orderkey,
                     CASE WHEN c.op IS NOT NULL THEN c.o_custkey
                          ELSE s.o_custkey END AS o_custkey,
                     CASE WHEN c.op IS NOT NULL THEN c.o_totalprice
                          ELSE s.o_totalprice END AS o_totalprice,
                     CASE WHEN c.op IS NOT NULL THEN c.o_orderstatus
                          ELSE s.o_orderstatus END AS o_orderstatus
              FROM snap s FULL OUTER JOIN chg c
                ON s.o_orderkey = c.o_orderkey
              WHERE c.op IS NULL OR c.op <> 'delete'
              ORDER BY o_orderkey""")),

    // -- SCD type-2 history build (q70) ------------------------------------
    // the third face of the CDC family: q57 derives a changelog, q68
    // applies it, q70 RESHAPES it into the versioned dimension table —
    // one row per (key, version) with half-open [valid_from, valid_to)
    // seq bounds. One window shuffle over the CHANGELOG (change-sized,
    // never snapshot-sized); lead() and the duplicate-seq guard share
    // a single Window exec. The changelog is derived from orders with
    // the same CASE arithmetic in both engines: every key inserted at
    // seq 1, keys ≡0 (mod 7) repriced at seq 2, keys ≡3 (mod 11)
    // deleted at seq 3 (closing their version — and leaving a GAP for
    // keys also ≡0 mod 13, which re-open at seq 4: the
    // delete-then-revive timeline).
    Q("q70_scd2_history",
      (s, d) => {
        val o = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"))
        val ins = o.withColumn("op", lit("insert")).withColumn("seq", lit(1L))
        val up2 = o.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
          .withColumn("op", lit("update")).withColumn("seq", lit(2L))
        val del = o.filter(col("o_orderkey") % 11 === 3)
          .withColumn("op", lit("delete")).withColumn("seq", lit(3L))
        val up4 = o.filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 5000.0)
          .withColumn("o_orderstatus", lit("F"))
          .withColumn("op", lit("update")).withColumn("seq", lit(4L))
        Diff.scd2History(
            ins.unionByName(up2).unionByName(del).unionByName(up4),
            keys = Seq("o_orderkey"))
          .orderBy("o_orderkey", "valid_from")
      },
      Some("""WITH chg AS (
                SELECT o_orderkey, o_totalprice, o_orderstatus,
                       'insert' AS op, 1 AS seq FROM orders
                UNION ALL
                SELECT o_orderkey, o_totalprice + 1000.0, o_orderstatus,
                       'update', 2 FROM orders WHERE o_orderkey % 7 = 0
                UNION ALL
                SELECT o_orderkey, o_totalprice, o_orderstatus,
                       'delete', 3 FROM orders WHERE o_orderkey % 11 = 3
                UNION ALL
                SELECT o_orderkey, o_totalprice + 5000.0, 'F',
                       'update', 4 FROM orders WHERE o_orderkey % 13 = 0),
              v AS (
                SELECT *, lead(seq) OVER (PARTITION BY o_orderkey
                  ORDER BY seq) AS valid_to
                FROM chg)
              SELECT o_orderkey, o_totalprice, o_orderstatus,
                     CAST(seq AS BIGINT) AS valid_from,
                     CAST(valid_to AS BIGINT) AS valid_to,
                     (valid_to IS NULL) AS is_current
              FROM v WHERE op <> 'delete'
              ORDER BY o_orderkey, valid_from""")),

    // -- point-in-time snapshot from SCD2 history (q74) --------------------
    // the read side of q70: the table AS OF seq 3 is the versions
    // whose [valid_from, valid_to) contains 3 — a row-local filter
    // over the history (file-prunable under a valid_from layout).
    // At seq 3 the mod-7 repricing (seq 2) is visible, the mod-11
    // deletes (seq 3, half-open: valid_to > 3 required) have taken
    // effect, and the seq-4 updates have not happened yet.
    Q("q74_snapshot_asof",
      (s, d) => {
        val o = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"))
        val ins = o.withColumn("op", lit("insert")).withColumn("seq", lit(1L))
        val up2 = o.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
          .withColumn("op", lit("update")).withColumn("seq", lit(2L))
        val del = o.filter(col("o_orderkey") % 11 === 3)
          .withColumn("op", lit("delete")).withColumn("seq", lit(3L))
        val up4 = o.filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 5000.0)
          .withColumn("o_orderstatus", lit("F"))
          .withColumn("op", lit("update")).withColumn("seq", lit(4L))
        Diff.snapshotAsOf(
            Diff.scd2History(
              ins.unionByName(up2).unionByName(del).unionByName(up4),
              keys = Seq("o_orderkey")),
            asOfSeq = 3L)
          .orderBy("o_orderkey")
      },
      Some("""WITH chg AS (
                SELECT o_orderkey, o_totalprice, o_orderstatus,
                       'insert' AS op, 1 AS seq FROM orders
                UNION ALL
                SELECT o_orderkey, o_totalprice + 1000.0, o_orderstatus,
                       'update', 2 FROM orders WHERE o_orderkey % 7 = 0
                UNION ALL
                SELECT o_orderkey, o_totalprice, o_orderstatus,
                       'delete', 3 FROM orders WHERE o_orderkey % 11 = 3
                UNION ALL
                SELECT o_orderkey, o_totalprice + 5000.0, 'F',
                       'update', 4 FROM orders WHERE o_orderkey % 13 = 0),
              v AS (
                SELECT *, lead(seq) OVER (PARTITION BY o_orderkey
                  ORDER BY seq) AS valid_to
                FROM chg)
              SELECT o_orderkey, o_totalprice, o_orderstatus
              FROM v
              WHERE op <> 'delete' AND seq <= 3
                AND (valid_to IS NULL OR valid_to > 3)
              ORDER BY o_orderkey""")),

    // -- Merkle-style replica checksum diff (q72) --------------------------
    // anti-entropy for 100 TB replicas: reduce each contiguous key
    // range to an order-independent (count, xor, modular-sum) triple
    // of portable md5-prefix row hashes — map-side-combined, so the
    // comparison exchanges RANGE rows, never table rows — then keep
    // only disagreeing ranges. Replica B here: one whole range
    // dropped (→ only_a), sparse rows dropped and statuses flipped
    // (→ mismatch), a 2⁴⁰-offset block appended (→ only_b). The
    // row-level repair those ranges feed is q57's snapshotDiff scoped
    // to them.
    Q("q72_table_checksum",
      (s, d) => {
        val o = t(s, d, "orders").select(col("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"))
        val b = o.filter(expr("o_orderkey div 64") =!= 5 &&
            col("o_orderkey") % 997 =!= 0)
          .withColumn("o_orderstatus",
            when(col("o_orderkey") % 1009 === 0, lit("X"))
              .otherwise(col("o_orderstatus")))
          .unionByName(o.filter(col("o_orderkey") % 499 === 0)
            .withColumn("o_orderkey",
              col("o_orderkey") + 1099511627776L))
        def cols(df: org.apache.spark.sql.DataFrame) =
          Seq(col("o_orderkey").cast("string"),
            col("o_custkey").cast("string"), col("o_orderstatus"))
        Diff.checksumDiff(
            Diff.rangeDigest(o, col("o_orderkey"), 64L, cols(o)),
            Diff.rangeDigest(b, col("o_orderkey"), 64L, cols(b)))
          .orderBy("range_id")
      },
      Some("""WITH ca AS (
                SELECT o_orderkey, o_custkey, o_orderstatus FROM orders),
              cb AS (
                SELECT o_orderkey, o_custkey,
                       CASE WHEN o_orderkey % 1009 = 0 THEN 'X'
                            ELSE o_orderstatus END AS o_orderstatus
                FROM orders
                WHERE o_orderkey // 64 <> 5 AND o_orderkey % 997 <> 0
                UNION ALL
                SELECT o_orderkey + 1099511627776, o_custkey, o_orderstatus
                FROM orders WHERE o_orderkey % 499 = 0),
              da AS (
                SELECT o_orderkey // 64 AS range_id,
                       COUNT(*) AS n, bit_xor(h) AS x,
                       CAST(SUM(h % 2147483648) AS BIGINT) AS sm
                FROM (SELECT o_orderkey,
                        CAST(('0x' || substr(md5(
                          CAST(o_orderkey AS VARCHAR) || '|' ||
                          CAST(o_custkey AS VARCHAR) || '|' ||
                          o_orderstatus), 1, 13)) AS BIGINT) AS h
                      FROM ca)
                GROUP BY 1),
              db AS (
                SELECT o_orderkey // 64 AS range_id,
                       COUNT(*) AS n, bit_xor(h) AS x,
                       CAST(SUM(h % 2147483648) AS BIGINT) AS sm
                FROM (SELECT o_orderkey,
                        CAST(('0x' || substr(md5(
                          CAST(o_orderkey AS VARCHAR) || '|' ||
                          CAST(o_custkey AS VARCHAR) || '|' ||
                          o_orderstatus), 1, 13)) AS BIGINT) AS h
                      FROM cb)
                GROUP BY 1)
              SELECT range_id, status FROM (
                SELECT COALESCE(da.range_id, db.range_id) AS range_id,
                       CASE WHEN da.range_id IS NULL THEN 'only_b'
                            WHEN db.range_id IS NULL THEN 'only_a'
                            WHEN da.n <> db.n OR da.x <> db.x
                              OR da.sm <> db.sm THEN 'mismatch'
                            ELSE 'equal' END AS status
                FROM da FULL OUTER JOIN db ON da.range_id = db.range_id)
              WHERE status <> 'equal' ORDER BY range_id""")),

    // -- per-key interval union (q73) --------------------------------------
    // merge overlapping-or-touching intervals into their disjoint
    // union — the coverage reshape for validity windows (q70's
    // output), sessions, maintenance windows. One hash exchange on
    // the key: the sweep window and the (key, group) aggregation
    // share the key partitioning. Intervals derived from orders in
    // exact integer day space ([order date, +orderkey%30 days] per
    // customer), identical CASE-free arithmetic in both engines.
    Q("q73_interval_merge",
      (s, d) => {
        val iv = t(s, d, "orders").select(
          col("o_custkey"),
          datediff(col("o_orderdate"), lit("1992-01-01")).as("s0"),
          (datediff(col("o_orderdate"), lit("1992-01-01")) +
            col("o_orderkey") % 30).as("e0"))
        Intervals.mergeOverlapping(iv, col("o_custkey"),
            col("s0"), col("e0"))
          .select(col("key").as("o_custkey"), col("m_start"),
            col("m_end"), col("n_merged"))
          .orderBy("o_custkey", "m_start")
      },
      // The oracle's ORDER BY is TOTAL (s, e, o_orderkey): ng is
      // tie-order-SENSITIVE row data computed in one window pass and
      // consumed by a second — with duplicate (s, e) intervals and a
      // non-total order, DuckDB's two passes may sort ties
      // differently and the running sum then groups against the
      // wrong ng placement (first seen at sf100 density: row counts
      // matched, 26 group spans split differently). Spark needs no
      // tiebreak: both frames share one window spec, so ONE Window
      // operator evaluates them over a single sort, and the merged
      // result is tie-permutation-invariant under any consistent
      // order. The total order does not change the oracle's result —
      // it forces DuckDB's two passes to BE consistent.
      Some("""WITH iv AS (
                SELECT o_custkey, o_orderkey,
                       CAST(CAST(o_orderdate AS DATE)
                            - DATE '1992-01-01' AS BIGINT) AS s,
                       CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01'
                            + o_orderkey % 30 AS BIGINT) AS e
                FROM orders),
              g AS (
                SELECT o_custkey, o_orderkey, s, e,
                       CASE WHEN max(e) OVER w IS NULL
                              OR s > max(e) OVER w THEN 1 ELSE 0 END AS ng
                FROM iv
                WINDOW w AS (PARTITION BY o_custkey
                  ORDER BY s, e, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
              gg AS (
                SELECT *, SUM(ng) OVER (PARTITION BY o_custkey
                  ORDER BY s, e, o_orderkey ROWS UNBOUNDED PRECEDING) AS grp
                FROM g)
              SELECT o_custkey, MIN(s) AS m_start, MAX(e) AS m_end,
                     CAST(COUNT(*) AS BIGINT) AS n_merged
              FROM gg GROUP BY o_custkey, grp
              ORDER BY o_custkey, m_start""")),

    // -- Z-order layout key (q56) ------------------------------------------
    // the two-dimensional data-skipping cluster key: interleave the
    // low 16 bits of (user_id, hour index) with the Morton
    // magic-number ladder — plain codegen'd Column arithmetic, bit-
    // replayable in any engine. The WRITE-side payoff (files covering
    // small (user, time) rectangles → parquet min/max stats prune
    // most files under a 2-D filter) is proven in LayoutSpec with
    // real scan metrics; this gate pins the key arithmetic itself.
    Q("q56_zorder_key",
      (s, d) => t(s, d, "events")
        .select(col("event_id"),
          Layout.zorder16(col("user_id"),
            expr("unix_timestamp(ts) div 3600")).as("zval"))
        .orderBy("event_id"),
      Some(s"""SELECT event_id,
                      ${Layout.zorder16Sql("user_id",
                        "(epoch_us(ts) // 1000000) // 3600")}
                        AS zval
               FROM events ORDER BY event_id""")),

    // -- kNN-graph centrality (s06) ----------------------------------------
    // integer PageRank over the s05 graph: mass' = 150000 +
    // (850·Σ mass div deg) div 1000 per node — exact integer teleport,
    // bit-identical across engines/partitionings (truncating div on
    // non-negatives agrees; dangling/rounding mass leaks
    // deterministically). Two 2-long-row shuffles per iteration, the
    // Pregel shape; embeddings never enter the loop.
    Q("s06_knn_centrality",
      (s, d) => {
        // same subset + cap as s05 — centrality runs over the SAME
        // capped kNN graph the s05 gate checks
        val (corpus, cap) = s05CorpusAndCap(s, d, nBits = 16, bands = 4)
        Similarity.knnCentrality(corpus, k = 3, iters = 2,
            maxBucketSize = Some(cap))
          .orderBy("vec_id")
      },
      Some(s06Oracle(k = 3, iters = 2, nBits = 16, bands = 4, seed = 42L))),

    // -- KMV sketch set algebra (q58): cross-source overlap matrix ---------
    // one corpus scan builds a bottom-k sketch of shingle hashes per
    // source (the d03/d08 shingle recipe, so sketches compose with
    // the decontamination machinery); union / intersection / Jaccard
    // for all source pairs then run on k-sized sketches only — the
    // |S|² distinct-joins a naive overlap matrix costs never touch
    // the corpus. Integer-exact estimator ((k-1)·P div h_k), so the
    // DuckDB oracle replays the ESTIMATES bit-for-bit, saturation
    // fallback included.
    Q("q58_sketch_setops",
      (s, d) => {
        val elems = t(s, d, "documents")
          .select(col("source"),
            explode(Dedup.shingleHashes(col("text"))).as("h"))
        SketchAlgebra.kmvSetOps(
          SketchAlgebra.kmvSketchRows(elems, col("source"), col("h"),
            k = 256), k = 256)
          .orderBy("src_a", "src_b")
      },
      Some(q58Oracle(k = 256))),

    // -- end-to-end curation pipeline (q59) --------------------------------
    // the composed shape a training-data run actually executes, as ONE
    // declarative plan Catalyst fuses: quality gate (t03's scorer,
    // row-local) → exact content dedup (t04's fingerprint, keep the
    // min doc_id — ONE shuffle, a window not a groupBy+join-back) →
    // content-keyed split assignment (t12's buckets, row-local on the
    // same fingerprint: zero extra cost) → per-(split, source) doc and
    // token budgets. The corpus is shuffled exactly once; every
    // constituent formula is the one its own gate already pins, so the
    // composition is oracle-checked end to end, not just stage-wise.
    Q("q59_curation_e2e",
      (s, d) => {
        // round-18 audit note: the min(struct(doc_id, source,
        // n_tokens)) aggregate respelling of this window was built,
        // plan-dumped and A/B'd (plans/r18/q59_*,
        // 92dfbba:src/main/scala/graft/tools/AbR18.scala q59agg) and
        // REJECTED: a struct aggregation buffer is not hash-aggregable,
        // so Catalyst falls back to a non-codegen SortAggregate with a
        // Sort on BOTH sides of the fp exchange — strictly more work
        // than this window's single post-shuffle Sort unless duplicate
        // fingerprints are common enough for the map-side partial
        // collapse to pay for the extra map-side sort (content dups
        // are a small corpus fraction by construction). Measured a
        // wash with a worse median (0.889 -> 0.929 s, identical rows).
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("fp").orderBy("doc_id")
        t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens"),
            TextAnalysis.qualityScoreBp(col("text")).as("quality_bp"),
            TextAnalysis.fingerprint(col("text")).as("fp"))
          .filter(col("quality_bp") >= 5500)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .withColumn("split",
            when(pmod(col("fp"), lit(100L)) < 90, "train")
              .when(pmod(col("fp"), lit(100L)) < 95, "val")
              .otherwise("test"))
          .groupBy("split", "source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"))
          .orderBy("split", "source")
      },
      Some(s"""WITH q AS ($qualitySubquery),
            c AS (
              SELECT doc_id,
                     CASE WHEN len(codes) = 0 THEN 0
                          ELSE list_reduce(codes, (a, b) -> (a * 131 + b) % 2147483647)
                                 * 2147483648
                               + list_reduce(codes, (a, b) -> (a * 257 + b) % 2147483647)
                          END AS fp
              FROM (SELECT doc_id,
                      CASE WHEN norm = '' THEN CAST([] AS BIGINT[])
                           ELSE list_transform(string_split(norm, ''),
                                  ch -> CAST(unicode(ch) AS BIGINT)) END AS codes
                    FROM (SELECT doc_id,
                            regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
                          FROM documents))),
            kept AS (
              SELECT d.doc_id, d.source, q.n_tokens, c.fp
              FROM documents d
              JOIN q ON q.doc_id = d.doc_id
              JOIN c ON c.doc_id = d.doc_id
              WHERE q.quality_bp >= 5500),
            canon AS (
              SELECT * FROM (
                SELECT kept.*,
                       row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
                FROM kept)
              WHERE rn = 1),
            sp AS (
              SELECT source, n_tokens,
                     CASE WHEN fp % 100 < 90 THEN 'train'
                          WHEN fp % 100 < 95 THEN 'val'
                          ELSE 'test' END AS split
              FROM canon)
          SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
          FROM sp GROUP BY 1, 2 ORDER BY 1, 2""")),

    // -- exact heavy hitters (q60): the pre-join skew audit ----------------
    // two-pass CMS-guided φ-heavy-hitter detection over BOTH sides of
    // the skew trilogy's join keys (q45/q48/q49 derive them; this op
    // is what you run FIRST to decide salting): pass 1 one buffer-
    // sized CMS+count shuffle, pass 2 exact-counts only rows whose
    // row-local literal-sketch estimate clears T = N div phiInv. CMS
    // never underestimates → no heavy key missed → the exact verify
    // makes the result INDEPENDENT of sketch geometry, so the oracle
    // is the plain GROUP BY ... HAVING, sketch-free.
    Q("q60_heavy_hitters",
      (s, d) => {
        val ev = t(s, d, "events").select(
          when(col("event_id") % 3 === 0, lit(1L))
            .otherwise(col("user_id")).as("k"))
        val or = t(s, d, "orders").select(
          when(col("o_orderkey") % 997 < 3, lit(1L))
            .otherwise(col("o_custkey")).as("k"))
        // per-side φ chosen above the natural key ceiling (events
        // users top out near N/160, orders custkeys near N/600) so
        // the audit surfaces the PLANTED hot keys, not the bulk.
        // heavyHittersSides fuses both sides into 2 driver actions
        // total (round-14: the sequential per-side spelling paid 4)
        SketchAlgebra.heavyHittersSides(Seq(
            ("events", ev, col("k"), 100L),
            ("orders", or, col("k"), 500L)))
          .select("side", "k", "exact_cnt")
          .orderBy("side", "k")
      },
      Some("""WITH ev AS (
                SELECT CASE WHEN event_id % 3 = 0 THEN 1
                            ELSE user_id END AS k FROM events),
              oo AS (
                SELECT CASE WHEN o_orderkey % 997 < 3 THEN 1
                            ELSE o_custkey END AS k FROM orders),
              he AS (
                SELECT 'events' AS side, k, CAST(COUNT(*) AS BIGINT) AS exact_cnt
                FROM ev GROUP BY k
                HAVING COUNT(*) >= (SELECT COUNT(*) // 100 FROM ev)),
              ho AS (
                SELECT 'orders' AS side, k, CAST(COUNT(*) AS BIGINT) AS exact_cnt
                FROM oo GROUP BY k
                HAVING COUNT(*) >= (SELECT COUNT(*) // 500 FROM oo))
              SELECT side, k, exact_cnt
              FROM (SELECT * FROM he UNION ALL SELECT * FROM ho)
              ORDER BY side, k""")),

    // -- semantic dedup (q55): the SemDeDup shape --------------------------
    // cluster embeddings into IVF cells (s03's deterministic Lloyd
    // machinery), mine cos >= eps pairs INSIDE cells only, drop the
    // higher id of each pair — the published cluster-then-prune
    // curation design. The corpus shuffles exactly once (keyed by
    // cell); the quadratic stage is bounded per cell, with nCells
    // scaling at corpus size so cells stay ~constant-sized (d11's cap
    // logic applies to a degenerate cell). Survivors are labeled by
    // their cell's min surviving id — a cell-numbering-independent
    // representative both engines derive identically.
    Q("q55_semdedup",
      // embPairSubset bound (m = 1 through sf10): in-cell pair mining
      // is quadratic per cell, so the gate holds at the largest
      // oracle-proven scale; the 100 TB path scales nCells with the
      // corpus instead (SemDeDup's own lever), which the parameterized
      // operator + oracle both support
      (s, d) => Similarity.semDedup(embPairSubset(s, d),
          eps = 0.4, nCells = 16, lloydIters = 1)
        .orderBy("vec_id"),
      Some(q55Oracle(eps = 0.4, nCells = 16, lloydIters = 1))),

    // -- text analysis -----------------------------------------------------
    Q("t01_token_count",
      (s, d) => t(s, d, "documents")
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_tokens")).as("sum_tokens"),
             (sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"))
        .orderBy("lang"),
      Some(s"""SELECT lang, COUNT(*) AS n_docs,
                      CAST(SUM(ntok) AS BIGINT) AS sum_tokens,
                      CAST(SUM(ntok) AS DOUBLE) / COUNT(*) AS avg_tokens
               FROM (SELECT lang,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+')) END AS ntok
                     FROM documents)
               GROUP BY lang ORDER BY lang""")),

    // -- training-batch sequence packing -----------------------------------
    // assign each doc to a fixed-token-budget pack (the pretraining
    // batch-packing shape): pack_id = the bin where the doc STARTS,
    // from a per-lang running token total in deterministic doc_id
    // order. One window shuffle per lang partition; integer div.
    Q("q42_token_pack",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy("doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        t(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens"))
          .withColumn("cum_tokens", sum("n_tokens").over(w))
          .withColumn("pack_id", expr("(cum_tokens - n_tokens) div 2048"))
          .orderBy("doc_id")
      },
      // DuckDB SUM (window included) widens BIGINT → HUGEINT; cast back
      // so the driver's hasher sees int64 on both sides (SURVEY §5).
      Some("""SELECT doc_id, lang, n_tokens,
                     CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
                     CAST((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - n_tokens) // 2048 AS BIGINT)
                       AS pack_id
              FROM (SELECT doc_id, lang,
                      CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(string_split_regex(trim(text), '\s+')) END
                        AS n_tokens
                    FROM documents)
              ORDER BY doc_id""")),

    // -- GLOBAL shard packing via distributed prefix sum (q53) -------------
    // q42 packs per-group; shard writers need the CORPUS-WIDE running
    // token total (shard boundaries fall on the global order), which
    // naively is a single-reducer global window. Packing.globalRunningSum
    // is the two-phase fix: bucket by the first hex char of the md5
    // ordering key (16 contiguous ranges of the global order), cumsum
    // per bucket in parallel, add 16-row broadcast offsets. The oracle
    // IS the naive global window — DuckDB checks the decomposition
    // reproduces it exactly. Content-hash order doubles as the
    // deterministic global shuffle for training order (engine- and
    // partitioning-independent).
    Q("q53_shard_pack",
      (s, d) => {
        // globalRunningSum reads its input TWICE (per-bucket window
        // branch + bucket-totals branch); unstaged, each branch
        // re-scanned documents and re-paid md5 + the regex token
        // count. Stage the ~20×-narrower (id, hash, count) projection
        // (the d15/q63 staging discipline) so the corpus text is
        // scanned and tokenized ONCE — round 15, the q71 offsets
        // lesson applied to q53's own scans. EAGERLY materialized
        // (round-17): the two branches race on the cold lazy cache —
        // interleaved A/B (pinned heap, identical rows): lazy 0.64 med
        // / 0.45 min s vs eager 0.54 / 0.46 at sf0.1.
        val docs = graft.operators.Staging.persist(
          t(s, d, "documents")
            .select(col("doc_id"), md5(col("text")).as("h"),
              TextAnalysis.tokenCount(col("text")).as("n_tokens")),
          eager = true)
        Packing.globalRunningSum(
            docs,
            bucket = substring(col("h"), 1, 1),
            ordCols = Seq(col("h"), col("doc_id")),
            weight = col("n_tokens"),
            outCol = "cum_tokens")
          .withColumn("shard_id", expr("(cum_tokens - n_tokens) div 1024"))
          .select("doc_id", "n_tokens", "cum_tokens", "shard_id")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, n_tokens,
                     CAST(SUM(n_tokens) OVER (ORDER BY md5(text), doc_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
                     CAST((SUM(n_tokens) OVER (ORDER BY md5(text), doc_id
                       ROWS UNBOUNDED PRECEDING) - n_tokens) // 1024 AS BIGINT)
                       AS shard_id
              FROM (SELECT doc_id, text,
                      CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(string_split_regex(trim(text), '\s+')) END
                        AS n_tokens
                    FROM documents)
              ORDER BY doc_id""")),

    // -- PPS systematic sampling (q71) -------------------------------------
    // EXACTLY k grid hits over the cumulative-weight axis, inclusion
    // proportional to n_chars, multiplicity reported for items heavier
    // than the stride. Selection is exact cross-multiplied long
    // arithmetic on q53's distributed prefix sum — transcendental-free
    // (A-ES's -ln(u)/w keys are only as portable as each engine's
    // libm), so the oracle replays the grid bit-for-bit from the
    // naive-window cumsum.
    Q("q71_pps_sample",
      (s, d) => Mixing.ppsSystematicSample(t(s, d, "documents"),
          col("doc_id"), col("n_chars"), k = 100)
        .select(col("id").as("doc_id"), col("w"), col("mult"))
        .orderBy("doc_id"),
      Some("""WITH base AS (
                SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS w
                FROM documents WHERE n_chars > 0),
              c AS (
                SELECT id, w,
                       CAST(SUM(w) OVER (ORDER BY md5(CAST(id AS VARCHAR)), id
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
                FROM base),
              tot AS (SELECT CAST(SUM(w) AS BIGINT) AS t FROM base),
              m AS (
                SELECT id, w,
                       (CASE WHEN 200 * cw <= t THEN 0
                             ELSE least(100, (200 * cw - t + 2 * t - 1)
                                             // (2 * t)) END)
                     - (CASE WHEN 200 * (cw - w) <= t THEN 0
                             ELSE least(100, (200 * (cw - w) + 2 * t - 1 - t)
                                             // (2 * t)) END) AS mult
                FROM c, tot)
              SELECT id AS doc_id, w, CAST(mult AS INT) AS mult
              FROM m WHERE mult > 0 ORDER BY doc_id""")),

    Q("t02_lang_id",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
      // profile hit-counts + argmax (earlier profile wins ties) spelled
      // in DuckDB, generated from the SAME langProfiles table
      Some {
        val hits = TextAnalysis.langProfiles.map { case (l, ws) =>
          s"len(list_filter(tk, w -> w IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS $l"
        }.mkString(",\n                 ")
        val names = TextAnalysis.langProfiles.map(_._1)
        // first profile reaching the max wins: profile i wins iff its
        // count >= every LATER profile's count (an earlier one would
        // have matched already)
        val arms = names.init.zipWithIndex.map { case (l, i) =>
          val rest = names.drop(i + 1)
          val bound = if (rest.size == 1) rest.head
                      else s"GREATEST(${rest.mkString(", ")})"
          s"WHEN $l >= $bound THEN '$l'"
        }.mkString("\n                      ")
        s"""WITH h AS (
               SELECT doc_id, lang,
                 $hits
               FROM (SELECT doc_id, lang, $tok AS tk FROM documents))
             SELECT doc_id, lang,
               CASE WHEN GREATEST(${names.mkString(", ")}) = 0 THEN 'und'
                      $arms
                      ELSE '${names.last}' END AS lang_pred
             FROM h ORDER BY doc_id"""
      }),

    Q("t03_quality_score",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.qualityScoreBp(col("text")).as("quality_bp"))
        .orderBy("doc_id"),
      Some(s"""WITH q AS ($qualitySubquery)
               SELECT doc_id, n_tokens, quality_bp FROM q
               ORDER BY doc_id""")),

    // fingerprint is over Unicode code points, so DuckDB reproduces it
    // bit-for-bit: string_split(s,'') enumerates the same code points,
    // list_reduce folds the same modular polynomial (its first element
    // doubles as the fold seed — identical to folding from 0 because
    // cp mod P = cp). (h1 << 31) | h2 == h1·2^31 + h2 since h2 < 2^31.
    // (simhash lives in d04 — xxhash64 isn't DuckDB-expressible.)
    Q("t04_fingerprint",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some("""WITH c AS (
                SELECT doc_id,
                       CASE WHEN norm = '' THEN CAST([] AS BIGINT[])
                            ELSE list_transform(string_split(norm, ''),
                                   ch -> CAST(unicode(ch) AS BIGINT)) END AS codes
                FROM (SELECT doc_id,
                        regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
                      FROM documents))
              SELECT doc_id,
                     CASE WHEN len(codes) = 0 THEN 0
                          ELSE list_reduce(codes, (a, b) -> (a * 131 + b) % 2147483647)
                                 * 2147483648
                               + list_reduce(codes, (a, b) -> (a * 257 + b) % 2147483647)
                          END AS fp
              FROM c ORDER BY doc_id""")),

    // -- deterministic train/val/test split (t12) --------------------------
    // content-hash split assignment: bucket = fingerprint(text) mod 100
    // → 90/5/5. Reproducible across engines, runs, cluster sizes and id
    // renumbering (content-keyed, like q32's sampling) — and a doc
    // duplicated across shards lands in the SAME split, so dedup order
    // doesn't leak train docs into test.
    Q("t12_split_assign",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          pmod(TextAnalysis.fingerprint(col("text")), lit(100L)).as("bucket"))
        .withColumn("split",
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "val").otherwise("test"))
        .orderBy("doc_id"),
      Some("""WITH c AS (
                SELECT doc_id,
                       CASE WHEN norm = '' THEN CAST([] AS BIGINT[])
                            ELSE list_transform(string_split(norm, ''),
                                   ch -> CAST(unicode(ch) AS BIGINT)) END AS codes
                FROM (SELECT doc_id,
                        regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
                      FROM documents)),
              f AS (
                SELECT doc_id,
                       CASE WHEN len(codes) = 0 THEN 0
                            ELSE list_reduce(codes, (a, b) -> (a * 131 + b) % 2147483647)
                                   * 2147483648
                                 + list_reduce(codes, (a, b) -> (a * 257 + b) % 2147483647)
                            END % 100 AS bucket
                FROM c)
              SELECT doc_id, bucket,
                     CASE WHEN bucket < 90 THEN 'train'
                          WHEN bucket < 95 THEN 'val'
                          ELSE 'test' END AS split
              FROM f ORDER BY doc_id""")),

    // -- split-leakage audit (t13) ------------------------------------------
    // near-dup pairs (d02 mining) whose t12 split assignments differ:
    // the train→test contamination a content-keyed split prevents for
    // EXACT dupes but cannot for near-dupes (fingerprints of nearly-
    // identical texts are independent hashes). The pair side is tiny
    // relative to the corpus, so at scale the split join is
    // broadcast-able; mining cost is d02's (inverted index, capped by
    // maxDocFreq where mandatory).
    Q("t13_split_leakage",
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 0.6)
        val splits = docs
          .select(col("doc_id"),
            pmod(TextAnalysis.fingerprint(col("text")), lit(100L)).as("bucket"))
          .select(col("doc_id"),
            when(col("bucket") < 90, "train")
              .when(col("bucket") < 95, "val").otherwise("test").as("split"))
        pairs
          .join(splits.select(col("doc_id").as("id_a"), col("split").as("split_a")), "id_a")
          .join(splits.select(col("doc_id").as("id_b"), col("split").as("split_b")), "id_b")
          .filter(col("split_a") =!= col("split_b"))
          .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"),
            round(col("jaccard"), 4).as("jaccard"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH toks AS (
                 SELECT DISTINCT id, tok FROM (
                   SELECT doc_id AS id,
                          unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
                            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS tok
                   FROM (SELECT doc_id, $tok AS tk FROM documents))
                 WHERE tok <> ''),
               sizes AS (SELECT id, COUNT(*) AS sz FROM toks GROUP BY id),
               cpairs AS (
                 SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
                 FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
                 GROUP BY 1, 2),
               fpairs AS (
                 SELECT id_a, id_b,
                        round(CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter), 4) AS jaccard
                 FROM cpairs
                 JOIN sizes sa ON id_a = sa.id
                 JOIN sizes sb ON id_b = sb.id
                 WHERE CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter) >= 0.6),
               c AS (
                 SELECT doc_id,
                        CASE WHEN norm = '' THEN CAST([] AS BIGINT[])
                             ELSE list_transform(string_split(norm, ''),
                                    ch -> CAST(unicode(ch) AS BIGINT)) END AS codes
                 FROM (SELECT doc_id,
                         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
                       FROM documents)),
               spl AS (
                 SELECT doc_id,
                        CASE WHEN bucket < 90 THEN 'train'
                             WHEN bucket < 95 THEN 'val'
                             ELSE 'test' END AS split
                 FROM (SELECT doc_id,
                         CASE WHEN len(codes) = 0 THEN 0
                              ELSE list_reduce(codes, (a, b) -> (a * 131 + b) % 2147483647)
                                     * 2147483648
                                   + list_reduce(codes, (a, b) -> (a * 257 + b) % 2147483647)
                              END % 100 AS bucket
                       FROM c))
               SELECT id_a, id_b, sa.split AS split_a, sb.split AS split_b, jaccard
               FROM fpairs
               JOIN spl sa ON id_a = sa.doc_id
               JOIN spl sb ON id_b = sb.doc_id
               WHERE sa.split <> sb.split
               ORDER BY id_a, id_b""")),

    // -- trained-BPE tokenizer apply (t14) ---------------------------------
    // The real-tokenizer upgrade over t06's letter/digit/symbol runs:
    // apply the pretrained merges table (graft.tools.TrainBpe artifact,
    // operators/Bpe.scala) to every document, row-locally. The table
    // rides as a codegen reference object — zero corpus shuffle, the
    // d09 Bloom-literal distribution path — and per-task word memoing
    // makes the Zipfian common case a map lookup. The oracle replays
    // the SAME fixed-point merge loop as a recursive CTE over the
    // DISTINCT words (vocabulary-sized state, not corpus-sized) and
    // joins tokenizations back positionally — bit-exact cross-engine.
    // Gated over a d10-style bounded subset: 500k docs = the full-sf10
    // size, the largest the oracle's recursive-CTE merge loop +
    // per-doc string_agg are measured to complete at on this box.
    // m = 1 through sf10 (full-table evidence unchanged); sf100 runs
    // the SAME code on doc_id % 10 — closing round 13's one declared
    // sf100 hole (`oracle_skipped: known not to complete`).
    Q("t14_bpe_apply",
      (s, d) => {
        val full = t(s, d, "documents")
        val m = math.max(1L, full.count() / t14SubsetTarget)
        val docs =
          if (m == 1L) full else full.filter(col("doc_id") % m === 0)
        val toks = graft.functions.BpeFunctions.bpeEncode(col("text"), Bpe.pretrained)
        docs
          .select(col("doc_id"),
            size(toks).cast("long").as("n_bpe_tokens"),
            array_join(toks, " ").as("bpe_text"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE
               t14src AS (
                 SELECT * FROM documents
                 WHERE doc_id % greatest(1,
                   (SELECT count(*) FROM documents) // $t14SubsetTarget) = 0),
               merges(rnk, l, r) AS (
                 SELECT * FROM (VALUES ${Bpe.mergesSqlValues(Bpe.pretrained)}) m(rnk, l, r)),
               docw AS (
                 SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS wi
                 FROM (SELECT doc_id,
                         regexp_extract_all(lower(text), '[a-z]+') AS ws
                       FROM t14src)),
               vocab AS (SELECT DISTINCT w FROM docw),
               enc(w, toks) AS (
                 SELECT w, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') FROM vocab
                 UNION ALL
                 SELECT w, replace(toks, pat, rep) FROM (
                   SELECT e.w, e.toks,
                          (SELECT ' '||m.l||' '||m.r||' ' FROM merges m
                            WHERE contains(e.toks, ' '||m.l||' '||m.r||' ')
                            ORDER BY m.rnk LIMIT 1) AS pat,
                          (SELECT ' '||m.l||m.r||' ' FROM merges m
                            WHERE contains(e.toks, ' '||m.l||' '||m.r||' ')
                            ORDER BY m.rnk LIMIT 1) AS rep
                   FROM enc e) s
                 WHERE pat IS NOT NULL),
               final AS (
                 SELECT w, trim(toks) AS toks FROM enc e
                 WHERE NOT EXISTS (
                   SELECT 1 FROM merges m
                   WHERE contains(e.toks, ' '||m.l||' '||m.r||' '))),
               perdoc AS (
                 SELECT d.doc_id,
                        CAST(SUM(len(string_split(f.toks, ' '))) AS BIGINT)
                          AS n_bpe_tokens,
                        string_agg(f.toks, ' ' ORDER BY d.wi) AS bpe_text
                 FROM docw d JOIN final f USING (w)
                 GROUP BY d.doc_id)
               SELECT doc_id,
                      COALESCE(n_bpe_tokens, 0) AS n_bpe_tokens,
                      COALESCE(bpe_text, '') AS bpe_text
               FROM t14src LEFT JOIN perdoc USING (doc_id)
               ORDER BY doc_id""")),

    // -- OOV-rate quality filter (t15) -------------------------------------
    // Gopher-style "fraction of words in the top word list": train a
    // top-K vocabulary (one map-side-combined aggregate, K rows to the
    // driver), score every doc row-locally against it as a hashed
    // reference object (operators/Vocab.scala). Integer per-mille —
    // bit-identical across engines. Zero corpus shuffle on apply.
    Q("t15_oov_rate",
      (s, d) => Vocab.oovRate(
          t(s, d, "documents"), col("doc_id"), col("text"), k = 16)
        .orderBy("doc_id"),
      Some(s"""WITH tk AS (SELECT doc_id, unnest($tok) AS w FROM documents),
                 t2 AS (SELECT doc_id, w FROM tk WHERE w <> ''),
                 vocab AS (SELECT w FROM (
                     SELECT w, row_number() OVER (
                       ORDER BY count(*) DESC, w) AS rk
                     FROM t2 GROUP BY w) WHERE rk <= 16),
                 st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
                               CAST(count(*) FILTER (WHERE w NOT IN (
                                 SELECT w FROM vocab)) AS BIGINT) AS n_oov
                        FROM t2 GROUP BY doc_id)
               SELECT d.doc_id, COALESCE(n_tok, 0) AS n_tok,
                      COALESCE(n_oov, 0) AS n_oov,
                      (1000 * COALESCE(n_oov, 0))
                        // GREATEST(COALESCE(n_tok, 0), 1) AS oov_milli
               FROM documents d LEFT JOIN st USING (doc_id)
               ORDER BY doc_id""")),

    // -- bigram-LM surprise (t16) ------------------------------------------
    // The CCNet perplexity-filter proxy, made integer-exact: per
    // adjacent pair, surprise = floor(log2(c_uni(w1) div c_big)) bits
    // — the integer exponent of the inverse conditional frequency —
    // with BOTH model tables top-K-pruned — bigrams to 64 (absent
    // pair → count 1 = max surprise for its prefix), unigrams to 4096
    // (absent prefix → count 1: its ratio collapses toward 0 bits).
    // The unigram cap is the 100 TB driver-memory bound: corpus
    // vocabulary grows with corpus size, so an uncapped unigram
    // collect is a linear-growth driver model — the capped table is
    // deterministic (count desc, token asc) and both engines rank
    // identically. floor(log2) never touches doubles:
    // 63-numberOfLeadingZeros in the expression, length(bin(x))-1 in
    // the oracle (a double log2 misrounds near exact powers of two).
    // Train = two capped vocabulary aggregates; apply = one zero-
    // shuffle corpus scan with both tables as hashed plan references.
    Q("t16_bigram_surprise",
      (s, d) => Vocab.bigramSurprise(
          t(s, d, "documents"), col("doc_id"), col("text"),
          k = 64, kUni = 4096)
        .orderBy("doc_id"),
      Some(s"""WITH tk AS (SELECT doc_id, generate_subscripts(ws, 1) AS wi,
                        unnest(ws) AS w
                 FROM (SELECT doc_id, $tok AS ws FROM documents)),
                 t2 AS (SELECT doc_id, wi, w FROM tk WHERE w <> ''),
                 uni AS (SELECT w, c FROM (
                     SELECT w, CAST(count(*) AS BIGINT) AS c,
                            row_number() OVER (
                              ORDER BY count(*) DESC, w) AS rk
                     FROM t2 GROUP BY w) WHERE rk <= 4096),
                 pr AS (SELECT doc_id,
                          lag(w) OVER (PARTITION BY doc_id ORDER BY wi) AS w1,
                          w AS w2
                        FROM t2),
                 pairs AS (SELECT doc_id, w1, w2 FROM pr WHERE w1 IS NOT NULL),
                 bigc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
                          FROM pairs GROUP BY w1, w2),
                 big AS (SELECT w1, w2, c FROM (
                     SELECT w1, w2, c, row_number() OVER (
                       ORDER BY c DESC, w1, w2) AS rk
                     FROM bigc) WHERE rk <= 64),
                 sc AS (SELECT p.doc_id,
                          length(bin(GREATEST(
                            COALESCE(u.c, 1) // COALESCE(b.c, 1), 1)))
                            - 1 AS bits
                        FROM pairs p
                        LEFT JOIN uni u ON u.w = p.w1
                        LEFT JOIN big b ON b.w1 = p.w1 AND b.w2 = p.w2),
                 pd AS (SELECT doc_id,
                          CAST(count(*) AS BIGINT) AS n_bigrams,
                          CAST(sum(bits) AS BIGINT) AS total_bits
                        FROM sc GROUP BY doc_id)
               SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams,
                      COALESCE(total_bits, 0) AS total_bits,
                      (1000 * COALESCE(total_bits, 0))
                        // GREATEST(COALESCE(n_bigrams, 0), 1) AS milli_bits
               FROM documents d LEFT JOIN pd USING (doc_id)
               ORDER BY doc_id""")),

    // -- DSIR importance score (t17) ---------------------------------------
    // Xie et al.'s hashed-n-gram importance resampling signal, made
    // integer-exact: score_bits = raw_bits - tgt_bits, each side the
    // doc's total unconditional bigram information under that model
    // (floor(log2(max(N div c, 1))) per pair; absent-from-table pairs
    // cost the max floor(log2(N)) — unseen-under-target must read as
    // improbable, not free). Target = the lang='en' slice. Train =
    // two vocab-sized aggregates + two scalar counts; apply = ONE
    // zero-shuffle corpus scan with both models as hashed plan
    // references. Plain subtraction keeps negatives exact (integer
    // division rounding conventions differ between engines; `-`
    // does not).
    Q("t17_dsir_score",
      (s, d) => Vocab.dsirScore(
          t(s, d, "documents"), col("doc_id"), col("text"),
          targetFilter = col("lang") === "en", k = 64)
        .orderBy("doc_id"),
      Some(s"""WITH tk AS (SELECT doc_id, generate_subscripts(ws, 1) AS wi,
                        unnest(ws) AS w
                 FROM (SELECT doc_id, $tok AS ws FROM documents)),
                 t2 AS (SELECT doc_id, wi, w FROM tk WHERE w <> ''),
                 pr AS (SELECT doc_id,
                          lag(w) OVER (PARTITION BY doc_id ORDER BY wi) AS w1,
                          w AS w2
                        FROM t2),
                 pairs AS (SELECT doc_id, w1, w2 FROM pr WHERE w1 IS NOT NULL),
                 tp AS (SELECT p.* FROM pairs p
                        JOIN documents d USING (doc_id) WHERE d.lang = 'en'),
                 nr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pairs),
                 ng AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tp),
                 bigrc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
                           FROM pairs GROUP BY w1, w2),
                 bigr AS (SELECT w1, w2, c FROM (
                     SELECT w1, w2, c, row_number() OVER (
                       ORDER BY c DESC, w1, w2) AS rk
                     FROM bigrc) WHERE rk <= 64),
                 bigtc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
                           FROM tp GROUP BY w1, w2),
                 bigt AS (SELECT w1, w2, c FROM (
                     SELECT w1, w2, c, row_number() OVER (
                       ORDER BY c DESC, w1, w2) AS rk
                     FROM bigtc) WHERE rk <= 64),
                 sc AS (SELECT p.doc_id,
                          length(bin(GREATEST(nr.n // COALESCE(br.c, 1), 1)))
                            - 1 AS rbits,
                          length(bin(GREATEST(ng.n // COALESCE(bt.c, 1), 1)))
                            - 1 AS tbits
                        FROM pairs p CROSS JOIN nr CROSS JOIN ng
                        LEFT JOIN bigr br ON br.w1 = p.w1 AND br.w2 = p.w2
                        LEFT JOIN bigt bt ON bt.w1 = p.w1 AND bt.w2 = p.w2),
                 pd AS (SELECT doc_id,
                          CAST(count(*) AS BIGINT) AS nb,
                          CAST(sum(rbits) AS BIGINT) AS rb,
                          CAST(sum(tbits) AS BIGINT) AS tb
                        FROM sc GROUP BY doc_id)
               SELECT d.doc_id, COALESCE(nb, 0) AS n_bigrams,
                      COALESCE(rb, 0) AS raw_bits,
                      COALESCE(tb, 0) AS tgt_bits,
                      COALESCE(rb, 0) - COALESCE(tb, 0) AS score_bits
               FROM documents d LEFT JOIN pd USING (doc_id)
               ORDER BY doc_id""")),

    // -- tf-idf top terms (integer-deterministic relevance) ----------------
    // score_milli = tf * 1000 * N / df, floored: pure integer signal,
    // bit-identical across engines (log-based idf differs in the last
    // ulp between libm implementations — no cross-engine hash match).
    Q("t08_tfidf",
      (s, d) => {
        val docs = t(s, d, "documents")
        // tf in ONE row-local pass: term_counts builds the per-doc
        // (term → count) map inside the scan (TermCountMap), so
        // exploding it yields the exact (doc_id, term, tf) rows the
        // old explode + GROUP BY (doc_id, term) produced WITHOUT the
        // distinct-pairs exchange — that exchange moved strictly
        // row-local information and was t08's largest shuffle (the
        // round-8 A/B showed caching tf couldn't pay for itself;
        // round 9 removed the aggregation instead: sf1 `Probe time` min
        // 2.73 s → measured below).
        val toks = split(trim(lower(col("text"))), "\\s+")
        val tfm = docs.select(col("doc_id"),
          graft.functions.TermCountFunctions.termCounts(toks).as("tfm"))
        val tf = tfm.select(col("doc_id"),
          explode(col("tfm")).as(Seq("term", "tf")))
        // df: per-doc distinct terms are the map's keys — recomputing
        // the row-local map is cheaper than sharing tf via cache (the
        // pinned round-8 result), and the count combines map-side to a
        // vocab-sized broadcast.
        val dfreq = tfm.select(explode(map_keys(col("tfm"))).as("term"))
          .groupBy("term").agg(count(lit(1)).as("df"))
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id")
          .orderBy(col("score_milli").desc, col("term").asc)
        tf.join(broadcast(dfreq), "term").crossJoin(broadcast(nDocs))
          // integer `div`, matching DuckDB's `//`: both engines stay in
          // long arithmetic end to end (double-division + floor agrees
          // only while tf*1000*n_docs < 2^53, and would round instead
          // of failing loudly past 2^63)
          .withColumn("score_milli", expr("(tf * 1000 * n_docs) div df"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select("doc_id", "rank", "term", "tf", "df", "score_milli")
          .orderBy("doc_id", "rank")
      },
      Some(s"""WITH terms AS (
                 SELECT doc_id, unnest($tok) AS term FROM documents),
               t2 AS (SELECT doc_id, term FROM terms WHERE term <> ''),
               tf AS (SELECT doc_id, term, COUNT(*) AS tf
                      FROM t2 GROUP BY doc_id, term),
               dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df
                         FROM t2 GROUP BY term),
               n AS (SELECT COUNT(*) AS n_docs FROM documents),
               scored AS (
                 SELECT doc_id, term, tf, df,
                        (tf * 1000 * n_docs) // df AS score_milli
                 FROM tf JOIN dfreq USING (term) CROSS JOIN n),
               ranked AS (
                 SELECT *, CAST(row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY score_milli DESC, term ASC) AS INT) AS rank
                 FROM scored)
              SELECT doc_id, rank, term, tf, df, score_milli
              FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""")),

    // -- corpus curation: best-k docs per stratum by quality ---------------
    // rank filter gets the WindowGroupLimit pushdown — per-partition
    // top-k, no full sort of the corpus
    Q("q40_topk_per_group",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang")
          .orderBy(col("quality_bp").desc, col("doc_id"))
        t(s, d, "documents")
          .withColumn("quality_bp",
            TextAnalysis.qualityScoreBp(col("text")))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 10)
          .select("lang", "rk", "doc_id", "quality_bp")
          .orderBy("lang", "rk")
      },
      Some(s"""WITH q AS (
                 SELECT doc_id, lang,
                        LEAST(ntok, 50) * 80
                        + LEAST((nstop * 15000) // GREATEST(ntok, 1), 3000)
                        + 3000 - LEAST((npunct * 30000) // GREATEST(nchar, 1), 3000)
                          AS quality_bp
                 FROM (SELECT doc_id, lang,
                         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                              ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS ntok,
                         CAST(len(list_filter($tok,
                           w -> w IN ('the','a','an','of','and','to','in','is','it','for'))) AS BIGINT) AS nstop,
                         CAST(length(regexp_replace(text, '[^.,!?;:''"]', '', 'g')) AS BIGINT) AS npunct,
                         CAST(length(text) AS BIGINT) AS nchar
                       FROM documents)),
               r AS (SELECT *, CAST(row_number() OVER (PARTITION BY lang
                       ORDER BY quality_bp DESC, doc_id) AS INT) AS rk FROM q)
              SELECT lang, rk, doc_id, quality_bp
              FROM r WHERE rk <= 10 ORDER BY lang, rk""")),

    Q("t05_ngram_stats",
      (s, d) => t(s, d, "documents")
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 50)
        .orderBy(col("cnt").desc, col("tok")),
      Some(s"""SELECT tok, COUNT(*) AS cnt
               FROM (SELECT unnest($tok) AS tok FROM documents)
               WHERE tok <> ''
               GROUP BY tok HAVING COUNT(*) >= 50
               ORDER BY cnt DESC, tok""")),

    // char-3-gram corpus frequencies (what a char-ngram lang-id model
    // trains on). norm is materialized in its own projection so the
    // generator's lambda reads an attribute — the regexp never re-runs
    // per element. Short docs emit one short gram; the length filter
    // drops it identically in both engines.
    Q("t09_char_ngrams",
      (s, d) => t(s, d, "documents")
        .select(regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("norm"))
        .select(explode(expr(
          "transform(sequence(1, greatest(length(norm) - 2, 1))," +
            " i -> substring(norm, i, 3))")).as("gram"))
        .filter(length(col("gram")) === 3)
        .groupBy("gram").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 100)
        .orderBy(col("cnt").desc, col("gram")),
      Some("""SELECT gram, COUNT(*) AS cnt FROM (
                SELECT unnest(list_transform(
                         range(1, greatest(length(norm) - 2, 1) + 1),
                         i -> substr(norm, i, 3))) AS gram
                FROM (SELECT regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
                        AS norm FROM documents))
              WHERE length(gram) = 3
              GROUP BY gram HAVING COUNT(*) >= 100
              ORDER BY cnt DESC, gram""")),

    // -- per-doc repetition (Gopher-style duplicate-bigram fraction) -------
    // spam/boilerplate signal: share of token bigrams that repeat an
    // earlier bigram, integer per-mille. Entirely row-local — the whole
    // signal computes in the scan with zero shuffle.
    Q("t10_repetition",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.bigramRepetition(col("text")).as("r"))
        .select(col("doc_id"), col("r.n_bigrams").as("n_bigrams"),
          col("r.n_dup").as("n_dup"))
        .filter(col("n_bigrams") > 0)
        .withColumn("rep_milli", expr("(1000 * n_dup) div n_bigrams"))
        .orderBy("doc_id"),
      Some(s"""WITH b AS (
                 SELECT doc_id,
                        list_transform(range(1, len(tk)),
                          i -> tk[i] || ' ' || tk[i+1]) AS bigs
                 FROM (SELECT doc_id, $tok AS tk FROM documents)),
               h AS (
                 SELECT doc_id, len(bigs) AS n_bigrams,
                        len(bigs) - len(list_distinct(list_transform(bigs,
                          tok -> list_reduce(list_transform(string_split(tok, ''),
                                   ch -> CAST(unicode(ch) AS BIGINT)),
                                   (a, b) -> (a * 131 + b) % 2147483647) * 2147483648
                                 + list_reduce(list_transform(string_split(tok, ''),
                                     ch -> CAST(unicode(ch) AS BIGINT)),
                                     (a, b) -> (a * 257 + b) % 2147483647))))
                          AS n_dup
                 FROM b)
               SELECT doc_id, n_bigrams, n_dup,
                      (1000 * n_dup) // n_bigrams AS rep_milli
               FROM h WHERE n_bigrams > 0 ORDER BY doc_id""")),

    // -- PII redaction (t11) -----------------------------------------------
    // the synthetic corpus carries no organic PII, so the entry plants
    // a deterministic contact line derived from doc_id (same
    // derivation in the oracle — still testdata-driven, nothing
    // random) and checks counts + the redacted text byte-for-byte.
    Q("t11_pii_redact",
      (s, d) => {
        // phone digits lpad'ed to fixed width: '+15550' + 4 digits is
        // always 10 >= the pattern's 7-digit minimum, so EVERY doc
        // exercises the phone redaction (a bare doc_id % 10000 gives
        // <= 6 digits for small ids — never matched, silently
        // unexercised)
        val pii = concat(col("text"), lit(" contact: u"),
          col("doc_id").cast("string"), lit("@example.com ip 10.0.0."),
          (col("doc_id") % 250).cast("string"), lit(" tel +15550"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
        t(s, d, "documents")
          .select(col("doc_id"), TextAnalysis.redactPii(pii).as("r"))
          .select(col("doc_id"), col("r.n_emails").as("n_emails"),
            col("r.n_ips").as("n_ips"), col("r.n_phones").as("n_phones"),
            col("r.redacted").as("redacted"))
          .orderBy("doc_id")
      },
      Some {
        import TextAnalysis.{piiEmailRe, piiIpRe, piiPhoneRe}
        s"""WITH pii AS (
               SELECT doc_id,
                      text || ' contact: u' || CAST(doc_id AS VARCHAR)
                        || '@example.com ip 10.0.0.'
                        || CAST(doc_id % 250 AS VARCHAR)
                        || ' tel +15550'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                        AS ptext
               FROM documents),
             st1 AS (
               SELECT doc_id,
                      len(regexp_extract_all(ptext, '$piiEmailRe')) AS n_emails,
                      regexp_replace(ptext, '$piiEmailRe', '[EMAIL]', 'g') AS t1
               FROM pii),
             st2 AS (
               SELECT doc_id, n_emails,
                      len(regexp_extract_all(t1, '$piiIpRe')) AS n_ips,
                      regexp_replace(t1, '$piiIpRe', '[IP]', 'g') AS t2
               FROM st1)
           SELECT doc_id, n_emails, n_ips,
                  len(regexp_extract_all(t2, '$piiPhoneRe')) AS n_phones,
                  regexp_replace(t2, '$piiPhoneRe', '[PHONE]', 'g') AS redacted
           FROM st2 ORDER BY doc_id"""
      }),

    Q("t06_subword_stats",
      (s, d) => t(s, d, "documents")
        .withColumn("n_sub", TextAnalysis.subwordCount(col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_sub")).as("sum_subwords"))
        .orderBy("source"),
      Some("""SELECT source, COUNT(*) AS n_docs,
                     CAST(SUM(len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS sum_subwords
              FROM documents GROUP BY source ORDER BY source""")),

    Q("t07_length_histogram",
      (s, d) => t(s, d, "documents")
        .groupBy(width_bucket(col("n_chars"), lit(0), lit(600), lit(12)).as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("sum_chars"))
        .orderBy("bucket"),
      Some("""SELECT CAST(CASE WHEN n_chars < 0 THEN 0
                               WHEN n_chars >= 600 THEN 13
                               ELSE 1 + (n_chars * 12) // 600 END AS BIGINT) AS bucket,
                     COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
              FROM documents GROUP BY 1 ORDER BY bucket""")),

    // -- deterministic sampling (q32) --------------------------------------
    // Content-hash sampling: reproducible across engines/runs/cluster
    // sizes (unlike rand()), stable under re-partitioning — the right
    // primitive for subsampling a 100 TB training corpus.
    Q("q32_hash_sample",
      (s, d) => t(s, d, "documents")
        .filter(substring(md5(col("text")), 1, 1).isin("0", "1"))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, n_chars FROM documents
              WHERE substring(md5(text), 1, 1) IN ('0', '1')
              ORDER BY doc_id""")),

    // -- window frames (ntile / first / last / nth over a full frame) ------
    Q("q35_window_frames",
      (s, d) => {
        val wOrd = org.apache.spark.sql.expressions.Window
          .partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        val wAll = wOrd.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
        t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            ntile(4).over(wOrd).as("quartile"),
            first(col("o_orderkey")).over(wAll).as("first_key"),
            last(col("o_orderkey")).over(wAll).as("last_key"),
            nth_value(col("o_orderkey"), 2).over(wAll).as("second_key"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
                     CAST(ntile(4) OVER w AS INT) AS quartile,
                     first_value(o_orderkey) OVER wf AS first_key,
                     last_value(o_orderkey) OVER wf AS last_key,
                     nth_value(o_orderkey, 2) OVER wf AS second_key
              FROM orders
              WINDOW w AS (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey),
                     wf AS (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND UNBOUNDED FOLLOWING)
              ORDER BY o_custkey, o_orderkey""")),

    // -- stratified deterministic sampling ---------------------------------
    // balanced per-stratum subsample, reproducible across engines/runs/
    // partitionings: rank within stratum by content hash, keep top-20
    Q("q34_stratified_sample",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(md5(col("text")), col("doc_id"))
        t(s, d, "documents")
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 20)
          .select("lang", "rk", "doc_id", "n_chars")
          .orderBy("lang", "rk")
      },
      Some("""SELECT lang, rk, doc_id, n_chars FROM (
                SELECT lang, doc_id, n_chars,
                       CAST(row_number() OVER (PARTITION BY lang
                         ORDER BY md5(text), doc_id) AS INT) AS rk
                FROM documents)
              WHERE rk <= 20 ORDER BY lang, rk""")),

    // -- temperature-weighted source mixing (q52) --------------------------
    // THE pretraining data-mixing op: re-balance sources toward
    // p_s ∝ count_s^α (α = 0.5 upweights rare sources), target total =
    // half the corpus. All rates are exact integer ppm (w = isqrt(count);
    // rate_ppm = (N·10^6·w) div (Σw·c_s)) so both engines compute
    // identical thresholds — no float summation-order hazards. Selection
    // is content-keyed (fingerprint mod 10^6 vs the fractional rate), so
    // a doc's copy count is reproducible across engines, runs, and
    // partitionings, and rates > 1 upsample by integer repetition.
    // Plan shape: one tiny source-count aggregate → one-row total
    // crossJoin → rates BROADCAST back onto the corpus → row-local
    // copies → map-side-combined final aggregate. The fact table is
    // scanned once and never shuffled. (At exabyte counts the ppm
    // products want DECIMAL; BIGINT holds to ~9e18.)
    Q("q52_mixture_sample",
      (s, d) => Mixing.mixtureCopies(t(s, d, "documents"), "source", col("text"))
        .groupBy("source", "c_docs", "rate_ppm")
        .agg(sum(when(col("copies") > 0, 1L).otherwise(0L)).as("kept_docs"),
          sum("copies").as("total_copies"))
        .orderBy("source"),
      Some("""WITH c AS (
                SELECT doc_id, source,
                       CASE WHEN norm = '' THEN CAST([] AS BIGINT[])
                            ELSE list_transform(string_split(norm, ''),
                                   ch -> CAST(unicode(ch) AS BIGINT)) END AS codes
                FROM (SELECT doc_id, source,
                        regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
                      FROM documents)),
              u AS (
                SELECT doc_id, source,
                       (CASE WHEN len(codes) = 0 THEN 0
                             ELSE list_reduce(codes, (a, b) -> (a * 131 + b) % 2147483647)
                                    * 2147483648
                                  + list_reduce(codes, (a, b) -> (a * 257 + b) % 2147483647)
                             END) % 1000000 AS u_ppm
                FROM c),
              cnt AS (SELECT source, COUNT(*) AS c_docs FROM documents GROUP BY source),
              wts AS (SELECT source, c_docs,
                             CAST(floor(sqrt(c_docs)) AS BIGINT) AS w FROM cnt),
              tot AS (SELECT CAST(SUM(w) AS BIGINT) AS sum_w,
                             CAST(SUM(c_docs) AS BIGINT) AS c_total FROM wts),
              rates AS (SELECT source, c_docs,
                               ((c_total // 2) * 1000000 * w) // (sum_w * c_docs)
                                 AS rate_ppm
                        FROM wts, tot),
              picked AS (SELECT u.source, r.c_docs, r.rate_ppm,
                                rate_ppm // 1000000
                                + CASE WHEN u_ppm < rate_ppm % 1000000
                                       THEN 1 ELSE 0 END AS copies
                         FROM u JOIN rates r ON u.source = r.source)
              SELECT source, c_docs, rate_ppm,
                     CAST(SUM(CASE WHEN copies > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS kept_docs,
                     CAST(SUM(copies) AS BIGINT) AS total_copies
              FROM picked
              GROUP BY source, c_docs, rate_ppm
              ORDER BY source""")),

    // -- bidirectional interval pairing (batch face of st04) ---------------
    // banded batch face (3-bucket candidate pruning); equality with the
    // streamable plain-condition intervalJoin is proven in
    // JoinPropertySpec, and st04 streams the plain form
    Q("q36_interval_pairs",
      (s, d) => graft.streaming.Streams.intervalJoinBanded(
          t(s, d, "events")
            .select(col("event_id"), col("user_id"),
              date_trunc("second", col("ts")).as("ts")),
          windowSec = 3600)
        .select("user_id", "id_a", "id_b")
        .orderBy("id_a", "id_b"),
      Some("""WITH e AS (SELECT event_id, user_id,
                                date_trunc('second', ts) AS t FROM events)
              SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b
              FROM e a JOIN e b ON a.user_id = b.user_id
               AND a.event_id < b.event_id
               AND b.t BETWEEN a.t - INTERVAL 1 HOUR AND a.t + INTERVAL 1 HOUR
              ORDER BY id_a, id_b""")),

    // -- gap sessionization (batch face of the streaming operator) ---------
    // session_window boundary: an event at exactly last+gap starts a NEW
    // session (windows are [start, last+gap)), hence `<` in the oracle.
    // The oracle's window order is TOTAL via event_id (the q73 lesson):
    // second-truncated t has duplicates, is_new is tie-order-SENSITIVE
    // pass-1 data, and the running SUM re-sorts in a second pass —
    // without a unique trailing key DuckDB's two passes may order ties
    // differently and mis-attach tied rows to the previous session.
    // The Spark side (session_window aggregation) is set-based and
    // needs no tiebreak; the total order cannot change the result.
    Q("q33_sessionize",
      (s, d) => graft.streaming.Streams.sessionizeNative(
          t(s, d, "events")
            .select(col("user_id"), date_trunc("second", col("ts")).as("ts")),
          gap = "1 hour")
        .orderBy("user_id", "s_start"),
      Some("""WITH e AS (SELECT user_id, event_id,
                                date_trunc('second', ts) AS t FROM events),
                   m AS (SELECT user_id, event_id, t,
                           CASE WHEN t < lag(t) OVER (PARTITION BY user_id
                                        ORDER BY t, event_id)
                                      + INTERVAL 1 HOUR
                                THEN 0 ELSE 1 END AS is_new
                         FROM e),
                   g AS (SELECT user_id, t,
                           SUM(is_new) OVER (PARTITION BY user_id
                             ORDER BY t, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
                         FROM m)
              SELECT user_id, MIN(t) AS s_start, MAX(t) AS s_end,
                     COUNT(*) AS n_events
              FROM g GROUP BY user_id, sid
              ORDER BY user_id, s_start""")),

    // -- batch faces of the streaming aggs (st01 / st05) -------------------
    // the SAME Streams functions the streaming specs drive, applied to
    // a batch frame (watermark is a no-op in batch) — so the one
    // computation each streaming operator performs is DuckDB-gated
    // here, and StreamsSpec separately proves streamed == batch.
    // window(ts, '1 hour').start is epoch-aligned = date_trunc('hour').
    Q("st01_stream_agg",
      (s, d) => graft.streaming.Streams.windowedAgg(t(s, d, "events"))
        .orderBy("bucket", "event_type"),
      Some(s"""SELECT date_trunc('hour', ts) AS bucket, event_type,
                      COUNT(*) AS cnt, ${sqlSum("value")} AS sum_value
               FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""")),

    Q("st05_stream_enrich",
      (s, d) => graft.streaming.Streams.enrichedWindowAgg(
          t(s, d, "events"), t(s, d, "customer"),
          col("c_custkey"), col("c_mktsegment"))
        .orderBy("bucket", "dim_val"),
      Some(s"""SELECT date_trunc('hour', ts) AS bucket,
                      c_mktsegment AS dim_val,
                      COUNT(*) AS cnt, ${sqlSum("value")} AS sum_value
               FROM events JOIN customer ON user_id = c_custkey
               GROUP BY 1, 2 ORDER BY bucket, dim_val""")),

    // -- batch face of the streaming funnel (st07) --------------------------
    // one watermark-final (stage, t1, t2, t3) row per user — the same
    // numbers Streams.funnelState emits, computed Spark-natively:
    // q50's three chained step-minimum windows over the user-bucketed
    // layout (zero fact Exchange, no Expand) instead of routing the
    // batch frame through the groupByKey+flatMapGroupsWithState object
    // fold, whose encoder round-trip + object hash-aggregate was the
    // whole 2.5× sf10 gap (round-15 verdict item 4). The window
    // spelling IS the fold: strict `ts > t_prev` everywhere matches
    // FunnelProg.fold's tie rule, and StreamsSpec pins all three faces
    // equal (stream == funnelState batch == this window face), so the
    // DuckDB gate here still adjudicates the streaming operator's one
    // computation. Timestamps truncated to seconds on both sides
    // (q33's convention).
    Q("st07_stream_funnel",
      (s, d) => {
        val byUser = Window.partitionBy("user_id")
        Layouts.events(s, d)
          .select(col("user_id"), date_trunc("second", col("ts")).as("ts"),
            col("event_type"))
          .withColumn("t1",
            min(when(col("event_type") === "view", col("ts"))).over(byUser))
          .withColumn("t2",
            min(when(col("event_type") === "click" && col("ts") > col("t1"),
              col("ts"))).over(byUser))
          .withColumn("t3",
            min(when(col("event_type") === "purchase" && col("ts") > col("t2"),
              col("ts"))).over(byUser))
          .groupBy("user_id")
          .agg(first("t1").as("t1"), first("t2").as("t2"),
            first("t3").as("t3"))
          .select(col("user_id"),
            when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
              .when(col("t1").isNotNull, 1).otherwise(0)
              .cast("int").as("stage"),
            col("t1"), col("t2"), col("t3"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (
                SELECT user_id, date_trunc('second', ts) AS ts, event_type
                FROM events),
              f AS (
                SELECT user_id, ts, event_type,
                       MIN(CASE WHEN event_type = 'view' THEN ts END)
                         OVER (PARTITION BY user_id) AS t1
                FROM e),
              g AS (
                SELECT user_id, ts, event_type, t1,
                       MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                         OVER (PARTITION BY user_id) AS t2
                FROM f),
              h AS (
                SELECT user_id, t1, t2,
                       MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                         OVER (PARTITION BY user_id) AS t3
                FROM g),
              u AS (SELECT DISTINCT user_id, t1, t2, t3 FROM h)
              SELECT user_id,
                     CAST(CASE WHEN t3 IS NOT NULL THEN 3
                               WHEN t2 IS NOT NULL THEN 2
                               WHEN t1 IS NOT NULL THEN 1
                               ELSE 0 END AS INT) AS stage,
                     t1, t2, t3
              FROM u ORDER BY user_id""")),

    // -- batch face of the streaming as-of join (st09) ---------------------
    // the live feature-store join: every purchase (fact) picks up the
    // latest view's value (dimension state) at or below its event
    // time, per user. Streams.asofState runs the SAME per-key fold on
    // a stream (watermark-sealed, late-reorder-exact — StreamingSpec)
    // and on this batch Dataset; the oracle is DuckDB's native ASOF
    // LEFT JOIN over dims deduped to arg_max(value, event_id) per
    // (user, second) — the fold's equal-ts highest-id rule.
    Q("st09_stream_asof",
      (s, d) => {
        import s.implicits._
        val ev = t(s, d, "events")
          .filter(col("event_type").isin("view", "purchase"))
          .select(col("user_id").as("key"),
            date_trunc("second", col("ts")).as("ts"),
            when(col("event_type") === "view", lit("d"))
              .otherwise(lit("f")).as("side"),
            col("event_id").as("id"), col("value"))
          .as[graft.streaming.Streams.AsofEvent]
        graft.streaming.Streams.asofState(ev).toDF()
          .select(col("key").as("user_id"), col("fact_id"),
            col("fact_ts"), col("dim_ts"), col("dim_value"))
          .orderBy("user_id", "fact_ts", "fact_id")
      },
      Some("""WITH e AS (
                SELECT user_id, date_trunc('second', ts) AS ts,
                       event_id, event_type, value
                FROM events),
              d0 AS (
                SELECT user_id, ts, arg_max(value, event_id) AS dim_value
                FROM e WHERE event_type = 'view'
                GROUP BY user_id, ts),
              f AS (SELECT user_id, ts, event_id FROM e
                    WHERE event_type = 'purchase')
              SELECT f.user_id AS user_id, f.event_id AS fact_id,
                     f.ts AS fact_ts, d0.ts AS dim_ts, d0.dim_value
              FROM f ASOF LEFT JOIN d0
                ON f.user_id = d0.user_id AND f.ts >= d0.ts
              ORDER BY f.user_id, fact_ts, fact_id""")),

    // -- batch face of streaming dedup (st03) ------------------------------
    // dropDuplicatesWithinWatermark's deterministic model: per
    // (user_id, event_type), keep the first event and every later one
    // >= previous kept anchor + 1 hour (state expires at firstTs +
    // delay; duplicates do not extend it). The oracle walks the same
    // anchor chain with a recursive CTE: the seed is each key's
    // earliest event, each step the earliest event past the current
    // anchor's expiry (NOT EXISTS = argmin without aggregates, which
    // DuckDB forbids in the recursive term).
    Q("st03_stream_dedup",
      (s, d) => graft.streaming.Streams.dedupAnchorChain(
          t(s, d, "events"), delayMs = 3600 * 1000L)
        .orderBy("event_id"),
      Some("""WITH RECURSIVE e AS (
                SELECT user_id, event_type, date_trunc('second', ts) AS t,
                       event_id
                FROM events),
              r AS (
                SELECT a.user_id, a.event_type, a.t, a.event_id
                FROM e a
                WHERE NOT EXISTS (SELECT 1 FROM e b
                  WHERE b.user_id = a.user_id AND b.event_type = a.event_type
                    AND (b.t < a.t OR (b.t = a.t AND b.event_id < a.event_id)))
                UNION
                SELECT c.user_id, c.event_type, c.t, c.event_id
                FROM r JOIN e c ON c.user_id = r.user_id
                  AND c.event_type = r.event_type
                  AND c.t >= r.t + INTERVAL 1 HOUR
                WHERE NOT EXISTS (SELECT 1 FROM e b
                  WHERE b.user_id = c.user_id AND b.event_type = c.event_type
                    AND b.t >= r.t + INTERVAL 1 HOUR
                    AND (b.t < c.t OR (b.t = c.t AND b.event_id < c.event_id))))
              SELECT event_id, t, user_id, event_type FROM r
              ORDER BY event_id""")),

    // -- multimodal --------------------------------------------------------
    Q("m01_binary_meta",
      (s, d) => {
        val bin = t(s, d, "documents")
          .withColumn("payload", encode(col("text"), "UTF-8"))
        Multimodal.withMeta(bin, col("payload"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_bytes")).as("sum_bytes"))
          .orderBy("source")
      },
      Some("""SELECT source, COUNT(*) AS n_docs,
                     CAST(SUM(octet_length(encode(text))) AS BIGINT) AS sum_bytes
              FROM documents GROUP BY source ORDER BY source""")),

    // -- perceptual image near-dup (m05) -----------------------------------
    // dHash per payload (real decode for 24-bit BMP; deterministic
    // stride byte grid for other formats — here the ASCII text
    // payloads, which the oracle reproduces char-for-char), then the
    // shared pigeonhole hamming join. The BMP path is spec-verified on
    // constructed images (MultimodalSpec).
    Q("m05_image_phash",
      (s, d) => Multimodal.imagePhashPairs(
          t(s, d, "documents")
            .withColumn("payload", encode(col("text"), "UTF-8")),
          col("doc_id"), col("payload"), maxDist = 3)
        .orderBy("id_a", "id_b"),
      Some(m05Oracle(maxDist = 3))),

    // -- perceptual near-dup clustering (m06) --------------------------------
    // m05's hamming pairs closed into clusters with the same
    // connected-components engine d06 uses (min reachable id — and the
    // same O(log n) auto-fallback if an image corpus chains): the
    // "keep one per visual cluster" step an image training pipeline
    // runs after pair mining.
    Q("m06_phash_clusters",
      (s, d) => Dedup.connectedComponents(
          Multimodal.imagePhashPairs(
            t(s, d, "documents")
              .withColumn("payload", encode(col("text"), "UTF-8")),
            col("doc_id"), col("payload"), maxDist = 3))
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id"),
      Some(m06Oracle(maxDist = 3))),

    // -- audio energy-delta fingerprint (m07) ------------------------------
    // the audio face of m05's recipe: RIFF/WAV PCM-16 decode (real
    // path, spec'd) or unsigned bytes (stub path, gated here), 65
    // exact-boundary window means, bit f = E(f+1) > E(f). The pair
    // JOIN face (audioNearDupPairs, the shared pigeonhole hamming
    // machinery) is spec-verified on real WAVs — on non-audio byte
    // payloads envelope distances are noise (measured >= 11 on this
    // corpus), so a pair gate would assert an empty set.
    Q("m07_audio_fingerprint",
      (s, d) => Multimodal.audioStats(
          t(s, d, "documents").withColumn("payload", encode(col("text"), "UTF-8")),
          col("doc_id"), col("payload"))
        .orderBy("doc_id"),
      Some(m07Oracle)),

    // -- scene-cut detection (m08) -----------------------------------------
    // the video face of the frame pipeline: m03's 64-byte frame
    // windows, integer mean energy per frame, a cut where consecutive
    // energies jump by > 4 (real per-frame decoders slot into the
    // same energy position). Row-local; bit-exact oracle via the
    // ASCII stub path (m05's guard).
    Q("m08_scene_cuts",
      (s, d) => Multimodal.sceneCuts(
          t(s, d, "documents").withColumn("payload", encode(col("text"), "UTF-8")),
          col("doc_id"), col("payload"), frameBytes = 64, tau = 4)
        .orderBy("doc_id"),
      Some("""WITH base AS (
                SELECT doc_id, text, length(text) AS len FROM documents
                WHERE CASE WHEN length(text) = octet_length(encode(text))
                           THEN true
                           ELSE error('m08 oracle requires a pure-ASCII corpus: doc '
                                      || doc_id || ' has multi-byte text') END),
              fr AS (
                SELECT doc_id, len, text,
                       unnest(range(0, GREATEST((len + 63)//64, 1))) AS fi
                FROM base),
              en AS (
                SELECT doc_id, fi,
                       CASE WHEN LEAST((fi+1)*64, len) > fi*64 THEN
                         list_sum(list_transform(
                           range(fi*64, LEAST((fi+1)*64, len)),
                           i -> unicode(substr(text, CAST(i+1 AS INT), 1))))
                           // (LEAST((fi+1)*64, len) - fi*64)
                       ELSE 0 END AS e
                FROM fr),
              dd AS (
                SELECT doc_id, fi, e,
                       lag(e) OVER (PARTITION BY doc_id ORDER BY fi) AS pe
                FROM en)
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
                     CAST(count(*) FILTER (WHERE pe IS NOT NULL
                       AND abs(e - pe) > 4) AS BIGINT) AS n_cuts,
                     CAST(min(fi) FILTER (WHERE pe IS NOT NULL
                       AND abs(e - pe) > 4) AS BIGINT) AS first_cut
              FROM dd GROUP BY doc_id ORDER BY doc_id""")),

    // -- keyframe selection per scene (m11) --------------------------------
    // split at m08's cut boundaries, pick the max-energy frame per
    // scene (ties → lowest index): one representative frame per shot,
    // the decode-cost cut a vision pipeline takes before embedding.
    // Row-local single pass; the oracle rebuilds scenes from the same
    // frame-energy CTE (cumulative cut count) and argmaxes per scene.
    Q("m11_keyframe_select",
      (s, d) => Multimodal.keyframes(
          t(s, d, "documents").withColumn("payload", encode(col("text"), "UTF-8")),
          col("doc_id"), col("payload"), frameBytes = 64, tau = 4)
        .orderBy("doc_id", "scene_id"),
      Some("""WITH base AS (
                SELECT doc_id, text, length(text) AS len FROM documents
                WHERE CASE WHEN length(text) = octet_length(encode(text))
                           THEN true
                           ELSE error('m11 oracle requires a pure-ASCII corpus: doc '
                                      || doc_id || ' has multi-byte text') END),
              fr AS (
                SELECT doc_id, len, text,
                       unnest(range(0, GREATEST((len + 63)//64, 1))) AS fi
                FROM base),
              en AS (
                SELECT doc_id, fi,
                       CASE WHEN LEAST((fi+1)*64, len) > fi*64 THEN
                         list_sum(list_transform(
                           range(fi*64, LEAST((fi+1)*64, len)),
                           i -> unicode(substr(text, CAST(i+1 AS INT), 1))))
                           // (LEAST((fi+1)*64, len) - fi*64)
                       ELSE 0 END AS e
                FROM fr),
              dd AS (
                SELECT doc_id, fi, e,
                       lag(e) OVER (PARTITION BY doc_id ORDER BY fi) AS pe
                FROM en),
              sc AS (
                SELECT doc_id, fi, e,
                       CAST(SUM(CASE WHEN pe IS NOT NULL AND abs(e - pe) > 4
                                     THEN 1 ELSE 0 END)
                         OVER (PARTITION BY doc_id ORDER BY fi
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS scene_id
                FROM dd),
              pick AS (
                SELECT doc_id, scene_id, fi, e,
                       row_number() OVER (PARTITION BY doc_id, scene_id
                         ORDER BY e DESC, fi) AS rn,
                       MIN(fi) OVER (PARTITION BY doc_id, scene_id)
                         AS start_frame
                FROM sc)
              SELECT doc_id, scene_id,
                     CAST(start_frame AS BIGINT) AS start_frame,
                     CAST(fi AS BIGINT) AS key_frame,
                     CAST(e AS BIGINT) AS key_energy
              FROM pick WHERE rn = 1
              ORDER BY doc_id, scene_id""")),

    // -- video near-dup pairs (m09) ----------------------------------------
    // equal scene SIGNATURE (rolling hash over m08's cut-to-cut frame
    // intervals — deltas, so leading-frame offsets cancel on aligned
    // grids) + equal cut count, id_a < id_b. Payloads never shuffle:
    // the join carries 3 longs per video. The fold matches t04's
    // list_reduce convention (first delta seeds the accumulator).
    // The cap is gated ACTIVE (d11's discipline): the uncapped join
    // emits 2.79M pairs at sf1 — a hot rhythm is an LSH boilerplate
    // bucket by another name.
    Q("m09_video_neardup",
      (s, d) => Multimodal.videoNearDupPairs(
          t(s, d, "documents").withColumn("payload", encode(col("text"), "UTF-8")),
          col("doc_id"), col("payload"), frameBytes = 64, tau = 4,
          minCuts = 2L, maxBucket = Some(64L))
        .orderBy("id_a", "id_b"),
      Some("""WITH base AS (
                SELECT doc_id, text, length(text) AS len FROM documents
                WHERE CASE WHEN length(text) = octet_length(encode(text))
                           THEN true
                           ELSE error('m09 oracle requires a pure-ASCII corpus: doc '
                                      || doc_id || ' has multi-byte text') END),
              fr AS (
                SELECT doc_id, len, text,
                       unnest(range(0, GREATEST((len + 63)//64, 1))) AS fi
                FROM base),
              en AS (
                SELECT doc_id, fi,
                       CASE WHEN LEAST((fi+1)*64, len) > fi*64 THEN
                         list_sum(list_transform(
                           range(fi*64, LEAST((fi+1)*64, len)),
                           i -> unicode(substr(text, CAST(i+1 AS INT), 1))))
                           // (LEAST((fi+1)*64, len) - fi*64)
                       ELSE 0 END AS e
                FROM fr),
              dd AS (
                SELECT doc_id, fi, e,
                       lag(e) OVER (PARTITION BY doc_id ORDER BY fi) AS pe
                FROM en),
              cuts AS (
                SELECT doc_id, fi FROM dd
                WHERE pe IS NOT NULL AND abs(e - pe) > 4),
              cl AS (
                SELECT doc_id, list(fi ORDER BY fi) AS cs,
                       CAST(count(*) AS BIGINT) AS nc
                FROM cuts GROUP BY doc_id HAVING count(*) >= 2),
              sg AS (
                SELECT doc_id, nc,
                       list_reduce(list_transform(range(2, len(cs) + 1),
                         i -> cs[i] - cs[i - 1]),
                         (a, b) -> (a * 131 + b) % 2147483647) AS sig
                FROM cl),
              hot AS (
                SELECT sig, nc FROM sg GROUP BY sig, nc
                HAVING count(*) > 64),
              sgc AS (
                SELECT s.* FROM sg s
                WHERE NOT EXISTS (SELECT 1 FROM hot h
                                  WHERE h.sig = s.sig AND h.nc = s.nc))
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.nc AS n_cuts
              FROM sgc a JOIN sgc b
                ON a.sig = b.sig AND a.nc = b.nc AND a.doc_id < b.doc_id
              ORDER BY id_a, id_b""")),

    // -- audio near-dup pairs (m10) ----------------------------------------
    // the pair face of m07, gated on REAL WAVs: a synthetic PCM-16
    // corpus (65-step staircase per id, 20 samples per step — window
    // means land exactly on the steps) where every id also appears as
    // a volume-doubled re-encode under id+2^40 (synthWavCorpus's
    // offset — above every real doc_id at any tested SF; 10^7 collided
    // with sf10 ids, the bug the third-decade gate caught). The
    // envelope fingerprint compares window means pairwise, so monotone
    // scaling preserves all 64 bits — each (id, id+2^40) pair survives at
    // hamming 0 while cross-doc distances stay noise (the quadratic-
    // residue levels collide with probability ~7^-64). Gates the full
    // real path: RIFF header walk → PCM-16 |samples| → exact-boundary
    // window means → pigeonhole hamming join.
    Q("m10_audio_neardup",
      (s, d) => Multimodal.audioNearDupPairs(
          Multimodal.synthWavCorpus(t(s, d, "documents"), col("doc_id")),
          col("doc_id"), col("payload"), maxDist = 3)
        .orderBy("id_a", "id_b"),
      Some(m10Oracle(maxDist = 3))),

    Q("m03_frame_sample",
      (s, d) => Multimodal.frameSample(
          t(s, d, "documents").withColumn("payload", encode(col("text"), "UTF-8")),
          col("doc_id"), col("payload"), chunkBytes = 256)
        .select(col("id").as("doc_id"), col("frame_idx"),
          length(col("frame")).as("frame_bytes"))
        .orderBy("doc_id", "frame_idx"),
      Some("""WITH f AS (
                SELECT doc_id, b, unnest(range(0, nch)) AS fi FROM (
                  SELECT doc_id, encode(text) AS b,
                         GREATEST((octet_length(encode(text)) + 255) // 256, 1) AS nch
                  FROM documents))
              SELECT doc_id, CAST(fi AS INT) AS frame_idx,
                     CAST(GREATEST(LEAST(256, octet_length(b) - fi*256), 0) AS INT)
                       AS frame_bytes
              FROM f ORDER BY doc_id, frame_idx""")),

    Q("m04_resize_stride",
      (s, d) => Multimodal.resizeStride(
          t(s, d, "documents").withColumn("payload", encode(col("text"), "UTF-8")),
          col("doc_id"), col("payload"), stride = 4)
        .toDF()
        .select(col("doc_id"), col("n_in"),
          length(col("payload")).as("n_out"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_in,
                     CAST((octet_length(encode(text)) + 3) // 4 AS INT) AS n_out
              FROM documents ORDER BY doc_id""")),

    // modality linking: text table ⋈ embedding table on shared id —
    // the join every multimodal pipeline runs before filtering one
    // modality by properties of another
    Q("q41_doc_embedding_join",
      (s, d) => t(s, d, "documents")
        .join(t(s, d, "embeddings"), col("doc_id") === col("vec_id"))
        .withColumn("norm",
          sqrt(Similarity.dot(col("embedding"), col("embedding"))))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
             round(davg(col("norm")), 4).as("avg_norm"))
        .orderBy("lang"),
      Some(s"""SELECT lang, COUNT(*) AS n_docs,
                      round(${sqlAvg("sqrt(list_dot_product(" +
                        "CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))")}, 4)
                        AS avg_norm
               FROM documents JOIN embeddings ON doc_id = vec_id
               GROUP BY lang ORDER BY lang""")),

    Q("m02_feature_stub",
      (s, d) => {
        val bin = t(s, d, "documents")
          .withColumn("payload", encode(col("text"), "UTF-8"))
        Multimodal.extractFeatures(bin, col("doc_id"), col("payload"))
          .toDF()
          .withColumn("f0", round(element_at(col("features"), 1), 6))
          .select("doc_id", "n_bytes", "f0")
          .orderBy("doc_id")
      },
      None)
  )
}
